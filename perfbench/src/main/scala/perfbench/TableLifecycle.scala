package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Dataset
import graft.spark.{ExtractionJob, SnapshotManifestFormat, TableFormat, Turn}

/** table_lifecycle: the production commit path against a seeded transcript
  * parquet table. One op is a whole lifecycle on a fresh table: a
  * from-scratch conversation-grained `ExtractionJob.run` (default buckets
  * and waves), then [[increments]] incremental run(s), each after an
  * upstream correction of [[changedConvs]] seeded short conversations, each
  * followed by keyed point reads (`readCommittedForConvs`): one of a long
  * conversation, one of a seeded short one. Commit and the salted shuffle
  * dominate; the incremental runs re-extract few turns, and the reads sit
  * beside the writes. */
final class TableLifecycle(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  import TableLifecycle._

  val files = 2
  val increments = 1
  val readsPerIncrement = 2
  val changedConvs = 2
  private val tables = ctx.work.resolve("tables")
  private var main: Input = new Input(Vector.empty, "")
  private val formats = scala.collection.mutable.HashMap.empty[Int, TimingFormat]
  private val readInfo = scala.collection.mutable.HashMap.empty[Int, Vector[Read]]

  private def rows = main.rows

  /** A transcript table written as parquet under `dir`. */
  private final class Input(val rows: Vector[Inputs.Row], val dir: String) {
    lazy val convLen: Map[String, Int] = rows.groupBy(_.turn.conv_id).map { case (c, rs) => c -> rs.size }
    lazy val convs: Vector[String] = convLen.keys.toVector.sorted
    lazy val longConvs: Vector[String] = convs.filter(convLen(_) >= 100)
    lazy val shortConvs: Vector[String] = convs.filter(convLen(_) < 100)
    def write(): Input = {
      ctx.spark.createDataset(ctx.spark.sparkContext.parallelize(rows.map(_.turn), files))
        .write.mode("overwrite").parquet(dir)
      this
    }
  }

  def materialize(): Long = {
    main = new Input(Inputs.transcripts(ctx.seed, files, "t"), ctx.work.resolve("table_input").toString).write()
    Inputs.digest(rows.map(_.turn))
  }

  def digestFor(seed: Long): Long = Inputs.digest(Inputs.transcripts(seed, files, "t").map(_.turn))

  def inputInfo: Map[String, Any] = Map(
    "turns" -> rows.size, "files" -> files, "conversations" -> main.convs.size,
    "long_conversations" -> main.longConvs.size,
    "text_bytes" -> rows.map(_.turn.text.getBytes("UTF-8").length.toLong).sum,
    "increments_per_op" -> increments, "reads_per_increment" -> readsPerIncrement,
    "changed_conversations" -> changedConvs)

  /** One lifecycle, without output checks. */
  def warmup(): Unit = { lifecycle(-1, main, new OpClock, traced = false, checks = false); () }

  /** Two ops per run: one op is too little work to be steady (and the first
    * op after the warm-up still runs 10-30% slower than the second). */
  override def minOps: Int = 2

  /** The input with each corrected conversation's turns re-perturbed under
    * its latest salt. */
  private def input(in: Input, salts: Map[String, Long]): Dataset[Turn] = {
    val base = ctx.spark.read.parquet(in.dir).as[Turn]
    if (salts.isEmpty) base
    else {
      val copies = in.rows.filter(r => salts.contains(r.turn.conv_id))
        .map(r => (r.turn.conv_id, r.turn.turn_idx) -> r.copies).toMap
      base.map { t =>
        salts.get(t.conv_id) match {
          case Some(s) => Inputs.mutate(Inputs.Row(t, copies((t.conv_id, t.turn_idx))), s).turn
          case None => t
        }
      }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)

  private def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def op(i: Int, clock: OpClock, traced: Boolean): OpResult = lifecycle(i, main, clock, traced, checks = true)

  private def lifecycle(i: Int, in: Input, clock: OpClock, traced: Boolean, checks: Boolean): OpResult = {
    val format: TableFormat =
      if (traced) { val f = new TimingFormat(ctx.tracer); formats(i) = f; f } else SnapshotManifestFormat
    deleteTree(tables)
    val table = tables.resolve(s"op-$i")
    val outDir = table.toString
    val cfg = ExtractionJob.Config(outDir, convGrained = true)
    val rng = new SplittableRandom(ctx.seed * 104729L + i)
    var ok = true
    def committedRowsOk(): Boolean =
      !checks || ExtractionJob.readCommitted(ctx.spark, outDir).count() == in.rows.size
    def run(turns: Dataset[Turn]): Long = {
      val w0 = clock.wallNs
      clock(ctx.tracer.span("spark.run")(ExtractionJob.run(ctx.spark, turns, cfg, format)))
      clock.wallNs - w0
    }

    val buildNs = run(input(in, Map.empty))
    ok &= committedRowsOk()
    var salts = Map.empty[String, Long]
    var current = in.rows
    val incrNs = Vector.newBuilder[Double]
    val reads = Vector.newBuilder[Read]
    for (inc <- 1 to increments) {
      val changed = Inputs.shuffle(in.shortConvs, rng).take(changedConvs)
      val salt = ctx.seed * 1000003L + i * 101L + inc
      salts ++= changed.map(_ -> salt)
      current = current.map(r => if (changed.contains(r.turn.conv_id)) Inputs.mutate(r, salt) else r)
      incrNs += run(input(in, salts)).toDouble
      ok &= committedRowsOk()
      ok &= !checks || changedMatchDirect(outDir, changed.toSet, current, rng)
      for (r <- 0 until readsPerIncrement) {
        // every other read is of a long conversation, in turn
        val conv = if (r % 2 == 0 && in.longConvs.nonEmpty) in.longConvs((inc + r / 2) % in.longConvs.size)
          else in.shortConvs(rng.nextInt(in.shortConvs.size))
        val w0 = clock.wallNs
        val (n, planned) = ctx.group(s"op-$i:read") {
          clock(ctx.tracer.span("commit.point_read") {
            val df = format.readCommittedForConvs(ctx.spark, outDir, Seq(conv))
            val planned = if (traced) df.inputFiles.length else 0
            (df.collect().length, planned)
          })
        }
        reads += Read(n, planned, clock.wallNs - w0)
        ok &= n == in.convLen(conv)
      }
    }
    readInfo(i) = reads.result()
    val man = ExtractionJob.readManifest(outDir).get
    val deleteFiles = man.deleteDirs.map(d => Files.list(table.resolve(s"deletes/$d")).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".parquet"))).sum
    OpResult(ok, Map(
      "build_ns" -> Seq(buildNs.toDouble), "incr_ns" -> incrNs.result(),
      "read_ns" -> readInfo(i).map(_.ns.toDouble),
      "stored_bytes" -> Seq(treeBytes(table).toDouble),
      "input_bytes" -> Seq(current.map(_.turn.text.getBytes("UTF-8").length.toLong).sum.toDouble),
      "data_files" -> Seq(man.files.size.toDouble), "delete_files" -> Seq(deleteFiles.toDouble)))
  }

  /** In a traced run: the timing format is transparent. The same input
    * committed through it and through `SnapshotManifestFormat` directly,
    * then corrected once, gives tables with the same files (by bucket, row
    * count and commit), delete files and rows. */
  override def selfChecks(traced: Boolean): Seq[(String, Boolean)] =
    if (!traced) Seq.empty
    else {
      val salts = Map(main.convs.head -> (ctx.seed + 17L))
      val Seq(a, b) = Seq[TableFormat](new TimingFormat(new Tracer), SnapshotManifestFormat).zipWithIndex.map {
        case (format, k) =>
          val outDir = ctx.work.resolve(s"transparency-$k").toString
          val cfg = ExtractionJob.Config(outDir, convGrained = true)
          ExtractionJob.run(ctx.spark, input(main, Map.empty), cfg, format)
          ExtractionJob.run(ctx.spark, input(main, salts), cfg, format)
          val man = ExtractionJob.readManifest(outDir).get
          val rowsOut = ExtractionJob.readCommitted(ctx.spark, outDir)
            .select(RowHash.key, RowHash.hash).as[(String, Long)].collect().toSet
          (man.files.map(f => (f.bucket, f.rowCount, f.seq)).sorted, man.deleteDirs.size, rowsOut)
      }
      Seq("timing TableFormat is transparent" -> (a == b))
    }

  /** The committed rows of the corrected conversations equal direct
    * extraction of their current text, on a seeded sample of their turns. */
  private def changedMatchDirect(outDir: String, changed: Set[String], current: Vector[Inputs.Row],
                                 rng: SplittableRandom): Boolean = {
    val turns = Inputs.shuffle(current.filter(r => changed(r.turn.conv_id)), rng).take(40).map(_.turn)
    val want = RowHash.expected(ctx, turns)
    val got = ExtractionJob.readCommittedForConvs(ctx.spark, outDir, changed.toSeq)
      .select(RowHash.key, RowHash.hash).as[(String, Long)].collect().toMap
    want.forall { case (k, h) => got.get(k).contains(h) }
  }

  def replaySample(n: Int): Seq[(String, String)] = {
    val rng = new SplittableRandom(ctx.seed ^ 0x7e7eL)
    rows.groupBy(_.turn.tool).values.toSeq.sortBy(_.head.turn.tool)
      .flatMap(g => Inputs.shuffle(g, rng).take(n / Inputs.shapes.size))
      .map(r => (r.turn.text, r.turn.tool))
  }

  def layerMetrics(traced: Seq[OpRecord], groups: Map[String, TaskAcc]): Map[String, Double] = {
    val spans = ctx.tracer.all
    def perOp(f: (Int, OpResult, Double, Vector[Span]) => Double): Double =
      Stats.mean(traced.map(o => f(o.index, o.result, o.wallNs / 1e3, spans.filter(_.op == s"op-${o.index}"))))
    def share(names: Set[String]): Double = perOp { (_, _, wallUs, ss) =>
      ss.filter(s => names(s.name)).map(s => ctx.tracer.selfUs(s, ss)).sum / wallUs
    }
    def calls(names: Set[String]): Double = perOp((_, _, _, ss) => ss.count(s => names(s.name)).toDouble)
    val manifestReads = Set("readManifest", "readManifestAt", "latestSnapshot", "committedBuckets")
      .map("commit." + _)
    Map(
      "commit.commit_wave.share" -> share(Set("commit.commitWave")),
      "commit.commit_wave.calls" -> calls(Set("commit.commitWave")),
      "commit.list_staged.share" -> share(Set("commit.listStagedFiles")),
      "commit.manifest_read.share" -> share(manifestReads),
      "commit.manifest_read.calls" -> calls(manifestReads),
      "commit.stage.share" -> perOp((k, _, wallUs, _) => formats(k).stageMs.sum * 1e3 / wallUs),
      "commit.data_files" -> perOp((_, r, _, _) => r.info("data_files").head),
      "commit.delete_files" -> perOp((_, r, _, _) => r.info("delete_files").head),
      "commit.bytes_written_mb" -> perOp((_, r, _, _) => r.info("stored_bytes").head / 1048576.0),
      "commit.read.files_planned_ratio" -> perOp { (k, r, _, _) =>
        Stats.mean(readInfo(k).map(_.plannedFiles / r.info("data_files").head))
      },
      "commit.read.rows_scanned_per_row" -> {
        val scanned = traced.map(o => groups.get(s"op-${o.index}:read").map(_.recordsRead).getOrElse(0L)).sum
        scanned.toDouble / traced.map(o => readInfo(o.index).map(_.rows.toLong).sum).sum
      })
  }

  def summary(ops: Seq[OpRecord]): Seq[(String, String, Double)] = {
    val builds = ops.map(_.result.info("build_ns").head / 1e9)
    val reads = ops.flatMap(_.result.info("read_ns")).map(_ / 1e6)
    val tail = Stats.tail(reads)
    Seq(
      ("turns_per_s", "turns/s", rows.size / Stats.median(builds)),
      ("build_s", "s", Stats.median(builds)),
      ("incr_s", "s", Stats.median(ops.flatMap(_.result.info("incr_ns")).map(_ / 1e9))),
      ("point_read_p50_ms", "ms", Stats.median(reads)),
      (tail.fold("point_read_tail_ms (<11 reads)")(t => f"point_read_tail_ms (p${t._1}%.1f of ${reads.size})"),
        "ms", tail.fold(Double.NaN)(_._2)),
      ("stored_bytes_per_input_byte", "ratio",
        Stats.median(ops.map(o => o.result.info("stored_bytes").head / o.result.info("input_bytes").head))))
  }
}

object TableLifecycle {
  /** One keyed point read: rows returned, files planned (traced ops only),
    * wall time. */
  final case class Read(rows: Int, plannedFiles: Int, ns: Long)

  val layerKeys: Seq[String] = Seq("commit.commit_wave.share", "commit.commit_wave.calls",
    "commit.list_staged.share", "commit.manifest_read.share", "commit.manifest_read.calls",
    "commit.stage.share", "commit.data_files", "commit.delete_files", "commit.bytes_written_mb",
    "commit.read.files_planned_ratio", "commit.read.rows_scanned_per_row")
}
