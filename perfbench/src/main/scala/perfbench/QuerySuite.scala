package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.SparkEntry

/** query_suite: `names` from `SparkEntry.queries` over the query tables,
  * each into the noop sink. One op is one pass over them, in an order drawn
  * from the seed and the pass number. Every result is checked against the
  * pinned row count and, where the output is deterministic, its content
  * hash ([[QuerySuite.Pin]]). */
final class QuerySuite(ctx: Ctx, dataDir: String, pinFile: Path, val names: Vector[String])
    extends Workload {
  import QuerySuite._

  private val pins: Map[String, Pin] = readPins(pinFile)
  private var tableCols: Map[String, Int] = Map.empty

  private def order(pass: Int): Vector[String] =
    Inputs.shuffle(names, new SplittableRandom(ctx.seed * 15485863L + pass))

  /** The tables are read-only inputs on disk; set-up reads their schemas
    * and draws the pass orders. */
  def materialize(): Long = {
    tableCols = tables.map(t => t -> ctx.spark.read.parquet(s"$dataDir/$t.parquet").schema.size).toMap
    digestFor(ctx.seed)
  }

  def digestFor(seed: Long): Long =
    (0 until 8).map(p => Inputs.shuffle(names, new SplittableRandom(seed * 15485863L + p)))
      .flatten.foldLeft(17L)((h, n) => 31 * h + n.hashCode)

  def inputInfo: Map[String, Any] = Map("data" -> dataDir, "queries" -> names.size,
    "table_columns" -> tableCols, "pinned_hashes" -> pins.count(_._2.hash.nonEmpty))

  def warmup(): Unit = { runPass(-1, names, new OpClock); () }

  def op(i: Int, clock: OpClock, traced: Boolean): OpResult = {
    val (ok, secs) = runPass(i, order(i), clock)
    OpResult(ok, secs.map { case (n, s) => s"q.$n" -> Seq(s) })
  }

  private def runPass(pass: Int, queries: Seq[String], clock: OpClock): (Boolean, Map[String, Double]) = {
    var ok = true
    val secs = queries.map { name =>
      val obs = Observation(s"${name}_$pass")
      val w0 = clock.wallNs
      ctx.group(s"op-$pass:$name") {
        clock(ctx.tracer.span(s"query.$name") {
          observed(SparkEntry.queries(name)(ctx.spark, dataDir), obs)
            .write.mode("overwrite").format("noop").save()
        })
      }
      val s = (clock.wallNs - w0) / 1e9
      ok &= pins.get(name).exists(_.matches(outcome(obs)))
      name -> s
    }
    (ok, secs.toMap)
  }

  def replaySample(n: Int): Seq[(String, String)] = {
    // q21 and q34 extract the turns of the first 300 synthetic conversations
    val rng = new SplittableRandom(ctx.seed ^ 0x7e7eL)
    val turns = (0L until 300L).flatMap(graft.spark.Transcripts.turnsFor)
    turns.groupBy(_.tool).values.toSeq.sortBy(_.head.tool)
      .flatMap(g => Inputs.shuffle(g.toVector, rng).take(n / Inputs.shapes.size))
      .map(t => (t.text, t.tool))
  }

  def layerMetrics(traced: Seq[OpRecord], groups: Map[String, TaskAcc]): Map[String, Double] =
    names.filter(timed.contains).map { n =>
      s"query.$n.share" -> Stats.mean(traced.map(o => o.result.info(s"q.$n").head / o.wallS))
    }.toMap

  def summary(ops: Seq[OpRecord]): Seq[(String, String, Double)] =
    ("query_pass_s", "s", Stats.median(ops.map(_.wallS))) +:
      names.map(n => (s"query.${n}_s", "s", Stats.median(ops.map(_.result.info(s"q.$n").head))))
}

object QuerySuite {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def all: Vector[String] = SparkEntry.queries.keys.toVector.sorted

  /** The queries of one timed query_suite pass: one per engine area, since
    * a pass over all of them (46 s warm at 4 cores) does not fit one run.
    * query_suite_full runs them all. */
  val timed: Vector[String] = Vector("q1_pricing_summary", "q6_lag_window", "q11_token_count",
    "q16_ann_cosine", "q19_extract_fields")

  def layerKeys: Seq[String] = timed.map(n => s"query.$n.share")

  /** Row count and content hash (XOR and 32-bit-lane sum of the row hashes)
    * of one query result; `hash` is None where the output is not
    * deterministic across passes, orders or core counts. */
  final case class Pin(rows: Long, hash: Option[String]) {
    def matches(o: (Long, String)): Boolean = rows == o._1 && hash.forall(_ == o._2)
  }

  /** Map columns have no hash; they are hashed as their JSON text. */
  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => to_json(col(f.name))
      case _ => col(f.name)
    }
  }

  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(hashable(df): _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"), sum(h.bitwiseAND(0xffffffffL)).as("s"))
  }

  def outcome(obs: Observation): (Long, String) = {
    val m = obs.get
    val s = Option(m("s")).map(_.toString).getOrElse("0")
    (m("n").asInstanceOf[Long], s"${Option(m("x")).getOrElse(0L)}:$s")
  }

  /** Pin file: one `name<TAB>rows<TAB>hash-or-dash` line per query. */
  def readPins(p: Path): Map[String, Pin] =
    if (!Files.isRegularFile(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { a =>
        a(0) -> Pin(a(1).toLong, Some(a(2)).filter(_ != "-"))
      }.toMap
}
