package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Wall and CPU time of the timed parts of one op. Output checks run
  * between the timed parts and are not charged to the op. */
final class OpClock {
  var wallNs = 0L
  var cpuNs = 0L
  def apply[A](f: => A): A = {
    val c0 = Probe.cpuNs()
    val t0 = System.nanoTime()
    try f
    finally {
      wallNs += System.nanoTime() - t0
      cpuNs += Probe.cpuNs() - c0
    }
  }
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, val tracer: Tracer) {
  /** Tags the jobs the calling thread submits, so [[TaskStats]] charges
    * their tasks to `group` (`op-N` or `op-N:segment`). */
  def group[A](g: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }
}

/** One op's outcome: whether every output check passed, and figures the
  * workload reports about it. */
final case class OpResult(ok: Boolean, info: Map[String, Seq[Double]] = Map.empty)

/** What the runner measured around one op. */
final case class OpRecord(index: Int, result: OpResult, wallNs: Long, cpuNs: Long, gcMs: Long,
                          heapPeakBytes: Long, traced: Boolean) {
  def wallS: Double = wallNs / 1e9
  def heapPeakMb: Double = heapPeakBytes / 1048576.0
}

/** A closed-loop workload: one client issues op after op, each only after
  * the previous one returned. */
trait Workload {
  /** Generates the seeded inputs and materializes them; returns their
    * digest. Runs several times in set-up. */
  def materialize(): Long
  /** Digest of the inputs another seed would generate (self-check). */
  def digestFor(seed: Long): Long
  /** Input sizes, for the report. */
  def inputInfo: Map[String, Any]
  def warmup(): Unit
  /** Checks of the benchmark's own inputs and instruments: after set-up,
    * and (with `traced`) after the traced window. */
  def selfChecks(traced: Boolean): Seq[(String, Boolean)] = Seq.empty
  def op(i: Int, clock: OpClock, traced: Boolean): OpResult
  /** Ops a run makes even when they outlast the window. */
  def minOps: Int = 1
  /** Seeded (text, tool) sample of the turns this workload extracts. */
  def replaySample(n: Int): Seq[(String, String)]
  /** Per-layer metrics only this workload's layers produce, averaged over
    * the traced ops; keys from [[Main.workloadLayerKeys]]. */
  def layerMetrics(traced: Seq[OpRecord], groups: Map[String, TaskAcc]): Map[String, Double]
  /** End-to-end figures by the workload's own names, for the report, from
    * the untraced ops. */
  def summary(ops: Seq[OpRecord]): Seq[(String, String, Double)]
}

object Main {

  val setupRepeats = 3

  /** Per-layer metrics of layers not every workload runs; an idle layer
    * reports 0 for them. Kept in sync with BENCHMARK.json's `per_layer`. */
  def workloadLayerKeys: Seq[String] =
    TableLifecycle.layerKeys ++ QuerySuite.layerKeys

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val repoRoot = Paths.get(opt.getOrElse("repo", ".")).toAbsolutePath.normalize
    val work = Paths.get(opt("work")).toAbsolutePath.normalize
    val out = Paths.get(opt("out")).toAbsolutePath.normalize
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    Files.createDirectories(work)
    Files.createDirectories(out)

    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    def check(name: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; notes += s"FAILED check: $name" }
    }

    Checks.goldens(repoRoot).foreach { case (n, ok) => check(s"golden $n", ok) }
    check("payload shapes equal Transcripts.payloads", Inputs.selfCheckShapes())

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - Probe.jvmStartMs()) / 1000.0

    val tracer = new Tracer
    val ctx = new Ctx(spark, seed, work, tracer)
    val wl: Workload = workload match {
      case "extract_mix" => new ExtractMix(ctx)
      case "table_lifecycle" => new TableLifecycle(ctx)
      case "query_suite" => new QuerySuite(ctx, opt("data"), Paths.get(opt("pins")), QuerySuite.timed)
      case "query_suite_full" => new QuerySuite(ctx, opt("data"), Paths.get(opt("pins")), QuerySuite.all)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: materialize several times, then warm up once ----
    val matS = (1 to setupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val d = wl.materialize()
      ((System.nanoTime() - t0) / 1e9, d)
    }
    check("same seed gives identical inputs", matS.map(_._2).distinct.size == 1)
    check("another seed gives other inputs", wl.digestFor(seed + 1) != matS.head._2)
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(matS.map(_._1)) + warmupS
    wl.selfChecks(traced = false).foreach { case (n, ok) => check(n, ok) }

    // ---- timed window ----
    val stats = new TaskStats(tracer)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val windowNs = (seconds * 1e9).toLong
    val start = System.nanoTime()
    var i = 0
    // a traced run needs a traced and an untraced op
    val minOps = if (traced) math.max(2, wl.minOps) else wl.minOps
    while (System.nanoTime() - start < windowNs || ops.size < minOps) {
      // in a traced run, ops alternate traced / untraced: the difference is
      // the tracing overhead
      val tracedOp = traced && i % 2 == 0
      if (tracedOp) spark.sparkContext.addSparkListener(stats)
      tracer.enabled = tracedOp
      tracer.op = s"op-$i"
      val clock = new OpClock
      Probe.resetHeapPeak()
      val g0 = Probe.gcMs()
      val r = try ctx.group(s"op-$i")(tracer.span("op")(wl.op(i, clock, tracedOp)))
        catch { case scala.util.control.NonFatal(e) =>
          notes += s"op $i threw: $e"
          e.printStackTrace()
          OpResult(ok = false)
        }
      val gcMs = Probe.gcMs() - g0
      tracer.enabled = false
      if (tracedOp) spark.sparkContext.removeSparkListener(stats)
      attempted += 1
      if (!r.ok) { failed += 1; notes += s"op $i failed its output checks" }
      ops += OpRecord(i, r, clock.wallNs, clock.cpuNs, gcMs, Probe.heapPeakBytes(), tracedOp)
      i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9

    val (tracedOps, untracedOps) = ops.toSeq.partition(_.traced)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, Any]
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_ms") = (Stats.median(untracedOps.map(_.wallNs / 1e6)), "ms")
      metrics("cpu_ms_per_op") = (Stats.median(untracedOps.map(_.cpuNs / 1e6)), "ms")
    } else {
      stats.drain()
      val groups = stats.groups
      def perOp(f: TaskAcc => Double): Double =
        Stats.mean(tracedOps.map { o =>
          groups.filter { case (g, _) => g == s"op-${o.index}" || g.startsWith(s"op-${o.index}:") }
            .values.map(f).sum
        })
      val tracedWallS = tracedOps.map(_.wallS).sum
      metrics("spark.tasks") = (perOp(_.tasks.toDouble), "count")
      metrics("spark.task_run_s") = (perOp(_.runMs / 1e3), "s")
      metrics("spark.task_cpu_s") = (perOp(_.cpuNs / 1e9), "s")
      metrics("spark.gc_share") = (perOp(_.gcMs.toDouble) / perOp(_.runMs.toDouble), "ratio")
      metrics("spark.deser_s") = (perOp(_.deserCpuNs / 1e9), "s")
      metrics("spark.shuffle_write_mb") = (perOp(_.shuffleWriteB / 1048576.0), "MB")
      metrics("spark.shuffle_read_mb") = (perOp(_.shuffleReadB / 1048576.0), "MB")
      metrics("spark.spill_mb") = (perOp(_.spillB / 1048576.0), "MB")
      metrics("spark.core_busy") =
        (perOp(_.runMs / 1e3) * tracedOps.size / (tracedWallS * cores), "ratio")
      metrics("jvm.gc_share") = (tracedOps.map(_.gcMs / 1e3).sum / tracedWallS, "ratio")
      metrics("jvm.heap_after_op_mb") = (Stats.median(tracedOps.map(_.heapPeakMb)), "MB")
      val layer = wl.layerMetrics(tracedOps, groups)
      workloadLayerKeys.foreach(k => metrics(k) = (layer.getOrElse(k, 0.0), unitOf(k)))
      val replay = Replay.run(wl.replaySample(90), rounds = 4)
      check("stage replay reproduces extractTurn", replay.mismatches == 0)
      check(f"extract.trace_gap within ±${Replay.GapBound}%.2f",
        math.abs(replay.metrics("extract.trace_gap")) <= Replay.GapBound)
      replay.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        metrics(k) = (v, if (k.endsWith("alloc_b_per_turn")) "B" else if (k.endsWith("ns_per_turn")) "ns" else "ratio")
      }
      wl.selfChecks(traced = true).foreach { case (n, ok) => check(n, ok) }
      metrics("trace.overhead") =
        (Stats.median(tracedOps.map(_.wallS)) / Stats.median(untracedOps.map(_.wallS)), "ratio")
      report("spans") = tracer.all.map(s => Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
      report("replay_turns") = replay.turns
    }

    val summary = wl.summary(untracedOps) :+
      (("failed_ratio", "ratio", failed.toDouble / attempted)) :+
      (("heap_peak_mb", "MB", ops.map(_.heapPeakMb).max)) :+
      (("setup_s", "s", setupS))
    report ++= Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors, "heap_max_mb" -> Probe.heapMaxBytes() / 1048576.0,
      "setup" -> Map("session_s" -> sessionS, "materialize_s" -> matS.map(_._1), "warmup_s" -> warmupS),
      "window_s" -> windowS, "ops" -> ops.size, "input" -> wl.inputInfo,
      "op_wall_ms" -> ops.map(_.wallNs / 1e6), "op_cpu_ms" -> ops.map(_.cpuNs / 1e6),
      "op_gc_ms" -> ops.map(_.gcMs), "op_heap_after_gc_mb" -> ops.map(_.heapPeakMb),
      "op_traced" -> ops.map(_.traced),
      "op_info" -> ops.map(_.result.info),
      "summary" -> summary.map { case (n, u, v) => Map("name" -> n, "unit" -> u, "value" -> v) },
      "notes" -> notes)

    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.write(out.resolve("report.json"), Json.render(report).getBytes(StandardCharsets.UTF_8))
    Files.write(out.resolve("result.json"), Json.render(result).getBytes(StandardCharsets.UTF_8))
    summary.foreach { case (n, u, v) => println(f"$workload%-16s $n%-28s $v%14.4f $u") }
    notes.foreach(n => println(s"$workload: $n"))
    spark.stop()
  }

  /** One local session with the engine's extensions, configured like the
    * frozen Bench harness; scratch space stays under `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def unitOf(key: String): String =
    if (key.endsWith(".calls") || key.endsWith("_files")) "count"
    else if (key.endsWith("_mb")) "MB"
    else "ratio"
}
