package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.spark.{ExtractedTurn, ExtractionJob, Turn}

/** Output checks shared by the extraction workloads: per-row content hashes
  * of the engine's output compared with direct single-threaded
  * `Extractor.extractTurn` results on the same turns. */
object RowHash {
  val outCols: Seq[String] = Seq("conv_id", "turn_idx", "form_type", "form_subtype", "main_text",
    "spans", "fields_json", "field_count", "section_count")

  def key: Column = concat_ws(":", col("conv_id"), col("turn_idx").cast("string"))
  def hash: Column = xxhash64(outCols.map(col): _*)

  def direct(t: Turn): ExtractedTurn = {
    val e = graft.extract.Extractor.extractTurn(t.text, t.tool)
    ExtractedTurn(t.conv_id, t.turn_idx, e.formType, e.formSubtype, e.mainText, e.spans,
      e.fieldsJson, e.fieldCount, e.sectionCount)
  }

  /** key -> row hash of direct extraction of `turns`, hashed by Spark with
    * the same expression the checks apply to the engine's output. */
  def expected(ctx: Ctx, turns: Seq[Turn]): Map[String, Long] = {
    import ctx.spark.implicits._
    ctx.spark.createDataset(turns.map(direct)).toDF()
      .select(key, hash).as[(String, Long)].collect().toMap
  }

  /** Attaches a row count and the XOR of the row hashes of `sample`. */
  def observe(df: DataFrame, obs: Observation, sample: Seq[String]): DataFrame =
    df.observe(obs, count(lit(1)).as("n"), bit_xor(when(key.isin(sample: _*), hash)).as("x"))
}

/** extract_mix: `ExtractionJob.extract` over a materialized parquet table
  * of distinct-text turns of all nine payload shapes, into the noop sink.
  * Parse and extract do nearly all the work: no shuffle, no commit. */
final class ExtractMix(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  val files = 8
  private val dir = ctx.work.resolve("extract_mix_input").toString
  private var rows: Vector[Inputs.Row] = Vector.empty
  private var pool: Map[String, Long] = Map.empty
  private var poolKeys: Vector[String] = Vector.empty
  val samplePerOp = 30

  def materialize(): Long = {
    rows = Inputs.transcripts(ctx.seed, files, "x")
    val turns = rows.map(_.turn)
    // one parquet file per equal-work slice
    ctx.spark.createDataset(ctx.spark.sparkContext.parallelize(turns, files))
      .write.mode("overwrite").parquet(dir)
    Inputs.digest(turns)
  }

  def digestFor(seed: Long): Long = Inputs.digest(Inputs.transcripts(seed, files, "x").map(_.turn))

  def inputInfo: Map[String, Any] = Map(
    "turns" -> rows.size, "files" -> files,
    "conversations" -> rows.map(_.turn.conv_id).distinct.size,
    "text_bytes" -> rows.map(_.turn.text.length.toLong).sum,
    "distinct_texts" -> rows.map(_.turn.text).distinct.size)

  def warmup(): Unit = {
    // the check pool: 20 seeded turns of each shape, extracted directly
    val rng = new SplittableRandom(ctx.seed ^ 0x5eedL)
    val sample = rows.groupBy(_.turn.tool).values.toSeq.sortBy(_.head.turn.tool)
      .flatMap(g => Inputs.shuffle(g, rng).take(20)).map(_.turn)
    pool = RowHash.expected(ctx, sample)
    poolKeys = pool.keys.toVector.sorted
    (0 until 3).foreach(k => op(-1 - k, new OpClock, traced = false))
  }

  override def selfChecks(traced: Boolean): Seq[(String, Boolean)] =
    if (traced) Seq.empty
    else Seq("every extract_mix turn text is distinct" -> (rows.map(_.turn.text).distinct.size == rows.size))

  def op(i: Int, clock: OpClock, traced: Boolean): OpResult = {
    val rng = new SplittableRandom(ctx.seed * 7919L + i)
    val sample = Inputs.shuffle(poolKeys, rng).take(samplePerOp)
    val obs = Observation(s"extract_mix_$i")
    clock {
      ctx.tracer.span("spark.extract") {
        val out = ExtractionJob.extract(ctx.spark, ctx.spark.read.parquet(dir).as[Turn]).toDF()
        RowHash.observe(out, obs, sample).write.mode("overwrite").format("noop").save()
      }
    }
    val m = obs.get
    val want = sample.map(pool).foldLeft(0L)(_ ^ _)
    val ok = m("n") == rows.size.toLong && m("x") == want
    OpResult(ok)
  }

  def replaySample(n: Int): Seq[(String, String)] = {
    val rng = new SplittableRandom(ctx.seed ^ 0x7e7eL)
    rows.groupBy(_.turn.tool).values.toSeq.sortBy(_.head.turn.tool)
      .flatMap(g => Inputs.shuffle(g, rng).take(n / Inputs.shapes.size))
      .map(r => (r.turn.text, r.turn.tool))
  }

  def layerMetrics(traced: Seq[OpRecord], groups: Map[String, TaskAcc]): Map[String, Double] = Map.empty

  def summary(ops: Seq[OpRecord]): Seq[(String, String, Double)] = Seq(
    ("turns_per_s", "turns/s", rows.size / Stats.median(ops.map(_.wallS))),
    ("cpu_ms_per_kturn", "ms", Stats.median(ops.map(_.cpuNs / 1e6)) * 1000 / rows.size))
}
