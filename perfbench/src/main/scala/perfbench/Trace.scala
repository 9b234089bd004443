package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.spark.{OrphanSweep, SnapshotManifestFormat, TableFormat}
import graft.spark.ExtractionJob.{FileEntry, LineageRow, Manifest}

/** One span: `op` is the id shared by every span of one benchmark op;
  * times are microseconds since the epoch. */
final case class Span(op: String, id: Int, parent: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store, written out when the benchmark ends. Spans are
  * recorded around the benchmark's calls into each layer; Spark job spans
  * come from [[TaskStats]]. When disabled, [[span]] only runs its body. */
final class Tracer {
  @volatile var enabled: Boolean = false
  @volatile var op: String = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      val opNow = op
      stack.set(id :: stack.get)
      val t0 = nowUs()
      try body
      finally {
        val t1 = nowUs()
        stack.set(stack.get.tail)
        add(Span(opNow, id, parent, name, t0, t1))
      }
    }

  /** Records a span whose times were measured elsewhere (Spark jobs). */
  def add(s: Span): Unit = synchronized { spans += s }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** A span's self time: its duration minus the part of it that spans
    * nested in it (by parent id, or by time within the same op for spans
    * of another source, e.g. Spark jobs) cover. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.filter(c => c.op == s.op && c.id != s.id && c.startUs >= s.startUs && c.endUs <= s.endUs)
      .map(c => (c.startUs, c.endUs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durUs - covered
  }
}

/** Task metric sums of one job group. */
final class TaskAcc {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserCpuNs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var recordsRead = 0L
}

/** Task metrics per Spark job group. Benchmark ops set the job group to
  * `op-N` (or `op-N:segment`); every job of the op carries it, so each task
  * is charged to the op that caused it. Jobs are recorded as spans named
  * `spark.job`. */
final class TaskStats(tracer: Tracer) extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, TaskAcc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private var started = 0
  private var ended = 0

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).filter(_.startsWith("op-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      e.stageIds.foreach(s => stageGroup(s) = g)
      jobStart(e.jobId) = (g, e.time)
      started += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      tracer.add(Span(g.takeWhile(_ != ':'), tracer.newId(), 0, "spark.job", t0 * 1000L, e.time * 1000L))
      ended += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byGroup.getOrElseUpdate(g, new TaskAcc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserCpuNs += m.executorDeserializeCpuTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Waits until every tagged job that started has ended on the listener
    * bus (events arrive asynchronously). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(started != ended) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task-end events of the last stage trail its job end
  }

  def groups: Map[String, TaskAcc] = synchronized(byGroup.toMap)
}

/** A [[TableFormat]] that times every call and forwards it, unchanged, to
  * `underlying` (the snapshot-manifest format). The calls are recorded as
  * `commit.<method>` spans; `commitWave` also keeps the stage time of the
  * wave, the `extract_ms` of the lineage rows the job hands it. */
final class TimingFormat(tracer: Tracer, underlying: TableFormat = SnapshotManifestFormat)
    extends TableFormat {
  /** Stage time (ms) of each committed wave, from its lineage rows. */
  val stageMs = mutable.ArrayBuffer.empty[Long]

  private def t[A](method: String)(body: => A): A = tracer.span(s"commit.$method")(body)

  def latestSnapshot(outDir: String): Option[Int] = t("latestSnapshot")(underlying.latestSnapshot(outDir))
  def readManifest(outDir: String): Option[Manifest] = t("readManifest")(underlying.readManifest(outDir))
  def committedBuckets(outDir: String): Set[Int] = t("committedBuckets")(underlying.committedBuckets(outDir))
  def listStagedFiles(spark: SparkSession, staging: String): Seq[FileEntry] =
    t("listStagedFiles")(underlying.listStagedFiles(spark, staging))
  def commitWave(outDir: String, staging: String, snapshotId: Int, buckets: Set[Int],
                 files: Seq[FileEntry], lineage: Seq[LineageRow], inputFps: Map[Int, Long],
                 additive: Boolean, convFpsDir: Option[String], deleteDirs: Seq[String],
                 fpMode: Option[String], bucketCount: Option[Int], operation: String,
                 props: Map[String, String], schemaDdl: Option[String],
                 toBranch: Option[String]): Unit = {
    synchronized(stageMs += lineage.map(_.extract_ms).foldLeft(0L)(math.max))
    t("commitWave")(underlying.commitWave(outDir, staging, snapshotId, buckets, files, lineage,
      inputFps, additive, convFpsDir, deleteDirs, fpMode, bucketCount, operation, props,
      schemaDdl, toBranch))
  }
  def readCommitted(spark: SparkSession, outDir: String): DataFrame =
    t("readCommitted")(underlying.readCommitted(spark, outDir))
  override def readCommittedForConvs(spark: SparkSession, outDir: String, convIds: Seq[String]): DataFrame =
    t("readCommittedForConvs")(underlying.readCommittedForConvs(spark, outDir, convIds))
  def readManifestAt(outDir: String, snapshotId: Int): Option[Manifest] =
    t("readManifestAt")(underlying.readManifestAt(outDir, snapshotId))
  def readAppendsBetween(spark: SparkSession, outDir: String, fromSnapshot: Int, toSnapshot: Int): DataFrame =
    t("readAppendsBetween")(underlying.readAppendsBetween(spark, outDir, fromSnapshot, toSnapshot))
  def readDeleteKeysBetween(spark: SparkSession, outDir: String, fromSnapshot: Int, toSnapshot: Int): DataFrame =
    t("readDeleteKeysBetween")(underlying.readDeleteKeysBetween(spark, outDir, fromSnapshot, toSnapshot))
  def readCommittedAsOf(spark: SparkSession, outDir: String, snapshotId: Int): DataFrame =
    t("readCommittedAsOf")(underlying.readCommittedAsOf(spark, outDir, snapshotId))
  def snapshotAsOfTimestamp(outDir: String, tsMillis: Long): Int =
    t("snapshotAsOfTimestamp")(underlying.snapshotAsOfTimestamp(outDir, tsMillis))
  override def readCommittedAsOfTimestamp(spark: SparkSession, outDir: String, ts: String): DataFrame =
    t("readCommittedAsOfTimestamp")(underlying.readCommittedAsOfTimestamp(spark, outDir, ts))
  def compact(spark: SparkSession, outDir: String): Set[Int] = t("compact")(underlying.compact(spark, outDir))
  def expireSnapshots(outDir: String, retainLast: Int): (Int, Int) =
    t("expireSnapshots")(underlying.expireSnapshots(outDir, retainLast))
  def removeOrphanFiles(outDir: String, olderThanMs: Long): OrphanSweep =
    t("removeOrphanFiles")(underlying.removeOrphanFiles(outDir, olderThanMs))
  def branches(outDir: String): Map[String, Int] = t("branches")(underlying.branches(outDir))
  def publishBranch(outDir: String, name: String): Int = t("publishBranch")(underlying.publishBranch(outDir, name))
  override def publishBranch(spark: SparkSession, outDir: String, name: String): Int =
    t("publishBranch")(underlying.publishBranch(spark, outDir, name))
  def abandonBranch(outDir: String, name: String): Unit = t("abandonBranch")(underlying.abandonBranch(outDir, name))
  def expireBranches(outDir: String, olderThanMs: Long): Seq[String] =
    t("expireBranches")(underlying.expireBranches(outDir, olderThanMs))
  def readCommittedAtBranch(spark: SparkSession, outDir: String, name: String): DataFrame =
    t("readCommittedAtBranch")(underlying.readCommittedAtBranch(spark, outDir, name))
  override def tagSnapshot(outDir: String, name: String, snapshotId: Int): Unit =
    t("tagSnapshot")(underlying.tagSnapshot(outDir, name, snapshotId))
  override def dropTag(outDir: String, name: String): Unit = t("dropTag")(underlying.dropTag(outDir, name))
  override def tags(outDir: String): Map[String, Int] = t("tags")(underlying.tags(outDir))
  override def readCommittedAtTag(spark: SparkSession, outDir: String, name: String): DataFrame =
    t("readCommittedAtTag")(underlying.readCommittedAtTag(spark, outDir, name))
  override def rollbackTo(outDir: String, snapshotId: Int, retries: Int): Int =
    t("rollbackTo")(underlying.rollbackTo(outDir, snapshotId, retries))
  override def snapshotIntact(outDir: String, man: Manifest): Boolean =
    t("snapshotIntact")(underlying.snapshotIntact(outDir, man))
  override def retainedManifests(outDir: String): Seq[Manifest] =
    t("retainedManifests")(underlying.retainedManifests(outDir))
  override def readLineage(outDir: String, snapshotId: Int): Seq[LineageRow] =
    t("readLineage")(underlying.readLineage(outDir, snapshotId))
  override def readSnapshotsTable(spark: SparkSession, outDir: String): DataFrame =
    t("readSnapshotsTable")(underlying.readSnapshotsTable(spark, outDir))
  override def readFilesTable(spark: SparkSession, outDir: String, snapshotId: Option[Int]): DataFrame =
    t("readFilesTable")(underlying.readFilesTable(spark, outDir, snapshotId))
  override def readPartitionsTable(spark: SparkSession, outDir: String, smallRowThreshold: Long): DataFrame =
    t("readPartitionsTable")(underlying.readPartitionsTable(spark, outDir, smallRowThreshold))
  override def readLineageTable(spark: SparkSession, outDir: String): DataFrame =
    t("readLineageTable")(underlying.readLineageTable(spark, outDir))
  override def setTableProps(outDir: String, props: Map[String, String], retries: Int): Int =
    t("setTableProps")(underlying.setTableProps(outDir, props, retries))
}
