package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measurement hooks: Spark's own listener events and nothing else.
  *
  * The streaming-progress half is always on — the live phase needs
  * batch end times to date each row's visibility, and progress events
  * are what the engine posts anyway. The job/task half and the output
  * listing only run in a traced run.
  */
final class Probe(spark: SparkSession, traced: Boolean, store: Path) {
  import Probe._

  /** One executed micro-batch of one query. */
  final case class Batch(query: String, batchId: Long, startMs: Long, endMs: Long,
                         inputRows: Long, durations: Map[String, Long], stateRows: Long,
                         commitMs: Long, droppedLate: Long, startOffset: String, endOffset: String)

  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val names = mutable.Map.empty[String, String] // query id -> name

  // Traced counters, keyed by tag: a query name or a job group.
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val shuffleBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageTag = mutable.Map.empty[Int, String]
  private val seenFiles = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
  private val filesWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val bytesWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Probe.this.synchronized { names(e.id.toString) = e.name }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val src = p.sources.headOption
      val b = Batch(p.name, p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        src.map(_.startOffset).orNull, src.map(_.endOffset).orNull)
      Probe.this.synchronized {
        // Idle queries re-post their last batch as a no-data progress
        // event; a batch counts once.
        if (!batches.exists(x => x.query == b.query && x.batchId == b.batchId))
          batches += b
      }
      if (traced) outDirsUnder(store).get(p.name).foreach(listNew(p.name, _))
    }
  }

  private val jobsListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(id => Probe.this.synchronized(names.getOrElse(id, id)))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        .getOrElse("other")
      Probe.this.synchronized {
        jobs(tag) += 1
        e.stageIds.foreach(s => stageTag(s) = tag)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Probe.this.synchronized {
        val tag = stageTag.getOrElse(e.stageId, "other")
        shuffleBytes(tag) += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  spark.streams.addListener(streams)
  if (traced) spark.sparkContext.addSparkListener(jobsListener)

  /** Data files under a layer's output that were not there at its
    * previous batch: what this batch wrote (upserts replace files
    * under fresh names, so a rewrite counts as written).
    */
  private def listNew(query: String, dir: Path): Unit = if (Files.isDirectory(dir)) {
    val now = listData(dir)
    val before = seenFiles(query)
    val fresh = now.keySet -- before
    synchronized {
      filesWritten(query) += fresh.size
      bytesWritten(query) += fresh.toSeq.map(now).sum
      seenFiles(query) = now.keySet
    }
  }

  def close(): Unit = {
    spark.streams.removeListener(streams)
    if (traced) spark.sparkContext.removeSparkListener(jobsListener)
  }

  def all: Seq[Batch] = synchronized(batches.toSeq)

  def jobsOf(tag: String): Long = synchronized(jobs(tag))

  /** Rows each query dropped behind the watermark. */
  def lateDrops: Map[String, Long] =
    all.groupBy(_.query).map { case (q, bs) => q -> bs.map(_.droppedLate).sum }

  /** Per-layer metrics of `query`: add_batch_ms from its catch-up
    * batch (per-row work), the per-batch fixed costs from its live
    * batch, counts as per-batch means over every recorded batch.
    */
  def layerMetrics(query: String, layer: String, catchUp: Long, live: Long): Map[String, Double] = {
    val bs = all.filter(_.query == query)
    val n = math.max(bs.size, 1).toDouble
    def at(id: Long)(f: Batch => Long): Double = bs.find(_.batchId == id).map(f(_).toDouble).getOrElse(0.0)
    synchronized {
      Map(
        s"$layer.batches" -> bs.size.toDouble,
        s"$layer.add_batch_ms" -> at(catchUp)(_.durations.getOrElse("addBatch", 0L)),
        s"$layer.state_commit_ms" -> at(live)(_.commitMs),
        s"$layer.state_rows" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
        s"$layer.planning_ms" -> at(live)(_.durations.getOrElse("queryPlanning", 0L)),
        s"$layer.offsets_ms" -> at(live)(b => Seq("latestOffset", "walCommit", "commitOffsets")
          .map(b.durations.getOrElse(_, 0L)).sum),
        s"$layer.jobs" -> jobs(query) / n,
        s"$layer.shuffle_bytes" -> shuffleBytes(query) / n,
        s"$layer.files_written" -> filesWritten(query) / n,
        s"$layer.bytes_written" -> bytesWritten(query) / n)
    }
  }
}

object Probe {
  /** Engine query name -> benchmark layer name. */
  val Layers: Seq[(String, String)] = Seq(
    "bronze" -> "bronze", "silver" -> "silver", "gold5m" -> "gold5m",
    "gold1h" -> "gold1h", "dead_letters" -> "deadletter")

  /** Output directory of each query under an App `--out` root. */
  def outDirsUnder(out: Path): Map[String, Path] = Map(
    "bronze" -> out.resolve("bronze"), "silver" -> out.resolve("silver"),
    "gold5m" -> out.resolve("gold5m"), "gold1h" -> out.resolve("gold1h"),
    "dead_letters" -> out.resolve("dead_letters"))

  /** Visible data files under `dir` (Spark's hidden-name rule) with sizes. */
  def listData(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => dir.relativize(p).iterator.asScala.exists { c =>
        val n = c.toString; n.startsWith("_") || n.startsWith(".")
      })
      .flatMap(p => try Some(p.toString -> Files.size(p)) catch { case _: java.io.IOException => None })
      .toMap
    catch { case _: java.io.UncheckedIOException => Map.empty } // a directory replaced mid-walk
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
