package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.App
import graft.operators.{LatestPrices, MarketQueries, Ohlcv, Validation}
import graft.streaming.{Sinks, TradeStreams}

/** One run of the pipeline: the seeded stream is drawn and the backlog
  * staged (untimed), then set-up and three timed phases over one start
  * of `App.start` and one store:
  *
  *  0. set-up — write a small primer file and start the topology on a
  *     processing-time trigger of `--seconds`; it ends when every layer
  *     has committed the primer: the engine's cold start (query start,
  *     state-store set-up, first-batch code generation, first sink
  *     writes);
  *  1. catch-up — the backlog files appear at once in the source
  *     directory, and each layer takes them in one micro-batch; the
  *     rate is timed from those batches' own progress events;
  *  2. live — an open-loop generator reveals one file every
  *     `LiveFileMs` through one trigger period, so each layer takes the
  *     live files in one micro-batch;
  *  3. serve — after the queries stop, one closed-loop dashboard client
  *     issues one round of the panel mix Q1–Q11 against the quiescent
  *     store.
  *
  * Workloads differ in the stream's make-up (see [[Gen]]) and in the
  * layers they run ([[Workloads.LayersOf]]); sizes are fixed, so every
  * seed offers the same amount of work.
  */
final class Workloads(spark: SparkSession, args: Main.Args, probe: Probe,
                      out: mutable.Map[String, Any]) {
  import Workloads._

  private val work = args.work
  private val store = work.resolve("out")
  private val ckpt = work.resolve("ckpt")
  private val in = work.resolve("in")
  /** Where the backlog waits until the catch-up reveals it. */
  private val stage = work.resolve("stage")

  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9
  /** Phase ends, in seconds since the JVM started (for the run's log). */
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  private def mark(phase: String): Unit =
    marks(phase) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** The live phase is one trigger period of `--seconds`. */
  private val triggerMs = (args.seconds * 1000).toLong
  private val liveFiles = math.max(1, ((triggerMs - 500) / LiveFileMs - 1).toInt)
  /** File 0 is the primer, files 1..BacklogFiles the backlog, then the live files. */
  private val firstLive = 1 + BacklogFiles
  private val sizes = Seq(PrimerRows) ++ Seq.fill(BacklogFiles)(BacklogRowsPerFile) ++
    Seq.fill(liveFiles)(LiveRowsPerFile)
  private val dirty = args.workload == "dirty"
  /** Engine layers this workload runs, as (query name, layer name). */
  private val layers = Probe.Layers.filter { case (_, l) => LayersOf(args.workload)(l) }

  def run(): Unit = {
    val g = pipeline()
    // One round of the panel mix: every answer is checked, and Q7/Q8 are
    // the run's failed operations.
    val client = new Client(store, new java.util.SplittableRandom(args.seed ^ 0x5eed5eedL), "panel")
    client.round()
    mark("serve")
    served = Some(client)
    out ++= Map("serve" -> client.report(), "in_dir" -> in, "out_dir" -> store,
      "offered_rows" -> g.rows, "late_drops" -> probe.lateDrops,
      "attempted" -> Panels.size, "failed" -> client.failed, "phase_end_s" -> marks)
  }

  /** Set-up, catch-up and live, in one start of the topology. Records
    * the set-up time, the catch-up rate and each live row's visibility
    * per layer.
    */
  private def pipeline(): Gen = {
    mark("session")
    val g = new Gen(args.seed, sizes, Days, dirty = dirty, lateFrom = firstLive, stampFrom = firstLive)
    Files.createDirectories(in); Files.createDirectories(stage)
    (1 to BacklogFiles).foreach(g.writeFile(stage, _))
    val files = g.files
    mark("staged")
    val t0 = System.nanoTime
    g.writeFile(in, 0)
    val raw = TradeStreams.fileSource(spark, in.toString, Main.ValueSchema)
    val mgr = App.start(spark, raw, App.Config(source = "file", in = in.toString,
      out = store.toString, checkpoint = ckpt.toString, layers = LayersOf(args.workload),
      trigger = s"$triggerMs milliseconds", watermark = Watermark))
    val due = new Array[Long](files)
    val revealed = new Array[Long](files)
    val queries = mgr.handles.values.toSeq
    def rowsOf(fs: Range): Long = fs.map(g.contents(_).length.toLong).sum
    def consumed(q: String): Long = probe.all.filter(_.query == q).map(_.inputRows).sum
    def awaitConsumed(rows: Long, what: String): Unit = {
      val deadline = System.currentTimeMillis + 90000
      while (queries.exists(q => consumed(q.name) < rows)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        require(System.currentTimeMillis < deadline, s"$what: layers did not take $rows rows " +
          "within 90 s: " + queries.map(q => s"${q.name}=${consumed(q.name)}").mkString(", "))
        Thread.sleep(20)
      }
    }
    /** Each layer's newest batch that took data. */
    def lastData(): Map[String, Long] = queries.map(q => q.name ->
      probe.all.filter(b => b.query == q.name && b.inputRows > 0).map(_.batchId).max).toMap
    val stateful = Seq("silver", "gold5m", "gold1h").filter(LayersOf(args.workload))
    /** Waits until every stateful layer has run a batch after `after`:
      * the no-data batch that evicts with the watermark the data moved.
      */
    def awaitEviction(after: Map[String, Long], what: String): Unit = {
      def seen(q: String): Boolean = probe.all.exists(b => b.query == q && b.batchId > after(q))
      val deadline = System.currentTimeMillis + 60000
      while (!stateful.forall(seen)) {
        require(System.currentTimeMillis < deadline, s"no eviction batch after the $what")
        Thread.sleep(20)
      }
    }
    /** Sleeps to `offset` ms from the next point of the trigger grid,
      * which processing-time triggers share: they fire at multiples of
      * the interval since the epoch.
      */
    def toGrid(offset: Long): Unit = {
      val at = (System.currentTimeMillis + 500) / triggerMs * triggerMs + triggerMs + offset
      Thread.sleep(math.max(0L, at - System.currentTimeMillis))
    }
    try {
      awaitConsumed(rowsOf(0 until 1), "set-up")
      out("setup_s") = secs(t0)
      mark("setup")
      val primed = lastData()
      // One untimed panel round over the primer's store: each panel's
      // first call pays for code generation a dashboard in service has
      // long since paid. It runs while the layers evict after the
      // primer, and ends before the catch-up.
      new Client(store, new java.util.SplittableRandom(args.seed), "warm-up").round()
      awaitEviction(primed, "primer")

      // Catch-up: the backlog appears at once, shortly before a trigger
      // point; every layer is idle, so each takes all of it in the batch
      // that starts there.
      toGrid(-300)
      (1 to BacklogFiles).foreach { f =>
        Files.move(stage.resolve(Gen.fileName(f)), in.resolve(Gen.fileName(f)),
          StandardCopyOption.ATOMIC_MOVE)
      }
      val backlogRows = rowsOf(1 until firstLive)
      awaitConsumed(rowsOf(0 until firstLive), "catch-up")
      val caught = lastData()
      val catchUp = probe.all.filter(b => b.inputRows > 0 && b.batchId > primed(b.query))
      out("catch_up") = Map("rows" -> backlogRows,
        "seconds" -> (catchUp.map(_.endMs).max - catchUp.map(_.startMs).min) / 1000.0)
      // The catch-up batch moved every stateful layer's watermark, so
      // each runs one no-data batch to evict state. Live files start
      // after it: every live row then meets a watermark computed from
      // the backlog, and late rows drop wherever batch boundaries fall.
      // Every layer is then idle when the live files start.
      awaitEviction(caught, "catch-up")
      mark("eviction")
      // Open loop: file k is due at start + k * LiveFileMs whatever the
      // engine is doing; its rows are stamped with that due time.
      // The files fall inside one trigger period, from 500 ms past a grid
      // point to 500 ms before the next, so every run meets the triggers
      // in the same phase and each layer takes the live files in one batch.
      val start = (System.currentTimeMillis + 500) / triggerMs * triggerMs + triggerMs + 500
      (firstLive until files).foreach(f => due(f) = start + (f - firstLive) * LiveFileMs)
      val gen = new Thread(() => {
        (firstLive until files).foreach { f =>
          val wait = due(f) - System.currentTimeMillis
          if (wait > 0) Thread.sleep(wait)
          g.writeFile(in, f, due)
          revealed(f) = System.currentTimeMillis
        }
      }, "pipebench-generator")
      gen.start()
      gen.join()
      awaitConsumed(g.rows, "live")
      phases = Map("catch_up" -> caught, "live" -> lastData())
      mark("live")
    } finally mgr.stopAll()
    mark("stop")

    // Which micro-batch of each layer took each file: the file source's
    // own log maps files to log offsets, progress events map offsets to
    // batches; visibility is that batch's end.
    val latency = layers.map { case (q, layer) =>
      val logOf = sourceLog(ckpt.resolve(checkpointDir(q)).resolve("sources/0"))
      val ends = probe.all.filter(b => b.query == q && b.inputRows > 0).flatMap { b =>
        val lo = logOffset(b.startOffset).getOrElse(-1L)
        val hi = logOffset(b.endOffset).getOrElse(-1L)
        logOf.collect { case (f, o) if o > lo && o <= hi => f -> b.endMs }
      }.toMap
      layer -> (firstLive until files).map { f =>
        Seq(g.contents(f).length.toLong, ends(Gen.fileName(f)) - due(f))
      }
    }.toMap
    out("batch_log") = probe.all.map(b => Seq(b.query, b.batchId, b.startMs, b.endMs, b.inputRows))
    out("live") = Map("latency" -> latency,
      "generator_late_ms" -> (firstLive until files).map(f => revealed(f) - due(f)))
    g
  }

  private var served: Option[Client] = None
  /** Phase -> layer query -> the batch that took the phase's data. */
  private var phases = Map.empty[String, Map[String, Long]]

  /** One dashboard client: issues the panel mix in order, one panel at
    * a time, timing each from request to collected answer.
    */
  final class Client(store: Path, rnd: java.util.SplittableRandom, tag: String) {
    val timings = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val answers = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val filesRead = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    private val symCdf = {
      val w = (1 to Gen.Symbols).map(r => 1.0 / math.pow(r, 1.1)); val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    private def sym(): String = {
      val i = java.util.Arrays.binarySearch(symCdf, rnd.nextDouble())
      f"S${math.min(if (i >= 0) i else -i - 1, Gen.Symbols - 1)}%02d"
    }
    private def day(d: Int): String = java.time.LocalDate.ofEpochDay(Gen.Day0Ms / Gen.DayMs + d).toString

    private def read(t: String): DataFrame = spark.read.parquet(store.resolve(t).toString)

    def failed: Int = timings.count(!_._3)

    def round(): Unit = Panels.foreach { q =>
      val d = rnd.nextInt(Days)
      val lo = 20 + rnd.nextInt(48000) / 100.0
      val p: Map[String, Any] = Map("symbol" -> sym(), "day" -> day(d),
        "day2" -> day(math.min(d + 1, Days - 1)), "lo" -> lo, "hi" -> (lo + 25))
      val s = p("symbol").toString; val dd = p("day").toString
      spark.sparkContext.setJobGroup(s"$tag.$q", s"$tag $q")
      val t0 = System.nanoTime
      try {
        val df = q match {
          case "q1" => MarketQueries.countForDay(read("silver"), dd)
          case "q2" => MarketQueries.volumeForDay(read("gold5m"), dd)
          case "q3" => MarketQueries.maxWindowForDay(read("gold5m"), dd)
          case "q4" => MarketQueries.candles(read("gold5m"), s, dd, CandlesK)
          case "q5" => MarketQueries.volumeBySymbol(read("gold5m"))
          case "q6" => MarketQueries.tradeCountBySymbol(read("gold5m"))
          case "q7" => LatestPrices.snapshot(read("silver"))
          case "q8" => MarketQueries.latestTrades(read("silver"), s, dd, LatestN)
          case "q9" => MarketQueries.ohlcvRange(read("gold5m"), s, dd, p("day2").toString)
          case "q10" => MarketQueries.avgSecondsIntoDay(read("silver"), dd)
          case "q11" => MarketQueries.priceBand(read("silver"), lo, lo + 25)
        }
        val rows = df.collect()
        timings += ((q, (System.nanoTime - t0) / 1e6, true))
        if (args.traced) filesRead.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
          scans(df.queryExecution.executedPlan)
            .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble
        val key = q + Js(p)
        if (!answers.contains(key)) answers(key) = Map("q" -> q, "params" -> p,
          "cols" -> df.columns.toSeq, "rows" -> rows.map(_.toSeq).toSeq)
      } catch {
        case e: Exception =>
          timings += ((q, (System.nanoTime - t0) / 1e6, false))
          errors.getOrElseUpdate(q, e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).linesIterator.next())
      } finally spark.sparkContext.clearJobGroup()
    }

    def report(): Map[String, Any] = Map(
      "panels" -> timings.map { case (q, ms, ok) => Map("q" -> q, "ms" -> ms, "ok" -> ok) },
      "answers" -> answers.values.toSeq, "errors" -> errors)

    def traceMetrics(): Map[String, Double] = Panels.flatMap { q =>
      val ok = timings.filter(t => t._1 == q && t._3)
      val n = math.max(timings.count(_._1 == q), 1)
      Seq(s"panel.$q.ms_p50" -> Probe.median(ok.map(_._2).toSeq),
        s"panel.$q.files_read" -> Probe.median(filesRead.getOrElse(q, Nil).toSeq),
        s"panel.$q.jobs" -> probe.jobsOf(s"panel.$q").toDouble / n)
    }.toMap
  }

  /** Traced run only: the layer metrics the phases do not report
    * themselves — streaming progress and job counters per layer, the
    * layer functions called directly on the backlog, and the panels.
    */
  def traceProbes(): Unit = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    layers.foreach { case (q, l) =>
      m ++= probe.layerMetrics(q, l, phases("catch_up")(q), phases("live")(q)) }
    val backlog = (1 to BacklogFiles).map(f => in.resolve(Gen.fileName(f)).toString)
    val raw = spark.read.schema(Main.ValueSchema).parquet(backlog: _*)
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = Probe.median((0 until 3).map { _ =>
      val t0 = System.nanoTime; f; (System.nanoTime - t0) / 1e6 })
    val parsed = TradeStreams.parseTrades(raw)
    val silver = TradeStreams.toSilverStreaming(parsed)
    m("fn.parse_ms") = timed(run(TradeStreams.parseTrades(raw)))
    m("fn.silver_ms") = timed(run(TradeStreams.toSilverStreaming(parsed)))
    m("fn.validate_ms") = timed {
      val (good, dead) = Validation.split(
        Validation.validateStreaming(parsed.withColumn("event_id", col("timestamp"))))
      run(good); run(dead)
    }
    def bars(df: DataFrame): DataFrame =
      Ohlcv.bars(df.withColumn("event_id", col("timestamp")), "5 minutes")
        .withColumn("window_date", to_date(col("window_start")))
    m("fn.bars5m_ms") = timed(run(bars(silver)))
    // Upserts: the first half of the backlog's bars into an empty store,
    // then the second half's into that store.
    def barsOf(fs: Seq[String]): DataFrame = bars(TradeStreams.toSilverStreaming(
      TradeStreams.parseTrades(spark.read.schema(Main.ValueSchema).parquet(fs: _*)))).localCheckpoint()
    val (h1, h2) = backlog.splitAt(BacklogFiles / 2)
    val first = barsOf(h1)
    val second = barsOf(h2)
    val keys = Seq("symbol", "window_start")
    def fnStore(i: Int): String = work.resolve(s"fn-store$i").toString
    def upsertMs(df: DataFrame, i: Int): Double = {
      val t0 = System.nanoTime
      Sinks.upsertByKey(df, fnStore(i), Seq("window_date"), keys)
      (System.nanoTime - t0) / 1e6
    }
    m("fn.upsert_create_ms") = Probe.median((0 until 3).map(upsertMs(first, _)))
    m("fn.upsert_merge_ms") = Probe.median((0 until 3).map(upsertMs(second, _)))
    m ++= served.map(_.traceMetrics()).getOrElse(Map.empty)
    m("generator.late_ms_max") = out("live").asInstanceOf[Map[String, Any]]("generator_late_ms")
      .asInstanceOf[Seq[Long]].max.toDouble
    out("trace") = m
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: ReusedExchangeExec => Nil
    case s: DataSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }
}

object Workloads {
  /** Every workload runs silver and gold5m, which the end-to-end
    * metrics and the panels read. `dirty` adds the layers its stream
    * feeds (bronze, dead letters); `clean` adds the second window grain.
    */
  val LayersOf: Map[String, Set[String]] = Map(
    "dirty" -> Set("bronze", "silver", "gold5m", "deadletter"),
    "clean" -> Set("silver", "gold5m", "gold1h"))
  val Watermark = "10 minutes"
  val Days = 2
  /** The file the topology starts on; set-up ends when every layer has
    * committed it. */
  val PrimerRows = 200
  /** The backlog the catch-up reveals at once: one batch per layer. */
  val BacklogFiles = 10
  val BacklogRowsPerFile = 2000
  val LiveFileMs = 250L
  val LiveRowsPerFile = 50
  val CandlesK = 12
  val LatestN = 20
  val Panels: Seq[String] = (1 to 11).map(i => s"q$i")

  def checkpointDir(query: String): String = if (query == "dead_letters") "deadletter" else query

  /** File name -> log offset, from a file source's metadata log
    * (`v1` header, then one JSON entry per file; compacted files repeat
    * earlier entries).
    */
  def sourceLog(dir: Path): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.collect { case entry(p, b) =>
        p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
    }.toMap
    finally s.close()
  }

  def logOffset(json: String): Option[Long] =
    Option(json).flatMap(j => """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

}
