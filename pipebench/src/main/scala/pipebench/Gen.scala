package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded synthetic trade stream, cut into files of JSON values — the
  * shape the engine's `file` source reads (one string column `value`
  * per row, as a Kafka value would carry it).
  *
  * Make-up of the stream (all drawn from the seed):
  *  - 50 symbols with Zipf(1.1) frequency and a per-symbol price random
  *    walk in 1e-4 ticks; timestamps strictly increase per symbol, so
  *    (symbol, timestamp) identifies a trade;
  *  - `days` trading days of 6.5 h each, spread evenly over the rows;
  *  - out-of-order rows: rows from the last two minutes of a file's
  *    event-time span move to the next file, well inside the
  *    10-minute watermark.
  * A `dirty` stream also carries:
  *  - byte-identical redeliveries (Kafka at-least-once), in the same
  *    file or the next one;
  *  - invalid rows (zero/negative volume, zero/negative/huge price,
  *    missing price or volume) for the silver filter and dead letters;
  *  - late rows, timestamped on the day before the first trading day,
  *    only in files from `lateFrom` on — far behind any watermark the
  *    stream has reached by then, so they drop wherever batch
  *    boundaries fall.
  * Rows of files before `stampFrom` carry a fixed ingestion time; later
  * files are stamped when they are written (see [[writeFile]]).
  */
final class Gen(seed: Long, sizes: Seq[Int], days: Int, dirty: Boolean, lateFrom: Int,
                stampFrom: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)

  /** One trade before serialisation. A negative `ingestMs` is stamped
    * at write time from the due time of file `origin` (a redelivery
    * carries its first delivery's bytes), or of the file it is written
    * in when `origin < 0`.
    */
  final case class Row(symbol: String, priceTicks: java.lang.Long, volume: java.lang.Long,
                       ts: Long, cond: Int, ingestMs: Long, origin: Int = -1)

  private val zipfCdf: Array[Double] = {
    val w = (1 to Symbols).map(r => 1.0 / math.pow(r, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def drawSymbol(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Symbols - 1)
  }
  def symbolName(i: Int): String = f"S$i%02d"

  private val lastTs = Array.fill(Symbols)(Long.MinValue)
  private val ticks = Array.fill(Symbols)(200000L + rnd.nextLong(4800000L))

  private val spanMs: Long = days * SessionMs
  /** Event time of the k-th of n evenly spread trades, mapped onto the
    * trading sessions (each day opens at 14:30 UTC).
    */
  private def eventTime(frac: Double): Long = {
    val off = math.min((frac * spanMs).toLong, spanMs - 1)
    val day = off / SessionMs
    Day0Ms + day * DayMs + OpenMs + off % SessionMs
  }

  private def nextTrade(frac: Double): Row = {
    val s = drawSymbol()
    var ts = eventTime(frac)
    if (ts <= lastTs(s)) ts = lastTs(s) + 1
    lastTs(s) = ts
    val p = ticks(s)
    val step = (rnd.nextDouble() - 0.5) * p * 0.002
    ticks(s) = math.max(10000L, p + step.toLong)
    val vol = 1L + (-math.log(1.0 - rnd.nextDouble()) * 120).toLong
    Row(symbolName(s), ticks(s), vol, ts, rnd.nextInt(3), -1L)
  }

  private def invalid(r: Row): Row = rnd.nextInt(7) match {
    case 0 => r.copy(volume = 0L)
    case 1 => r.copy(volume = -r.volume)
    case 2 => r.copy(priceTicks = -r.priceTicks)
    case 3 => r.copy(priceTicks = 0L)
    case 4 => r.copy(priceTicks = 20000000000L) // 2,000,000.0000 > Validation.MaxPrice
    case 5 => r.copy(priceTicks = null)
    case _ => r.copy(volume = null)
  }

  /** The files' rows, in file order. Built eagerly: everything random
    * is drawn here, so the stream depends on the seed alone.
    */
  val files: Int = sizes.size
  val contents: Array[Array[Row]] = {
    val total = sizes.sum.toDouble
    val firstRow = sizes.scanLeft(0)(_ + _)
    val base = Array.tabulate(files) { f =>
      Array.tabulate(sizes(f)) { i =>
        val r = nextTrade((firstRow(f) + i) / total)
        val r2 = if (dirty && rnd.nextInt(100) < InvalidPct) invalid(r) else r
        if (f >= stampFrom) r2 else r2.copy(ingestMs = r2.ts + 50 + rnd.nextInt(500))
      }.toBuffer
    }
    for (f <- 0 until files) {
      val rows = base(f)
      val fileMax = rows.map(_.ts).max
      // Out-of-order: late-in-file rows slip into the next file.
      if (f + 1 < files) {
        val (move, keep) = rows.partition(r => r.ts > fileMax - 120000L && rnd.nextInt(100) < 10)
        rows.clear(); rows ++= keep; base(f + 1) ++= move
      }
      // Redeliveries: an exact copy in this file, or in the next one
      // for rows near the end of this file's span.
      val redeliver = rows.filter(_ => dirty && rnd.nextInt(100) < RedeliverPct).toSeq
      redeliver.foreach { r =>
        if (f + 1 < files && r.ts > fileMax - 120000L && rnd.nextBoolean())
          base(f + 1) += r.copy(origin = if (r.origin >= 0) r.origin else f)
        else rows += r
      }
      if (dirty && f >= lateFrom) {
        (0 until LatePerFile).foreach { _ =>
          val s = drawSymbol()
          val lateTs = Day0Ms - DayMs + OpenMs + rnd.nextLong(SessionMs)
          rows += Row(symbolName(s), ticks(s), 1L + rnd.nextInt(200), lateTs, 0,
            if (f >= stampFrom) -1L else lateTs + 100)
        }
      }
    }
    base.map { rows =>
      val a = rows.toArray
      // Shuffle within the file: arrival order inside a file is arbitrary.
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
  }

  def rows: Long = contents.map(_.length.toLong).sum

  /** Write file `f` under `dir` as `fNNNNN.parquet`; `due(k)` is the
    * ingestion stamp of rows first delivered in file k. Written to a
    * hidden name and renamed, so a streaming file source never lists a
    * half-written file.
    */
  def writeFile(dir: Path, f: Int, due: Int => Long = _ => 0L): Path = {
    val hidden = dir.resolve(f".f$f%05d.tmp")
    val target = dir.resolve(fileName(f))
    Files.deleteIfExists(hidden)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(hidden)).withType(ValueSchema).build()
    val g = new SimpleGroupFactory(ValueSchema)
    try contents(f).foreach { r =>
      val stamp = if (r.ingestMs >= 0) r.ingestMs else due(if (r.origin >= 0) r.origin else f)
      w.write(g.newGroup().append("value", json(r, stamp)))
    } finally w.close()
    Files.move(hidden, target, StandardCopyOption.ATOMIC_MOVE)
  }
}

object Gen {
  val Symbols = 50
  val InvalidPct = 3
  val RedeliverPct = 2
  val LatePerFile = 3
  val DayMs: Long = 86400000L
  /** 2024-01-02 00:00 UTC, a Tuesday. */
  val Day0Ms: Long = 1704153600000L
  val OpenMs: Long = (14 * 60 + 30) * 60000L
  val SessionMs: Long = 390 * 60000L

  val ValueSchema = MessageTypeParser.parseMessageType(
    "message spark_schema { optional binary value (STRING); }")

  def fileName(f: Int): String = f"f$f%05d.parquet"

  private val condSets = Array("[]", "[\"1\"]", "[\"1\",\"12\"]")

  def json(r: Gen#Row, ingestMs: Long): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append("{\"symbol\":\"").append(r.symbol).append('"')
    if (r.priceTicks != null)
      sb.append(",\"price\":").append(java.math.BigDecimal.valueOf(r.priceTicks.longValue, 4).toPlainString)
    if (r.volume != null) sb.append(",\"volume\":").append(r.volume.longValue)
    sb.append(",\"timestamp\":").append(r.ts)
    sb.append(",\"conditions\":").append(condSets(r.cond))
    sb.append(",\"ingestion_time\":").append(ingestMs)
    sb.append('}').toString
  }
}
