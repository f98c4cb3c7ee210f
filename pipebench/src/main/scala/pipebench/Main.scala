package pipebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One benchmark run: a workload against the engine, in this JVM.
  *
  *   pipebench.Main --workload clean|dirty --seed N --seconds S
  *                  --trace 0|1 --work DIR [--cores 4]
  *
  * Writes `DIR/raw.json`: the raw timings, the engine's own counters
  * and where the inputs and outputs live. `run.py` checks the outputs
  * against DuckDB and turns the timings into the reported metrics.
  */
object Main {

  val ValueSchema: StructType = StructType(Seq(StructField("value", StringType)))

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                        work: Path, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", Paths.get(m("--work")).toAbsolutePath,
      m.getOrElse("--cores", "4").toInt)
  }

  /** The session `graft.App.main` builds, on `cores` local cores with
    * one shuffle partition per core (`SPARK_GRAFT_CPUS` = cores), scratch
    * kept under the run's work directory.
    */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-market-engine")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work, args.cores)
    val out = new mutable.LinkedHashMap[String, Any]
    val probe = new Probe(spark, args.traced, args.work.resolve("out"))
    try {
      // Scheduler round trip before any work: what one trivial job costs
      // here. Traced runs only: the reading runs ~60 jobs.
      if (args.traced) out("job_round_trip_ms") = graft.Bench.jobRoundTripMedian3(spark)
      require(Seq("clean", "dirty").contains(args.workload), s"unknown workload '${args.workload}'")
      val w = new Workloads(spark, args, probe, out)
      w.run()
      if (args.traced) w.traceProbes()
    } finally probe.close()
    Files.write(args.work.resolve("raw.json"), Js(out.toMap).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON encoder for the raw result file. */
object Js {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Path => quote(p.toString)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.append('"').toString
  }
}
