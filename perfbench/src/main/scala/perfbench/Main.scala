package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, tables: String, out: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("tables", ""), need("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** What one run measured: named values, counts and notes, written as one
  * JSON object for the launcher. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  var firstPassEpochMs = 0L
  def put(name: String, v: Double): Unit = metrics(name) = v
  def wrongOutput(n: Long, example: String): Unit = {
    wrong += n
    if (n > 0 && !notes.contains("wrong_example")) notes("wrong_example") = example
  }

  def json: String = {
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val ns = notes.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "wrong": $wrong, """ +
      s""""first_pass_epoch_ms": $firstPassEpochMs, "metrics": $ms, "notes": $ns}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
  /** JVM-wide collector time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** JVM-wide JIT compiler thread time so far, in seconds. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
}

/** Benchmark entry point: one workload, one seed, one JSON report. The
  * launcher (`run.py`) builds the classpath, starts this JVM and turns the
  * report into the benchmark's result line. */
object Main {
  def session(a: Args): SparkSession = {
    // graft.Bench's session shape, with all scratch space inside the
    // run's work directory
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val report = new Report
    val t0 = System.nanoTime()
    val spark = session(a)
    report.put("setup.session_s", (System.nanoTime() - t0) / 1e9)
    try {
      a.workload match {
        case "extract_exchange" => ExtractBench.run(spark, a, exchange = true, report)
        case "extract_prebucketed" => ExtractBench.run(spark, a, exchange = false, report)
        case "curation_mix" => CurationBench.run(spark, a, report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      System.gc()
      report.put("heap_live_mb",
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
      Files.writeString(Paths.get(a.out), report.json)
    } finally spark.stop()
  }
}
