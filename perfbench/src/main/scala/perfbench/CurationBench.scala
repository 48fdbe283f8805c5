package perfbench

import graft.{SparkEntry, Verify}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The curation-library mix: a fixed set of `SparkEntry.queries` entries
  * outside the extraction family and the streaming faces, each into the
  * `noop` sink, in an order set by the seed. The set holds the eight
  * queries with their own per-layer time and one more query for every
  * library module they leave out, so every module is measured; one pass
  * of all 69 eligible queries takes about a minute on four cores, too long
  * to repeat in every run. */
object CurationBench {
  /** The library module each query's body calls into. */
  val Mix: Vector[(String, String)] = Vector(
    "ann_ivf_indexed" -> "Similarity", "ann_pq_indexed" -> "Similarity",
    "ann_pq_topk" -> "Similarity", "bm25_topk" -> "Retrieval",
    "dedup_embedding_nn" -> "Dedup", "quality_perplexity" -> "Curation",
    "cms_heavyhitters" -> "Sketches", "shard_manifest" -> "Shards",
    "quality_signals" -> "Quality", "bpe_token_counts" -> "Bpe",
    "lang_id_ngram" -> "TextAnalysis", "multimodal_features" -> "Multimodal",
    "q_asof_join" -> "Temporal")

  val Modules: Vector[String] = Mix.map(_._2).distinct

  /** Queries with their own per-layer time. */
  val Named: Vector[String] = Vector("ann_ivf_indexed", "ann_pq_indexed", "bm25_topk",
    "ann_pq_topk", "dedup_embedding_nn", "quality_perplexity", "cms_heavyhitters",
    "shard_manifest")

  /** Untimed sequential passes after the oracle pass. Over 100 s of
    * sequential passes on four cores the first two read 13.3 and 11.2 s
    * and every later one 9.1 to 10.8 s, so timing starts with the third. */
  val WarmPasses = 2

  def run(spark: SparkSession, a: Args, report: Report): Unit = {
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(Mix.map(_._1))
    report.notes("queries") = order.size.toString
    report.notes("order") = order.mkString(",")

    // set-up: one untimed pass writing every result for the DuckDB oracle
    // check, which also warms the JIT and the codegen caches; the queries
    // run `cores` at a time, as a cold query spends most of its time in
    // single-threaded planning, code generation and compilation
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(a.cores)
    val broken = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(order) { name =>
        Future(try {
          queries(name)(spark, a.tables).write.mode("overwrite").parquet(s"${a.work}/results/$name")
          None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") })
      }, Duration.Inf).flatten
    } finally pool.shutdown()
    Files.writeString(Paths.get(s"${a.work}/oracle_sql.json"), Verify.oracleJson)
    if (broken.nonEmpty) report.notes("oracle_pass_failures") = broken.mkString("; ")

    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val sums, geos, gcs, jits, walls = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[JobSpan]
    val gauges = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    /** One pass over the mix: summed and geomean time, each query's scaled
      * by the gauge read just before it (unscaled when `gauged` is off);
      * GC and JIT seconds; summed wall time. */
    def timedPass(trace: Option[Trace], gauged: Boolean = true): Seq[Double] = {
      val times = mutable.ArrayBuffer.empty[(String, Timed)]
      val scaled = mutable.ArrayBuffer.empty[Double]
      val (gc0, jit0) = (Stats.gcSeconds(), Stats.jitSeconds())
      order.foreach { name =>
        val g = if (gauged) Gauge.seconds(a.cores) else Gauge.RefSeconds
        if (gauged) gauges += g
        attempted += 1
        try {
          val p = Trace.pass(sc, name)(Main.noop(queries(name)(spark, a.tables)))
          times += name -> p
          scaled += Gauge.scale(p.wall, g)
          perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += p.wall
          trace.foreach(spans ++= _.jobsOf(p.group))
        } catch { case _: Throwable => failed += 1 } // a query that throws is never timed
      }
      report.notes("query_walls") = times.map { case (n, p) => f"$n=${p.wall}%.3f" }.mkString(" ")
      Seq(scaled.sum, Stats.geomean(scaled.toSeq), Stats.gcSeconds() - gc0,
        Stats.jitSeconds() - jit0, times.map(_._2.wall).sum)
    }
    def record(p: Seq[Double]): Unit =
      Seq(sums, geos, gcs, jits, walls).zip(p).foreach { case (b, v) => b += v }

    // warm-up to steady state: untimed sequential passes in the timed order
    val warm = (1 to WarmPasses).map(_ => timedPass(None, gauged = false).last)
    (1 to Gauge.WarmupRuns).foreach(_ => Gauge.seconds(a.cores))
    perQuery.clear()
    attempted = 0L
    failed = 0L
    report.notes("warm_passes") = warm.map(s => f"$s%.3f").mkString(" ")
    report.put("setup.warmup_s", (System.nanoTime() - t0) / 1e9)

    // timed passes: every query once per pass, closed loop
    report.firstPassEpochMs = System.currentTimeMillis()
    if (a.trace) {
      // untraced and traced passes, alternated: their difference is the
      // tracing overhead; the per-layer values come from the traced ones
      val tr = new Trace(sc)
      val untraced = mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to 2) {
        untraced += timedPass(None).head
        sc.addSparkListener(tr)
        record(timedPass(Some(tr)))
        sc.removeSparkListener(tr)
      }
      val (u, t) = (Stats.median(untraced.toSeq), Stats.median(sums.toSeq))
      report.put("trace.overhead_frac", (t - u) / u)
    } else {
      val start = System.nanoTime()
      while (sums.isEmpty || System.nanoTime() - start < a.seconds * 1000000000L)
        record(timedPass(None))
    }
    report.attempted = attempted
    report.failed = failed
    report.notes("passes") = sums.size.toString
    report.notes("pass_times") = walls.map(s => f"$s%.3f").mkString(" ")
    report.notes("gauges") = gauges.map(g => f"$g%.4f").mkString(" ")
    val mix = Stats.median(sums.toSeq)
    val geo = Stats.median(geos.toSeq)
    report.put("host.gauge_s", Stats.median(gauges.toSeq))
    report.put("pass_wall_s", Stats.median(walls.toSeq))
    report.put("pass_s", mix)
    report.put("geomean_ms", geo * 1e3)
    report.put("ok_frac", 1.0 - failed.toDouble / attempted)
    report.put("mix_s", mix)
    report.put("mix_geomean_s", geo)
    report.put("query_fail_frac", failed.toDouble / attempted)
    report.put("jvm.gc_s", Stats.median(gcs.toSeq))
    report.put("jvm.jit_s", Stats.median(jits.toSeq))

    if (a.trace) {
      val med = perQuery.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
      Modules.foreach { m =>
        report.put(s"mod.${m}_s", Mix.collect { case (n, `m`) => med.getOrElse(n, 0.0) }.sum)
      }
      Named.foreach(n => report.put(s"q.${n}_s", med.getOrElse(n, 0.0)))
      val passes = sums.size.toDouble
      val stages = spans.flatMap(_.stages)
      report.put("curation.single_task_stages",
        if (a.cores > 1) stages.count(_.tasks.size == 1) / passes else 0.0)
      // busy-weighted max/median task time over stages that ran in parallel
      val multi = stages.filter(_.tasks.size > 1)
      val w = multi.map(_.busyNs.toDouble).sum
      report.put("curation.task_skew",
        if (w > 0) multi.map(s => s.skew * s.busyNs).sum / w else 0.0)
      report.put("curation.shuffle_mb", stages.flatMap(_.tasks).map(_.shuffleWriteBytes).sum / 1e6 / passes)
      report.put("curation.spill_mb", stages.flatMap(_.tasks).map(_.spillBytes).sum / 1e6 / passes)
      report.put("driver.gap_s", spans.map(_.gapS).sum / passes)
      Spans.write(s"${a.work}/spans.jsonl", spans.toSeq, Seq.empty)
    }
  }
}
