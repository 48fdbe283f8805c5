package perfbench

import graft.extract.Extractor
import graft.spark.{ExtractJob, GraftOps, Turn}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The two extraction workloads: `ExtractJob.run` over a table that is not
  * clustered by bucket (`exchange = true`) and `ExtractJob.runPreBucketed`
  * over the same turns written clustered by `ExtractJob.bucketCol`. Each
  * timed pass extracts the whole table into Spark's `noop` sink, so every
  * output column is computed. */
object ExtractBench {
  /** Turns per table: one pass is about a second on four cores, short
    * enough that a run times a dozen passes. */
  val Turns = 30000
  /** Untimed passes of the kernel alone over the table's pages after the
    * checked pass: the JIT compiles the kernel at half the cost of a Spark
    * pass. */
  val WarmupKernelPasses = 3
  /** Untimed noop passes after those, to reach steady state: over 25 s of
    * passes on the exchange face the first three read 0.89, 0.80 and
    * 0.67 s after three warm-up passes, and the rest 0.49 to 0.71 s. */
  val WarmupPasses = 6
  /** Minimum timed passes, whatever `--seconds` says. */
  val MinPasses = 3
  /** Repetitions of each traced pass; the trace reports their medians. */
  val TracedReps = 5

  final class Tables(spark: SparkSession, a: Args) {
    import spark.implicits._
    val buckets: Int = a.cores * 4 // graft.Bench's bucket count
    val flat = s"${a.work}/turns_flat"
    val clustered = s"${a.work}/turns_bucketed"

    // read once: a fresh `spark.read` would add a schema-inference job to
    // every pass
    private lazy val flatIn = spark.read.parquet(flat).as[Turn]
    private lazy val clusteredIn = spark.read.parquet(clustered).as[Turn]
    def input(exchange: Boolean): Dataset[Turn] = if (exchange) flatIn else clusteredIn

    def job(exchange: Boolean): ExtractJob.Result =
      if (exchange) ExtractJob.run(spark, input(exchange), buckets)
      else ExtractJob.runPreBucketed(spark, input(exchange), buckets)

    /** The rows `job` feeds its extraction operator, in the same
      * partitions and order, as a DataFrame. */
    def shaped(exchange: Boolean): DataFrame = {
      val tagged = input(exchange).toDF()
        .withColumn("bucket", ExtractJob.bucketCol(buckets))
        .select("bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      (if (exchange) tagged.repartition(buckets, col("bucket")) else tagged)
        .sortWithinPartitions("conv_id", "turn_idx")
    }
  }

  /** Materialise the seeded turns: in turn order for the exchange face
    * (not clustered by bucket: every conversation spreads over all files),
    * clustered by the extraction bucket for the pre-bucketed face. The
    * clustered table is `cores` files, each holding whole buckets (the
    * lineage counts a bucket once, so one bucket must not span two tasks),
    * with the buckets packed largest first into the file with the fewest
    * turns so far. The files then hold about the same number of turns,
    * and the scan reads each file as one task. */
  def materialise(spark: SparkSession, a: Args, t: Tables, spec: TurnTable.Spec,
      faces: Seq[Boolean]): Unit = {
    import spark.implicits._
    val turns = spark.range(0, spec.n, 1, a.cores * 2).map(i => spec.turn(i.toInt))
    if (faces.contains(true)) turns.write.mode("overwrite").parquet(t.flat)
    if (faces.contains(false)) {
      val bucketOf = spark.range(0, spec.n, 1, a.cores * 2)
        .map(i => (spec.conv(i.toInt), i.toInt)).toDF("conv_id", "turn_idx")
        .select(ExtractJob.bucketCol(t.buckets), col("turn_idx"))
        .as[(Int, Int)].collect().sortBy(_._2).map(_._1)
      val load = new Array[Long](a.cores)
      val fileOf = bucketOf.groupBy(identity).toSeq.map { case (b, ts) => (b, ts.length) }
        .sortBy { case (b, n) => (-n, b) }
        .map { case (b, n) =>
          val f = load.indexOf(load.min)
          load(f) += n
          b -> f
        }.toMap
      // partition f of a HashPartitioner over `cores` gets exactly key f
      val placed = spark.sparkContext.range(0, spec.n, 1, a.cores * 2)
        .map(i => (fileOf(bucketOf(i.toInt)), i)).partitionBy(new HashPartitioner(a.cores)).values
      placed.toDS().map(i => spec.turn(i.toInt))
        .withColumn("b", ExtractJob.bucketCol(t.buckets))
        .sortWithinPartitions("b", "conv_id", "turn_idx")
        .drop("b")
        .write.mode("overwrite").parquet(t.clustered)
    }
  }

  def run(spark: SparkSession, a: Args, exchange: Boolean, report: Report): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val spec = new TurnTable.Spec(a.seed, Turns)
    val t = new Tables(spark, a)

    var t0 = System.nanoTime()
    materialise(spark, a, t, spec, if (a.trace) Seq(true, false) else Seq(exchange))
    report.put("setup.gen_s", (System.nanoTime() - t0) / 1e9)

    // warm-up: one checked pass, the kernel alone, then untimed passes into
    // the noop sink
    t0 = System.nanoTime()
    val checked = t.job(exchange).extracted.mapPartitions { it =>
      Iterator(it.foldLeft(TurnTable.NoCheck)((c, r) => c + TurnTable.check(spec, r)))
    }.collect().foldLeft(TurnTable.NoCheck)(_ + _)
    report.wrongOutput(checked.wrong, checked.example)
    if (checked.turns != spec.n) report.wrongOutput(1, s"${checked.turns} of ${spec.n} turns came back")
    val pages = t.input(exchange).select("text").as[String].collect()
    (1 to WarmupKernelPasses).foreach(_ => kernelPass(pages, a.cores))
    (1 to WarmupPasses).foreach(_ => Main.noop(t.job(exchange).extracted.toDF()))
    (1 to Gauge.WarmupRuns).foreach(_ => Gauge.seconds(a.cores))
    report.put("setup.warmup_s", (System.nanoTime() - t0) / 1e9)

    // timed passes: closed loop, one job in flight
    report.firstPassEpochMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Timed]
    val gcs = mutable.ArrayBuffer.empty[Double]
    val jits = mutable.ArrayBuffer.empty[Double]
    val gauges = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    val start = System.nanoTime()
    while (passes.size < MinPasses || System.nanoTime() - start < a.seconds * 1000000000L) {
      gauges += Gauge.seconds(a.cores)
      val (gc0, jit0) = (Stats.gcSeconds(), Stats.jitSeconds())
      val r = t.job(exchange)
      passes += Trace.pass(sc, "timed")(Main.noop(r.extracted.toDF()))
      gcs += Stats.gcSeconds() - gc0
      jits += Stats.jitSeconds() - jit0
      val lineage = r.lineageRows
      attempted += lineage.map(l => l.extracted_turns + l.failed_turns + l.empty_turns).sum
      failed += lineage.map(_.failed_turns).sum
    }
    if (attempted != passes.size.toLong * spec.n)
      report.wrongOutput(1, s"lineage counted $attempted turns over ${passes.size} passes")
    report.attempted = attempted
    report.failed = failed
    // each pass scaled by the gauge read just before it
    val scaled = passes.zip(gauges).map { case (p, g) => Gauge.scale(p.wall, g) }.toSeq
    val passS = Stats.median(scaled)
    report.notes("passes") = passes.size.toString
    report.notes("turns_per_pass") = spec.n.toString
    report.notes("pass_walls") = passes.map(p => f"${p.wall}%.3f").mkString(" ")
    report.notes("gauges") = gauges.map(g => f"$g%.4f").mkString(" ")
    report.put("host.gauge_s", Stats.median(gauges.toSeq))
    report.put("pass_wall_s", Stats.median(passes.map(_.wall).toSeq))
    report.put("pass_s", passS)
    report.put("geomean_ms", Stats.geomean(scaled) * 1e3)
    report.put("turns_per_s", spec.n / passS)
    report.put("turn_fail_frac", failed.toDouble / attempted)
    report.put("ok_frac", 1.0 - failed.toDouble / attempted)
    report.put("jvm.gc_s", Stats.median(gcs.toSeq))
    report.put("jvm.jit_s", Stats.median(jits.toSeq))

    if (a.trace) traced(spark, a, t, exchange, pages, report)
  }

  /** Layer sums of one face from one traced pass. */
  private final case class Face(wall: Double, busy: Double, stageBusy: Double, stageCpu: Double,
      stageWall: Double, tasks: Double, skew: Double, scan: Double, scanMb: Double,
      scanInStage: Double, writeMb: Double, writeS: Double, fetchWait: Double,
      sort: Double, spillMb: Double, gap: Double)

  private def face(wall: Double, jobs: Vector[JobSpan], plan: org.apache.spark.sql.execution.SparkPlan): Face = {
    val stages = jobs.flatMap(_.stages)
    // the extraction stage is the last to finish; the exchange's map side
    // is the stages that wrote shuffle output
    val last = stages.maxBy(_.doneMs)
    val map = stages.filter(s => (s ne last) && s.tasks.exists(_.shuffleWriteBytes > 0))
    val (scan, scanMb) = Plans.scan(plan)
    val (sort, spill) = Plans.sort(plan)
    Face(wall, stages.map(_.busyNs).sum / 1e9, last.busyNs / 1e9, last.cpuNs / 1e9, last.wallS,
      last.tasks.size.toDouble, last.skew, scan, scanMb,
      if (map.isEmpty) scan else 0.0,
      map.flatMap(_.tasks).map(_.shuffleWriteBytes).sum / 1e6,
      if (map.isEmpty) 0.0 else map.map(_.busyNs).sum / 1e9 - scan,
      last.tasks.map(_.fetchWaitNs).sum / 1e9, sort, spill, jobs.map(_.gapS).sum)
  }

  private def medianFace(fs: Seq[Face]): Face = {
    def m(f: Face => Double) = Stats.median(fs.map(f))
    Face(m(_.wall), m(_.busy), m(_.stageBusy), m(_.stageCpu), m(_.stageWall), m(_.tasks), m(_.skew),
      m(_.scan), m(_.scanMb), m(_.scanInStage), m(_.writeMb), m(_.writeS), m(_.fetchWait),
      m(_.sort), m(_.spillMb), m(_.gap))
  }

  /** The traced run: spans from the listener, SQL metrics from the
    * executed plans, kernel phases from the replay, for both faces over the
    * same turns. Every kind of pass runs once per repetition, so drift in
    * the machine's speed hits every kind alike, and a layer that is a
    * difference of two passes is taken within one repetition. */
  private def traced(spark: SparkSession, a: Args, t: Tables, exchange: Boolean,
      pages: Array[String], report: Report): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val trace = new Trace(sc)
    sc.addSparkListener(trace)
    val plans = new Plans(spark)
    val spans = mutable.ArrayBuffer.empty[JobSpan]

    def tracedPass(label: String)(body: => Unit): Face = {
      plans.clear()
      val p = Trace.pass(sc, label)(body)
      val plan = plans.next()
      val jobs = trace.jobsOf(p.group)
      spans ++= jobs
      face(p.wall, jobs, plan)
    }
    def untracedPass(body: => Unit): Double = {
      sc.removeSparkListener(trace)
      spark.listenerManager.unregister(plans)
      try Trace.pass(sc, "untraced")(body).wall
      finally {
        sc.addSparkListener(trace)
        spark.listenerManager.register(plans)
      }
    }
    val typedBody = (ex: Boolean) => Main.noop(t.job(ex).extracted.toDF())
    val operatorBody = (ex: Boolean) => Main.noop(GraftOps.extractTurns(t.shaped(ex)))
    // the operator's input alone: the same rows into the noop sink
    val inputBody = (ex: Boolean) => Main.noop(t.shaped(ex))
    val kinds = Seq("typed" -> typedBody, "operator" -> operatorBody, "input" -> inputBody)
    // kernel phases: a replay over the same partitions and rows the job
    // extracts
    val output = GraftOps.extractTurns(t.shaped(exchange)).schema
    def replay(check: Boolean): PhaseSums = t.shaped(exchange)
      .select("conv_id", "turn_idx", "text").queryExecution.toRdd
      .mapPartitions(it => Iterator(Replay.task(it, output, check))).collect().reduce(_ + _)
    val checkedReplay = replay(check = true)
    report.wrongOutput(checkedReplay.mismatched,
      s"${checkedReplay.mismatched} replayed summaries differ from Extractor.extract")

    final case class Rep(faces: Map[(String, Boolean), Face], kernel: PhaseSums,
        untraced: Double, kernelTps: Double)
    val reps = (1 to TracedReps).map { _ =>
      // the untraced pass runs just before its traced twin, the first pass
      // of the repetition
      val untraced = untracedPass(typedBody(exchange))
      val faces = for (ex <- Seq(exchange, !exchange); (kind, body) <- kinds) yield
        (kind, ex) -> tracedPass(s"$kind-${if (ex) "exchange" else "prebucketed"}")(body(ex))
      Rep(faces.toMap, replay(check = false), untraced, kernelPass(pages, a.cores))
    }
    def med(f: Rep => Double): Double = Stats.median(reps.map(f))
    /** Task time spent handing rows to the operator beyond scan, fetch
      * and sort: shuffle-read deserialisation or columnar-to-row. */
    def rows(in: Face) = in.stageBusy - in.scanInStage - in.fetchWait - in.sort
    /** The typed stage's task time beyond the same rows through the
      * untyped operator: the typed encoder and its lambda. */
    def encode(r: Rep, ex: Boolean) = r.faces(("typed", ex)).stageBusy - r.faces(("operator", ex)).stageBusy

    val own = medianFace(reps.map(_.faces(("typed", exchange))))
    val ownIn = medianFace(reps.map(_.faces(("input", exchange))))
    report.put("scan.s", own.scan)
    report.put("scan.mb", own.scanMb)
    report.put("exchange.write_mb", own.writeMb)
    report.put("exchange.write_s", own.writeS)
    report.put("exchange.fetch_wait_s", own.fetchWait)
    report.put("extract_stage.tasks", own.tasks)
    report.put("extract_stage.task_skew", own.skew)
    report.put("extract_stage.busy_s", own.stageBusy)
    report.put("extract_stage.wall_s", own.stageWall)
    report.put("sort.s", own.sort)
    report.put("sort.spill_mb", own.spillMb)
    report.put("input.rows_s", rows(ownIn))
    report.put("encode.s", med(encode(_, exchange)))
    report.put("driver.gap_s", own.gap)
    val sums = reps.map(_.kernel).sortBy(_.ns.sum).apply(reps.size / 2)
    Replay.Phases.zip(sums.ns).foreach { case (name, ns) => report.put(name, ns / 1e9) }
    report.put("dom.nodes", sums.nodes.toDouble)
    report.put("extract.retry_frac", sums.retried.toDouble / sums.turns)
    report.put("extract.useful_frac", sums.useful.toDouble / sums.turns)
    report.put("kernel.turns_per_s", med(_.kernelTps))
    // the extraction stage rebuilt from its layers, in task CPU time, which
    // leaves out the time a task waited for a processor: the input rows
    // alone (scan or fetch, sort, row building), the typed encoder, and the
    // replayed operator from decode to serialise; pooled over the
    // repetitions
    def cpu(kind: String, r: Rep) = r.faces((kind, exchange)).stageCpu
    report.put("layers.sum_frac", reps.map { r =>
      cpu("input", r) + cpu("typed", r) - cpu("operator", r) + r.kernel.cpuNs / 1e9
    }.sum / reps.map(cpu("typed", _)).sum)
    // tracing overhead: the workload's own pass with the listeners attached
    // and detached, alternated
    val (plainS, tracedS) = (med(_.untraced), own.wall)
    report.put("turns_per_s.traced", Turns / tracedS)
    report.put("trace.overhead_frac", (tracedS - plainS) / plainS)

    // the gap between the faces, in task seconds, by layer
    def gap(f: (Rep, Boolean) => Double): Double = med(r => f(r, true) - f(r, false))
    def typed(r: Rep, ex: Boolean) = r.faces(("typed", ex))
    /** The operator stage's time beyond its input: kernel and row building. */
    def rest(r: Rep, ex: Boolean) = {
      val op = r.faces(("operator", ex))
      op.stageBusy - op.scanInStage - op.fetchWait - op.sort - rows(r.faces(("input", ex)))
    }
    val gaps = Seq(
      "face_gap.exchange_s" -> gap { (r, ex) => typed(r, ex).writeS + typed(r, ex).fetchWait },
      "face_gap.scan_s" -> gap(typed(_, _).scan),
      "face_gap.sort_s" -> gap(typed(_, _).sort),
      "face_gap.input_s" -> gap((r, ex) => rows(r.faces(("input", ex)))),
      "face_gap.encode_s" -> gap(encode),
      "face_gap.kernel_s" -> gap(rest))
    val busyGap = gap(typed(_, _).busy)
    report.put("face_gap.wall_s", gap(typed(_, _).wall))
    report.put("face_gap.busy_s", busyGap)
    gaps.foreach { case (k, v) => report.put(k, v) }
    report.put("face_gap.other_s", busyGap - gaps.map(_._2).sum)

    Spans.write(s"${a.work}/spans.jsonl", spans.toSeq, Seq("kernel" -> sums))
  }

  /** Turns per second of `Extractor.extract` alone on `threads` threads. */
  def kernelPass(pages: Array[String], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val next = new AtomicInteger(0)
      val t0 = System.nanoTime()
      val fs = (1 to threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndAdd(64)
          while (i < pages.length) {
            val end = math.min(i + 64, pages.length)
            while (i < end) { Extractor.extract(pages(i)); i += 1 }
            i = next.getAndAdd(64)
          }
        }
      }))
      fs.foreach(_.get())
      pages.length / ((System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }
}
