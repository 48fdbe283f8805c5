package graft

/** Optimization-round instrumentation (guide §1): NOT part of the frozen
  * driver contract (Bench.scala is untouched). Two modes:
  *
  *   runMain graft.BenchExtra time q1,q2,...   — min-of-N wall per query,
  *     timed with the noop sink (guide §1.4) so the computation, not the
  *     count-pruned plan, is measured; also prints the count()-action
  *     time (the driver Bench's methodology) for comparability.
  *
  *   runMain graft.BenchExtra plan outDir q1,q2,... — writes each query's
  *     .explain("formatted") to outDir/<query>.txt (the plans/r06
  *     before/after evidence).
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_RUNS.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_EXTRA_RUNS", "3").toInt
    val spark = Bench.session(cpus)
    val mode = args.headOption.getOrElse("time")

    def queriesOf(csv: String): Seq[String] =
      if (csv == "all") SparkEntry.queries.keys.toSeq.sorted
      else csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    mode match {
      case "extract" =>
        // headline-metric isolation: Bench's extractionThroughput at the
        // driver's TPD, each sample printed (variance visibility), both
        // exchange and pre-bucketed faces
        val tpd = sys.env.getOrElse("SPARK_GRAFT_TPD", "200").toInt
        Bench.extractionThroughput(spark, sfDir, turnsPerDoc = 1, buckets = cpus.toInt)
        (1 to runs).foreach { i =>
          spark.sparkContext.setJobDescription(s"benchextra: extract#$i")
          val (n, sec) = Bench.extractionThroughput(spark, sfDir, tpd, cpus.toInt * 4)
          println(f"extract#$i: $n turns ${sec}%.3f s ${n / sec}%.1f turns/s")
        }
        (1 to runs).foreach { i =>
          spark.sparkContext.setJobDescription(s"benchextra: prebucketed#$i")
          val (n, sec) = Bench.extractionThroughput(spark, sfDir, tpd, cpus.toInt * 4,
            preBucketed = true)
          println(f"prebucketed#$i: $n turns ${sec}%.3f s ${n / sec}%.1f turns/s")
        }
      case "jobs" =>
        // per-job wall breakdown of ONE warm execution of each query:
        // which of a multi-job query's actions the time actually goes to
        Bench.extractionThroughput(spark, sfDir, turnsPerDoc = 1, buckets = cpus.toInt)
        val lst = new org.apache.spark.scheduler.SparkListener {
          val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            t0.put(j.jobId, System.nanoTime())
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dt = (System.nanoTime() - t0.getOrDefault(j.jobId, System.nanoTime())) / 1e9
            println(f"    job ${j.jobId}%4d ${dt}%7.3f s")
          }
          override def onStageCompleted(
              st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = st.stageInfo
            val dt = (for {a <- i.completionTime; b <- i.submissionTime}
              yield (a - b) / 1e3).getOrElse(-1.0)
            println(f"      stage ${i.stageId}%4d ${dt}%7.3f s  tasks=${i.numTasks}%3d  ${i.name.take(70)}")
          }
        }
        queriesOf(args.lift(1).getOrElse("all")).foreach { name =>
          val fn = SparkEntry.queries(name)
          fn(spark, sfDir).count() // warm
          println(s"== $name")
          spark.sparkContext.addSparkListener(lst)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let the listener bus drain
          spark.sparkContext.removeSparkListener(lst)
          println(f"== $name total ${wall}%.3f s")
        }
      case "streamfloor" =>
        // harness-floor measurement for the streaming replay faces: how
        // much wall does an N-micro-batch memory-sink stream cost when
        // the per-batch work is trivial? Separates engine fixed cost
        // (per-batch incremental planning, WAL, state commit) from the
        // operators' own time in the streaming_* queries.
        import org.apache.spark.sql.functions.{col, pmod}
        val n = args.lift(1).map { a =>
          a.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(
              s"streamfloor: micro-batch count must be a positive integer, got '$a'"))
        }.getOrElse(5)
        (1 to runs).foreach { i =>
          val classed = spark.range(1000)
            .withColumn("cls", pmod(col("id"), org.apache.spark.sql.functions
              .lit(n.toLong)).cast("int"))
          val t0 = System.nanoTime()
          // stateless identity
          val statelessN = graft.spark.StreamingExtract
            .runReplay(spark, "floor_stateless_", classed, n)(src => src).count()
          val t1 = System.nanoTime()
          // minimal stateful: one aggregate (complete-mode planning cost
          // differs; use the same append-mode shape as the faces via
          // dropDuplicates on a watermarked column is overkill — a plain
          // groupBy in update mode cannot use the shared runReplay, so
          // measure dropDuplicates which is append-safe state)
          val classed2 = spark.range(1000)
            .selectExpr("id", "timestamp_micros(1000000000 + id) AS ts")
            .withColumn("cls", pmod(col("id"), org.apache.spark.sql.functions
              .lit(n.toLong)).cast("int"))
          val t2 = System.nanoTime()
          val statefulN = graft.spark.StreamingExtract
            .runReplay(spark, "floor_stateful_", classed2, n)(src =>
              src.withWatermark("ts", "1 hour").dropDuplicates("id")).count()
          val t3 = System.nanoTime()
          println(f"floor#$i n=$n stateless=${(t1 - t0) / 1e9}%.3f s (rows=$statelessN) " +
            f"stateful=${(t3 - t2) / 1e9}%.3f s (rows=$statefulN)")
        }
      case "plan" =>
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        queriesOf(args(2)).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val w = new java.io.PrintWriter(s"$outDir/$name.txt")
          try w.println(plan) finally w.close()
          println(s"wrote $outDir/$name.txt")
        }
      case _ =>
        // warmup: JIT + codegen + parquet footer caches
        spark.sparkContext.setJobDescription("benchextra: warmup")
        Bench.extractionThroughput(spark, sfDir, turnsPerDoc = 1, buckets = cpus.toInt)
        val names = queriesOf(args.lift(1).getOrElse("all"))
        val results = names.map { name =>
          val fn = SparkEntry.queries(name)
          val noop = (1 to runs).map { i =>
            spark.sparkContext.setJobDescription(s"benchextra: $name noop#$i")
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            } catch { case _: Throwable => () }
            (System.nanoTime() - t0) / 1e9
          }.min
          val cnt = (1 to runs).map { i =>
            spark.sparkContext.setJobDescription(s"benchextra: $name count#$i")
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
            (System.nanoTime() - t0) / 1e9
          }.min
          println(f"$name%-32s noop=$noop%7.3f  count=$cnt%7.3f")
          (name, noop, cnt)
        }
        val qs = results.map { case (k, n, c) =>
          "\"" + k + "\":{\"noop\":" + f"$n%.3f" + ",\"count\":" + f"$c%.3f" + "}"
        }.mkString("{", ",", "}")
        println(s"""{"benchextra":$qs,"sf":"$sfDir","cpus":$cpus}""")
    }
    spark.stop()
  }
}
