package graft

import graft.spark.Quality
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.PlanTestUtil.finalPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-quality operators: the signals must actually discriminate on
  * the synthetic corpus (a constant keep flag would be a vacuous oracle),
  * the PII scrub must hit every payload class, and the per-domain sample
  * must be deterministic and plan-shaped for scale. */
class QualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("quality signals: keep flag splits the corpus, ratios in range") {
    val rows = Quality.signals(spark, sfDir)
      .select("keep", "distinct_ratio", "mean_word_len")
      .collect()
    val kept = rows.count(_.getLong(0) == 1L)
    assert(kept > 0 && kept < rows.length,
      s"keep flag must discriminate: $kept of ${rows.length}")
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("signal kernel matches a naive reference on adversarial whitespace") {
    val rnd = new java.util.Random(11) // deterministic sweep
    val vocab = Seq("the", "a", "word", "batch", "scan", "xy", "zq", "lengthyword")
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(12)
      val text = (0 until n).map { _ =>
        vocab(rnd.nextInt(vocab.length)) +
          (if (rnd.nextInt(4) == 0) "  " else " ") // double spaces included
      }.mkString + (if (rnd.nextBoolean()) " " else "")
      val got = Quality.computeSignals(7L, text)
      // naive reference: plain collections, same word model
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      val ne = math.max(ws.length, 1)
      def mm(g: Seq[String]) = if (g.isEmpty) 0 else g.groupBy(identity).values.map(_.size).max
      assert(got.n_words == ws.length)
      assert(got.n_distinct == ws.distinct.length)
      assert(got.top_word_frac == mm(ws).toDouble / ne)
      assert(got.dup_bigram_frac ==
        (if (ws.length > 1) mm(ws.sliding(2).map(_.mkString(" ")).toSeq).toDouble / (ws.length - 1) else 0.0))
      assert(got.dup_trigram_frac ==
        (if (ws.length > 2) mm(ws.sliding(3).map(_.mkString(" ")).toSeq).toDouble / (ws.length - 2) else 0.0))
      assert(got.mean_word_len == ws.map(_.length).sum.toDouble / ne)
      assert(got.stopword_count == ws.count(Quality.StopEn.contains))
    }
  }

  test("pii scrub: every class hit, redaction complete") {
    val rows = Quality.piiScrub(spark, sfDir).collect()
    rows.foreach { r =>
      val (id, emails, phones, ips, scrubbed) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      (id % 4) match {
        case 0 => assert(emails == 2 && phones == 0 && ips == 0, r.toString)
        case 1 => assert(emails == 0 && phones == 1 && ips == 0, r.toString)
        case 2 => assert(emails == 0 && phones == 0 && ips == 1, r.toString)
        case _ => assert(emails == 0 && phones == 0 && ips == 0, r.toString)
      }
      assert(!scrubbed.matches(s".*${Quality.EmailRe}.*"), scrubbed)
      assert(!scrubbed.matches(s".*${Quality.PhoneRe}.*"), scrubbed)
      assert(!scrubbed.matches(s".*${Quality.Ipv4Re}.*"), scrubbed)
    }
  }

  test("per-domain sample: quota respected, deterministic across runs") {
    val a = Quality.samplePerDomain(spark, sfDir, quota = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = Quality.samplePerDomain(spark, sfDir, quota = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b, "sample must be stable across runs")
    val perSource = a.groupBy(_._2).view.mapValues(_.size)
    assert(perSource.values.forall(_ <= 5))
    assert(perSource.nonEmpty)
  }

  test("decontamination: every planted span caught, flag consistent, both classes present") {
    val s = spark
    import s.implicits._
    val df = Quality.decontaminate(spark, sfDir)
    val rows = df.as[(Long, Long, Long)].collect()
    rows.foreach { case (id, shared, flag) =>
      assert(flag == (if (shared >= 3) 1L else 0L))
      if (id >= 50 && id % 7 == 3)
        assert(flag == 1L, s"planted contamination in doc $id not caught ($shared)")
      // note: docs the generator gave NATURALLY shared spans also flag —
      // correct behavior (at sf0.001 doc 50 shares a 15-gram run with
      // eval doc 0); the exact per-doc counts are what the DuckDB oracle
      // hash-checks
    }
    assert(rows.count(_._3 == 1L) > 0 && rows.count(_._3 == 0L) > 0)
    // the pass is row-local: broadcast eval set, no join, no keyed
    // shuffle (the guarded round-robin scan spread is not one)
    assert(graft.PlanTestUtil.keyedExchanges(finalPlan(df)) == 0)
  }

  test("exact decontamination refuses an eval set past its shingle cap, naming the Bloom face") {
    val s = spark
    import s.implicits._
    // 50 eval docs of distinct words: every 8-gram is distinct, so the eval
    // set holds 50 × (perDoc − 7) shingles, just past the cap
    val perDoc = Quality.ExactEvalShingleCap / 50 + 64
    val dir = java.nio.file.Files.createTempDirectory("decon-cap").toString
    (0 until 50).map(d => (d.toLong, (0 until perDoc).map(i => s"w${d}x$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException](Quality.decontaminate(spark, dir))
    assert(e.getMessage.contains(s"more than ${Quality.ExactEvalShingleCap}") &&
      e.getMessage.contains("decontaminate_bloom"), e.getMessage)
  }

  test("bloom decontamination: superset of exact flags, planted spans caught, row-local corpus pass") {
    val s = spark
    import s.implicits._
    val exact = Quality.decontaminate(spark, sfDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val bloomDf = Quality.decontaminateBloom(spark, sfDir)
    val bloom = bloomDf.as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bloom.keySet == exact.keySet)
    bloom.foreach { case (id, (flagged, flag)) =>
      assert(flag == (if (flagged >= 3) 1L else 0L))
      // Bloom never loses a true hit: per-doc flagged count >= exact count
      assert(flagged >= exact(id)._1, s"doc $id bloom $flagged < exact ${exact(id)._1}")
      if (exact(id)._2 == 1L) assert(flag == 1L, s"doc $id lost its contamination flag")
    }
    // at this sizing (2^20 bits, 4 hashes, tiny eval set) false positives
    // should be absent on this corpus: decisions identical to exact
    assert(bloom.view.mapValues(_._2).toMap == exact.view.mapValues(_._2).toMap,
      "unexpected Bloom false positive flipped a flag at default sizing")
    // scale shape: corpus pass row-local (fixed 128 KB broadcast, no
    // join, no keyed shuffle)
    assert(graft.PlanTestUtil.keyedExchanges(finalPlan(bloomDf)) == 0)
  }

  test("vocab top-k: map-side partial count, top-k without global sort") {
    val plan = finalPlan(SparkEntry.queries("vocab_topk")(spark, sfDir))
    assert(plan.contains("partial_count"),
      "word counts must combine map-side before the exchange\n" + plan)
    assert(plan.contains("TakeOrderedAndProject"),
      "LIMIT 50 must be top-k, not a global sort\n" + plan)
  }

  test("curate pipeline: extraction+signals fused row-local, only the quota windows shuffle") {
    val plan = finalPlan(SparkEntry.queries("curate_pipeline")(spark, sfDir))
    assert(graft.PlanTestUtil.keyedExchanges(plan) == 2,
      "extract → quality → quota must shuffle by key only for the two-phase quota\n" + plan)
  }

  test("repetition kernel matches a naive reference across line counts") {
    val rnd = new java.util.Random(13)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    (0 until 300).foreach { i =>
      val id = rnd.nextInt(1000).toLong // all four plant classes swept
      val nWords = 1 + rnd.nextInt(40) // 1..40 words = 1..5 lines
      val text = (0 until nWords)
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val got = Quality.computeRepetition(id, text)
      // naive reference: same line model + plant, plain collections
      val base = text.split(" ").filter(_.nonEmpty)
        .grouped(Quality.LineWords).map(_.mkString(" ")).toSeq
      val lines = (id % 4) match {
        case 0 => base ++ Seq(base.head, base.head, base.head)
        case 1 => base :+ base.last
        case _ => base
      }
      val groups = lines.groupBy(identity).values.toSeq
      val dupLines = groups.map(g => g.size - 1).filter(_ > 0).sum.toLong
      val dupChars = groups.filter(_.size > 1)
        .map(g => (g.size - 1).toLong * g.head.length).sum
      val total = lines.map(_.length.toLong).sum
      assert(got.n_lines == lines.size && got.dup_lines == dupLines &&
        got.dup_chars == dupChars, s"iter $i id $id text '$text'")
      assert(got.dup_line_frac == dupLines.toDouble / lines.size)
      assert(got.dup_char_frac == dupChars.toDouble / total)
    }
  }

  test("repetition filter discriminates by plant class and is row-local") {
    val df = Quality.repetitionSignals(spark, sfDir)
    assert(graft.PlanTestUtil.keyedExchanges(finalPlan(df)) == 0,
      "duplicate-line signals are row-local")
    val byClass = df.select("doc_id", "keep").collect()
      .groupBy(r => r.getLong(0) % 4)
      .map { case (c, rs) => c -> rs.count(_.getLong(1) == 1L).toDouble / rs.length }
    // heavy plant mostly rejected, clean classes untouched, mild between
    assert(byClass(0L) < 0.2, s"heavy-dup class mostly kept: ${byClass(0L)}")
    assert(byClass(2L) == 1.0 && byClass(3L) == 1.0,
      s"clean classes must all pass: $byClass")
    assert(byClass(1L) > byClass(0L) && byClass(1L) < 1.0,
      s"mild class should sit between: $byClass")
  }

  test("plans: row-local ops never shuffle; the sample's two quota windows do") {
    assert(graft.PlanTestUtil.keyedExchanges(
      finalPlan(Quality.signals(spark, sfDir))) == 0,
      "quality signals are row-local")
    val pii = finalPlan(Quality.piiScrub(spark, sfDir))
    assert(graft.PlanTestUtil.keyedExchanges(pii) == 0, "pii scrub is row-local")
    val sample = finalPlan(Quality.samplePerDomain(spark, sfDir))
    assert("Exchange ".r.findAllIn(sample).size == 2,
      "per-domain sample = salted partial window + bounded final window\n" + sample)
    assert(sample.contains("hashpartitioning(source"), sample)
    assert(sample.contains("pmod"), "skew salt missing from phase-1 key\n" + sample)
  }

  test("mixture sampling: smallest source whole, temperature flattening, deterministic, no corpus shuffle") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val srcCounts = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val nMin = srcCounts.values.min
    val kept = Quality.sampleMixture(spark, sfDir)
    val keptCounts = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // the smallest source is kept in full (rate 1.0)
    val smallest = srcCounts.minBy { case (src, n) => (n, src) }._1
    assert(keptCounts(smallest) == srcCounts(smallest),
      s"smallest source $smallest must keep all rows")
    // flattening: every source's kept count tracks the α=0.5 expectation
    // n_s·sqrt(n_min/n_s) = sqrt(n_min·n_s) within sampling noise
    srcCounts.foreach { case (src, n) =>
      val expect = math.sqrt(nMin.toDouble * n)
      val got = keptCounts.getOrElse(src, 0L).toDouble
      val tol = 4 * math.sqrt(expect) + 3 // ~4σ binomial + small-n slack
      assert(math.abs(got - expect) <= tol,
        s"$src kept $got, expected ~$expect (n=$n, n_min=$nMin)")
    }
    // deterministic: two independent runs produce identical row sets
    val a = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Quality.sampleMixture(spark, sfDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b, "mixture sample must be bit-stable across runs")
    // plan: the only exchange aggregates the tiny per-source counts; the
    // corpus itself is filtered behind a broadcast join, never shuffled
    val plan = finalPlan(Quality.sampleMixture(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), "rates must broadcast\n" + plan)
    assert(!plan.contains("SortMergeJoin"), "corpus must not shuffle for the join\n" + plan)
  }

  test("mixturePlan matches a naive reference and budgets coherently") {
    val s = spark
    import s.implicits._
    val budget = 1000000L
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").as[(String, String)].collect()
      .groupBy(_._1).map { case (src, ds) =>
        (src, ds.map(_._2.split(" ").count(_.nonEmpty).toLong).sum)
      }.toSeq.sortBy(_._1)
    // the operator's exact double sequence: sqrt weights, cumulative sum
    // in source order, floors at the same points
    val ws = toks.map { case (_, n) => math.sqrt(n.toDouble) }
    val total = ws.scanLeft(0.0)(_ + _).drop(1).max
    val want = toks.zip(ws).map { case ((src, n), w) =>
      (src, n, math.floor(w / total * 1e6).toLong,
        math.floor(w / total * budget.toDouble).toLong,
        math.floor(w / total * budget.toDouble / n.toDouble * 1000.0).toLong)
    }.toSet
    val got = Quality.mixturePlan(spark, sfDir, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want)
    // weights are a probability in ppm (floor loses < 1 ppm per source)
    val wsum = got.toSeq.map(_._3).sum
    assert(wsum <= 1000000L && wsum >= 1000000L - got.size, s"weight sum $wsum")
    // √-temperature flattens: epochs must be anti-monotone in corpus size
    val bySize = got.toSeq.sortBy(_._2)
    bySize.zip(bySize.drop(1)).foreach { case (small, large) =>
      assert(small._5 >= large._5,
        s"larger source ${large._1} got more epochs than ${small._1}")
    }
  }
}
