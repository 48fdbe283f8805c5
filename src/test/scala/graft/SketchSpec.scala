package graft

import graft.spark.Sketches
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** HLL cardinality sketch: the estimate must track the exact per-source
  * distinct count within the sketch's error envelope, deterministically,
  * and the plan must collapse map-side (the property that makes it the
  * 100 TB cardinality tool). */
class SketchSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("estimate within the HLL error envelope of exact, per source, both SFs") {
    val s = spark
    import s.implicits._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = Sketches.hllDistinctPerSource(spark, dir)
        .select("source", "distinct_fingerprints", "hll_estimate")
        .as[(String, Long, Double)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (src, exact, est) =>
        // m=512 ⇒ σ ≈ 1.04/√512 ≈ 4.6%; small sources run the
        // linear-counting branch which is tighter. 20% bound = >4σ —
        // deterministic data, so this either holds or the sketch is wrong
        val rel = math.abs(est - exact) / math.max(exact.toDouble, 1.0)
        assert(rel <= 0.20, f"$src: est $est%.1f vs exact $exact (rel $rel%.3f)")
      }
    }
  }

  test("deterministic across runs and parallelism") {
    val s = spark
    import s.implicits._
    def run() = Sketches.hllDistinctPerSource(spark, sfDir)
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("plan: register state partial-aggregates map-side before the exchange") {
    val plan = PlanTestUtil.finalPlan(Sketches.hllDistinctPerSource(spark, sfDir))
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val partialIdx = plan.indexOf("partial_max")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "max(rho) must combine map-side so the corpus collapses before the shuffle\n" + plan)
  }

  test("CMS heavy hitters: overestimate-safe candidates, exact verdicts") {
    val s = spark
    import s.implicits._
    val heavyDenom = 64
    // naive exact token counts — the ground truth the sketch approximates
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String].collect()
      .iterator.flatMap(_.split(" ").iterator.filter(_.nonEmpty))
      .foldLeft(Map.empty[String, Long]) { (m, w) => m.updated(w, m.getOrElse(w, 0L) + 1L) }
    val total = counts.valuesIterator.sum
    val trueHeavy = counts.filter { case (_, c) => c * heavyDenom >= total }.keySet
    assert(trueHeavy.nonEmpty, "fixture must contain at least one true heavy hitter")

    val rows = Sketches.cmsHeavyHitters(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (w, est, exact, heavy) =>
      // CMS only ever OVERcounts (hash collisions add, never subtract)
      assert(est >= exact, s"'$w': sketch $est under exact $exact")
      assert(exact == counts(w), s"'$w': second-pass count wrong")
      assert((heavy == 1L) == (exact * heavyDenom >= total),
        s"'$w': is_true_heavy verdict disagrees with ground truth")
    }
    // no true heavy hitter may be missed — candidates ⊇ truth is the
    // direction the overestimate guarantees
    val flagged = rows.filter(_._4 == 1L).map(_._1).toSet
    assert(trueHeavy.subsetOf(flagged),
      s"sketch missed true heavy hitters: ${trueHeavy -- flagged}")
  }

  test("CMS rejects a counter matrix its single-partition total window cannot hold") {
    Seq((16, 1 << 20), (16, 8192), (2, Int.MaxValue)).foreach { case (d, w) =>
      val e = intercept[IllegalArgumentException](Sketches.cmsHeavyHitters(spark, sfDir, d, w))
      assert(e.getMessage.contains("65,536 cells"))
    }
    Sketches.cmsHeavyHitters(spark, sfDir, 16, 4096) // exactly at the bound: plans
  }
}
