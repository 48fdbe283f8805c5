package graft

import graft.spark.{Dedup, Hash61, Quality, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** N→4N scaling evidence for the CURATION family (the extraction job's
  * evidence lives in [[ScalingBench]] — same matched-pair, steal-filtered
  * protocol, see BENCH.md "Measurement protocol").
  *
  * Input: the documents table volume-multiplied `mult`× with a per-replica
  * suffix word (so the dedup face measures signature+join cost, not a
  * quadratic planted-duplicate pair explosion). Two faces:
  *
  *  - row-local face: quality signals + 8-gram shingling per document —
  *    the map-only shape most curation operators share;
  *  - shuffle face: MinHash signatures + banded equi-join (the dedup
  *    family's one exchange).
  */
object CurationScaling {

  private def cpuStat(): (Long, Long) = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    val v = line.split("\\s+").drop(1).map(_.toLong)
    (v(7), v.take(8).sum)
  }

  private def multiplied(spark: SparkSession, sfDir: String, mult: Int) = {
    import spark.implicits._
    // spread the SOURCE rows first (the parquet is one small file = one
    // scan task): the 100× explode and everything after it must run at
    // full parallelism, not inside a single scan task — same input
    // artifact TranscriptGen.turns documents
    TableIO(spark, sfDir).read("documents")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .withColumn("r", explode(sequence(lit(0), lit(mult - 1))))
      .select((col("doc_id") * mult + col("r")).as("doc_id"),
        concat(col("text"), lit(" replica"), col("r")).as("text"))
      .as[(Long, String)]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "100").toInt

    // stage the multiplied corpus ONCE (input generation is not the
    // operator under measurement); RAM-backed when available — disk is
    // the noisiest shared resource in this sandbox (Scratch rationale)
    val staged = graft.spark.Scratch.dir("curscale").toString
    locally {
      val s = Bench.session((4 * n).toString)
      multiplied(s, sfDir, mult).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$staged/documents.parquet")
      s.stop()
    }

    def rowLocalFace(spark: SparkSession): Long = {
      import spark.implicits._
      TableIO(spark, staged).read("documents")
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val sig = Quality.computeSignals(id, text)
          val ws = text.split(" ").filter(_.nonEmpty)
          val whs = ws.map(w => Hash61.wordHash(w))
          var acc = 0L
          var i = 0
          while (i + 8 <= whs.length) { acc ^= Hash61.shingleN(whs, i, 8); i += 1 }
          (sig.keep, acc)
        }.filter(_._1 == 1L).count()
    }

    def shuffleFace(spark: SparkSession): Long =
      Dedup.minhashLsh(spark, staged).count()

    // JIT warmup at the larger config
    locally {
      val s = Bench.session((4 * n).toString)
      rowLocalFace(s); shuffleFace(s); s.stop()
    }

    case class Run(rows: Long, sec: Double, steal: Double)
    def once(cores: Int, face: SparkSession => Long): Run = {
      val (s0, t0) = cpuStat()
      val spark = Bench.session(cores.toString)
      val w0 = System.nanoTime()
      val rows = face(spark)
      val sec = (System.nanoTime() - w0) / 1e9
      spark.stop()
      val (s1, t1) = cpuStat()
      Run(rows, sec, (s1 - s0).toDouble / math.max(t1 - t0, 1L))
    }
    case class Pair(rN: Run, r4: Run) {
      def clean: Boolean = rN.steal < 0.03 && r4.steal < 0.03
      def eff: Double = (rN.sec / r4.sec) / 4.0
    }
    // matched pairs, median of clean (ScalingBench protocol)
    def measure(face: SparkSession => Long, label: String): (Pair, Double, Double) = {
      val pairs = scala.collection.mutable.ArrayBuffer.empty[Pair]
      while (pairs.length < 4 && pairs.count(_.clean) < 3) {
        pairs += Pair(once(n, face), once(4 * n, face))
      }
      val usable = { val c = pairs.filter(_.clean); if (c.nonEmpty) c else pairs }
      val byEff = usable.sortBy(_.eff)
      val med = byEff(byEff.length / 2)
      System.err.println(s"[curation-scaling] $label pairs: " + pairs.map(p =>
        f"(${p.rN.sec}%.2f,${p.r4.sec}%.2f)->${p.eff}%.3f${if (p.clean) "" else "*steal"}").mkString(" "))
      (med, med.eff, byEff.last.eff)
    }

    val (rlPair, rlEff, rlBest) = measure(rowLocalFace, "row-local")
    val (shPair, shEff, shBest) = measure(shuffleFace, "shuffle")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged))
    require(rlPair.rN.rows == rlPair.r4.rows && shPair.rN.rows == shPair.r4.rows,
      "row counts differ across parallelism")
    println(
      s"""{"metric":"curation scaling N->4N","unit":"ratio","n_cores":$n,"mult":$mult,""" +
        s""""rowlocal_eff":${f"$rlEff%.3f"},"rowlocal_best":${f"$rlBest%.3f"},""" +
        s""""rowlocal_sec_n":${f"${rlPair.rN.sec}%.3f"},"rowlocal_sec_4n":${f"${rlPair.r4.sec}%.3f"},""" +
        s""""rowlocal_rows":${rlPair.rN.rows},""" +
        s""""shuffle_eff":${f"$shEff%.3f"},"shuffle_best":${f"$shBest%.3f"},""" +
        s""""shuffle_sec_n":${f"${shPair.rN.sec}%.3f"},"shuffle_sec_4n":${f"${shPair.r4.sec}%.3f"},""" +
        s""""shuffle_pairs":${shPair.rN.rows},"sf":"$sfDir"}""")
  }
}
