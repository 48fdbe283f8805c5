package graft

import graft.spark.{ExtractJob, ExtractReadable, ExtractedTurn, GraftOps, StreamingExtract, TranscriptGen, Turn}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Every extraction face returns the same rows in every column
  * (confidence bits, html, text, spans, failed): the two `ExtractJob`
  * plans, `GraftOps.extractTurns`, the `extract_readable` expression and
  * the streaming face, over every [[TranscriptGen]] page kind, plain text,
  * every `.html` test resource and a page deep enough to fail. */
class FaceEqualitySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def resourcePages: Seq[String] = {
    val root = new File(getClass.getResource("/regression").toURI).getParentFile
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".html")) Seq(f)
      else Seq.empty
    walk(root).map(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
  }

  private def pages: Seq[String] = {
    val words = (0 until 40).map(i => s"word$i sentence, text.").mkString(" ")
    resourcePages ++
      (0L until 20L).map(i => TranscriptGen.htmlWrap(i, words.take(40 + 30 * i.toInt))) ++
      (0L until 20L).map(TranscriptGen.retryHtml) ++
      (0L until 20L).map(TranscriptGen.siblingHtml) ++
      (0L until 20L).map(TranscriptGen.sanitizeHtml) ++
      Seq("", "plain text turn, no markup at all", words) :+
      ("<html><body>" + "<div>" * 50000 + "<p>deep page</p>" + "</div>" * 50000 + "</body></html>")
  }

  /** A row with every column in a comparable form. */
  private type Key = (String, Int, Long, String, String, Seq[(Int, Int)], Boolean)
  private def key(r: ExtractedTurn): Key =
    (r.conv_id, r.turn_idx, java.lang.Double.doubleToRawLongBits(r.confidence),
      r.extracted_html, r.extracted_text, r.spans.toSeq.map(s => (s.start, s.end)), r.failed)
  private def rows(ds: Dataset[ExtractedTurn]): Seq[Key] =
    ds.collect().map(key).sortBy(k => (k._1, k._2)).toSeq

  test("every extraction face returns equal rows in every column") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val turns = pages.zipWithIndex.map { case (html, i) =>
      Turn(TranscriptGen.convOf(i.toLong), i, "assistant", html, "",
        new java.sql.Timestamp(TranscriptGen.FixedEpochMs + i))
    }
    val tmp = Files.createTempDirectory("faces").toString
    turns.toDS().write.parquet(s"$tmp/turns")
    val input = spark.read.parquet(s"$tmp/turns").as[Turn]

    val exchange = rows(ExtractJob.run(spark, input, numBuckets = 8).extracted)
    val preBucketed = rows(ExtractJob.runPreBucketed(spark, input, numBuckets = 8).extracted)
    val operator = rows(GraftOps.extractTurns(input.toDF()).as[ExtractedTurn])
    ExtractReadable.register(spark)
    val expression = rows(input.selectExpr("conv_id", "turn_idx", "extract_readable(text) AS r")
      .selectExpr("conv_id", "turn_idx", "r.confidence AS confidence",
        "r.html AS extracted_html", "r.text AS extracted_text", "r.spans AS spans",
        "r.failed AS failed").as[ExtractedTurn])
    val stream = MemoryStream[Turn]
    val q = StreamingExtract.extractStream(stream.toDS())
      .writeStream.format("memory").queryName("faces_stream").outputMode("append").start()
    stream.addData(turns)
    q.processAllAvailable()
    q.stop()
    val streamed = rows(spark.table("faces_stream").as[ExtractedTurn])

    assert(exchange.size == turns.size)
    // the columns the comparison must cover all vary
    assert(exchange.exists(_._7), "the deep page must fail")
    assert(exchange.exists(_._4 == null) && exchange.exists(_._4 != null))
    assert(exchange.exists(_._6.nonEmpty))
    Seq("runPreBucketed" -> preBucketed, "extractTurns" -> operator,
        "extract_readable" -> expression, "extractStream" -> streamed).foreach {
      case (face, got) =>
        val diff = exchange.zip(got).find { case (a, b) => a != b }
        assert(got == exchange, s"$face differs from run: $diff")
    }
  }

  test("a null page fails on the operator faces, as in extractTurn") {
    val s = spark
    import s.implicits._
    val turn = Turn("conv-null", 0, "assistant", null, "",
      new java.sql.Timestamp(TranscriptGen.FixedEpochMs))
    val want = key(ExtractJob.extractTurn(turn, graft.extract.ExtractOptions()))
    assert(want._7)
    val input = Seq(turn).toDS()
    assert(rows(ExtractJob.run(spark, input, numBuckets = 2).extracted) == Seq(want))
    assert(rows(GraftOps.extractTurns(input.toDF()).as[ExtractedTurn]) == Seq(want))
  }
}
