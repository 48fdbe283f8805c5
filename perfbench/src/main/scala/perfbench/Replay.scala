package perfbench

import graft.dom.{HtmlParser, Serializer}
import graft.extract.{Cleaners, ExtractOptions, Extractor, Summary}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NonFatal

/** Kernel phase times, summed over the turns of one task. `cpuNs` is the
  * phases' total in thread CPU time: their clock time scaled by the task's
  * CPU time over its clock time, which leaves out time the thread waited
  * for a processor. */
final case class PhaseSums(turns: Long, nodes: Long, retried: Long, useful: Long,
    mismatched: Long, ns: Array[Long], cpuNs: Long) {
  def +(o: PhaseSums): PhaseSums = PhaseSums(turns + o.turns, nodes + o.nodes,
    retried + o.retried, useful + o.useful, mismatched + o.mismatched,
    ns.zip(o.ns).map { case (a, b) => a + b }, cpuNs + o.cpuNs)
}

/** Replays what the extraction operator does to one row, from public
  * parts, with a clock read at each phase boundary: decode the page from
  * the input row, `Extractor.extract` in `getArticle`'s order, and build
  * the output row as `ExtractTurnsExec` does. Phase times are summed per
  * task, never recorded per turn. A checking pass compares every replayed
  * `Summary` with `Extractor.extract` on the same page, so the timed
  * passes time the same program. */
object Replay {
  val Phases: Vector[String] = Vector("input.decode_s", "dom.parse_s", "extract.clean_s",
    "extract.preclean_s", "extract.score_s", "extract.select_s", "extract.sanitize_s",
    "dom.reparse_s", "extract.text_spans_s", "output.serialise_s")
  private val Decode = 0; private val Parse = 1; private val Clean = 2; private val Preclean = 3
  private val Score = 4; private val Select = 5; private val Sanitize = 6; private val Reparse = 7
  private val Text = 8; private val Serialise = 9

  private final class Acc {
    val ns = new Array[Long](Phases.size)
    var t = 0L
    var last = -1
    var turns, nodes, retried, useful, mismatched = 0L
    def start(): Unit = t = System.nanoTime()
    def lap(phase: Int): Unit = {
      val now = System.nanoTime(); ns(phase) += now - t; t = now; last = phase
    }
    /** A page that throws is charged to the phase it was in. */
    def lapFailed(): Unit = lap(math.min(last + 1, Text))
  }

  private val Failed = Summary(0.0, null, "", Array.empty, failed = true)

  private def summary(html: String, opts: ExtractOptions, a: Acc): (Summary, Boolean) = {
    var retried = false
    a.last = Decode
    try {
      a.start()
      val doc = HtmlParser.parse(html)
      a.lap(Parse)
      a.nodes += doc.iterSubtree.size
      a.start()
      Cleaners.cleanHtml(doc)
      if (opts.url != null) Extractor.makeLinksAbsolute(doc, opts.url)
      else Extractor.resolveBaseHref(doc)
      a.lap(Clean)
      var ruthless = true
      var out: Summary = null
      while (out == null) {
        doc.findAll("script").foreach(_.dropTree())
        doc.findAll("style").foreach(_.dropTree())
        doc.findAll("body").foreach(_.setAttr("id", "readabilityBody"))
        if (ruthless) Extractor.removeUnlikelyCandidates(doc)
        Extractor.transformDoubleBreaks(doc)
        Extractor.transformMisusedDivs(doc)
        a.lap(Preclean)
        val candidates = Extractor.scoreParagraphs(doc)
        a.lap(Score)
        val best = Extractor.selectBestCandidate(candidates)
        if (best == null) {
          a.lap(Select)
          if (ruthless) { ruthless = false; retried = true }
          else out = Summary(0.0, null, "", Array.empty, failed = false)
        } else {
          val article = Extractor.getRawArticle(candidates, best)
          a.lap(Select)
          val sanitized = Extractor.sanitize(article, candidates, opts)
          a.lap(Sanitize)
          val cleanedDoc = HtmlParser.parseFragment(sanitized)
          val cleanedArticle = Serializer.serialize(cleanedDoc)
          a.lap(Reparse)
          if (ruthless && cleanedArticle.length < opts.retryLength) {
            ruthless = false; retried = true
          } else {
            val (text, spans) = Extractor.extractTextAndSpans(cleanedDoc)
            a.lap(Text)
            out = Summary(best.score, cleanedArticle, text, spans, failed = false)
          }
        }
      }
      (out, retried)
    } catch {
      case _: StackOverflowError => a.lapFailed(); (Failed, retried)
      case NonFatal(_) => a.lapFailed(); (Failed, retried)
    }
  }

  private def same(x: Summary, y: Summary): Boolean =
    x.confidence == y.confidence && x.html == y.html && x.text == y.text &&
      x.failed == y.failed && x.spans.sameElements(y.spans)

  /** Replay every row of one task (`conv_id`, `turn_idx`, `text`) and
    * return its phase sums; `output` is the extraction operator's output
    * schema. With `check`, also count the pages whose replay differs from
    * `Extractor.extract` (the extra calls then skew the phase times). */
  def task(rows: Iterator[InternalRow], output: StructType, check: Boolean): PhaseSums = {
    val opts = ExtractOptions()
    val proj = UnsafeProjection.create(output)
    val a = new Acc
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val (cpu0, wall0) = (threads.getCurrentThreadCpuTime, System.nanoTime())
    rows.foreach { row =>
      a.start()
      val conv = row.getUTF8String(0)
      val turn = row.getInt(1)
      val html = row.getUTF8String(2).toString
      a.lap(Decode)
      val (s, retried) = summary(html, opts, a)
      a.start()
      proj(InternalRow(conv, turn, s.confidence,
        if (s.html == null) null else UTF8String.fromString(s.html),
        UTF8String.fromString(s.text),
        new GenericArrayData(s.spans.map { case (x, y) => InternalRow(x, y) }.asInstanceOf[Array[Any]]),
        s.failed))
      a.lap(Serialise)
      a.turns += 1
      if (retried) a.retried += 1
      if (!s.failed && s.text.nonEmpty) a.useful += 1
      if (check && !same(s, Extractor.extract(html, opts))) a.mismatched += 1
    }
    val (cpu, wall) = (threads.getCurrentThreadCpuTime - cpu0, System.nanoTime() - wall0)
    PhaseSums(a.turns, a.nodes, a.retried, a.useful, a.mismatched, a.ns.clone(),
      if (wall > 0) (a.ns.sum * (cpu.toDouble / wall)).toLong else 0L)
  }
}
