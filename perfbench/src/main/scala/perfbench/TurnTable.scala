package perfbench

import graft.spark.{ExtractedTurn, TranscriptGen, Turn}

import java.sql.Timestamp
import java.util.SplittableRandom

/** The seeded transcript table of the extraction workloads.
  *
  * Turn `i` (0 ≤ i < n) is a pure function of `(seed, n, i)`, and so is the
  * output the extractor must give for it, so the table can be generated
  * inside Spark tasks and every output row checked without a side table.
  * `turn_idx` is `i` itself.
  *
  * The seed sets the words of every article and nothing else. The shape
  * of the table is fixed, so every seed gives the same amount of work in
  * every bucket and file, and the same failure count: per hundred turns
  * exactly 33 plain-text user turns, 55 article pages
  * ([[TranscriptGen.htmlWrap]]), 5 retry pages, 5 sibling-merge pages and
  * 2 sanitize pages; each article's word count; conversation sizes that
  * follow [[TranscriptGen.convOf]] (conversation k holds 2k+1 turns) with
  * every fifth turn moved into one mega-conversation, as in
  * [[TranscriptGen.skewedTurns]]; and [[deepCount]] turns that carry a
  * paragraph nested [[DeepDepths]] `<div>`s deep. The shape stays fixed
  * so that every seed gives the same work: when the seed also placed the
  * turns, moving them between buckets moved the pass time by up to 40%. */
object TurnTable {

  val User = 0; val Wrap = 1; val Retry = 2; val Sibling = 3; val Sanitize = 4; val Deep = 5
  val KindNames: Vector[String] = Vector("user", "wrap", "retry", "sibling", "sanitize", "deep")

  /** Nesting depths of the deep pages: a fixed ladder from 100 to 50,000.
    * With a 1 MB thread stack the extractor handles the shallow end and
    * returns `failed = true` at the deep end (the recursive DOM walks
    * overflow), so the table carries that known defect at a fixed rate. */
  val DeepDepths: Vector[Int] = Vector(100, 300, 1000, 3000, 20000, 35000, 50000)
  /** Every `MegaMod`-th turn (after a fixed permutation) belongs to the
    * mega-conversation. */
  val MegaMod = 5
  def deepCount(n: Int): Int = math.max(DeepDepths.size, n / 10000)

  private val Vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast row the " +
    "agg key query a scan batch").split(" ")

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** An affine bijection on [0, n) chosen by `salt`. */
  private final class Perm(n: Int, salt: Long) extends Serializable {
    private val a: Long = {
      var c = (Math.floorMod(mix(salt), n.toLong) | 1L) % n
      while (c <= 1 || gcd(c, n) != 1) c = (c + 1) % n
      c
    }
    private val b: Long = Math.floorMod(mix(salt + 1), n.toLong)
    def apply(i: Int): Int = ((a * i + b) % n).toInt
  }
  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  /** Kind, conversation and payload of every turn of one table. */
  final class Spec(val seed: Long, val n: Int) extends Serializable {
    private val kindPerm = new Perm(n, 7)
    private val convPerm = new Perm(n, 11)
    private val deepSlots: Map[Int, Int] = {
      val p = new Perm(n, 13)
      (0 until deepCount(n)).map(j => p(j) -> DeepDepths(j % DeepDepths.size)).toMap
    }

    def kind(i: Int): Int =
      if (deepSlots.contains(i)) Deep
      else {
        val q = kindPerm(i) % 100
        if (q < 33) User else if (q < 88) Wrap else if (q < 93) Retry
        else if (q < 98) Sibling else Sanitize
      }

    def conv(i: Int): String = {
      val p = convPerm(i)
      if (p % MegaMod == 0) "conv-mega" else TranscriptGen.convOf(p.toLong)
    }

    /** Article words: 10 to 100 words (the count fixed by `i`) drawn by
      * the seed from a 30-word vocabulary. */
    def words(i: Int): String = {
      val r = new SplittableRandom(mix(seed * 1000003L + i))
      val k = 10 + Math.floorMod(mix(i.toLong), 91L).toInt
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(Vocab(r.nextInt(Vocab.length)))
        j += 1
      }
      sb.toString
    }

    /** Long enough (≥ 300 chars) that the article clears the retry gate
      * at every depth. */
    def deepParagraph(i: Int): String = {
      val sb = new java.lang.StringBuilder(s"deep page paragraph for turn $i")
      var k = 0
      while (sb.length < 300) { sb.append(' ').append(words(i + k * n)); k += 1 }
      sb.toString
    }

    def deepHtml(i: Int, depth: Int): String = {
      val sb = new java.lang.StringBuilder(depth * 11 + 600)
      sb.append("<html><body>")
      var d = 0
      while (d < depth) { sb.append("<div>"); d += 1 }
      sb.append("<p>").append(deepParagraph(i)).append("</p>")
      d = 0
      while (d < depth) { sb.append("</div>"); d += 1 }
      sb.append("</body></html>").toString
    }

    def payload(i: Int): String = kind(i) match {
      case User => words(i)
      case Wrap => TranscriptGen.htmlWrap(i.toLong, words(i))
      case Retry => TranscriptGen.retryHtml(i.toLong)
      case Sibling => TranscriptGen.siblingHtml(i.toLong)
      case Sanitize => TranscriptGen.sanitizeHtml(i.toLong)
      case Deep => deepHtml(i, deepSlots(i))
    }

    def turn(i: Int): Turn = Turn(
      conv_id = conv(i),
      turn_idx = i,
      role = if (kind(i) == User) "user" else "assistant",
      text = payload(i),
      tool = if (i % 5 == 4) "browser" else "",
      ts = new Timestamp(TranscriptGen.FixedEpochMs + i * 1000L))

    /** The output each page builder guarantees: `(text, confidence, spans)`,
      * where `confidence`/`spans` of `-1` are not pinned by the builder. */
    def expected(i: Int): (String, Double, Int) = kind(i) match {
      case User => ("", 0.0, 0)
      case Wrap =>
        // the extract_flagship oracle: the article is kept iff its
        // serialized HTML reaches the 250-char retry gate
        val text = words(i)
        val cs = TranscriptGen.chunks(text)
        val htmlLen = 74 + i.toString.length + 6 * cs.size + text.length
        if (htmlLen >= 250) (s"Heading $i $text", 30.0 + 2 * cs.count(_.length >= 25), -1)
        else ("", 0.0, 0)
      case Retry =>
        (s"retry winner part one for document $i stays retry winner part two for document $i stays",
          27.0, -1)
      case Sibling =>
        (Seq(s"lead paragraph for document $i ${TranscriptGen.SibLead}",
          TranscriptGen.SibContent.mkString(" "), TranscriptGen.SibBlock.mkString(" "),
          TranscriptGen.SibTail).mkString(" "), 40.0, 4)
      case Sanitize => (TranscriptGen.sanitizeExpected(i.toLong), -1.0, -1)
      case Deep => (deepParagraph(i), -1.0, -1)
    }
  }

  /** Outcome counts of one checked pass. */
  final case class Check(turns: Long, wrong: Long, example: String) {
    def +(o: Check): Check =
      Check(turns + o.turns, wrong + o.wrong, if (example.nonEmpty) example else o.example)
  }
  val NoCheck: Check = Check(0, 0, "")

  /** Compare one output row with its builder's guarantee. A failed deep
    * page is the known depth defect, counted by the lineage as failed; any
    * other failed or differing turn is wrong. */
  def check(spec: Spec, r: ExtractedTurn): Check = {
    val i = r.turn_idx
    val k = spec.kind(i)
    if (r.failed) {
      if (k == Deep) Check(1, 0, "")
      else Check(1, 1, s"turn $i (${KindNames(k)}) failed")
    } else {
      val (text, conf, spans) = spec.expected(i)
      val ok = r.extracted_text == text &&
        (conf < 0 || r.confidence == conf) &&
        (spans < 0 || r.spans.length == spans) &&
        r.conv_id == spec.conv(i)
      if (ok) Check(1, 0, "")
      else Check(1, 1, s"turn $i (${KindNames(k)}): got " +
        s"(${r.confidence}, ${r.spans.length} spans, '${r.extracted_text.take(120)}') " +
        s"expected ($conf, $spans spans, '${text.take(120)}')")
    }
  }
}
