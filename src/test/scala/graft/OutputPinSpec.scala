package graft

import graft.extract.{ExtractOptions, Extractor, Summary}
import graft.spark.TranscriptGen
import org.scalatest.funsuite.AnyFunSuite

import java.io.{DataOutputStream, File, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.{DigestOutputStream, MessageDigest}
import scala.util.Random

/** Byte-identical output guard for the parser and extractor. Every input
  * below is extracted and the whole [[Summary]] (confidence bits, html,
  * text, spans, failed) is hashed per input family; each digest must equal
  * the one recorded before the kernel's hot-path rewrite. A change that is
  * meant to keep output identical (a speed-up, a refactor) must leave all
  * of them unchanged; a change that alters output on purpose re-records
  * them and says which family moved and why.
  *
  * Families: every `.html` under the test resources, ranges of ids of each
  * [[TranscriptGen]] page kind plus plain-text turns, seeded tag soup that
  * stresses names (mixed case, non-ASCII), the class/id heuristics and the
  * attribute stripper, and moderately deep nesting. */
class OutputPinSpec extends AnyFunSuite {

  private def digest(summaries: Iterator[Summary]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new DigestOutputStream(OutputStream.nullOutputStream(), md))
    def str(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else {
        val b = s.getBytes(StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
    var n = 0
    summaries.foreach { s =>
      out.writeLong(java.lang.Double.doubleToRawLongBits(s.confidence))
      str(s.html)
      str(s.text)
      out.writeInt(s.spans.length)
      s.spans.foreach { case (a, b) => out.writeInt(a); out.writeInt(b) }
      out.writeBoolean(s.failed)
      n += 1
    }
    out.writeInt(n)
    out.flush()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def pin(family: String, expected: String)(inputs: => Iterator[String]): Unit =
    test(s"output digest unchanged: $family") {
      val got = digest(inputs.map(h => Extractor.extract(h, ExtractOptions())))
      assert(got == expected, s"$family digest moved")
    }

  private def resourceHtml: Seq[File] = {
    val root = new File(getClass.getResource("/regression").toURI).getParentFile
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".html")) Seq(f)
      else Seq.empty
    walk(root)
  }

  private val vocab = Array("the", "readability", "kernel", "parses", "every",
    "turn,", "scores", "paragraphs.", "Comment", "sidebar", "article", "main",
    "content", "&amp;", "&lt;b&gt;", "café", "世界", "e-mail",
    "footer", "x", "a,b,c", " ", "tab\tbed", "line\nbreak")

  private def words(rnd: Random, n: Int): String =
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")

  // tag soup: names in mixed case and non-ASCII (U+017F, U+0130, U+212A
  // fold to ASCII under Unicode lower-casing rules only), class/id values
  // that hit and miss the heuristic word lists, and attributes the
  // stripper removes or keeps
  private val soupTags = Array("div", "DIV", "Div", "p", "P", "span", "a", "A",
    "ul", "li", "LI", "table", "td", "tr", "h2", "H3", "br", "BR", "img",
    "embed", "form", "article", "section", "pre", "blockquote", "b", "em",
    "xyz-widget", "ſpan", "dİv", "Kbd", "tEXTAREA", "font")
  private val classes = Array("sidebar", "Comment", "article-content",
    "ad-break", "AD-BREAK", "com-box", "main", "promo", "footer hentry",
    "shoutBox", "ſidebar", "Komment", "tıtle", "İnfo",
    "page", "pagination", "entry", "", "story meta", "combx and", "tweet")
  private val attrs = Array("", " width=\"100\"", " WIDTH=50", " height='3'",
    " style=\"color: red\"", " onClick=\"go()\"", " on=x", " onnn=y", " o=z",
    " bgcolor=#fff", " Background-Image=\"u.png\"", " data-x=\"a=b > c\"",
    " title=\"a b = c\"", " align = center", " href=\"/x\"", " ÄTTR=\"v\"",
    " font-color=''", " style", " Width = \"7\"")

  private def soup(rnd: Random, depth: Int): String = {
    val sb = new java.lang.StringBuilder
    def node(d: Int): Unit = {
      val k = rnd.nextInt(10)
      if (d <= 0 || k < 3) sb.append(words(rnd, 1 + rnd.nextInt(12))).append(' ')
      else {
        val t = soupTags(rnd.nextInt(soupTags.length))
        sb.append('<').append(t)
        if (rnd.nextInt(3) == 0) sb.append(" class=\"").append(classes(rnd.nextInt(classes.length))).append('"')
        if (rnd.nextInt(4) == 0) sb.append(" id=").append(classes(rnd.nextInt(classes.length)).replace(" ", "_"))
        (0 until rnd.nextInt(3)).foreach(_ => sb.append(attrs(rnd.nextInt(attrs.length))))
        sb.append('>')
        (0 until rnd.nextInt(5)).foreach(_ => node(d - 1))
        if (rnd.nextInt(5) != 0) sb.append("</").append(t).append('>')
      }
    }
    sb.append("<html><body>")
    (0 until 1 + rnd.nextInt(6)).foreach(_ => node(depth))
    sb.append("</body></html>").toString
  }

  private def nested(id: Int, depth: Int): String =
    "<html><body>" + "<div class=\"level\">" * depth +
      s"<p>nested paragraph for turn $id, deep enough to score well</p>" +
      "</div>" * depth + "</body></html>"

  pin("test resources",
    "7a04fe547ba1014e4cd266d96d9784ac4b4fe663caf60cbf8a0f4ad76d0d441b") {
    resourceHtml.iterator.map(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
  }
  pin("htmlWrap",
    "b5a727cd80cc9c74c72f99a208592f32e9e38dca78b45774413ed52f9f249a39") {
    val rnd = new Random(11)
    Iterator.range(0, 300).map(i => TranscriptGen.htmlWrap(i.toLong, words(rnd, 5 + rnd.nextInt(200))))
  }
  pin("retryHtml",
    "fc9f977769052b6f59166d72d055709daa1d54b4fa67275e767abbcd479a81ce") {
    Iterator.range(0, 200).map(i => TranscriptGen.retryHtml(i.toLong))
  }
  pin("siblingHtml",
    "2ba91854a392373e9233fdde87bf9e90dbc4cc249b770688d57ffa02c582d5eb") {
    Iterator.range(0, 200).map(i => TranscriptGen.siblingHtml(i.toLong))
  }
  pin("sanitizeHtml",
    "625db766d61f3f099e9337483eae50b7648bd3bd4b47338a5c5a8e2393f1e25f") {
    Iterator.range(0, 100).map(i => TranscriptGen.sanitizeHtml(i.toLong))
  }
  pin("plain text",
    "bf1c7d35b8041a87aa6ba75149797b3fc2964adbbeed1f380a06a86057501395") {
    val rnd = new Random(13)
    Iterator.range(0, 200).map(_ => words(rnd, rnd.nextInt(300)))
  }
  pin("tag soup",
    "fade5f36809527474adced73c0ee99d207b212101a8e200792e7ce161092c9ee") {
    val rnd = new Random(17)
    Iterator.range(0, 1500).map(_ => soup(rnd, 5))
  }
  pin("nested",
    "ddaa156988a7448b53aed7b7e028a05cc04003965077ccc06e66e467a6fc81f4") {
    Iterator(10, 100, 300, 1000).zipWithIndex.map { case (d, i) => nested(i, d) }
  }
}
