package graft

import graft.dom.HtmlParser
import graft.extract.Cleaners2
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale
import java.util.regex.Pattern
import scala.util.Random

/** Two exact shortcuts of the kernel against their plain definitions:
  * `Cleaners2.cleanAttributesString`'s prefilter against the bare
  * `clean_attributes` regex loop, and the parser's canonical-name lookup
  * against `substring(...).toLowerCase(Locale.ROOT)`. */
class PrefilterNamesSpec extends AnyFunSuite {

  // the reference's `clean_attributes` regex (readability/cleaners.py), run to fixpoint
  private val htmlstrip = Pattern.compile(
    "<([^>]+) (?:width|height|style|[-a-z]*color|background[-a-z]*|on*) *" +
      "= *(?:[^ \"'>]+|'[^']+'|\"[^\"]+\")([^>]*)>",
    Pattern.CASE_INSENSITIVE)

  private def bareLoop(html: String): String = {
    var h = html
    var m = htmlstrip.matcher(h)
    while (m.find()) {
      h = m.replaceAll("<$1$2>")
      m = htmlstrip.matcher(h)
    }
    h
  }

  private val names = Array("o", "on", "onnn", "ONn", "onx", "no", "bgcolor",
    "Background-Image", "background", "backgroun", "WIDTH", "width", "widths",
    "Height", "style", "STYLE", "font-color", "color", "colour", "-color",
    "a-color", "col", "id", "class", "href", "data-on", "x", "ſtyle",
    "wİdth", "Kolor")
  private val values = Array("1", "\"a b\"", "'x=y'", "\"a > b\"", "v>w",
    "''", "\"\"", "\"=\"", "= =", "'it''s'", "x\"y", "\"unterminated")
  private val glue = Array(" ", "  ", "", " / ", ">", "<", "<p", "<div ", "text ",
    "=", " = ", "\"", "'")

  private def soup(rnd: Random): String = {
    val sb = new StringBuilder
    (0 until rnd.nextInt(8)).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 => sb.append(glue(rnd.nextInt(glue.length)))
        case _ =>
          sb.append(if (rnd.nextBoolean()) "<div" else "<p class=\"c\"")
          (0 until rnd.nextInt(4)).foreach { _ =>
            sb.append(" " * rnd.nextInt(3)).append(names(rnd.nextInt(names.length)))
            if (rnd.nextInt(5) != 0) {
              sb.append(" " * rnd.nextInt(2)).append('=').append(" " * rnd.nextInt(2))
              sb.append(values(rnd.nextInt(values.length)))
            }
          }
          if (rnd.nextInt(4) != 0) sb.append('>')
      }
    }
    sb.toString
  }

  test("cleanAttributesString equals the bare regex loop on tag soup") {
    val rnd = new Random(23)
    var changed = 0
    (0 until 30000).foreach { _ =>
      val s = soup(rnd)
      val expected = bareLoop(s)
      assert(Cleaners2.cleanAttributesString(s) == expected, s"on: $s")
      if (expected != s) changed += 1
    }
    assert(changed > 1000, "the soup must exercise the stripping branch")
  }

  test("cleanAttributesString on serialized-shaped attributes") {
    Seq(
      """<div id="page"><p style="x">a</p></div>""",
      """<td bgcolor="#fff" width="3" class="k">""",
      """<p onnn="x" o="y" on="z" onx="w">""",
      """<p title="width=3" data-x="a style=b">""",
      """<p>text with width = 3 inside</p>""",
      """<img src="a.png" Background-Image="u">""",
      """<p class="a"  WIDTH  =  "7">""").foreach { s =>
      assert(Cleaners2.cleanAttributesString(s) == bareLoop(s), s)
    }
  }

  private def plainLower(s: String, from: Int, to: Int): String =
    s.substring(from, to).toLowerCase(Locale.ROOT)

  test("parser name lookup equals substring(...).toLowerCase(Locale.ROOT)") {
    val pieces = Array("d", "i", "v", "D", "I", "V", "a", "A", "p", "P", "h", "1",
      "-", "_", ":", ".", "class", "CLASS", "Id", "href", "html", "Html",
      "ſ", "İ", "ı", "K", "é", "É", "世", "ß", "background", "onclick")
    val rnd = new Random(29)
    (0 until 50000).foreach { _ =>
      val name = (0 until 1 + rnd.nextInt(4)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
      val pre = "<x " * rnd.nextInt(2)
      val s = pre + name + "=1>"
      val got = HtmlParser.lowerName(s, pre.length, pre.length + name.length)
      assert(got == plainLower(s, pre.length, pre.length + name.length), s"on '$name'")
    }
    Seq("DIV", "Div", "div", "TABLE", "tBoDy", "CLASS", "HTTP-EQUIV", "divx", "di",
      "İD", "clasſ", "ıd", "KBD", "Kbd").foreach { n =>
      assert(HtmlParser.lowerName(n, 0, n.length) == plainLower(n, 0, n.length), n)
    }
  }

  test("known names come back as one shared instance") {
    val a = HtmlParser.lowerName("<DIV>", 1, 4)
    val b = HtmlParser.lowerName("<div>", 1, 4)
    assert(a == "div" && (a eq b))
  }
}
