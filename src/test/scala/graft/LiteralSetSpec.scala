package graft

import graft.extract.Regexes
import org.scalatest.funsuite.AnyFunSuite

import java.util.regex.Pattern
import scala.util.Random

/** The class/id word lists run as [[Regexes.LiteralSet]]s; each must
  * accept exactly what `Pattern.compile(p, CASE_INSENSITIVE).find` accepts
  * for its own pattern string — ASCII case folding only, so the Unicode
  * case-fold look-alikes of ASCII letters match nothing. */
class LiteralSetSpec extends AnyFunSuite {

  private val sets = Seq(
    "unlikelyCandidates" -> Regexes.unlikelyCandidates,
    "okMaybeItsACandidate" -> Regexes.okMaybeItsACandidate,
    "positive" -> Regexes.positive,
    "negative" -> Regexes.negative)

  private def regex(set: Regexes.LiteralSet): Pattern =
    Pattern.compile(set.pattern, Pattern.CASE_INSENSITIVE)

  // fragments that build near-misses, hyphenated literals and traps:
  // U+017F ſ (upper-cases to S), U+212A Kelvin K (lower-cases to k),
  // U+0130 İ (lower-cases to i), U+0131 ı (upper-cases to I)
  private val fragments = Array("com", "com-", "ment", "ad-break", "ad-", "break",
    "side", "bar", "foot", "er", "note", "art", "icle", "main", "MAIN", "Page",
    "pagination", "hentry", "tags", "tool", "Twitter", "rss", "RSS", "and",
    "shadow", "column", "body", "BODY", "-", " ", "_", "x", "é", "世",
    "ſ", "K", "İ", "ı", "ſidebar", "Komment",
    "İtem", "artıcle", "maİn", "ſhoutbox", "widget", "wıdget", "Meta")

  private def randomString(rnd: Random): String =
    (0 until rnd.nextInt(6)).map { _ =>
      val f = fragments(rnd.nextInt(fragments.length))
      if (rnd.nextBoolean()) f
      else f.map(c => if (rnd.nextBoolean()) c.toUpper else c)
    }.mkString

  test("each literal set accepts exactly what its pattern finds") {
    val rnd = new Random(7)
    sets.foreach { case (name, set) =>
      val p = regex(set)
      (0 until 20000).foreach { _ =>
        val s = randomString(rnd)
        assert(set.find(s) == p.matcher(s).find(), s"$name on '$s'")
      }
    }
  }

  test("every literal matches in any ASCII case, embedded in other text") {
    sets.foreach { case (name, set) =>
      set.pattern.split('|').foreach { l =>
        Seq(l, l.toUpperCase, "x" + l.capitalize + "y", "a b " + l).foreach { s =>
          assert(set.find(s), s"$name on '$s'")
          assert(regex(set).matcher(s).find())
        }
      }
    }
  }

  test("Unicode case-fold look-alikes do not match") {
    val traps = Seq("ſidebar", "ſhoutbox", "Komment", "maİn",
      "maın", "artıcle", "İtem", "pagınation", "COMMENTİ")
    val expected = traps.map(t => sets.map { case (_, set) => regex(set).matcher(t).find() })
    traps.zip(expected).foreach { case (t, exp) =>
      assert(sets.map { case (_, set) => set.find(t) } == exp, t)
    }
    assert(!Regexes.unlikelyCandidates.find("ſidebar"))
    assert(!Regexes.okMaybeItsACandidate.find("maİn"))
    assert(!Regexes.negative.find("Komment"))
    assert(!Regexes.positive.find("artıcle"))
  }

  test("testing class and id apart equals testing class + \" \" + id") {
    val rnd = new Random(11)
    sets.foreach { case (name, set) =>
      (0 until 20000).foreach { _ =>
        val cls = randomString(rnd)
        val id = randomString(rnd)
        assert((set.find(cls) || set.find(id)) == set.find(cls + " " + id),
          s"$name on '$cls' / '$id'")
      }
    }
  }
}
