package graft.extract

import java.util.regex.Pattern

/** The readability heuristic regexes, semantics-equal to
  * /root/reference/readability/regexes.py:7-25 (case-insensitive, search
  * i.e. find-anywhere). Precompiled once per JVM (SURVEY.md §4).
  *
  * The four class/id word lists are pure literal alternations and run on
  * every element, so they are [[Regexes.LiteralSet]]s rather than
  * `Pattern`s; the rest stay regexes.
  */
object Regexes {
  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  /** `Pattern.compile(pattern, CASE_INSENSITIVE).matcher(s).find()` for a
    * pattern that is an alternation of literals over `[-a-z]`, without the
    * regex engine. `CASE_INSENSITIVE` without `UNICODE_CASE` folds ASCII
    * letters only, so the match compares the input's ASCII-lower-cased
    * chars with the literals: U+017F `ſ`, U+212A Kelvin `K`, U+0130 `İ`
    * and U+0131 `ı` match nothing, exactly as in the regex. */
  final class LiteralSet(val pattern: String) {
    private val literals: Array[String] = pattern.split('|')
    require(literals.forall(l => l.nonEmpty && l.forall(c => (c >= 'a' && c <= 'z') || c == '-')),
      s"not a lower-case literal alternation: $pattern")

    // literals by first char (all ASCII), so a position costs one lookup
    private val byFirst: Array[Array[String]] =
      Array.tabulate(128)(c => literals.filter(_.charAt(0) == c))

    @inline private def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

    def find(s: String): Boolean = {
      val n = s.length
      var i = 0
      while (i < n) {
        val c = lower(s.charAt(i))
        if (c < 128) {
          val cands = byFirst(c)
          var k = 0
          while (k < cands.length) {
            val l = cands(k)
            if (i + l.length <= n) {
              var j = 1
              while (j < l.length && lower(s.charAt(i + j)) == l.charAt(j)) j += 1
              if (j == l.length) return true
            }
            k += 1
          }
        }
        i += 1
      }
      false
    }
  }

  val unlikelyCandidates = new LiteralSet(
    "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter")
  val okMaybeItsACandidate = new LiteralSet("and|article|body|column|main|shadow")
  val positive = new LiteralSet(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story")
  val negative = new LiteralSet(
    "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget")
  val extraneous: Pattern = ci(
    "print|archive|comment|discuss|e[\\-]?mail|share|reply|all|login|sign|single")
  val divToPElements: Pattern = ci("<(a|blockquote|dl|div|img|ol|p|pre|table|ul)")
  val nextLink: Pattern = ci("(next|weiter|continue|>[^\\|]$)")
  val prevLink: Pattern = ci("(prev|earl|old|new|<)")
  val page: Pattern = ci("pag(e|ing|inat)")
  val firstLast: Pattern = ci("(first|last)")

  @inline def search(p: Pattern, s: String): Boolean = p.matcher(s).find()
}
