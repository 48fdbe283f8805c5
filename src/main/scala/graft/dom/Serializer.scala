package graft.dom

/** HTML serializer playing the role of lxml's `tounicode(..., method="html")`
  * (used at /root/reference/readability/readability.py:584,662). The
  * correctness target of the engine is extracted *text* equality (north rule),
  * so this serializer must be correct HTML, not byte-identical to libxml2
  * (SURVEY.md §2h F12).
  */
object Serializer {

  def serialize(n: Node): String = {
    val sb = new java.lang.StringBuilder(256)
    write(n, sb, includeTail = false)
    sb.toString
  }

  /** Serialize only the children (inner HTML), used by P5's div-to-p test
    * which inspects the serialized child list
    * (/root/reference/readability/readability.py:364). */
  def serializeChildren(n: Node): String = {
    val sb = new java.lang.StringBuilder(128)
    var i = 0
    while (i < n.children.length) {
      write(n.children(i), sb, includeTail = true)
      i += 1
    }
    sb.toString
  }

  /** Tags whose text serializes RAW (unescaped) — load-bearing for
    * Extractor.childrenMatchBlockRegex's serialize-equivalence. */
  def isRawText(tag: String): Boolean = tag == "script" || tag == "style"

  private def write(n: Node, sb: java.lang.StringBuilder, includeTail: Boolean): Unit = {
    if (n.isComment) {
      sb.append("<!--").append(if (n.text == null) "" else n.text).append("-->")
    } else if (n.isPi) {
      sb.append("<?").append(if (n.text == null) "" else n.text).append("?>")
    } else {
      sb.append('<').append(n.tag)
      var a = 0
      while (a < n.attrCount) {
        sb.append(' ').append(n.attrName(a)).append("=\"")
        escapeAttr(n.attrValue(a), sb)
        sb.append('"')
        a += 1
      }
      sb.append('>')
      if (!HtmlParser.isVoid(n.tag)) {
        if (n.text != null) {
          if (isRawText(n.tag)) sb.append(n.text)
          else escapeText(n.text, sb)
        }
        var i = 0
        while (i < n.children.length) {
          write(n.children(i), sb, includeTail = true)
          i += 1
        }
        sb.append("</").append(n.tag).append('>')
      }
    }
    if (includeTail && n.tail != null) escapeText(n.tail, sb)
  }

  /** Appends `s` with `&`, `<`, `>` (and `"` when `quote`) escaped; each
    * run without any of them is appended in one call. */
  private def escape(s: String, sb: java.lang.StringBuilder, quote: Boolean): Unit = {
    var from = 0
    var i = 0
    while (i < s.length) {
      val rep = s.charAt(i) match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' if quote => "&quot;"
        case _ => null
      }
      if (rep != null) {
        sb.append(s, from, i).append(rep)
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length)
  }

  private def escapeText(s: String, sb: java.lang.StringBuilder): Unit = escape(s, sb, quote = false)

  private def escapeAttr(s: String, sb: java.lang.StringBuilder): Unit = escape(s, sb, quote = true)
}
