package graft.dom

import scala.collection.mutable

/** Mutable DOM node mirroring the lxml element model the reference mutates
  * everywhere: an element owns leading `text`, each child owns a `tail`
  * (interspersed text after it), children are ordered
  * (cf. /root/reference/readability/readability.py:81-123 which documents the
  * text/tail model). This value type lives only *inside* a Spark partition —
  * it is never shuffled (SURVEY.md §1).
  *
  * Comments / processing instructions are represented as nodes with the
  * special tags [[Node.Comment]] / [[Node.Pi]]; their payload lives in
  * `text`. They are excluded from `textContent` and `findAll`, matching
  * XPath `string()` / `findall` semantics in lxml.
  */
final class Node(var tag: String) {
  var text: String = null
  var tail: String = null
  var parent: Node = null
  // attributes in insertion order (an update keeps the position, like
  // lxml's attribute dict): names at even, values at odd indices
  private var attrKV: Array[String] = null
  private var nAttrs = 0
  val children = new mutable.ArrayBuffer[Node](4)

  def isComment: Boolean = tag == Node.Comment
  def isPi: Boolean = tag == Node.Pi
  def isElement: Boolean = !isComment && !isPi

  def hasAttrs: Boolean = nAttrs > 0
  def attrCount: Int = nAttrs
  def attrName(i: Int): String = attrKV(2 * i)
  def attrValue(i: Int): String = attrKV(2 * i + 1)

  private def attrIndex(name: String): Int = {
    var i = 0
    while (i < nAttrs) {
      if (attrKV(2 * i) == name) return i
      i += 1
    }
    -1
  }

  /** lxml `elem.get(name)` → null when absent. */
  def attr(name: String): String = {
    val i = attrIndex(name)
    if (i < 0) null else attrKV(2 * i + 1)
  }
  def attrOr(name: String, default: String): String = {
    val v = attr(name); if (v == null) default else v
  }
  def setAttr(name: String, value: String): Unit = {
    val i = attrIndex(name)
    if (i >= 0) attrKV(2 * i + 1) = value
    else {
      if (attrKV == null) attrKV = new Array[String](4)
      else if (2 * nAttrs == attrKV.length) attrKV = java.util.Arrays.copyOf(attrKV, 2 * attrKV.length)
      attrKV(2 * nAttrs) = name
      attrKV(2 * nAttrs + 1) = value
      nAttrs += 1
    }
  }
  def removeAttr(name: String): Unit = {
    val i = attrIndex(name)
    if (i >= 0) {
      System.arraycopy(attrKV, 2 * i + 2, attrKV, 2 * i, 2 * (nAttrs - i - 1))
      nAttrs -= 1
      attrKV(2 * nAttrs) = null
      attrKV(2 * nAttrs + 1) = null
    }
  }

  /** Append, moving the child out of any previous parent (lxml `append`). */
  def append(child: Node): Unit = {
    child.detach()
    child.parent = this
    children += child
  }

  /** Insert at index, moving the child out of any previous parent. */
  def insert(index: Int, child: Node): Unit = {
    child.detach()
    child.parent = this
    children.insert(index, child)
  }

  /** Position of `child` among the children by reference, -1 if absent. */
  def indexOf(child: Node): Int = {
    var i = 0
    while (i < children.length) {
      if (children(i) eq child) return i
      i += 1
    }
    -1
  }

  /** Detach this node (and its tail) from its parent, if any. */
  def detach(): Unit = {
    if (parent != null) {
      val i = parent.indexOf(this)
      if (i >= 0) parent.children.remove(i)
      parent = null
    }
  }

  def prevSibling: Node = {
    if (parent == null) return null
    val i = parent.indexOf(this)
    if (i > 0) parent.children(i - 1) else null
  }

  /** lxml `drop_tree()`: removes the node and its whole subtree; the tail
    * text is joined to the previous sibling's tail or the parent's text
    * (/root/reference/readability/readability.py:379 relies on this). */
  def dropTree(): Unit = {
    val p = parent
    if (p == null) return
    if (tail != null && tail.nonEmpty) {
      val prev = prevSibling
      if (prev == null) p.text = (if (p.text == null) "" else p.text) + tail
      else prev.tail = (if (prev.tail == null) "" else prev.tail) + tail
    }
    detach()
  }

  /** Self + all descendants, document order (lxml `iter()`). */
  def iterSubtree: Iterator[Node] = {
    val stack = mutable.Stack[Node](this)
    new Iterator[Node] {
      def hasNext: Boolean = stack.nonEmpty
      def next(): Node = {
        val n = stack.pop()
        var i = n.children.length - 1
        while (i >= 0) { stack.push(n.children(i)); i -= 1 }
        n
      }
    }
  }

  /** Descendant elements with the given tag, document order — lxml
    * `findall('.//tag')` (self excluded). */
  def findAll(tagName: String): mutable.ArrayBuffer[Node] = {
    val out = new mutable.ArrayBuffer[Node]
    def walk(n: Node): Unit = {
      var i = 0
      while (i < n.children.length) {
        val c = n.children(i)
        if (c.tag == tagName) out += c
        walk(c)
        i += 1
      }
    }
    walk(this)
    out
  }

  /** [[findAll]] for several tags in one walk: element `i` of the result
    * holds the descendants tagged `tagNames(i)`, document order. */
  def findAllByTag(tagNames: Array[String]): Array[mutable.ArrayBuffer[Node]] = {
    val out = Array.fill(tagNames.length)(new mutable.ArrayBuffer[Node])
    def walk(n: Node): Unit = {
      var i = 0
      while (i < n.children.length) {
        val c = n.children(i)
        var k = 0
        while (k < tagNames.length && c.tag != tagNames(k)) k += 1
        if (k < tagNames.length) out(k) += c
        walk(c)
        i += 1
      }
    }
    walk(this)
    out
  }

  /** First descendant with the tag, document order (lxml `find('.//t')`). */
  def findFirst(tagName: String): Node = {
    var found: Node = null
    def walk(n: Node): Boolean = {
      var i = 0
      while (i < n.children.length) {
        val c = n.children(i)
        if (c.tag == tagName) { found = c; return true }
        if (walk(c)) return true
        i += 1
      }
      false
    }
    walk(this)
    found
  }

  /** XPath `string()` — concatenation of all descendant text nodes: own
    * `text`, then recursively each child's content and `tail`. Comments/PIs
    * contribute only their tails. */
  def textContent: String = {
    val sb = new java.lang.StringBuilder
    def walk(n: Node): Unit = {
      if (n.isElement && n.text != null) sb.append(n.text)
      var i = 0
      while (i < n.children.length) {
        val c = n.children(i)
        walk(c)
        if (c.tail != null) sb.append(c.tail)
        i += 1
      }
    }
    walk(this)
    sb.toString
  }

  /** Following siblings in order (lxml `itersiblings()`). */
  def siblingsAfter: Iterator[Node] = {
    if (parent == null) return Iterator.empty
    val i = parent.indexOf(this)
    parent.children.iterator.drop(i + 1)
  }

  /** Preceding siblings, nearest first (lxml `itersiblings(preceding=True)`). */
  def siblingsBefore: Iterator[Node] = {
    if (parent == null) return Iterator.empty
    val i = parent.indexOf(this)
    parent.children.take(i).reverseIterator
  }

  override def toString: String = {
    val id = attrOr("id", "")
    val cls = attrOr("class", "")
    s"<$tag${if (id.nonEmpty) "#" + id else ""}${if (cls.nonEmpty) "." + cls.replace(' ', '.') else ""}>"
  }
}

object Node {
  val Comment = "#comment"
  val Pi = "#pi"

  def elem(tag: String, attrPairs: (String, String)*): Node = {
    val n = new Node(tag)
    attrPairs.foreach { case (k, v) => n.setAttr(k, v) }
    n
  }
}
