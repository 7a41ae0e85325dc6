package graft.dom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Mutable per-document DOM node, modeled on the lxml element semantics the
  * reference engine relies on (text/tail strings, ordered attrs, live
  * sibling/parent links). Built and discarded inside a single Spark task —
  * never crosses a task boundary (see /root/reference docs: utils.py:184-224).
  *
  * Design note: a plain object graph (not int arrays) — documents are bounded
  * by MAX_FILE_SIZE (20 MB) so per-doc allocation is fine; the arena lives for
  * exactly one row of the mapPartitions kernel.
  */

/** Minimal insertion-ordered attribute store (parallel arrays, linear scan):
  * elements carry 0-3 attributes, so a LinkedHashMap (entry table + linked
  * entries) per attributed node was a top GC-traffic source (allocation profile).
  * Semantics match lxml attrib / LinkedHashMap: put keeps the original
  * position on update, iteration is insertion order.
  *
  * `class` and `id` values are also held in fields, kept in step by `put`
  * and `remove`: the selector and readability rules read them dozens of
  * times per node, and a call site passing the literal gets them without
  * a scan. */
final class AttrMap private (private var ks: Array[String], private var vs: Array[String],
    private var n: Int, private var classV: String, private var idV: String) {
  def this() = this(new Array[String](4), new Array[String](4), 0, null, null)
  def size: Int = n
  def nonEmpty: Boolean = n > 0
  private def indexOf(k: String): Int = {
    var i = 0
    while (i < n) { if (ks(i) == k) return i; i += 1 }
    -1
  }
  def put(k: String, v: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) { vs(i) = v; remember(k, v) }
    else add(k, v)
  }
  /** put, unless `k` is already present (the first duplicate attribute wins). */
  def putIfAbsent(k: String, v: String): Unit = if (indexOf(k) < 0) add(k, v)
  private def add(k: String, v: String): Unit = {
    if (n == ks.length) {
      ks = java.util.Arrays.copyOf(ks, n * 2)
      vs = java.util.Arrays.copyOf(vs, n * 2)
    }
    ks(n) = k; vs(n) = v; n += 1
    remember(k, v)
  }
  private def remember(k: String, v: String): Unit =
    if (k == "class") classV = v else if (k == "id") idV = v
  def getOrNull(k: String): String =
    if (k eq "class") classV
    else if (k eq "id") idV
    else { val i = indexOf(k); if (i >= 0) vs(i) else null }
  def contains(k: String): Boolean = indexOf(k) >= 0
  def remove(k: String): Unit = {
    val i = indexOf(k)
    if (i >= 0) {
      System.arraycopy(ks, i + 1, ks, i, n - i - 1)
      System.arraycopy(vs, i + 1, vs, i, n - i - 1)
      n -= 1
      ks(n) = null; vs(n) = null
      if (k == "class") classV = null else if (k == "id") idV = null
    }
  }
  def foreachKV(f: (String, String) => Unit): Unit = {
    var i = 0
    while (i < n) { f(ks(i), vs(i)); i += 1 }
  }
  def keysList: List[String] = {
    var out: List[String] = Nil
    var i = n - 1
    while (i >= 0) { out = ks(i) :: out; i -= 1 }
    out
  }
  def copyAttrs(): AttrMap = new AttrMap(ks.clone(), vs.clone(), n, classV, idV)
}

object Node {
  /** Reusable per-thread scratch for collectList (never escapes a call). */
  private[dom] val scratch: ThreadLocal[ArrayBuffer[Node]] =
    ThreadLocal.withInitial(() => new ArrayBuffer[Node](256))
}

final class Node(var tag: String) {
  var text: String = null
  var tail: String = null
  var parent: Node = null
  // initial capacity 1, not the ArrayBuffer default 16: leaf nodes (half of
  // any DOM) otherwise pay a 16-slot backing array each (allocation profile)
  val children: ArrayBuffer[Node] = new ArrayBuffer(1)
  // insertion-ordered attributes, like lxml's attrib — allocated lazily
  // (most nodes are attribute-less; an eager map table dominates GC churn)
  private var attrs0: AttrMap = null

  def attrs: AttrMap = {
    if (attrs0 == null) attrs0 = new AttrMap
    attrs0
  }
  def get(name: String): String =
    if (attrs0 == null) null else attrs0.getOrNull(name)
  def get(name: String, default: String): String = {
    if (attrs0 == null) return default
    val v = attrs0.getOrNull(name)
    if (v == null && !attrs0.contains(name)) default else v
  }
  def set(name: String, value: String): Unit = attrs.put(name, value)
  def setIfAbsent(name: String, value: String): Unit = attrs.putIfAbsent(name, value)
  def has(name: String): Boolean = attrs0 != null && attrs0.contains(name)
  def hasAttrs: Boolean = attrs0 != null && attrs0.nonEmpty
  def clearAttrs(): Unit = attrs0 = null

  /** Index within parent.children — maintained by every mutation so sibling
    * navigation is O(1) (indexOf would make wide-node iteration quadratic,
    * which breaks down on flat documents with 10k+ siblings). */
  var idx: Int = -1

  private def reindexFrom(from: Int): Unit = {
    var i = from
    while (i < children.length) { children(i).idx = i; i += 1 }
  }

  def append(child: Node): Unit = {
    if (child.parent != null) child.parent.remove(child)
    child.parent = this
    child.idx = children.length
    children += child
  }

  def insert(at: Int, child: Node): Unit = {
    if (child.parent != null) child.parent.remove(child)
    child.parent = this
    children.insert(at, child)
    reindexFrom(at)
  }

  /** lxml `parent.remove(child)`: detaches child INCLUDING its tail. */
  def remove(child: Node): Unit = {
    val i = child.idx
    if ((child.parent eq this) && i >= 0 && i < children.length && (children(i) eq child)) {
      children.remove(i)
      reindexFrom(i)
      child.parent = null
      child.idx = -1
    } else {
      val j = children.indexOf(child)
      if (j >= 0) { children.remove(j); reindexFrom(j); child.parent = null; child.idx = -1 }
    }
  }

  def getparent: Node = parent

  def getprevious: Node = {
    if (parent == null) return null
    if (idx > 0) parent.children(idx - 1) else null
  }

  def getnext: Node = {
    if (parent == null) return null
    if (idx >= 0 && idx < parent.children.length - 1) parent.children(idx + 1) else null
  }

  def len: Int = children.length
  def apply(i: Int): Node = children(i)
  def last: Node = children.last
  def nonEmptyChildren: Boolean = children.nonEmpty

  def isAncestorOf(n: Node): Boolean = {
    var p = n.parent
    while (p != null) { if (p eq this) return true; p = p.parent }
    false
  }

  /** True while this node is still attached under `root`. */
  def attachedTo(root: Node): Boolean = (this eq root) || root.isAncestorOf(this)

  // ---------------------------------------------------------------- iteration

  /** Lazy pre-order walk including self (lxml `iter`): the tag filter is
    * checked at visit time, so retagging during iteration (the reference's
    * `tag = 'done'` idiom, core.py:96,186,200…) skips nodes exactly like lxml.
    */
  def iterLazy(tags: Set[String] = null): Iterator[Node] = new Iterator[Node] {
    private var nextNode: Node = null
    private var cur: Node = Node.this
    private var started = false
    private def advanceFrom(n: Node): Node = {
      // next in document order restricted to the subtree rooted at Node.this
      if (n.children.nonEmpty) return n.children(0)
      var m = n
      while (m ne null) {
        if (m eq Node.this) return null
        val nx = m.getnext
        if (nx != null) return nx
        m = m.parent
      }
      null
    }
    private def seek(): Unit = {
      while (cur != null && tags != null && !tags.contains(cur.tag)) cur = advanceFrom(cur)
      nextNode = cur
    }
    override def hasNext: Boolean = {
      if (!started) { started = true; seek() }
      nextNode != null
    }
    override def next(): Node = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextNode
      cur = advanceFrom(r)
      seek()
      r
    }
  }

  /** Lazy pre-order walk excluding self (lxml `iterdescendants`). */
  def iterDescendantsLazy(tags: Set[String] = null): Iterator[Node] =
    iterLazy(null).drop(1).filter(n => tags == null || tags.contains(n.tag))

  /** Zero-allocation LIVE pre-order walk including self. Safe only when `f`
    * does not mutate the tree (collect-then-mutate call sites); use
    * iterList for snapshot semantics. */
  def foreachNode(f: Node => Unit): Unit = {
    f(this)
    val cs = children
    var i = 0
    while (i < cs.length) { cs(i).foreachNode(f); i += 1 }
  }

  /** Snapshot pre-order list including self. The tag filter is applied
    * DURING the walk (one cons per match) — the old build-all-then-filter
    * shape allocated two O(n) lists per call, which dominated kernel GC
    * traffic (the extraction job is memory-bandwidth-bound at high core
    * counts, per the allocation profile). */
  def iterList(tags: Set[String] = null): List[Node] = collectList(tags, includeSelf = true)

  /** Snapshot of strict descendants (lxml descendant axis). */
  def descendants(tags: Set[String] = null): List[Node] = collectList(tags, includeSelf = false)

  /** True iff itertext would be non-empty: any non-null text, or non-null
    * tail on a non-root node (zero alloc). */
  def hasAnyTextPiece: Boolean = {
    if (text != null) return true
    val cs = children
    var i = 0
    while (i < cs.length) { if (cs(i).hasAnyTextPieceOrTail) return true; i += 1 }
    false
  }
  private def hasAnyTextPieceOrTail: Boolean = {
    if (text != null || tail != null) return true
    val cs = children
    var i = 0
    while (i < cs.length) { if (cs(i).hasAnyTextPieceOrTail) return true; i += 1 }
    false
  }

  /** descendants(tags).length without materializing the list (zero alloc). */
  def countDescendants(tags: Set[String]): Int = {
    var n = 0
    def walk(x: Node): Unit = {
      if (tags == null || tags.contains(x.tag)) n += 1
      val cs = x.children
      var i = 0
      while (i < cs.length) { walk(cs(i)); i += 1 }
    }
    val cs = children
    var i = 0
    while (i < cs.length) { walk(cs(i)); i += 1 }
    n
  }

  private def collectList(tags: Set[String], includeSelf: Boolean): List[Node] = {
    // thread-local scratch: the walk itself never re-enters collectList, so
    // one growable array per thread kills the per-call buffer + growth
    // allocations; only the result's cons cells remain (allocation profile)
    val buf = Node.scratch.get()
    buf.clear() // defensive: also cleared on exit; a mid-walk throw (OOM,
    // stack overflow) must not leak stale nodes into the next call
    // a one-tag filter, the common case, compares Strings directly instead
    // of through Set1's generic equality
    val one = if (tags != null && tags.size == 1) tags.head else null
    def walk(n: Node): Unit = {
      if (tags == null || (if (one != null) one == n.tag else tags.contains(n.tag))) buf += n
      val cs = n.children
      var i = 0
      while (i < cs.length) { walk(cs(i)); i += 1 }
    }
    if (includeSelf) walk(this)
    else {
      val cs = children
      var i = 0
      while (i < cs.length) { walk(cs(i)); i += 1 }
    }
    var out: List[Node] = Nil
    var i = buf.length - 1
    while (i >= 0) { out = buf(i) :: out; i -= 1 }
    buf.clear()
    out
  }

  /** First strict descendant with the tag, document order (lxml `find('.//t')`). */
  def findDescendant(tag: String): Node = {
    val it = iterLazy(Set(tag))
    // iterLazy includes self; `find` searches descendants only
    while (it.hasNext) { val n = it.next(); if (n ne this) return n }
    null
  }

  // -------------------------------------------------------------------- text

  /** lxml `itertext()`: all text and tail strings in document order (root tail
    * excluded). */
  def itertext: List[String] = {
    val buf = ArrayBuffer.empty[String]
    def walk(n: Node): Unit = {
      if (n.text != null) buf += n.text
      val cs = n.children
      var i = 0
      while (i < cs.length) { val c = cs(i); walk(c); if (c.tail != null) buf += c.tail; i += 1 }
    }
    walk(this)
    buf.toList
  }

  /** lxml `text_content()`: concatenation of all text nodes. */
  def textContent: String = {
    val sb = new java.lang.StringBuilder
    def walk(n: Node): Unit = {
      if (n.text != null) sb.append(n.text)
      val cs = n.children
      var i = 0
      while (i < cs.length) { val c = cs(i); walk(c); if (c.tail != null) sb.append(c.tail); i += 1 }
    }
    walk(this)
    sb.toString
  }


  /** Raw textContent length without building the string (zero alloc). */
  def textContentLength: Int = {
    var len = 0
    def walk(n: Node): Unit = {
      if (n.text != null) len += n.text.length
      val cs = n.children
      var i = 0
      while (i < cs.length) { val c = cs(i); walk(c); if (c.tail != null) len += c.tail.length; i += 1 }
    }
    walk(this)
    len
  }

  /** Length of TextUtils-style trim(textContent) without building either
    * string: whitespace runs collapse to one ' ', leading/trailing dropped.
    * Zero alloc — used by the length-only link-density/rollback gates. */
  def trimmedTextLength: Int = {
    var len = 0
    var pendingSpace = false
    def piece(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (graft.text.TextUtils.isPyWhitespace(c)) { if (len > 0) pendingSpace = true }
        else { if (pendingSpace) { len += 1; pendingSpace = false }; len += 1 }
        i += 1
      }
    }
    def walk(n: Node): Unit = {
      if (n.text != null) piece(n.text)
      val cs = n.children
      var i = 0
      while (i < cs.length) { val c = cs(i); walk(c); if (c.tail != null) piece(c.tail); i += 1 }
    }
    walk(this)
    len
  }

  // ------------------------------------------------------------------ copies

  def deepCopy: Node = {
    val n = new Node(tag)
    n.text = text; n.tail = tail
    if (attrs0 != null && attrs0.nonEmpty) n.attrs0 = attrs0.copyAttrs()
    if (children.nonEmpty) n.children.sizeHint(children.length) // one alloc, no growth
    var i = 0
    while (i < children.length) {
      val cc = children(i).deepCopy; cc.parent = n; cc.idx = i; n.children += cc
      i += 1
    }
    n
  }

  override def toString: String = s"<$tag>"
}

object Dom {

  def elem(tag: String): Node = new Node(tag)

  def subElement(parent: Node, tag: String): Node = {
    val n = new Node(tag); parent.append(n); n
  }

  /** lxml.html `drop_tree()`: remove element + subtree, PRESERVING its tail by
    * joining it to the previous sibling's tail or the parent's text
    * (htmlprocessing.py:79-83 relies on this). */
  def dropTree(element: Node): Unit = {
    val parent = element.parent
    if (parent == null) return
    if (element.tail != null && element.tail.nonEmpty) {
      val prev = element.getprevious
      if (prev != null) prev.tail = if (prev.tail == null) element.tail else prev.tail + element.tail
      else parent.text = if (parent.text == null) element.tail else parent.text + element.tail
    }
    parent.remove(element)
  }

  /** lxml.etree `strip_elements(tree, *tags)` with default with_tail=True:
    * delete matching descendants entirely, tails included (core.py:601). */
  def stripElements(root: Node, tags: String*): Unit = {
    val tagSet = tags.toSet
    root.descendants(tagSet).foreach { n =>
      if (n.parent != null) n.parent.remove(n)
    }
  }

  /** lxml.etree `strip_tags(tree, *tags)`: delete matching descendant elements
    * but graft their children and text into the parent in place. Text joins
    * are direct concatenation (libxml2 merges adjacent text nodes).
    * Single-pass rebuild per parent with StringBuilder text sinks — naive
    * splicing is quadratic on wide nodes (60k stripped siblings -> minutes). */
  def stripTags(root: Node, tags: String*): Unit = stripTagsSet(root, tags.toSet)

  def stripTagsSet(root: Node, tagSet: Set[String]): Unit = {
    def process(n: Node): Unit = {
      // bottom-up so nested matching tags are already unwrapped
      var ci = 0
      while (ci < n.children.length) { process(n.children(ci)); ci += 1 }
      var any = false
      ci = 0
      while (!any && ci < n.children.length) { if (tagSet.contains(n.children(ci).tag)) any = true; ci += 1 }
      if (!any) return
      val newBuf = new ArrayBuffer[Node](n.children.length)
      // active text sink: parent text while newBuf empty, else last node tail
      var sb: java.lang.StringBuilder = null
      var sinkNode: Node = null // null -> parent text
      def openSink(): Unit = {
        if (sb == null) {
          sb = new java.lang.StringBuilder
          if (sinkNode == null) { if (n.text != null) sb.append(n.text) }
          else if (sinkNode.tail != null) sb.append(sinkNode.tail)
        }
      }
      def flushSink(): Unit = {
        if (sb != null) {
          val t = sb.toString
          val v = if (t.isEmpty) null else t
          if (sinkNode == null) n.text = v else sinkNode.tail = v
          sb = null
        }
      }
      def addNode(c: Node): Unit = {
        flushSink()
        newBuf += c
        c.parent = n
        sinkNode = c
      }
      def addText(t: String): Unit = {
        if (t != null && t.nonEmpty) { openSink(); sb.append(t) }
      }
      var mi = 0
      while (mi < n.children.length) {
        val c = n.children(mi)
        mi += 1
        if (tagSet.contains(c.tag)) {
          addText(c.text)
          var gi = 0
          while (gi < c.children.length) { addNode(c.children(gi)); gi += 1 }
          c.children.clear()
          c.parent = null
          c.idx = -1
          addText(c.tail)
        } else addNode(c)
      }
      flushSink()
      n.children.clear()
      n.children ++= newBuf
      var i = 0
      while (i < n.children.length) { n.children(i).idx = i; i += 1 }
    }
    process(root)
  }

  /** Serialize a subtree to XML-ish markup (tests/debug; spans are the real
    * output surface). */
  def toXml(n: Node): String = {
    val sb = new StringBuilder
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def walk(x: Node): Unit = {
      sb.append('<').append(x.tag)
      if (x.hasAttrs) x.attrs.foreachKV { (k, v) => sb.append(' ').append(k).append("=\"").append(esc(v).replace("\"", "&quot;")).append('"') }
      if (x.text == null && x.children.isEmpty) sb.append("/>")
      else {
        sb.append('>')
        if (x.text != null) sb.append(esc(x.text))
        x.children.foreach { c => walk(c); if (c.tail != null) sb.append(esc(c.tail)) }
        sb.append("</").append(x.tag).append('>')
      }
    }
    walk(n)
    sb.toString
  }
}
