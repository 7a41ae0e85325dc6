package graft.out

import graft.dom.Node

/** RELAX NG validator — James Clark's derivative algorithm
  * (relaxng.org "An algorithm for RELAX NG validation"), implemented for
  * the construct subset the TEI P5 schema actually uses (no interleave /
  * mixed / notAllowed / include / combine — verified against the schema).
  *
  * The TEI test oracle: no product path validates. The schema is the test
  * resource `graft/tei_schema.rng.gz`, extracted from the
  * reference's own asset (`trafilatura/data/tei-schema-pickle.lzma`,
  * xml.py:25,189-200) — TEI Edition 3.6.0.
  *
  * Datatype policy: structure-strict, datatype-lenient — `data` patterns
  * accept any token (no XSD datatype library in-sandbox), `value` patterns
  * compare exact trimmed strings. This matches the practical intent of
  * `validate_tei`: catching structural/attribute vocabulary violations. */
object RelaxNg {

  // ------------------------------------------------------------ name classes

  sealed trait NameClass
  final case class NcName(ns: String, local: String) extends NameClass
  final case class NcAnyName(except: Option[NameClass]) extends NameClass
  final case class NcNsName(ns: String, except: Option[NameClass]) extends NameClass
  final case class NcChoice(a: NameClass, b: NameClass) extends NameClass

  private def contains(nc: NameClass, ns: String, local: String): Boolean = nc match {
    case NcName(n, l) => n == ns && l == local
    case NcAnyName(ex) => !ex.exists(contains(_, ns, local))
    case NcNsName(n, ex) => n == ns && !ex.exists(contains(_, ns, local))
    case NcChoice(a, b) => contains(a, ns, local) || contains(b, ns, local)
  }

  // ----------------------------------------------------------------- patterns

  sealed abstract class Pat {
    // nullable is queried heavily during derivation — cache per instance
    private var nullable0: Byte = -1
    final def nullable: Boolean = {
      if (nullable0 < 0) nullable0 = if (computeNullable) 1 else 0
      nullable0 == 1
    }
    protected def computeNullable: Boolean
  }
  case object PEmpty extends Pat { def computeNullable = true }
  case object PNotAllowed extends Pat { def computeNullable = false }
  case object PText extends Pat { def computeNullable = true }
  final case class PChoice(a: Pat, b: Pat) extends Pat {
    def computeNullable = a.nullable || b.nullable
  }
  final case class PGroup(a: Pat, b: Pat) extends Pat {
    def computeNullable = a.nullable && b.nullable
  }
  final case class POneOrMore(p: Pat) extends Pat { def computeNullable = p.nullable }
  /** Element body resolves lazily (refs may be recursive). */
  final class PElement(val nc: NameClass, body: () => Pat) extends Pat {
    def computeNullable = false
    lazy val p: Pat = body()
  }
  final case class PAttribute(nc: NameClass, p: Pat) extends Pat {
    def computeNullable = false
  }
  case object PData extends Pat { def computeNullable = false }
  final case class PValue(v: String) extends Pat { def computeNullable = false }
  final case class PList(p: Pat) extends Pat { def computeNullable = false }
  final case class PAfter(a: Pat, b: Pat) extends Pat { def computeNullable = false }

  // smart constructors (the simplifications keep derivatives small)
  private def choice(a: Pat, b: Pat): Pat =
    if (a == PNotAllowed) b
    else if (b == PNotAllowed) a
    else if ((a eq b) || a == b) a
    else PChoice(a, b)
  private def group(a: Pat, b: Pat): Pat =
    if (a == PNotAllowed || b == PNotAllowed) PNotAllowed
    else if (a == PEmpty) b
    else if (b == PEmpty) a
    else PGroup(a, b)
  private def after(a: Pat, b: Pat): Pat =
    if (a == PNotAllowed || b == PNotAllowed) PNotAllowed
    else PAfter(a, b)
  private def oneOrMore(p: Pat): Pat =
    if (p == PNotAllowed) PNotAllowed else POneOrMore(p)

  // ---------------------------------------------------------- derivatives

  private def isWhitespace(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != ' ' && c != '\t' && c != '\n' && c != '\r') return false
      i += 1
    }
    true
  }

  private def textDeriv(p: Pat, s: String): Pat = p match {
    case PChoice(a, b) => choice(textDeriv(a, s), textDeriv(b, s))
    case PGroup(a, b) =>
      val g = group(textDeriv(a, s), b)
      if (a.nullable) choice(g, textDeriv(b, s)) else g
    case PAfter(a, b) => after(textDeriv(a, s), b)
    case POneOrMore(q) => group(textDeriv(q, s), choice(POneOrMore(q), PEmpty))
    case PText => PText
    case PValue(v) => if (v.trim == s.trim) PEmpty else PNotAllowed
    case PData => PEmpty // datatype-lenient
    case PList(q) =>
      val tokens = s.trim.split("\\s+").filter(_.nonEmpty)
      var cur = q
      var i = 0
      while (i < tokens.length && cur != PNotAllowed) { cur = textDeriv(cur, tokens(i)); i += 1 }
      if (cur.nullable) PEmpty else PNotAllowed
    case _ => PNotAllowed
  }

  private def applyAfter(f: Pat => Pat, p: Pat): Pat = p match {
    case PAfter(a, b) => after(a, f(b))
    case PChoice(a, b) => choice(applyAfter(f, a), applyAfter(f, b))
    case PNotAllowed => PNotAllowed
    case other => throw new IllegalStateException(s"applyAfter on $other")
  }

  private def startTagOpenDeriv(p: Pat, ns: String, local: String): Pat = p match {
    case el: PElement =>
      if (contains(el.nc, ns, local)) after(el.p, PEmpty) else PNotAllowed
    case PChoice(a, b) =>
      choice(startTagOpenDeriv(a, ns, local), startTagOpenDeriv(b, ns, local))
    case PGroup(a, b) =>
      val x = applyAfter(group(_, b), startTagOpenDeriv(a, ns, local))
      if (a.nullable) choice(x, startTagOpenDeriv(b, ns, local)) else x
    case POneOrMore(q) =>
      applyAfter(group(_, choice(POneOrMore(q), PEmpty)), startTagOpenDeriv(q, ns, local))
    case PAfter(a, b) =>
      applyAfter(after(_, b), startTagOpenDeriv(a, ns, local))
    case _ => PNotAllowed
  }

  private def valueMatch(p: Pat, s: String): Boolean =
    (p.nullable && isWhitespace(s)) || textDeriv(p, s).nullable

  private def attDeriv(p: Pat, ns: String, local: String, v: String): Pat = p match {
    case PAttribute(nc, pv) =>
      if (contains(nc, ns, local) && valueMatch(pv, v)) PEmpty else PNotAllowed
    case PChoice(a, b) => choice(attDeriv(a, ns, local, v), attDeriv(b, ns, local, v))
    case PGroup(a, b) =>
      choice(group(attDeriv(a, ns, local, v), b), group(a, attDeriv(b, ns, local, v)))
    case POneOrMore(q) =>
      group(attDeriv(q, ns, local, v), choice(POneOrMore(q), PEmpty))
    case PAfter(a, b) => after(attDeriv(a, ns, local, v), b)
    case _ => PNotAllowed
  }

  private def startTagCloseDeriv(p: Pat): Pat = p match {
    case PAttribute(_, _) => PNotAllowed
    case PChoice(a, b) => choice(startTagCloseDeriv(a), startTagCloseDeriv(b))
    case PGroup(a, b) => group(startTagCloseDeriv(a), startTagCloseDeriv(b))
    case POneOrMore(q) => oneOrMore(startTagCloseDeriv(q))
    case PAfter(a, b) => after(startTagCloseDeriv(a), b)
    case other => other
  }

  private def endTagDeriv(p: Pat): Pat = p match {
    case PAfter(a, b) => if (a.nullable) b else PNotAllowed
    case PChoice(a, b) => choice(endTagDeriv(a), endTagDeriv(b))
    case _ => PNotAllowed
  }

  // ------------------------------------------------- document-side adapters

  val TeiNs = "http://www.tei-c.org/ns/1.0"
  val XmlNs = "http://www.w3.org/XML/1998/namespace"

  /** Attribute (ns, local) from a graft.dom attr name: unprefixed attrs are
    * in no namespace; xml: maps to the XML namespace. */
  private def attrQName(name: String): (String, String) = {
    if (name.startsWith("xml:")) (XmlNs, name.substring(4))
    else if (name == "xmlns" || name.startsWith("xmlns:")) (null, null) // ns decls: not attributes
    else (String.valueOf(""), name)
  }

  /** Validate an element against the pattern, derivative-style. Our DOM has
    * no namespaces: every element is taken to be in `elemNs` (the TEI
    * output is single-namespace, like the serializer emits it). */
  private def childDeriv(p: Pat, n: Node, elemNs: String): Pat = {
    var cur = startTagOpenDeriv(p, elemNs, n.tag)
    if (cur == PNotAllowed) return PNotAllowed
    if (n.hasAttrs) {
      n.attrs.foreachKV { (k, v) =>
        if (cur != PNotAllowed) {
          val (ns, local) = attrQName(k)
          if (local != null) cur = attDeriv(cur, ns, local, v)
        }
      }
      if (cur == PNotAllowed) return PNotAllowed
    }
    cur = startTagCloseDeriv(cur)
    if (cur == PNotAllowed) return PNotAllowed
    cur = childrenDeriv(cur, n, elemNs)
    if (cur == PNotAllowed) return PNotAllowed
    endTagDeriv(cur)
  }

  private def childrenDeriv(p: Pat, n: Node, elemNs: String): Pat = {
    val hasElems = n.children.nonEmpty
    if (!hasElems) {
      val s = if (n.text == null) "" else n.text
      val p1 = textDeriv(p, s)
      if (isWhitespace(s)) choice(p, p1) else p1
    } else {
      var cur = p
      def text(s: String): Unit =
        if (s != null && !isWhitespace(s) && cur != PNotAllowed) cur = textDeriv(cur, s)
      text(n.text)
      var i = 0
      while (i < n.children.length && cur != PNotAllowed) {
        val c = n.children(i)
        cur = childDeriv(cur, c, elemNs)
        text(c.tail)
        i += 1
      }
      cur
    }
  }

  /** A loaded schema: validate document roots against the start pattern. */
  final class Schema(start: Pat) {
    /** True iff the tree (rooted at an element) is valid; elements are
      * taken to be in `ns` (default: the TEI namespace). */
    def validate(root: Node, ns: String = TeiNs): Boolean =
      childDeriv(start, root, ns).nullable

    /** First failure located by re-deriving with a path trace (debug aid —
      * returns null when valid). */
    def explain(root: Node, ns: String = TeiNs): String = {
      var fail: String = null
      def walk(p: Pat, n: Node, path: String): Pat = {
        if (fail != null) return PNotAllowed
        var cur = startTagOpenDeriv(p, ns, n.tag)
        if (cur == PNotAllowed) { fail = s"$path: element <${n.tag}> not allowed here"; return PNotAllowed }
        if (n.hasAttrs) n.attrs.foreachKV { (k, v) =>
          if (cur != PNotAllowed) {
            val (ans, local) = attrQName(k)
            if (local != null) {
              val nxt = attDeriv(cur, ans, local, v)
              if (nxt == PNotAllowed && fail == null)
                fail = s"$path/<${n.tag}>: attribute $k=\"$v\" not allowed"
              cur = nxt
            }
          }
        }
        if (cur == PNotAllowed) return PNotAllowed
        cur = startTagCloseDeriv(cur)
        if (cur == PNotAllowed) {
          if (fail == null) fail = s"$path/<${n.tag}>: missing required attribute"
          return PNotAllowed
        }
        // children with per-child recursion for the trace
        val hasElems = n.children.nonEmpty
        if (!hasElems) {
          val str = if (n.text == null) "" else n.text
          val p1 = textDeriv(cur, str)
          cur = if (isWhitespace(str)) choice(cur, p1) else p1
          if (cur == PNotAllowed && fail == null)
            fail = s"$path/<${n.tag}>: text content not allowed"
        } else {
          def text(str: String): Unit =
            if (str != null && !isWhitespace(str) && cur != PNotAllowed) {
              val nxt = textDeriv(cur, str)
              if (nxt == PNotAllowed && fail == null)
                fail = s"$path/<${n.tag}>: mixed text not allowed"
              cur = nxt
            }
          text(n.text)
          var i = 0
          while (i < n.children.length && cur != PNotAllowed) {
            cur = walk(cur, n.children(i), s"$path/<${n.tag}>")
            text(n.children(i).tail)
            i += 1
          }
        }
        if (cur == PNotAllowed) return PNotAllowed
        val e = endTagDeriv(cur)
        if (e == PNotAllowed && fail == null)
          fail = s"$path/<${n.tag}>: incomplete content"
        e
      }
      val r = walk(start, root, "")
      if (fail == null && !r.nullable) fail = "document pattern not nullable at end"
      fail
    }
  }

  // ------------------------------------------------------------- RNG parsing

  private val RngNs = "http://relaxng.org/ns/structure/1.0"

  /** Parse a (full-syntax, single-grammar) RELAX NG schema from XML. */
  def parse(xml: java.io.InputStream): Schema = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder().parse(xml)
    val grammar = doc.getDocumentElement
    require(grammar.getLocalName == "grammar" && grammar.getNamespaceURI == RngNs,
      "expected a relaxng grammar root")

    import org.w3c.dom.{Element => E}
    def rngChildren(e: E): List[E] = {
      val out = scala.collection.mutable.ListBuffer.empty[E]
      var c = e.getFirstChild
      while (c != null) {
        c match {
          case ce: E if ce.getNamespaceURI == RngNs => out += ce
          case _ =>
        }
        c = c.getNextSibling
      }
      out.toList
    }

    // defines by name (bodies built lazily so recursion terminates)
    val defineElems = scala.collection.mutable.HashMap.empty[String, E]
    val defineCache = scala.collection.mutable.HashMap.empty[String, Pat]
    var startElem: E = null
    rngChildren(grammar).foreach { e =>
      e.getLocalName match {
        case "define" => defineElems(e.getAttribute("name")) = e
        case "start" => startElem = e
        case _ =>
      }
    }
    require(startElem != null, "no start pattern")

    /** Effective ns= for an element pattern (inherited). */
    def inheritedNs(e: E): String = {
      var cur: org.w3c.dom.Node = e
      while (cur != null) {
        cur match {
          case el: E if el.hasAttribute("ns") => return el.getAttribute("ns")
          case _ =>
        }
        cur = cur.getParentNode
      }
      ""
    }

    def resolveQName(e: E, raw: String, forAttribute: Boolean): (String, String) = {
      val t = raw.trim
      val colon = t.indexOf(':')
      if (colon > 0) {
        val prefix = t.substring(0, colon)
        val ns =
          if (prefix == "xml") XmlNs
          else {
            val uri = e.lookupNamespaceURI(prefix)
            if (uri == null) throw new IllegalStateException(s"unknown prefix $prefix")
            uri
          }
        (ns, t.substring(colon + 1))
      } else if (forAttribute) ("", t) // unprefixed attribute names: no namespace
      else (inheritedNs(e), t)
    }

    def parseNameClass(e: E, forAttribute: Boolean): NameClass = e.getLocalName match {
      case "name" => val (ns, l) = resolveQName(e, e.getTextContent, forAttribute); NcName(ns, l)
      case "anyName" =>
        val ex = rngChildren(e).find(_.getLocalName == "except")
          .map(x => nameClassOf(rngChildren(x), forAttribute))
        NcAnyName(ex)
      case "nsName" =>
        val ns = if (e.hasAttribute("ns")) e.getAttribute("ns") else inheritedNs(e)
        val ex = rngChildren(e).find(_.getLocalName == "except")
          .map(x => nameClassOf(rngChildren(x), forAttribute))
        NcNsName(ns, ex)
      case "choice" => nameClassOf(rngChildren(e), forAttribute)
      case other => throw new IllegalStateException(s"name class $other")
    }

    def nameClassOf(es: List[E], forAttribute: Boolean): NameClass =
      es.map(parseNameClass(_, forAttribute)).reduceLeft(NcChoice(_, _))

    def groupOf(es: List[E]): Pat = es match {
      case Nil => PEmpty
      case list => list.map(parsePattern).reduceLeft(group)
    }

    def choiceOf(es: List[E]): Pat = es match {
      case Nil => PNotAllowed
      case list => list.map(parsePattern).reduceLeft(choice)
    }

    def parsePattern(e: E): Pat = e.getLocalName match {
      case "empty" => PEmpty
      case "text" => PText
      case "data" => PData // params ignored (datatype-lenient)
      case "value" => PValue(e.getTextContent)
      case "list" => PList(groupOf(rngChildren(e)))
      case "optional" => choice(PEmpty, groupOf(rngChildren(e)))
      case "zeroOrMore" => choice(PEmpty, oneOrMore(groupOf(rngChildren(e))))
      case "oneOrMore" => oneOrMore(groupOf(rngChildren(e)))
      case "choice" => choiceOf(rngChildren(e))
      case "group" => groupOf(rngChildren(e))
      case "ref" =>
        val name = e.getAttribute("name")
        // hand-rolled (not getOrElseUpdate): parseDefine re-enters this map
        // for nested refs, and reentrant getOrElseUpdate on a mutable
        // HashMap is not safe. Recursion always passes through an element
        // pattern (a RELAX NG well-formedness rule), whose body is lazy.
        defineCache.get(name) match {
          case Some(p) => p
          case None =>
            val body = defineElems.getOrElse(name,
              throw new IllegalStateException(s"undefined ref $name"))
            val p = parseDefine(name, body)
            defineCache(name) = p
            p
        }
      case "element" =>
        val kids = rngChildren(e)
        val (nc, rest) =
          if (e.hasAttribute("name")) {
            val (ns, l) = resolveQName(e, e.getAttribute("name"), forAttribute = false)
            (NcName(ns, l), kids)
          } else (parseNameClass(kids.head, forAttribute = false), kids.tail)
        new PElement(nc, () => groupOf(rest))
      case "attribute" =>
        val kids = rngChildren(e)
        val (nc, rest) =
          if (e.hasAttribute("name")) {
            val (ns, l) = resolveQName(e, e.getAttribute("name"), forAttribute = true)
            (NcName(ns, l), kids)
          } else (parseNameClass(kids.head, forAttribute = true), kids.tail)
        val body = if (rest.isEmpty) PText else groupOf(rest)
        PAttribute(nc, body)
      case other => throw new IllegalStateException(s"pattern $other")
    }

    def parseDefine(name: String, body: E): Pat = {
      val kids = rngChildren(body)
      // if a define is exactly one element pattern, keep it lazy-bodied so
      // recursive content models terminate; otherwise defines in this schema
      // are non-recursive pattern groups
      kids match {
        case (single: E) :: Nil if single.getLocalName == "element" =>
          val p = parsePattern(single)
          defineCache(name) = p
          p
        case _ =>
          groupOf(kids)
      }
    }

    new Schema(groupOf(rngChildren(startElem)))
  }

  /** The TEI P5 schema loaded from the resource (built once per JVM). */
  lazy val teiSchema: Schema = {
    val in = new java.util.zip.GZIPInputStream(
      RelaxNg.getClass.getResourceAsStream("/graft/tei_schema.rng.gz"))
    try parse(in) finally in.close()
  }

  /** validate_tei (xml.py:189-200): RelaxNG validation of a TEI document tree
    * against the TEI P5 schema. */
  def validateTei(xmldoc: Node): Boolean = teiSchema.validate(xmldoc)
}
