package graft.select

import graft.dom.Node

/** Compiled predicate engine covering exactly the XPath subset the reference
  * uses (xpaths.py, external.py:34): tag-set membership plus attribute
  * equals / contains / starts-with / translate(case-fold) tests over
  * descendants. Each rule list below is a 1:1 transcription of the
  * corresponding xpaths.py rule (cited per value). */
object Selectors {

  type Pred = Node => Boolean

  /** One XPath expression: optional tag restriction + attribute predicate. */
  final case class Rule(tags: Set[String], pred: Pred) {
    // a String-typed hash set: Set1..Set4 compare through BoxesRunTime.equals,
    // and every rule runs on every node
    private val tagSet: java.util.Set[String] =
      if (tags == null) null else { val s = new java.util.HashSet[String]; tags.foreach(s.add); s }
    def matches(n: Node): Boolean = (tagSet == null || tagSet.contains(n.tag)) && pred(n)
  }

  @inline private def a(n: Node, attr: String): String = n.get(attr)
  /** contains(@attr, s) — false when the attribute is absent. */
  @inline def ac(n: Node, attr: String, s: String): Boolean = {
    val v = a(n, attr); v != null && v.contains(s)
  }
  /** starts-with(@attr, s). */
  @inline def asw(n: Node, attr: String, s: String): Boolean = {
    val v = a(n, attr); v != null && v.startsWith(s)
  }
  /** @attr = s. */
  @inline def aeq(n: Node, attr: String, s: String): Boolean = {
    val v = a(n, attr); v != null && v == s
  }
  /** contains(translate(@attr, FROM, to), s): per-char mapping then contains. */
  @inline def acT(n: Node, attr: String, from: String, to: String, s: String): Boolean = {
    val v = a(n, attr)
    v != null && translatedIndexOf(v, from, to, s, v.length) >= 0
  }
  /** starts-with(translate(@attr, FROM, to), s). */
  @inline def aswT(n: Node, attr: String, from: String, to: String, s: String): Boolean = {
    val v = a(n, attr)
    v != null && translatedIndexOf(v, from, to, s, 0) == 0
  }
  def translate(v: String, from: String, to: String): String = {
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      val idx = from.indexOf(c)
      if (idx >= 0) { if (idx < to.length) sb.append(to.charAt(idx)) }
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** `translate(v, from, to).indexOf(s)` if that is at most `maxStart`,
    * else -1, without building the translated string. A `to` shorter than
    * `from` deletes characters and shifts positions, so that case
    * translates first. */
  private[select] def translatedIndexOf(v: String, from: String, to: String, s: String,
      maxStart: Int): Int = {
    if (from.length > to.length) {
      val i = translate(v, from, to).indexOf(s)
      return if (i <= maxStart) i else -1
    }
    val last = math.min(maxStart, v.length - s.length)
    var i = 0
    while (i <= last) {
      var k = 0
      while (k < s.length && translated(v.charAt(i + k), from, to) == s.charAt(k)) k += 1
      if (k == s.length) return i
      i += 1
    }
    -1
  }

  /** One character through a non-deleting translate(…, from, to). */
  @inline private def translated(c: Char, from: String, to: String): Char = {
    val idx = from.indexOf(c)
    if (idx >= 0) to.charAt(idx) else c
  }

  /** All strict descendants matching the rule, document order (`.//…`). */
  def findAll(root: Node, rule: Rule): List[Node] = {
    // snapshot collected in one walk with a lazily-created buffer (most
    // rules match nothing on most documents) — the old full-list + filter
    // shape allocated two O(n) lists per rule per doc (allocation profile)
    var buf: scala.collection.mutable.ListBuffer[Node] = null
    root.foreachNode { n =>
      if ((n ne root) && rule.matches(n)) {
        if (buf == null) buf = new scala.collection.mutable.ListBuffer[Node]
        buf += n
      }
    }
    if (buf == null) Nil else buf.toList
  }

  def findAll(root: Node, rules: Seq[Rule]): List[Node] = {
    var buf: scala.collection.mutable.ListBuffer[Node] = null
    root.foreachNode { n =>
      if ((n ne root) && rules.exists(_.matches(n))) {
        if (buf == null) buf = new scala.collection.mutable.ListBuffer[Node]
        buf += n
      }
    }
    if (buf == null) Nil else buf.toList
  }

  /** First matching strict descendant in document order — equivalent to
    * `tree.xpath(expr)[0]` for every expr shape in xpaths.py (see SURVEY §2.2). */
  def first(root: Node, rule: Rule): Node = {
    val it = root.iterLazy(null)
    if (it.hasNext) it.next() // skip self
    while (it.hasNext) { val n = it.next(); if (rule.matches(n)) return n }
    null
  }

  private val DIVISH = Set("article", "div", "main", "section")
  private val DIVISH2 = Set("div", "item", "list", "p", "section", "span")

  // ------------------------------------------------------- BODY (xpaths.py:8-49)

  val bodyRules: List[Rule] = List(
    // rule 1 (xpaths.py:9-26)
    Rule(DIVISH, n =>
      aeq(n, "class", "post") || aeq(n, "class", "entry") ||
      ac(n, "class", "post-text") || ac(n, "class", "post_text") ||
      ac(n, "class", "post-body") || ac(n, "class", "post-entry") || ac(n, "class", "postentry") ||
      ac(n, "class", "post-content") || ac(n, "class", "post_content") ||
      ac(n, "class", "postcontent") || ac(n, "class", "postContent") ||
      ac(n, "class", "article-text") || ac(n, "class", "articletext") || ac(n, "class", "articleText") ||
      ac(n, "id", "entry-content") ||
      ac(n, "class", "entry-content") || ac(n, "id", "article-content") ||
      ac(n, "class", "article-content") || ac(n, "id", "article__content") ||
      ac(n, "class", "article__content") || ac(n, "id", "article-body") ||
      ac(n, "class", "article-body") || ac(n, "id", "article__body") ||
      ac(n, "class", "article__body") || aeq(n, "itemprop", "articleBody") ||
      acT(n, "id", "B", "b", "articlebody") ||
      acT(n, "class", "B", "b", "articleBody") || // as in source: can never match
      aeq(n, "id", "articleContent") || ac(n, "class", "ArticleContent") ||
      ac(n, "class", "page-content") || ac(n, "class", "text-content") ||
      ac(n, "id", "body-text") || ac(n, "class", "body-text") ||
      ac(n, "class", "article__container") || ac(n, "id", "art-content") || ac(n, "class", "art-content")),
    // rule 2 (xpaths.py:28)
    Rule(Set("article"), _ => true),
    // rule 3 (xpaths.py:29-41)
    Rule(DIVISH, n =>
      ac(n, "class", "post-bodycopy") ||
      ac(n, "class", "storycontent") || ac(n, "class", "story-content") ||
      aeq(n, "class", "postarea") || aeq(n, "class", "art-postcontent") ||
      ac(n, "class", "theme-content") || ac(n, "class", "blog-content") ||
      ac(n, "class", "section-content") || ac(n, "class", "single-content") ||
      ac(n, "class", "single-post") ||
      ac(n, "class", "main-column") || ac(n, "class", "wpb_text_column") ||
      asw(n, "id", "primary") || asw(n, "class", "article ") || aeq(n, "class", "text") ||
      aeq(n, "id", "article") || aeq(n, "class", "cell") || aeq(n, "id", "story") || aeq(n, "class", "story") ||
      ac(n, "class", "story-body") || ac(n, "class", "field-body") ||
      acT(n, "class", "FULTEX", "fultex", "fulltext") ||
      aeq(n, "role", "article")),
    // rule 4 (xpaths.py:42-47)
    Rule(DIVISH, n =>
      ac(n, "id", "content-main") || ac(n, "class", "content-main") || ac(n, "class", "content_main") ||
      ac(n, "id", "content-body") || ac(n, "class", "content-body") || ac(n, "id", "contentBody") ||
      ac(n, "class", "content__body") || acT(n, "id", "CM", "cm", "main-content") ||
      acT(n, "class", "CM", "cm", "main-content") ||
      acT(n, "class", "CP", "cp", "page-content") ||
      aeq(n, "id", "content") || aeq(n, "class", "content")),
    // rule 5 (xpaths.py:48): union with (.//main)[1]
    Rule(null, n =>
      (Set("article", "div", "section").contains(n.tag) &&
        (asw(n, "class", "main") || asw(n, "id", "main") || asw(n, "role", "main"))) ||
      n.tag == "main")
  )

  // --------------------------------------------------- COMMENTS (xpaths.py:61-73)

  val commentsRules: List[Rule] = List(
    Rule(Set("div", "list", "section"), n =>
      ac(n, "id", "commentlist") || ac(n, "class", "commentlist") || ac(n, "class", "comment-page") ||
      ac(n, "id", "comment-list") || ac(n, "class", "comments-list") ||
      ac(n, "class", "comments-content") || ac(n, "class", "post-comments")),
    Rule(Set("div", "section", "list"), n =>
      asw(n, "id", "comments") || asw(n, "class", "comments") || asw(n, "class", "Comments") ||
      asw(n, "id", "comment-") || asw(n, "class", "comment-") || ac(n, "class", "article-comments")),
    Rule(Set("div", "section", "list"), n =>
      asw(n, "id", "comol") || asw(n, "id", "disqus_thread") || asw(n, "id", "dsq-comments")),
    Rule(Set("div", "section"), n =>
      asw(n, "id", "social") || ac(n, "class", "comment"))
  )

  // ------------------------------------------ REMOVE_COMMENTS (xpaths.py:77-85)

  val removeCommentsRules: List[Rule] = List(
    Rule(Set("div", "list", "section"), n =>
      aswT(n, "id", "C", "c", "comment") || aswT(n, "class", "C", "c", "comment") ||
      ac(n, "class", "article-comments") || ac(n, "class", "post-comments") ||
      asw(n, "id", "comol") || asw(n, "id", "disqus_thread") || asw(n, "id", "dsq-comments"))
  )

  // ------------------------------------------ PAYWALL_DISCARD (xpaths.py:90-97)

  val paywallDiscardRules: List[Rule] = List(
    Rule(Set("div", "p"), n =>
      ac(n, "id", "paywall") || ac(n, "id", "premium") ||
      ac(n, "class", "paid-content") || ac(n, "class", "paidcontent") ||
      ac(n, "class", "obfuscated") || ac(n, "class", "blurred") ||
      ac(n, "class", "restricted") || ac(n, "class", "overlay"))
  )

  // ----------------------------------------- OVERALL_DISCARD (xpaths.py:100-158)

  val overallDiscardRules: List[Rule] = List(
    Rule(DIVISH2, n =>
      acT(n, "id", "F", "f", "footer") || acT(n, "class", "F", "f", "footer") ||
      ac(n, "id", "related") || acT(n, "class", "R", "r", "related") ||
      ac(n, "id", "viral") || ac(n, "class", "viral") ||
      asw(n, "id", "shar") || asw(n, "class", "shar") ||
      ac(n, "class", "share-") ||
      acT(n, "id", "S", "s", "share") ||
      ac(n, "id", "social") || ac(n, "class", "social") || ac(n, "class", "sociable") ||
      ac(n, "id", "syndication") || ac(n, "class", "syndication") ||
      asw(n, "id", "jp-") || asw(n, "id", "dpsp-content") ||
      ac(n, "class", "embedded") || ac(n, "class", "embed") ||
      ac(n, "id", "newsletter") || ac(n, "class", "newsletter") ||
      ac(n, "class", "subnav") ||
      ac(n, "id", "cookie") || ac(n, "class", "cookie") || ac(n, "id", "tags") ||
      ac(n, "class", "tags") || ac(n, "id", "sidebar") ||
      ac(n, "class", "sidebar") || ac(n, "id", "banner") || ac(n, "class", "banner") ||
      ac(n, "class", "meta") ||
      ac(n, "id", "menu") || ac(n, "class", "menu") ||
      acT(n, "id", "N", "n", "nav") || acT(n, "role", "N", "n", "nav") ||
      asw(n, "class", "nav") || acT(n, "class", "N", "n", "navigation") ||
      ac(n, "class", "navbar") || ac(n, "class", "navbox") || asw(n, "class", "post-nav") ||
      ac(n, "id", "breadcrumb") || ac(n, "class", "breadcrumb") ||
      ac(n, "id", "bread-crumb") || ac(n, "class", "bread-crumb") ||
      ac(n, "id", "author") || ac(n, "class", "author") ||
      ac(n, "id", "button") || ac(n, "class", "button") ||
      acT(n, "class", "B", "b", "byline") ||
      ac(n, "class", "rating") || asw(n, "class", "widget") ||
      ac(n, "class", "attachment") || ac(n, "class", "timestamp") ||
      ac(n, "class", "user-info") || ac(n, "class", "user-profile") ||
      ac(n, "class", "-ad-") || ac(n, "class", "-icon") ||
      ac(n, "class", "article-infos") ||
      acT(n, "class", "I", "i", "infoline") ||
      ac(n, "data-component", "MostPopularStories") ||
      ac(n, "class", "outbrain") || ac(n, "class", "taboola") ||
      ac(n, "class", "criteo") || ac(n, "class", "options") ||
      ac(n, "class", "consent") || ac(n, "class", "modal-content") ||
      ac(n, "class", "paid-content") || ac(n, "class", "paidcontent") ||
      ac(n, "id", "premium-") || ac(n, "id", "paywall") ||
      ac(n, "class", "obfuscated") || ac(n, "class", "blurred") ||
      ac(n, "class", " ad ") ||
      ac(n, "class", "next-post") ||
      ac(n, "class", "message-container") || ac(n, "id", "message_container") ||
      ac(n, "class", "yin") || ac(n, "class", "zlylin") ||
      ac(n, "class", "xg1") || ac(n, "id", "bmdh") ||
      n.has("data-lp-replacement-content")),
    Rule(null, n =>
      aeq(n, "class", "comments-title") || ac(n, "class", "comments-title") ||
      ac(n, "class", "nocomments") || asw(n, "id", "reply-") || asw(n, "class", "reply-") ||
      ac(n, "class", "-reply-") || ac(n, "class", "message") ||
      ac(n, "id", "akismet") || ac(n, "class", "akismet") ||
      asw(n, "class", "hide-") || ac(n, "class", "hide-print") || ac(n, "id", "hidden") ||
      ac(n, "style", "hidden") || ac(n, "hidden", "hidden") || ac(n, "class", "noprint") ||
      ac(n, "style", "display:none") || ac(n, "class", " hidden") || aeq(n, "aria-hidden", "true") ||
      ac(n, "class", "notloaded"))
  )

  // ---------------------------------------- TEASER_DISCARD (xpaths.py:169-174)

  val teaserDiscardRules: List[Rule] = List(
    Rule(DIVISH2, n =>
      acT(n, "id", "T", "t", "teaser") || acT(n, "class", "T", "t", "teaser"))
  )

  // ------------------------------------- PRECISION_DISCARD (xpaths.py:177-185)

  val precisionDiscardRules: List[Rule] = List(
    Rule(Set("header"), _ => true),
    Rule(DIVISH2, n =>
      ac(n, "id", "bottom") || ac(n, "class", "bottom") ||
      ac(n, "id", "link") || ac(n, "class", "link") ||
      ac(n, "style", "border"))
  )

  // -------------------------------- DISCARD_IMAGE_ELEMENTS (xpaths.py:188-194)

  val discardImageRules: List[Rule] = List(
    Rule(DIVISH2, n => ac(n, "id", "caption") || ac(n, "class", "caption"))
  )

  // ---------------------------------- COMMENTS_DISCARD (xpaths.py:197-205)

  val commentsDiscardRules: List[Rule] = List(
    Rule(Set("div", "section"), n => asw(n, "id", "respond")),
    Rule(Set("cite", "quote"), _ => true),
    Rule(null, n =>
      aeq(n, "class", "comments-title") || ac(n, "class", "comments-title") ||
      ac(n, "class", "nocomments") || asw(n, "id", "reply-") ||
      asw(n, "class", "reply-") || ac(n, "class", "-reply-") || ac(n, "class", "message") ||
      ac(n, "class", "signin") ||
      ac(n, "id", "akismet") || ac(n, "class", "akismet") || ac(n, "style", "display:none"))
  )

  // ---------------------------------------- SANITIZED_XPATH (external.py:34)

  val sanitizedTags: Set[String] = Set(
    "aside", "audio", "button", "fieldset", "figure", "footer", "iframe",
    "input", "label", "link", "nav", "noindex", "noscript", "object",
    "option", "select", "source", "svg", "time")
}
