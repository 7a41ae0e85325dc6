package graft.meta

import graft.clean.Cleaner
import graft.dom.Node
import graft.parse.Entities
import graft.select.Selectors
import graft.select.Selectors.Rule
import graft.text.{Re, TextUtils}
import graft.text.TextUtils.trim

import java.util.regex.Pattern

/** Document metadata record (metadata.py:26-78 `Document` slots). */
final case class DocMeta(
    title: String = null, author: String = null, url: String = null,
    hostname: String = null, description: String = null, sitename: String = null,
    date: String = null, categories: List[String] = Nil, tags: List[String] = Nil,
    fingerprint: String = null, id: String = null, license: String = null,
    language: String = null, image: String = null, pagetype: String = null)

/** Metadata cascade (metadata.py:146-575), scoped to the meta-tag, OpenGraph,
  * title/author-XPath, canonical-URL, license and sitename paths. JSON-LD
  * parsing is a follow-up (metadata.py:146-157). */
object Metadata {
  private val TagMeta = Set("meta")
  private val TagLink = Set("link")
  private val TagScript = Set("script")

  private val MetanameAuthor = Set(
    "article:author", "atc-metaauthor", "author", "authors", "byl", "citation_author",
    "creator", "dc.creator", "dc.creator.aut", "dc:creator",
    "dcterms.creator", "dcterms.creator.aut", "dcsext.author", "parsely-author",
    "rbauthors", "sailthru.author", "shareaholic:article_author_name")
  private val MetanameDescription = Set(
    "dc.description", "dc:description", "dcterms.abstract", "dcterms.description",
    "description", "sailthru.description", "twitter:description")
  private val MetanamePublisher = Set(
    "article:publisher", "citation_journal_title", "copyright",
    "dc.publisher", "dc:publisher", "dcterms.publisher",
    "publisher", "sailthru.publisher", "rbpubname", "twitter:site")
  private val MetanameTag = Set(
    "citation_keywords", "dcterms.subject", "keywords", "parsely-tags",
    "shareaholic:keywords", "tags")
  private val MetanameTitle = Set(
    "citation_title", "dc.title", "dcterms.title", "fb_title",
    "headline", "parsely-title", "sailthru.title", "shareaholic:title",
    "rbtitle", "title", "twitter:title")
  private val MetanameImage = Set(
    "image", "og:image", "og:image:url", "og:image:secure_url",
    "twitter:image", "twitter:image:src")
  private val OgAuthor = Set("og:author", "og:article:author")
  private val PropertyAuthor = Set("author", "article:author")
  private val TwitterAttrs = Set("twitter:site", "application-name")
  private val ExtraMeta = Set("charset", "http-equiv", "property")

  private val HtmlStripTag = Pattern.compile("(<!--.*?-->|<[^>]*>)")
  private val HtmlTitleRegex = Pattern.compile("^(.+)?\\s+[–•·—|⁄*⋆~‹«<›»>:-]\\s+(.+)$")
  private val CleanMetaTags = Pattern.compile("[\"']")
  private val LicenseRegex = Pattern.compile("/(by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero)/([1-9]\\.[0-9])")
  private val TextLicenseRegex = Pattern.compile("(?i)(cc|creative commons) (by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero) ?([1-9]\\.[0-9])?")

  // ----------------------------------------------------------- author helpers

  private val AuthorPrefix = Pattern.compile("(?iU)^([a-zäöüß]+(ed|t))? ?(written by|words by|words|by|von|from) ")
  private val AuthorRemoveNumbers = Pattern.compile("\\d.+?$")
  // Python \w = [\p{L}\p{N}_]; Java's (?U)\w additionally matches combining
  // marks (e.g. U+FE0F), which would survive the cleanup incorrectly
  private val AuthorTwitter = Pattern.compile("@[\\p{L}\\p{N}_]+")
  private val AuthorReplaceJoin = Pattern.compile("[._+]")
  private val AuthorRemoveNickname = Pattern.compile("[\"‘({\\[’'][^\"]+?[‘’\"')\\]}]")
  private val AuthorRemoveSpecial = Pattern.compile("[^\\p{L}\\p{N}_]+$|[:()?*$#!%/<>{}~¿]")
  private val AuthorRemovePreposition = Pattern.compile("(?iU)\\b\\s+(am|on|for|at|in|to|from|of|via|with|—|-|–)\\s+(.*)")
  private val AuthorEmail = Pattern.compile("\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b")
  private val AuthorSplit = Pattern.compile("(?iU)/|;|,|\\||&|(?:^|\\W)[u|a]nd(?:$|\\W)")
  private val AuthorEmoji = Pattern.compile(
    "[\\x{2700}-\\x{27BF}\\x{1F600}-\\x{1F64F}\\x{2600}-\\x{26FF}\\x{1F300}-\\x{1F5FF}" +
      "\\x{1F900}-\\x{1F9FF}\\x{1FA70}-\\x{1FAFF}\\x{1F680}-\\x{1F6FF}]+")
  private val AuthorRemoveHtml = Pattern.compile("<[^>]+>")

  private def pyTitleCase(s: String): String = {
    val sb = new StringBuilder
    var prevLetter = false
    s.foreach { c =>
      if (Character.isLetter(c)) {
        sb.append(if (!prevLetter) Character.toUpperCase(c) else Character.toLowerCase(c))
        prevLetter = true
      } else { sb.append(c); prevLetter = false }
    }
    sb.toString
  }

  /** normalize_authors (utils.py:306-350). */
  def normalizeAuthors(currentAuthors: String, authorStringIn: String): String = {
    var authorString = authorStringIn
    if (authorString.toLowerCase.startsWith("http") ||
      Re.m(AuthorEmail, authorString).lookingAt()) return currentAuthors
    var newAuthors = scala.collection.mutable.ListBuffer.empty[String]
    if (currentAuthors != null) newAuthors ++= currentAuthors.split("; ")
    if (authorString.contains("&#") || authorString.contains("&amp;"))
      authorString = Entities.unescape(authorString)
    authorString = Re.m(AuthorRemoveHtml, authorString).replaceAll("")
    AuthorSplit.split(authorString).foreach { a0 =>
      var author = trim(a0)
      if (author != null) {
        author = Re.m(AuthorEmoji, author).replaceAll("")
        author = Re.m(AuthorTwitter, author).replaceAll("")
        author = Option(trim(Re.m(AuthorReplaceJoin, author).replaceAll(" "))).getOrElse("")
        author = Re.m(AuthorRemoveNickname, author).replaceAll("")
        author = Re.m(AuthorRemoveSpecial, author).replaceAll("")
        author = Re.m(AuthorPrefix, author).replaceFirst("")
        author = Re.m(AuthorRemoveNumbers, author).replaceAll("")
        author = Re.m(AuthorRemovePreposition, author).replaceAll("")
        val skip = author.isEmpty ||
          (!author.contains(" ") && !author.contains("-") && author.length >= 50)
        if (!skip) {
          if (!Character.isUpperCase(author.charAt(0)) || !author.exists(Character.isUpperCase))
            author = pyTitleCase(author)
          val candidate = author
          if (!newAuthors.contains(candidate) &&
            (newAuthors.isEmpty || newAuthors.forall(na => !candidate.contains(na))))
            newAuthors += candidate
        }
      }
    }
    if (newAuthors.isEmpty) return currentAuthors
    // Python .strip('; '): strip any run of ';'/' ' chars from both ends
    val joined = newAuthors.mkString("; ")
    var a = 0
    var b = joined.length
    while (a < b && (joined.charAt(a) == ';' || joined.charAt(a) == ' ')) a += 1
    while (b > a && (joined.charAt(b - 1) == ';' || joined.charAt(b - 1) == ' ')) b -= 1
    joined.substring(a, b)
  }

  // -------------------------------------------------------------- title xpaths

  private val titleRules: List[Rule] = List(
    Rule(Set("h1", "h2"), n =>
      Selectors.ac(n, "class", "post-title") || Selectors.ac(n, "class", "entry-title") ||
      Selectors.ac(n, "class", "headline") || Selectors.ac(n, "id", "headline") ||
      Selectors.ac(n, "itemprop", "headline") || Selectors.ac(n, "class", "post__title") ||
      Selectors.ac(n, "class", "article-title")),
    Rule(null, n => Selectors.aeq(n, "class", "entry-title") || Selectors.aeq(n, "class", "post-title")),
    Rule(Set("h1", "h2", "h3"), n =>
      Selectors.ac(n, "class", "title") || Selectors.ac(n, "id", "title"))
  )

  private val AuthorTags = Set("a", "address", "div", "link", "p", "span", "strong")

  private val authorRules: List[Rule] = List(
    Rule(null, n =>
      (AuthorTags.contains(n.tag) &&
        (Selectors.aeq(n, "rel", "author") || Selectors.aeq(n, "id", "author") ||
          Selectors.aeq(n, "class", "author") || Selectors.aeq(n, "itemprop", "author name") ||
          Selectors.ac(n, "class", "author-name") || Selectors.ac(n, "class", "AuthorName") ||
          Selectors.ac(n, "class", "authorName") || Selectors.ac(n, "class", "author name"))) ||
      n.tag == "author"),
    Rule(Set("a", "div", "h3", "h4", "p", "span"), n =>
      Selectors.ac(n, "class", "author") || Selectors.ac(n, "id", "author") ||
      Selectors.ac(n, "itemprop", "author") || Selectors.aeq(n, "class", "byline") ||
      Selectors.ac(n, "id", "zuozhe") || Selectors.ac(n, "class", "zuozhe") ||
      Selectors.ac(n, "id", "bianji") || Selectors.ac(n, "class", "bianji") ||
      Selectors.ac(n, "id", "xiaobian") || Selectors.ac(n, "class", "xiaobian") ||
      Selectors.ac(n, "class", "submitted-by") || Selectors.ac(n, "class", "posted-by") ||
      Selectors.aeq(n, "class", "username") || Selectors.aeq(n, "class", "BBL") ||
      Selectors.ac(n, "class", "journalist-name")),
    Rule(null, n =>
      Selectors.acT(n, "id", "A", "a", "author") || Selectors.acT(n, "class", "A", "a", "author") ||
      Selectors.ac(n, "class", "screenname") || Selectors.ac(n, "data-component", "Byline") ||
      Selectors.ac(n, "itemprop", "author") || Selectors.ac(n, "class", "writer") ||
      Selectors.acT(n, "class", "B", "b", "byline"))
  )

  private val authorDiscardRules: List[Rule] = List(
    Rule(Set("a", "div", "section", "span"), n =>
      Selectors.aeq(n, "id", "comments") || Selectors.aeq(n, "class", "comments") ||
      Selectors.aeq(n, "class", "title") || Selectors.aeq(n, "class", "date") ||
      Selectors.ac(n, "id", "commentlist") || Selectors.ac(n, "class", "commentlist") ||
      Selectors.ac(n, "class", "sidebar") || Selectors.ac(n, "class", "is-hidden") ||
      Selectors.ac(n, "class", "quote") ||
      Selectors.ac(n, "id", "comment-list") || Selectors.ac(n, "class", "comments-list") ||
      Selectors.ac(n, "class", "embedly-instagram") || Selectors.ac(n, "id", "ProductReviews") ||
      Selectors.asw(n, "id", "comments") || Selectors.ac(n, "data-component", "Figure") ||
      Selectors.ac(n, "class", "article-share") || Selectors.ac(n, "class", "article-support") ||
      Selectors.ac(n, "class", "print") || Selectors.ac(n, "class", "category") ||
      Selectors.ac(n, "class", "meta-date") || Selectors.ac(n, "class", "meta-reviewer") ||
      Selectors.asw(n, "class", "comments") || Selectors.asw(n, "class", "Comments")),
    Rule(Set("time", "figure"), _ => true)
  )

  private val CategoryClassPrefixes = Array("post-info", "postinfo", "post-meta", "postmeta",
    "meta", "entry-meta", "entry-info", "entry-utility")

  // arrays: extractCatstags tests every rule on every node by index
  private val categoriesRules: Array[Rule] = Array(
    Rule(Set("div"), n => CategoryClassPrefixes.exists(p => Selectors.asw(n, "class", p)) ||
      Selectors.asw(n, "id", "postpath")),
    Rule(Set("p"), n => Selectors.asw(n, "class", "postmeta") || Selectors.asw(n, "class", "entry-categories") ||
      Selectors.aeq(n, "class", "postinfo") || Selectors.aeq(n, "id", "filedunder")),
    Rule(Set("footer"), n => Selectors.asw(n, "class", "entry-meta") || Selectors.asw(n, "class", "entry-footer")),
    Rule(Set("li", "span"), n => Selectors.aeq(n, "class", "post-category") || Selectors.aeq(n, "class", "postcategory") ||
      Selectors.aeq(n, "class", "entry-category") || Selectors.ac(n, "class", "cat-links")),
    Rule(Set("header"), n => Selectors.aeq(n, "class", "entry-header")),
    Rule(Set("div"), n => Selectors.aeq(n, "class", "row") || Selectors.aeq(n, "class", "tags"))
  )

  private val tagsRules: Array[Rule] = Array(
    Rule(Set("div"), n => Selectors.aeq(n, "class", "tags")),
    Rule(Set("p"), n => Selectors.asw(n, "class", "entry-tags")),
    Rule(Set("div"), n => Selectors.aeq(n, "class", "row") || Selectors.aeq(n, "class", "jp-relatedposts") ||
      Selectors.aeq(n, "class", "entry-utility") || Selectors.asw(n, "class", "tag") ||
      Selectors.asw(n, "class", "postmeta") || Selectors.asw(n, "class", "meta")),
    Rule(null, n => Selectors.aeq(n, "class", "entry-meta") || Selectors.ac(n, "class", "topics") ||
      Selectors.ac(n, "class", "tags-links"))
  )

  // ----------------------------------------------------------------- helpers

  private def headMetas(tree: Node): List[Node] = {
    val heads = tree.iterList(Set("head"))
    heads.flatMap(_.descendants(TagMeta))
  }

  private def normalizeTags(tags: String): String = {
    val t = Re.m(CleanMetaTags, trim(Entities.unescape(tags))).replaceAll("")
    t.split(", ").filter(_.nonEmpty).mkString(", ")
  }

  def validateUrl(url: String): Boolean =
    url != null && (url.startsWith("http://") || url.startsWith("https://")) && url.length > 10 &&
      url.contains(".")

  def extractDomain(url: String): String = {
    try {
      val u = new java.net.URI(url)
      var h = u.getHost
      if (h == null) return null
      if (h.startsWith("www.")) h = h.substring(4)
      h
    } catch { case _: Exception => null }
  }

  // ---------------------------------------------------------------- pipeline

  /** extract_opengraph (metadata.py:160-199). */
  def extractOpengraph(tree: Node): DocMeta = {
    var m = DocMeta()
    headMetas(tree).foreach { elem =>
      val content = elem.get("content")
      val prop = elem.get("property")
      if (prop != null && prop.startsWith("og:") && content != null && content.nonEmpty) {
        prop match {
          case "og:site_name" => m = m.copy(sitename = content)
          case "og:title" => m = m.copy(title = content)
          case "og:url" => if (validateUrl(content)) m = m.copy(url = content)
          case "og:description" => m = m.copy(description = content)
          case p if OgAuthor.contains(p) => m = m.copy(author = normalizeAuthors(null, content))
          case "og:image" | "og:image:url" | "og:image:secure_url" => m = m.copy(image = content)
          case "og:type" => m = m.copy(pagetype = content)
          case _ =>
        }
      }
    }
    m
  }

  /** examine_meta (metadata.py:202-281). */
  def examineMeta(tree: Node): DocMeta = {
    val og = extractOpengraph(tree)
    if (og.title != null && og.author != null && og.url != null && og.description != null &&
      og.sitename != null && og.image != null) return og
    var (title, author, url, description, siteName, image, pagetype) =
      (og.title, og.author, og.url, og.description, og.sitename, og.image, og.pagetype)
    var tags = List.empty[String]
    var backupSitename: String = null
    headMetas(tree).foreach { elem =>
      val rawContent = elem.get("content")
      if (rawContent != null && rawContent.nonEmpty) {
        val contentAttr =
          if (rawContent.indexOf('<') < 0) rawContent
          else Re.m(HtmlStripTag, rawContent).replaceAll("")
        if (elem.has("property")) {
          val prop = elem.get("property")
          if (!prop.startsWith("og:")) {
            if (prop == "article:tag") tags = tags :+ normalizeTags(contentAttr)
            else if (PropertyAuthor.contains(prop)) author = normalizeAuthors(author, contentAttr)
            else if (prop == "article:publisher") { if (siteName == null) siteName = contentAttr }
            else if (MetanameImage.contains(prop)) { if (image == null) image = contentAttr }
          }
        } else if (elem.has("name")) {
          val nameAttr = elem.get("name").toLowerCase
          if (MetanameAuthor.contains(nameAttr)) author = normalizeAuthors(author, contentAttr)
          else if (MetanameTitle.contains(nameAttr)) { if (title == null) title = contentAttr }
          else if (MetanameDescription.contains(nameAttr)) { if (description == null) description = contentAttr }
          else if (MetanamePublisher.contains(nameAttr)) { if (siteName == null) siteName = contentAttr }
          else if (TwitterAttrs.contains(nameAttr) || elem.get("name").contains("twitter:app:name"))
            backupSitename = contentAttr
          else if (nameAttr == "twitter:url") { if (url == null && validateUrl(contentAttr)) url = contentAttr }
          else if (MetanameTag.contains(nameAttr)) tags = tags :+ normalizeTags(contentAttr)
        } else if (elem.has("itemprop")) {
          elem.get("itemprop") match {
            case "author" => author = normalizeAuthors(author, contentAttr)
            case "description" => if (description == null) description = contentAttr
            case "headline" => if (title == null) title = contentAttr
            case _ =>
          }
        }
      }
    }
    if (siteName == null && backupSitename != null) siteName = backupSitename
    DocMeta(title = title, author = author, url = url, description = description,
      sitename = siteName, image = image, pagetype = pagetype, tags = tags.filter(_.nonEmpty))
  }

  /** extract_metainfo (metadata.py:284-297). */
  def extractMetainfo(tree: Node, rules: Seq[Rule], lenLimit: Int = 200): String = {
    rules.foreach { rule =>
      // document-root `//` axis
      val matches = tree.iterList(null).filter(n => (n ne tree) && rule.matches(n))
      matches.foreach { elem =>
        val content = trim(elem.itertext.mkString(" "))
        if (content != null && content.length > 2 && content.length < lenLimit) return content
      }
    }
    null
  }

  /** examine_title_element (metadata.py:300-311). */
  def examineTitleElement(tree: Node): (String, String, String) = {
    val titleElem = tree.iterList(Set("head")).flatMap(_.descendants(Set("title"))).headOption.orNull
    if (titleElem == null) return (null, null, null)
    val title = trim(titleElem.textContent)
    if (title == null) return (null, null, null)
    val m = Re.m(HtmlTitleRegex, title)
    if (m.matches()) (title, m.group(1), m.group(2)) else (title, null, null)
  }

  /** extract_title (metadata.py:314-340). */
  def extractTitle(tree: Node): String = {
    val h1s = tree.iterList(Set("h1"))
    if (h1s.length == 1) {
      val t = trim(h1s.head.textContent)
      if (t != null && t.nonEmpty) return t
    }
    val t2 = extractMetainfo(tree, titleRules)
    if (t2 != null) return t2
    val (_, first, second) = examineTitleElement(tree)
    if (first != null && !first.contains(".")) return first
    if (second != null && !second.contains(".")) return second
    if (h1s.nonEmpty) return h1s.head.textContent
    val h2s = tree.iterList(Set("h2"))
    if (h2s.nonEmpty) return h2s.head.textContent
    examineTitleElement(tree)._1
  }

  /** extract_author (metadata.py:343-350). */
  def extractAuthor(tree: Node): String = {
    val subtree = Cleaner.pruneUnwantedNodes(tree.deepCopy, authorDiscardRules)
    val author = extractMetainfo(subtree, authorRules, lenLimit = 120)
    if (author != null) normalizeAuthors(null, author) else null
  }

  /** extract_url (metadata.py:353-386). */
  def extractUrl(tree: Node, defaultUrl: String): String = {
    var url: String = null
    val heads = tree.iterList(Set("head"))
    val links = heads.flatMap(_.descendants(TagLink))
    links.find(l => l.get("rel") == "canonical" && l.get("href") != null)
      .foreach(l => url = l.get("href"))
    if (url == null)
      links.find(l => l.get("rel") == "alternate" && l.get("hreflang") == "x-default" && l.get("href") != null)
        .foreach(l => url = l.get("href"))
    if (url != null && url.startsWith("/")) {
      headMetas(tree).iterator
        .filter(e => e.get("content") != null)
        .flatMap { e =>
          val attrtype = if (e.has("name")) e.get("name") else if (e.has("property")) e.get("property") else null
          if (attrtype != null && (attrtype.startsWith("og:") || attrtype.startsWith("twitter:")))
            Option(Cleaner.getBaseUrl(e.get("content")))
          else None
        }.nextOption().foreach(base => url = base + url)
    }
    if (url != null && validateUrl(url)) url else defaultUrl
  }

  /** extract_sitename (metadata.py:389-396). */
  def extractSitename(tree: Node): String = {
    val (_, first, second) = examineTitleElement(tree)
    if (first != null && first.contains(".")) return first
    if (second != null && second.contains(".")) return second
    null
  }

  /** extract_catstags (metadata.py:399-422). */
  private val CategoryHrefRegex = Pattern.compile("/category[s|ies]?/")
  private val TagHrefRegex = Pattern.compile("/tag[s|ies]?/")
  private val TagAnchor = Set("a")

  def extractCatstags(metatype: String, tree: Node): List[String] = {
    val regex = if (metatype == "category") CategoryHrefRegex else TagHrefRegex
    val rules = if (metatype == "category") categoriesRules else tagsRules
    var results = List.empty[String]
    // one walk: bucket matching containers per rule index (buckets created
    // lazily — most rules match nothing), then first rule (in order) with
    // qualifying links wins
    val buckets = new Array[scala.collection.mutable.ListBuffer[graft.dom.Node]](rules.length)
    tree.foreachNode { n =>
      if (n ne tree) {
        var i = 0
        while (i < rules.length) {
          if (rules(i).matches(n)) {
            if (buckets(i) == null) buckets(i) = new scala.collection.mutable.ListBuffer
            buckets(i) += n
          }
          i += 1
        }
      }
    }
    var bi = 0
    while (bi < buckets.length && results.isEmpty) {
      val containers = if (buckets(bi) == null) Nil else buckets(bi).toList
      results = containers.flatMap(_.descendants(TagAnchor))
        .filter(a => a.get("href") != null && Re.m(regex, a.get("href")).find())
        .map(_.textContent)
      bi += 1
    }
    if (metatype == "category" && results.isEmpty) {
      results = headMetas(tree).filter { e =>
        (e.get("property") == "article:section" ||
          (e.get("name") != null && e.get("name").contains("subject"))) && e.get("content") != null
      }.map(_.get("content"))
    }
    TextUtils.uniquify(results.map(TextUtils.lineProcessing).filter(_ != null))
  }

  /** parse_license_element + extract_license (metadata.py:425-459). */
  def extractLicense(tree: Node): String = {
    def parseLicense(element: Node, strict: Boolean): String = {
      val href = element.get("href")
      if (href != null) {
        val m = Re.m(LicenseRegex, href)
        if (m.find()) return "CC " + m.group(1).toUpperCase + " " + m.group(2)
      }
      if (element.text != null) {
        if (!strict) return trim(element.text)
        val m = Re.m(TextLicenseRegex, element.text)
        if (m.find()) return m.group(0)
      }
      null
    }
    tree.descendants(Set("a")).foreach { a =>
      if (a.get("rel") == "license" && a.get("href") != null) {
        val r = parseLicense(a, strict = false)
        if (r != null) return r
      }
    }
    // probe footer elements
    val footerAnchors =
      tree.iterList(Set("footer")).flatMap(_.descendants(Set("a"))) ++
        tree.iterList(Set("div")).filter(d =>
          Selectors.ac(d, "class", "footer") || Selectors.ac(d, "id", "footer"))
          .flatMap(_.descendants(Set("a")))
    footerAnchors.foreach { a =>
      if (a.get("href") != null) {
        val r = parseLicense(a, strict = true)
        if (r != null) return r
      }
    }
    null
  }

  /** Minimal date extraction (htmldate subset: meta tags + time@datetime +
    * URL date pattern; metadata.py:527-535 delegates to the external pkg). */
  private val IsoDate = Pattern.compile("(\\d{4})-(\\d{2})-(\\d{2})")
  def extractDate(tree: Node, url: String): String = {
    val metaDates = headMetas(tree).filter { e =>
      val key = List(e.get("property"), e.get("name"), e.get("itemprop"))
        .find(_ != null).getOrElse("").toLowerCase
      key.contains("date") || key.contains("published_time") ||
        key.contains("modified_time") || key == "og:updated_time"
    }
    metaDates.foreach { e =>
      val c = e.get("content")
      if (c != null) { val m = IsoDate.matcher(c); if (m.find()) return m.group(0) }
    }
    // JSON-LD datePublished/dateCreated (htmldate reads these too)
    tree.iterList(Set("script")).foreach { sc =>
      if (sc.get("type") == "application/ld+json" && sc.text != null) {
        val m = Pattern.compile("\"date(Published|Created)\"\\s*:\\s*\"(\\d{4}-\\d{2}-\\d{2})")
          .matcher(sc.text)
        if (m.find()) return m.group(2)
      }
    }
    tree.descendants(Set("time")).foreach { t =>
      val dt = t.get("datetime")
      if (dt != null) { val m = IsoDate.matcher(dt); if (m.find()) return m.group(0) }
    }
    if (url != null) {
      val m = Pattern.compile("/(\\d{4})/(\\d{1,2})/(\\d{1,2})").matcher(url)
      if (m.find()) return f"${m.group(1)}-${m.group(2).toInt}%02d-${m.group(3).toInt}%02d"
    }
    // htmldate extensive-search analogue (metadata.py:535 falls back to
    // find_date(extensive_search=True)): scan the rendered text for date
    // expressions, first plausible hit in document order wins
    extensiveDateSearch(tree)
  }

  private val MonthNames: Map[String, Int] = {
    val en = Seq("january", "february", "march", "april", "may", "june", "july",
      "august", "september", "october", "november", "december")
    val de = Seq("januar", "februar", "märz", "april", "mai", "juni", "juli",
      "august", "september", "oktober", "november", "dezember")
    val fr = Seq("janvier", "février", "mars", "avril", "mai", "juin", "juillet",
      "août", "septembre", "octobre", "novembre", "décembre")
    val es = Seq("enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
      "agosto", "septiembre", "octubre", "noviembre", "diciembre")
    val abbrEn = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
      "sep", "oct", "nov", "dec")
    val all = scala.collection.mutable.HashMap.empty[String, Int]
    Seq(en, de, fr, es, abbrEn).foreach(_.zipWithIndex.foreach { case (m, i) =>
      all(m) = i + 1
    })
    all.toMap
  }

  // three alternatives: Y-M-D (unambiguous), D.M.Y (dotted = European
  // day-first convention, htmldate's own reading), and A/B/Y (slashed —
  // genuinely ambiguous between EU D/M/Y and US M/D/Y, resolved below by an
  // ambiguity gate: accept only when exactly one reading is a valid date)
  private val NumericDate = Pattern.compile(
    "(?<!\\d)(\\d{4})[-/.](\\d{1,2})[-/.](\\d{1,2})(?!\\d)" +
      "|(?<!\\d)(\\d{1,2})\\.(\\d{1,2})\\.(\\d{4})(?!\\d)" +
      "|(?<!\\d)(\\d{1,2})/(\\d{1,2})/(\\d{4})(?!\\d)")
  private val TextualDate = Pattern.compile(
    "(?iu)(?:(\\d{1,2})\\.?\\s+)?(\\p{L}+)\\.?\\s+(\\d{1,2})?,?\\s*(\\d{4})")

  private def validDate(y: Int, mo: Int, d: Int): Boolean =
    y >= 1995 && y <= 2039 && mo >= 1 && mo <= 12 && d >= 1 && d <= 31

  /** Free-text date scan over the document's text nodes (YYYY-MM-DD,
    * DD.MM.YYYY, YYYY/MM/DD, and textual month forms in en/de/fr/es).
    * Conservative: plausibility-gated, first hit in document order. */
  def extensiveDateSearch(tree: Node): String = {
    var found: String = null
    // document order: element text, then the subtree, then the element's
    // tail (the tail is rendered AFTER the subtree). script/style bodies are
    // full of machine timestamps — skip text+children there, but their tail
    // is ordinary document text and still scans.
    def walk(n: Node): Unit = {
      if (found != null) return
      if (n.tag != "script" && n.tag != "style") {
        scanPiece(n.text)
        val cs = n.children
        var i = 0
        while (i < cs.length && found == null) { walk(cs(i)); i += 1 }
      }
      scanPiece(n.tail)
    }
    def scanPiece(piece: String): Unit = {
      if (found == null) {
          if (piece != null && piece.length >= 6 && piece.exists(_.isDigit)) {
            val m = graft.text.Re.m(NumericDate, piece)
            while (found == null && m.find()) {
              if (m.group(1) != null) {
                val (y, mo, d) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
                if (validDate(y, mo, d)) found = f"$y%04d-$mo%02d-$d%02d"
              } else if (m.group(4) != null) {
                // dotted: day-first (European convention; htmldate reads
                // 24.12.2018 as DD.MM.YYYY)
                val (y, mo, d) = (m.group(6).toInt, m.group(5).toInt, m.group(4).toInt)
                if (validDate(y, mo, d)) found = f"$y%04d-$mo%02d-$d%02d"
              } else {
                // slashed: ambiguous D/M/Y vs M/D/Y — accept only when the
                // two readings agree (a==b) or exactly one is valid
                // (e.g. 15/04/2024 must be day-first); 03/04/2024 is skipped
                val a = m.group(7).toInt
                val b = m.group(8).toInt
                val y = m.group(9).toInt
                val dayFirst = validDate(y, b, a)
                val monthFirst = validDate(y, a, b)
                if (dayFirst && (!monthFirst || a == b)) found = f"$y%04d-$b%02d-$a%02d"
                else if (monthFirst && !dayFirst) found = f"$y%04d-$a%02d-$b%02d"
              }
            }
            if (found == null) {
              val t = graft.text.Re.m(TextualDate, piece)
              while (found == null && t.find()) {
                val mo = MonthNames.getOrElse(t.group(2).toLowerCase, 0)
                val dayStr = if (t.group(1) != null) t.group(1) else t.group(3)
                if (mo > 0 && dayStr != null) {
                  val y = t.group(4).toInt
                  val d = dayStr.toInt
                  if (validDate(y, mo, d)) found = f"$y%04d-$mo%02d-$d%02d"
                }
              }
            }
          }
      }
    }
    walk(tree)
    found
  }

  /** clean_and_trim (metadata.py:58-70). */
  private def cleanValue(v: String): String = {
    if (v == null) return null
    val limited = if (v.length > 10000) v.substring(0, 9999) + "…" else v
    TextUtils.lineProcessing(Entities.unescape(limited))
  }

  /** check_authors (metadata.py:133-143). */
  def checkAuthors(authors: String, blacklist: Set[String]): String = {
    val bl = blacklist.map(_.toLowerCase)
    val kept = authors.split(";").map(_.trim).filter(a => a.nonEmpty && !bl.contains(a.toLowerCase))
    if (kept.nonEmpty) kept.mkString("; ") else null
  }

  /** extract_metadata (metadata.py:475-575). */
  def extractMetadata(treeIn: Node, defaultUrl: String = null, fastmode: Boolean = false,
      authorBlacklist: Set[String] = Set.empty): DocMeta = {
    if (treeIn == null) return DocMeta()
    // lxml elements carry their document: the reference's metadata xpaths are
    // absolute ('//…', metaxpaths.py) or head-anchored, so they escape a
    // fragment element (fromstring's body-div) to the whole parse tree via
    // getroottree(). Ascend to the document root to reproduce that.
    var tree = treeIn
    while (tree.parent != null) tree = tree.parent
    var m = examineMeta(tree)
    if (m.author != null && !m.author.contains(" ")) m = m.copy(author = null)
    // JSON-LD overrides (metadata.py:500-505)
    tree.iterList(TagScript).foreach { elem =>
      val t = elem.get("type")
      if ((t == "application/ld+json" || t == "application/settings+json") &&
        elem.text != null && elem.text.nonEmpty) {
        val elementText = JsonLd.normalizeJson(JsonLd.minify(elem.text))
        JsonLd.parse(elementText) match {
          case Some(schema) => m = JsonLd.extractJson(schema, m)
          case None => m = JsonLd.extractJsonParseError(elementText, m)
        }
      }
    }
    if (m.title == null) m = m.copy(title = extractTitle(tree))
    if (m.author != null && authorBlacklist.nonEmpty)
      m = m.copy(author = checkAuthors(m.author, authorBlacklist))
    if (m.author == null) m = m.copy(author = extractAuthor(tree))
    if (m.author != null && authorBlacklist.nonEmpty)
      m = m.copy(author = checkAuthors(m.author, authorBlacklist))
    if (m.url == null) m = m.copy(url = extractUrl(tree, defaultUrl))
    if (m.url != null) m = m.copy(hostname = extractDomain(m.url))
    if (m.image == null) {
      val img = headMetas(tree).find { e =>
        Set("og:image", "og:image:url").contains(e.get("property")) && e.get("content") != null
      }.orElse(headMetas(tree).find { e =>
        Set("twitter:image", "twitter:image:src").contains(e.get("property")) && e.get("content") != null
      }).map(_.get("content")).orNull
      m = m.copy(image = img)
    }
    m = m.copy(date = extractDate(tree, m.url))
    if (m.sitename == null) m = m.copy(sitename = extractSitename(tree))
    if (m.sitename != null) {
      var sn = m.sitename
      if (sn.startsWith("@")) sn = sn.substring(1)
      if (sn.nonEmpty && !sn.contains(".") && !Character.isUpperCase(sn.charAt(0))) sn = pyTitleCase(sn)
      m = m.copy(sitename = sn)
    } else if (m.url != null) {
      val mm = Pattern.compile("https?://(?:www\\.|w[0-9]+\\.)?([^/]+)").matcher(m.url)
      if (mm.lookingAt()) m = m.copy(sitename = mm.group(1))
    }
    if (m.categories.isEmpty) m = m.copy(categories = extractCatstags("category", tree))
    if (m.tags.isEmpty) m = m.copy(tags = extractCatstags("tag", tree))
    m = m.copy(license = extractLicense(tree))
    m.copy(
      title = cleanValue(m.title), author = cleanValue(m.author), url = cleanValue(m.url),
      hostname = cleanValue(m.hostname), description = cleanValue(m.description),
      sitename = cleanValue(m.sitename), date = cleanValue(m.date),
      license = cleanValue(m.license), image = cleanValue(m.image), pagetype = cleanValue(m.pagetype))
  }
}
