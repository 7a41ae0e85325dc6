package graft.meta

import graft.parse.Entities
import graft.text.TextUtils.trim

import java.util.regex.Pattern
import scala.collection.mutable

/** JSON-LD metadata extraction (json_metadata.py:29-182) with a minimal
  * embedded JSON parser (no external deps resolve in this sandbox). */
object JsonLd {

  // ----------------------------------------------------------- mini parser

  /** Parse JSON into Any (Map[String,Any] / List[Any] / String / Double /
    * Boolean / null). Returns None on malformed input. */
  def parse(s: String): Option[Any] = {
    val p = new P(s)
    try {
      p.ws()
      val v = p.value()
      p.ws()
      if (p.pos < s.length) None else Some(v)
    } catch { case _: Exception => None }
  }

  private final class P(s: String) {
    var pos = 0
    def ws(): Unit = while (pos < s.length && Character.isWhitespace(s.charAt(pos))) pos += 1
    def value(): Any = {
      ws()
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => expect("true"); java.lang.Boolean.TRUE
        case 'f' => expect("false"); java.lang.Boolean.FALSE
        case 'n' => expect("null"); null
        case _ => num()
      }
    }
    def expect(w: String): Unit = {
      if (!s.startsWith(w, pos)) throw new IllegalArgumentException(w)
      pos += w.length
    }
    def obj(): Map[String, Any] = {
      pos += 1; ws()
      val m = mutable.LinkedHashMap.empty[String, Any]
      if (s.charAt(pos) == '}') { pos += 1; return m.toMap }
      var done = false
      while (!done) {
        ws()
        val k = str()
        ws(); expect(":")
        val v = value()
        m(k) = v
        ws()
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case _ => throw new IllegalArgumentException("obj")
        }
      }
      m.toMap
    }
    def arr(): List[Any] = {
      pos += 1; ws()
      val b = mutable.ListBuffer.empty[Any]
      if (s.charAt(pos) == ']') { pos += 1; return b.toList }
      var done = false
      while (!done) {
        b += value()
        ws()
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case _ => throw new IllegalArgumentException("arr")
        }
      }
      b.toList
    }
    def str(): String = {
      if (s.charAt(pos) != '"') throw new IllegalArgumentException("str")
      pos += 1
      val sb = new java.lang.StringBuilder
      while (s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          s.charAt(pos) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar)
              pos += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        pos += 1
      }
      pos += 1
      sb.toString
    }
    def num(): Any = {
      val start = pos
      while (pos < s.length && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      if (pos == start) throw new IllegalArgumentException("num")
      java.lang.Double.parseDouble(s.substring(start, pos))
    }
  }

  // ------------------------------------------------------------ extraction

  private val ArticleSchema = Set("article", "backgroundnewsarticle", "blogposting",
    "medicalscholarlyarticle", "newsarticle", "opinionnewsarticle",
    "reportagenewsarticle", "scholarlyarticle", "socialmediaposting", "liveblogposting")
  private val OgtypeSchema = Set("aboutpage", "checkoutpage", "collectionpage",
    "contactpage", "faqpage", "itempage", "medicalwebpage", "profilepage", "qapage",
    "realestatelisting", "searchresultspage", "webpage", "website", "article",
    "advertisercontentarticle", "newsarticle", "analysisnewsarticle",
    "askpublicnewsarticle", "backgroundnewsarticle", "opinionnewsarticle",
    "reportagenewsarticle", "reviewnewsarticle", "report", "satiricalarticle",
    "scholarlyarticle", "medicalscholarlyarticle", "socialmediaposting",
    "blogposting", "liveblogposting", "discussionforumposting", "techarticle",
    "blog", "jobposting")
  private val PublisherSchema = Set("newsmediaorganization", "organization", "webpage", "website")

  private val JsonAuthor1 = Pattern.compile("(?s)\"author\":[^}\\[]+?\"name?\\\\?\": ?\\\\?\"([^\"\\\\]+)|\"author\"[^}\\[]+?\"names?\".+?\"([^\"]+)")
  private val JsonAuthor2 = Pattern.compile("(?s)\"[Pp]erson\"[^}]+?\"names?\".+?\"([^\"]+)")
  private val JsonAuthorRemove = Pattern.compile(",?(?:\"\\w+\":?[:|,\\[])?\\{?\"@type\":\"(?:[Ii]mageObject|[Oo]rganization|[Ww]eb[Pp]age)\",[^}\\[]+\\}[\\]|}]?")
  private val JsonPublisher = Pattern.compile("(?s)\"publisher\":[^}]+?\"name?\\\\?\": ?\\\\?\"([^\"\\\\]+)")
  private val JsonTypeRe = Pattern.compile("(?s)\"@type\"\\s*:\\s*\"([^\"]*)\"")
  private val JsonCategory = Pattern.compile("(?s)\"articleSection\": ?\"([^\"\\\\]+)")
  private val JsonName = Pattern.compile("(?s)\"@type\":\"[Aa]rticle\", ?\"name\": ?\"([^\"\\\\]+)")
  private val JsonHeadline = Pattern.compile("(?s)\"headline\": ?\"([^\"\\\\]+)")
  private val JsonMatch = Pattern.compile("(?i)\"author\":|\"person\":")
  private val JsonRemoveHtml = Pattern.compile("<[^>]+>")
  private val JsonSchemaOrg = Pattern.compile("(?i)^https?://schema\\.org")
  private val JsonUnicodeReplace = Pattern.compile("\\\\u([0-9a-fA-F]{4})")

  def normalizeJson(in: String): String = {
    var s = in
    if (s.contains("\\")) {
      s = s.replace("\\n", "").replace("\\r", "").replace("\\t", "")
      val m = JsonUnicodeReplace.matcher(s)
      val sb = new StringBuffer
      while (m.find()) m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))
      m.appendTail(sb)
      s = sb.toString
      s = s.filter(c => c < 0xD800 || c > 0xDFFF)
      s = Entities.unescape(s)
    }
    trim(JsonRemoveHtml.matcher(s).replaceAll(""))
  }

  /** JSON_MINIFY (metadata.py:84): strip whitespace outside strings. A
    * scanner that makes exactly the matches of the reference regex
    * `("(?:\\"|[^"])*")|\s` — whose backtracking needed one stack frame per
    * string character and overflowed on long JSON-LD strings:
    *  - outside strings, `[ \t\n\x0B\f\r]` is dropped;
    *  - a `"` opens a string; inside, each `\"` pair is one unit, any other
    *    char another, and the first bare `"` closes it (the `"` of `\\"`
    *    is not bare: the first `\` is a unit, `\"` the next);
    *  - an unclosed string backtracks to end at the quote of its last `\"`
    *    pair; with no such pair the opening `"` is an ordinary char.
    * Either way no `"` follows, so the rest of the input is outside. */
  def minify(text: String): String = {
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '"') {
        var j = i + 1
        var end = -1 // past the closing quote, else past the last \" pair
        while (j < n && text.charAt(j) != '"') {
          if (text.charAt(j) == '\\' && j + 1 < n && text.charAt(j + 1) == '"') {
            j += 2; end = j
          } else j += 1
        }
        if (j < n) end = j + 1
        if (end > 0) { sb.append(text, i, end); i = end }
        else { sb.append(c); i += 1 }
      } else {
        if (c != ' ' && c != '\t' && c != '\n' && c != '\u000b' && c != '\f' && c != '\r')
          sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def asMap(a: Any): Map[String, Any] = a match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => null
  }

  /** extract_json (json_metadata.py:29-115). */
  def extractJson(schemaIn: Any, metaIn: DocMeta): DocMeta = {
    var meta = metaIn
    val schema: List[Any] = schemaIn match {
      case m: Map[_, _] => List(m)
      case l: List[_] => l
      case _ => return meta
    }
    val parents = schema.flatMap(asMap(_) match {
      case null => None
      case m => m.get("@context") match {
        case Some(ctx: String) if JsonSchemaOrg.matcher(ctx).find() => Some(m)
        case _ => None
      }
    })
    parents.foreach { parent =>
      val contents: List[Any] =
        if (parent.contains("@graph")) parent("@graph") match {
          case l: List[_] => l
          case other => List(other)
        }
        else parent.get("@type") match {
          case Some(t: String) if t.toLowerCase.contains("liveblogposting") &&
            parent.contains("liveBlogUpdate") =>
            parent("liveBlogUpdate") match {
              case l: List[_] => l
              case other => List(other)
            }
          case _ => schema
        }
      contents.foreach { c =>
        val content = asMap(c)
        if (content != null) {
          // publisher name
          content.get("publisher").map(asMap).filter(_ != null).foreach { pub =>
            pub.get("name") match {
              case Some(n: String) => meta = meta.copy(sitename = n)
              case _ =>
            }
          }
          val contentTypeOpt: Option[String] = content.get("@type") match {
            case Some(t: String) if t.nonEmpty => Some(t.toLowerCase)
            case Some(l: List[_]) if l.nonEmpty => l.head match {
              case s: String => Some(s.toLowerCase)
              case _ => None
            }
            case _ => None
          }
          contentTypeOpt.foreach { contentType =>
            if (OgtypeSchema.contains(contentType) && meta.pagetype == null)
              meta = meta.copy(pagetype = normalizeJson(contentType))
            if (PublisherSchema.contains(contentType)) {
              val candidate = List("name", "legalName", "alternateName")
                .flatMap(k => content.get(k))
                .collectFirst { case s: String if s.nonEmpty => s }
              candidate.foreach { cand =>
                if (meta.sitename == null ||
                  (meta.sitename.length < cand.length && contentType != "webpage"))
                  meta = meta.copy(sitename = cand)
                if (meta.sitename != null && meta.sitename.startsWith("http") && !cand.startsWith("http"))
                  meta = meta.copy(sitename = cand)
              }
            } else if (contentType == "person") {
              content.get("name") match {
                case Some(n: String) if n.nonEmpty && !n.startsWith("http") =>
                  meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, n))
                case _ =>
              }
            } else if (ArticleSchema.contains(contentType)) {
              content.get("author").foreach { a =>
                val listAuthors: List[Any] = a match {
                  case s: String =>
                    parse(s) match {
                      case Some(parsed) => parsed match {
                        case l: List[_] => l
                        case other => List(other)
                      }
                      case None =>
                        meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, s))
                        Nil
                    }
                  case l: List[_] => l
                  case other => List(other)
                }
                listAuthors.foreach { ao =>
                  val author = asMap(ao)
                  if (author != null &&
                    (!author.contains("@type") || author.get("@type").contains("Person"))) {
                    author.get("name") match {
                      case Some(n: String) =>
                        meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, n))
                      case Some(l: List[_]) =>
                        val joined = l.collect { case s: String => s }.mkString("; ").stripSuffix("; ")
                        if (joined.nonEmpty)
                          meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, joined))
                      case Some(m: Map[_, _]) =>
                        asMap(m).get("name") match {
                          case Some(n2: String) =>
                            meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, n2))
                          case _ =>
                        }
                      case _ =>
                        (author.get("givenName"), author.get("familyName")) match {
                          case (Some(g: String), Some(f: String)) =>
                            val mid = author.get("additionalName").collect { case s: String => s }
                            val full = (List(g) ++ mid.toList ++ List(f)).mkString(" ")
                            meta = meta.copy(author = Metadata.normalizeAuthors(meta.author, full))
                          case _ =>
                        }
                    }
                  }
                }
              }
              if (meta.categories.isEmpty && content.contains("articleSection")) {
                content("articleSection") match {
                  case s: String => meta = meta.copy(categories = List(s))
                  case l: List[_] => meta = meta.copy(categories = l.collect { case s: String if s.nonEmpty => s })
                  case _ =>
                }
              }
              if (meta.title == null) {
                if (contentType == "article" && content.contains("name"))
                  content("name") match {
                    case s: String => meta = meta.copy(title = s)
                    case _ =>
                  }
                else if (content.contains("headline"))
                  content("headline") match {
                    case s: String => meta = meta.copy(title = s)
                    case _ =>
                  }
              }
            }
          }
        }
      }
    }
    meta
  }

  /** extract_json_parse_error (json_metadata.py:129-172). */
  def extractJsonParseError(elem: String, metaIn: DocMeta): DocMeta = {
    var meta = metaIn
    val elemTextAuthor = JsonAuthorRemove.matcher(elem).replaceAll("")
    if (JsonMatch.matcher(elemTextAuthor).find()) {
      val author = Option(extractJsonAuthor(elemTextAuthor, JsonAuthor1))
        .orElse(Option(extractJsonAuthor(elemTextAuthor, JsonAuthor2)))
      author.foreach(a => meta = meta.copy(author = a))
    }
    if (elem.contains("@type")) {
      val m = JsonTypeRe.matcher(elem)
      if (m.find()) {
        val candidate = normalizeJson(m.group(1).toLowerCase)
        if (OgtypeSchema.contains(candidate)) meta = meta.copy(pagetype = candidate)
      }
    }
    if (elem.contains("\"publisher\"")) {
      val m = JsonPublisher.matcher(elem)
      if (m.find() && !m.group(1).contains(",")) {
        val candidate = normalizeJson(m.group(1))
        if (meta.sitename == null || meta.sitename.length < candidate.length)
          meta = meta.copy(sitename = candidate)
        if (meta.sitename != null && meta.sitename.startsWith("http") && !candidate.startsWith("http"))
          meta = meta.copy(sitename = candidate)
      }
    }
    if (elem.contains("\"articleSection\"")) {
      val m = JsonCategory.matcher(elem)
      if (m.find()) meta = meta.copy(categories = List(normalizeJson(m.group(1))))
    }
    if (elem.contains("\"name\"") && meta.title == null) {
      val m = JsonName.matcher(elem)
      if (m.find()) meta = meta.copy(title = normalizeJson(m.group(1)))
    }
    if (elem.contains("\"headline\"") && meta.title == null) {
      val m = JsonHeadline.matcher(elem)
      if (m.find()) meta = meta.copy(title = normalizeJson(m.group(1)))
    }
    meta
  }

  private def extractJsonAuthor(elemtextIn: String, re: Pattern): String = {
    var elemtext = elemtextIn
    var authors: String = null
    var m = re.matcher(elemtext)
    var found = m.find()
    while (found && m.group(1) != null && m.group(1).contains(" ")) {
      authors = Metadata.normalizeAuthors(authors, m.group(1))
      elemtext = m.replaceFirst("")
      m = re.matcher(elemtext)
      found = m.find()
    }
    authors
  }
}
