package graft.extract

import graft.core._
import graft.core.TextUtil.{collapseSpaces, filterText}
import HtmlDom._

/** Ignored-but-stored formats (fonts, executables, .DS_Store ...):
  * `/root/reference/ingestors/ignore.py:8-63`. Zero spans, success. */
object IgnoreExtractor extends Extractor {
  val name = "IgnoreIngestor"
  val schema = "Document"
  protected def run(doc: RawDoc): ExtractionResult =
    ExtractionResult.success(schema)
}

/** Plain text: size guard + charset-guess decode
  * (`/root/reference/ingestors/documents/plain.py:8-50`). */
object PlainTextExtractor extends Extractor {
  val name = "PlainTextIngestor"
  val schema = "PlainText"
  val MaxSize: Long = 4L * 1024 * 1024

  protected def run(doc: RawDoc): ExtractionResult = {
    if (doc.size > MaxSize) throw new ProcessingError("Text file is too large.")
    val enc = Encoding.guessEncoding(doc.bytes)
    val text = Encoding.readDecoded(doc.bytes)
    val spans =
      if (filterText(text)) Vector(Span(SpanKinds.Text, text, "", 0)) else Vector.empty
    ExtractionResult.success(schema, spans,
      Map("bodyText" -> Seq(text), "encoding" -> Seq(enc)))
  }
}

/** HTML: DOM parse, head metadata, boilerplate-free text walk
  * (`/root/reference/ingestors/documents/html.py:8-23`,
  * `support/html.py:13-91`). */
object HtmlExtractor extends Extractor {
  val name = "HTMLIngestor"
  val schema = "HyperText"

  /** Document-order text walk skipping script/style/head subtrees, joined
    * with spaces, collapsed (`support/html.py:46-63`). */
  def extractText(root: HElem): String = {
    val sb = new StringBuilder
    def walk(n: HNode): Unit = n match {
      case HText(t) => sb.append(t).append(' ')
      case e: HElem =>
        if (e.tag != "script" && e.tag != "style" && e.tag != "head") {
          e.children.foreach(walk)
        }
      case _ => ()
    }
    walk(root)
    collapseSpaces(sb.toString)
  }

  /** Header metadata per `support/html.py:28-44` (multi-valued adds).
    * One DOM walk collects the meta/title elements; every field lookup is
    * over that vector (a per-field re-walk was 7 full traversals
    * per document — the measured HTML hot spot). */
  def headerProps(root: HElem): Map[String, Seq[String]] = {
    val all = HtmlDom.allElements(root).toVector
    val metas = all.filter(_.tag == "meta")
    def metaOf(field: String): Option[String] = {
      // get_meta (`support/html.py:21-26`): property= first, then name=,
      // document order within each, first nonempty collapsed content wins
      for (attr <- Seq("property", "name")) {
        val it = metas.iterator
          .filter(_.attrs.get(attr).contains(field))
          .flatMap(e => e.attrs.get("content").map(collapseSpaces))
          .filter(_.nonEmpty)
        if (it.hasNext) return Some(it.next())
      }
      None
    }
    def titleText: Option[String] =
      all.find(_.tag == "title").map(textContent)
    val title = Seq(metaOf("og:title"), titleText).flatten.filter(_.nonEmpty)
    val summary = Seq(metaOf("og:description"), metaOf("description")).flatten
    val author = Seq(metaOf("author"), metaOf("og:site_name")).flatten
    val keywords = Seq("keywords", "news_keywords").flatMap { f =>
      metaOf(f).toSeq.flatMap(_.split(",").toSeq.map(collapseSpaces))
    }
    // FtM property values are set-semantic (duplicate adds collapse)
    Seq(
      "title" -> title.distinct, "summary" -> summary.distinct,
      "author" -> author.distinct, "keywords" -> keywords.distinct
    ).filter(_._2.nonEmpty).toMap
  }

  /** Shared with the email ingestor for text/html parts
    * (`support/html.py:65-91`). */
  def extractContent(htmlBody: String, withMetadata: Boolean): (String, Map[String, Seq[String]]) = {
    if (htmlBody == null || htmlBody.trim.isEmpty) return ("", Map.empty)
    val root = HtmlDom.parse(htmlBody)
    val props = if (withMetadata) headerProps(root) else Map.empty[String, Seq[String]]
    (extractText(root), props)
  }

  protected def run(doc: RawDoc): ExtractionResult = {
    val body = Encoding.readDecoded(doc.bytes)
    if (body.trim.isEmpty) return ExtractionResult.success(schema)
    val root = HtmlDom.parse(body)
    val props = headerProps(root)
    val text = extractText(root)
    // text-density boilerplate strip (north-star main-content heuristic):
    // recorded alongside the full text when the page carries chrome
    val main = HtmlDom.mainContent(root)
    val spans =
      if (filterText(text)) Vector(Span(SpanKinds.Text, text, "", 0)) else Vector.empty
    val mainProp =
      if (main.nonEmpty && main != text) Map("mainText" -> Seq(main))
      else Map.empty[String, Seq[String]]
    ExtractionResult.success(schema, spans,
      props ++ mainProp + ("bodyHtml" -> Seq(body)))
  }
}

/** XML: secure parse + text walk + tabular HTML rendering
  * (`/root/reference/ingestors/documents/xml.py:11-74`,
  * `support/xml.py:11-30`). */
object XmlExtractor extends Extractor {
  val name = "XMLIngestor"
  val schema = "HyperText"
  val MaxSize: Long = 4L * 1024 * 1024

  protected def run(doc: RawDoc): ExtractionResult = {
    if (doc.size > MaxSize) throw new ProcessingError("XML file is too large.")
    val dom = parseSecure(doc.bytes)
    val text = HtmlExtractor.extractText(dom)
    val bodyHtml = renderTable(dom)
    val spans =
      if (filterText(text)) Vector(Span(SpanKinds.Text, text, "", 0)) else Vector.empty
    ExtractionResult.success(schema, spans,
      Map("bodyText" -> Seq(text), "bodyHtml" -> Seq(bodyHtml)))
  }

  // DocumentBuilderFactory.newInstance does a service lookup per call —
  // measurably dominant for small XML docs. One factory+builder per thread.
  private val builderTL = new ThreadLocal[javax.xml.parsers.DocumentBuilder] {
    override def initialValue(): javax.xml.parsers.DocumentBuilder = {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(false)
      f.setValidating(false)
      try {
        f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", false)
        f.setFeature("http://xml.org/sax/features/external-general-entities", false)
        f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
        f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
      } catch { case _: Exception => () }
      val builder = f.newDocumentBuilder()
      builder.setEntityResolver(new org.xml.sax.EntityResolver {
        def resolveEntity(pid: String, sid: String) =
          new org.xml.sax.InputSource(new java.io.StringReader(""))
      })
      builder
    }
  }

  /** Parse XML with entity/DTD resolution disabled (the reference's
    * "safe parser", `support/xml.py:14-21`) into our HElem tree. */
  def parseSecure(bytes: Array[Byte]): HElem = {
    val builder = builderTL.get()
    builder.reset()
    val w3c =
      try builder.parse(new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: Exception =>
          throw new ProcessingError(s"Failed to parse XML: ${e.getMessage}")
      }
    convert(w3c.getDocumentElement)
  }

  private def convert(el: org.w3c.dom.Element, depth: Int = 0): HElem = {
    if (depth > 200)
      throw new ProcessingError("Failed to parse XML: nesting too deep")
    val kids = Vector.newBuilder[HNode]
    val nl = el.getChildNodes
    var i = 0
    while (i < nl.getLength) {
      nl.item(i) match {
        case e: org.w3c.dom.Element => kids += convert(e, depth + 1)
        case t: org.w3c.dom.Text =>
          // CDATASection extends Text in DOM, so this arm covers both
          val s = t.getData
          if (s != null && s.nonEmpty) kids += HText(s)
        case _ => ()
      }
      i += 1
    }
    val attrs = {
      val m = Map.newBuilder[String, String]
      val as = el.getAttributes
      var j = 0
      while (j < as.getLength) {
        val a = as.item(j)
        m += (a.getNodeName.toLowerCase -> a.getNodeValue)
        j += 1
      }
      m.result()
    }
    HElem(el.getTagName.toLowerCase, attrs, kids.result())
  }

  /** Reproduce the reference's XSLT tabular rendering
    * (`documents/xml.py:18-57`): every element becomes a <tr>; elements
    * with element children nest another <table>. */
  def renderTable(root: HElem): String = {
    val sb = new StringBuilder
    def esc(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def value(e: HElem): String = collapseSpaces(textContent(e))
    def render(e: HElem): Unit = {
      val elemKids = e.children.collect { case c: HElem => c }
      sb.append("<tr><td><p>").append(esc(e.tag)).append("</p></td><td>")
      if (elemKids.nonEmpty) {
        sb.append("<table>")
        elemKids.foreach(render)
        sb.append("</table>")
      } else {
        sb.append("<p>").append(esc(value(e))).append("</p>")
      }
      sb.append("</td></tr>")
    }
    sb.append("<table>")
    render(root)
    sb.append("</table>")
    sb.toString
  }
}

/** JSON: recursive string-leaf collection in traversal order
  * (`/root/reference/ingestors/misc/jsonfile.py:10-43`). */
object JsonExtractor extends Extractor {
  val name = "JSONIngestor"
  val schema = "Document" // JSONIngestor never reassigns the schema
  val MaxSize: Long = 100L * 1024 * 1024

  protected def run(doc: RawDoc): ExtractionResult = {
    if (doc.size > MaxSize) throw new ProcessingError("JSON file is too large.")
    val text = Encoding.readDecoded(doc.bytes)
    val value =
      try JsonMini.parse(text)
      catch {
        case e: Exception =>
          throw new ProcessingError(s"Cannot parse JSON file: ${e.getMessage}")
      }
    val leaves = Vector.newBuilder[String]
    def collect(v: Any): Unit = v match {
      case s: String => leaves += s
      case xs: Vector[_] => xs.foreach(collect)
      case m: JsonMini.JObj => m.fields.foreach { case (_, fv) => collect(fv) }
      case _ => ()
    }
    collect(value)
    val spans = leaves.result().zipWithIndex.collect {
      case (s, idx) if filterText(s) => Span(SpanKinds.Text, s, "", idx)
    }
    ExtractionResult.success(schema, spans)
  }
}

/** Minimal strict JSON parser (order-preserving objects). */
object JsonMini {
  final case class JObj(fields: Vector[(String, Any)])

  def parse(s: String): Any = {
    val p = new P(s)
    p.ws()
    val v = p.value()
    p.ws()
    if (p.i < p.n) throw new IllegalArgumentException(s"trailing data at ${p.i}")
    v
  }

  private final class P(val s: String) {
    var i = 0
    val n: Int = s.length
    def ws(): Unit = while (i < n && s.charAt(i).isWhitespace) i += 1
    def fail(msg: String) = throw new IllegalArgumentException(s"$msg at $i")
    def expect(c: Char): Unit = {
      if (i >= n || s.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    var depth = 0
    private def enter(): Unit = {
      depth += 1
      if (depth > 500) fail("nesting too deep")
    }
    def value(): Any = {
      if (i >= n) fail("eof")
      s.charAt(i) match {
        case '{' => enter(); val r = obj(); depth -= 1; r
        case '[' => enter(); val r = arr(); depth -= 1; r
        case '"' => str()
        case 't' => lit("true", java.lang.Boolean.TRUE)
        case 'f' => lit("false", java.lang.Boolean.FALSE)
        case 'n' => lit("null", null)
        case _ => num()
      }
    }
    def lit(word: String, v: Any): Any = {
      if (!s.startsWith(word, i)) fail(s"expected $word")
      i += word.length; v
    }
    def obj(): JObj = {
      expect('{'); ws()
      val fields = Vector.newBuilder[(String, Any)]
      if (i < n && s.charAt(i) == '}') { i += 1; return JObj(fields.result()) }
      var more = true
      while (more) {
        ws()
        val k = str(); ws(); expect(':'); ws()
        fields += (k -> value()); ws()
        if (i < n && s.charAt(i) == ',') i += 1 else more = false
      }
      expect('}')
      JObj(fields.result())
    }
    def arr(): Vector[Any] = {
      expect('['); ws()
      val items = Vector.newBuilder[Any]
      if (i < n && s.charAt(i) == ']') { i += 1; return items.result() }
      var more = true
      while (more) {
        ws()
        items += value(); ws()
        if (i < n && s.charAt(i) == ',') i += 1 else more = false
      }
      expect(']')
      items.result()
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < n && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= n) fail("bad escape")
          s.charAt(i) match {
            case '"' => sb.append('"'); i += 1
            case '\\' => sb.append('\\'); i += 1
            case '/' => sb.append('/'); i += 1
            case 'b' => sb.append('\b'); i += 1
            case 'f' => sb.append('\f'); i += 1
            case 'n' => sb.append('\n'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'u' =>
              if (i + 5 > n) fail("bad \\u")
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 5
            case _ => fail("bad escape")
          }
        } else { sb.append(c); i += 1 }
      }
      expect('"')
      sb.toString
    }
    def num(): Any = {
      val start = i
      if (i < n && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      var seen = false
      while (i < n && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) {
        seen = true; i += 1
      }
      if (!seen) fail("expected value")
      java.lang.Double.parseDouble(s.substring(start, i))
    }
  }
}
