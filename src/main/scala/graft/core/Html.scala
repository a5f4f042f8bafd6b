package graft.core

import scala.collection.mutable

/** HTML main-content extraction — the Spark-side analog of the reference's
  * tesseract engine run (`/root/reference/tesseract_engine.go:190-234`):
  * where the reference turns pixels into text via OCR, we turn markup into
  * main-content text via DOM-heuristic block scoring (boilerplate stripping in
  * the readability/boilerpipe tradition — shallow-text + link-density
  * heuristics over block elements).
  *
  * Deterministic specification (pinned by golden tests):
  *   1. subtrees under {head, script, style, nav, header, footer, aside,
  *      form, noscript, template, iframe, svg} are boilerplate — dropped;
  *   2. remaining text is grouped into blocks at block-element boundaries;
  *   3. a block is kept iff its tag is an always-content tag
  *      {p, article, main, pre, blockquote, h1, h2, h3, td} OR
  *      (its whitespace-collapsed length >= 25 AND its link density < 0.5);
  *   4. kept blocks are whitespace-collapsed and joined by a separator
  *      (`\n\n` by default; `\n` under psm 6/13 — single uniform block).
  */
object Html {

  private val boilerplate = Set(
    "head", "script", "style", "nav", "header", "footer", "aside", "form",
    "noscript", "template", "iframe", "svg")

  private val blockTags = Set(
    "p", "div", "article", "main", "section", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "ul", "ol", "td", "th", "tr", "table", "blockquote", "pre",
    "body", "html", "br", "hr", "figure", "figcaption", "dd", "dt", "dl")

  private val alwaysContent = Set(
    "p", "article", "main", "pre", "blockquote", "h1", "h2", "h3", "td")

  /** Heuristic: is this payload HTML at all? (The tesseract engine accepts
    * anything leptonica can read, `tesseract_engine.go:96-130` — our analog
    * accepts any text and only runs DOM scoring when markup is present.)
    */
  def looksLikeHtml(s: String): Boolean = {
    var i = s.indexOf('<')
    while (i >= 0 && i + 1 < s.length) {
      val c = s.charAt(i + 1)
      if (c.isLetter || c == '/' || c == '!') return true
      i = s.indexOf('<', i + 1)
    }
    false
  }

  /** Trim edge whitespace and collapse every inner whitespace run
    * (`Character.isWhitespace`) to one space. An input that is already in
    * that form is returned as is, without a copy.
    */
  def collapseWs(s: String): String = {
    val n = s.length
    // longest prefix that is already collapsed; `afterSpace` starts true so
    // leading whitespace ends it at once
    var i = 0
    var afterSpace = true
    var clean = true
    while (clean && i < n) {
      val c = s.charAt(i)
      if (!Character.isWhitespace(c)) { afterSpace = false; i += 1 }
      else if (!afterSpace && c == ' ') { afterSpace = true; i += 1 }
      else clean = false
    }
    if (i == n && (n == 0 || !afterSpace)) return s
    // the output is never longer than the input: write into a char array.
    // Copy the clean prefix; a single space it ends with becomes pending.
    var pendingSpace = i > 0 && afterSpace
    val out = new Array[Char](n)
    var j = if (pendingSpace) i - 1 else i
    s.getChars(0, j, out, 0)
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { if (j > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out(j) = ' '; j += 1; pendingSpace = false }
        out(j) = c; j += 1
      }
      i += 1
    }
    new String(out, 0, j)
  }

  private final class Block(val tag: String) {
    val text = new java.lang.StringBuilder
    var linkChars = 0
    def linkDensity(collapsedLength: Int): Double =
      if (collapsedLength == 0) 0.0
      else math.min(1.0, linkChars.toDouble / collapsedLength.toDouble)
  }

  /** Extract main content from HTML. `separator` joins the kept blocks. */
  def extract(html: String, separator: String = "\n\n"): String = {
    val blocks = mutable.ArrayBuffer.empty[Block]
    var cur: Block = null
    def open(tag: String): Unit = { cur = new Block(tag); blocks += cur }
    open("body")

    var i = 0
    val n = html.length
    var boilerDepth = 0
    var linkDepth = 0
    val stack = mutable.ArrayBuffer.empty[String]
    // one lowercase copy, built lazily on the first raw-text element: a
    // script-dense document must not re-lowercase the whole input per tag
    var lowerCache: String = null
    def lowerHtml: String = {
      if (lowerCache == null) lowerCache = html.toLowerCase
      lowerCache
    }

    def appendText(t: String): Unit = if (boilerDepth == 0 && t.nonEmpty) {
      val decoded = decodeEntities(t)
      cur.text.append(decoded)
      if (linkDepth > 0) cur.linkChars += collapseWs(decoded).length
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val e = html.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
        } else {
          val e = html.indexOf('>', i + 1)
          if (e < 0) { appendText(html.substring(i)); i = n }
          else {
            // tag name by index: trim (chars <= ' ', as String.trim), one
            // leading and one trailing '/', trim again, then the leading
            // letters and digits, lowercased
            var a = i + 1
            var b = e
            while (a < b && html.charAt(a) <= ' ') a += 1
            while (b > a && html.charAt(b - 1) <= ' ') b -= 1
            val closing = a < b && html.charAt(a) == '/'
            val selfClosed = a < b && html.charAt(b - 1) == '/'
            if (closing) a += 1
            if (selfClosed && b > a) b -= 1
            while (a < b && html.charAt(a) <= ' ') a += 1
            var k = a
            while (k < b && Character.isLetterOrDigit(html.charAt(k))) k += 1
            val name = if (k == a) "" else html.substring(a, k).toLowerCase
            if (name.nonEmpty) {
              if (!closing) {
                // raw-text elements: skip to the matching close tag entirely
                if (name == "script" || name == "style") {
                  val close = lowerHtml.indexOf(s"</$name", e + 1)
                  i = if (close < 0) n
                  else {
                    val ce = html.indexOf('>', close)
                    if (ce < 0) n else ce + 1
                  }
                } else {
                  if (boilerplate.contains(name) && !selfClosed) boilerDepth += 1
                  if (name == "a") linkDepth += 1
                  if (!selfClosed && !isVoid(name)) stack += name
                  if (blockTags.contains(name)) open(if (name == "br" || name == "hr") cur.tag else name)
                  i = e + 1
                }
              } else {
                // close tag: unwind the stack to the matching open
                val idx = stack.lastIndexOf(name)
                if (idx >= 0) {
                  var j = stack.length - 1
                  while (j >= idx) {
                    val t = stack(j)
                    if (boilerplate.contains(t)) boilerDepth = math.max(0, boilerDepth - 1)
                    if (t == "a") linkDepth = math.max(0, linkDepth - 1)
                    stack.remove(j)
                    j -= 1
                  }
                }
                if (blockTags.contains(name)) {
                  val parent = stack.reverseIterator.find(blockTags.contains).getOrElse("body")
                  open(parent)
                }
                i = e + 1
              }
            } else i = e + 1
          }
        }
      } else {
        val e = {
          val x = html.indexOf('<', i)
          if (x < 0) n else x
        }
        appendText(html.substring(i, e))
        i = e
      }
    }

    val out = new java.lang.StringBuilder
    var first = true
    blocks.foreach { b =>
      val txt = collapseWs(b.text.toString)
      if (txt.nonEmpty &&
          (alwaysContent.contains(b.tag) || (txt.length >= 25 && b.linkDensity(txt.length) < 0.5))) {
        if (!first) out.append(separator)
        out.append(txt)
        first = false
      }
    }
    out.toString
  }

  private def isVoid(name: String): Boolean = name match {
    case "br" | "hr" | "img" | "meta" | "link" | "input" | "area" | "base" |
        "col" | "embed" | "source" | "track" | "wbr" => true
    case _ => false
  }

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val rep: String = ent match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Character.toChars(Integer.parseInt(e.drop(2), 16)).mkString
              catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try Character.toChars(Integer.parseInt(e.drop(1))).mkString
              catch { case _: Exception => null }
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
