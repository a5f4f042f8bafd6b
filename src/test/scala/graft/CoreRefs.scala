package graft

import graft.core.{Engines, Extractor, Html, Payload, Pdf, Preprocessors}
import graft.model.{Engine, ExtractResult, RequestJson}
import scala.collection.mutable

/** Reference twins of `graft.core` kernels: the straightforward forms
  * (boxed `foreach`/`filter`/`map`, `substring` tag parsing, per-use block
  * collapse, one monolithic per-turn function) that the primitive-loop and
  * split kernels replaced. `CoreProperties` checks each kernel against its
  * twin on arbitrary input; nothing in `src/main` calls these.
  */
object CoreRefs {

  // ------------------------------------------------------------------ html

  private val boilerplate = Set(
    "head", "script", "style", "nav", "header", "footer", "aside", "form",
    "noscript", "template", "iframe", "svg")

  private val blockTags = Set(
    "p", "div", "article", "main", "section", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "ul", "ol", "td", "th", "tr", "table", "blockquote", "pre",
    "body", "html", "br", "hr", "figure", "figcaption", "dd", "dt", "dl")

  private val alwaysContent = Set(
    "p", "article", "main", "pre", "blockquote", "h1", "h2", "h3", "td")

  def collapseWsRef(s: String): String = {
    val sb = new StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    s.foreach { c =>
      if (c.isWhitespace) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c); started = true
      }
    }
    sb.toString
  }

  private final class Block(val tag: String) {
    val text = new StringBuilder
    var linkChars = 0
    def collapsed: String = collapseWsRef(text.toString)
    def linkDensity: Double = {
      val t = collapsed.length
      if (t == 0) 0.0 else math.min(1.0, linkChars.toDouble / t.toDouble)
    }
  }

  def htmlExtractRef(html: String, separator: String = "\n\n"): String = {
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
      val decoded = Html.decodeEntities(t)
      cur.text.append(decoded)
      if (linkDepth > 0) cur.linkChars += collapseWsRef(decoded).length
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
            val raw = html.substring(i + 1, e).trim
            val closing = raw.startsWith("/")
            val selfClosed = raw.endsWith("/")
            val body = raw.stripPrefix("/").stripSuffix("/").trim
            val name = body.takeWhile(ch => ch.isLetterOrDigit).toLowerCase
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

    val kept = blocks.iterator
      .map(b => (b.tag, b.collapsed, b.linkDensity))
      .filter { case (tag, txt, ld) =>
        txt.nonEmpty && (alwaysContent.contains(tag) || (txt.length >= 25 && ld < 0.5))
      }
      .map(_._2)
      .toVector
    kept.mkString(separator)
  }

  private def isVoid(name: String): Boolean = name match {
    case "br" | "hr" | "img" | "meta" | "link" | "input" | "area" | "base" |
        "col" | "embed" | "source" | "track" | "wbr" => true
    case _ => false
  }

  // ------------------------------------------------------------------- pdf

  def escapeRef(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c    => sb.append(c)
    }
    sb.toString
  }

  def extractTextRef(pdfBytes: Array[Byte]): Either[String, String] = {
    val s = new String(pdfBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!s.startsWith("%PDF")) return Left("not a PDF")
    val pages = mutable.ArrayBuffer.empty[String]
    var from = 0
    var sawStream = false
    while ({
      val i = s.indexOf("stream", from)
      if (i >= 0) {
        val start = {
          // content begins after "stream" + EOL
          var j = i + "stream".length
          if (j < s.length && s.charAt(j) == '\r') j += 1
          if (j < s.length && s.charAt(j) == '\n') j += 1
          j
        }
        val end = s.indexOf("endstream", start)
        if (end < 0) { from = s.length; false }
        else {
          sawStream = true
          parseContent(s.substring(start, end)) match {
            case Some(txt) => pages += txt
            case None      => // stream without text operators: skip
          }
          from = end + "endstream".length
          true
        }
      } else false
    }) ()
    if (!sawStream) Left("no content stream found")
    else if (pages.isEmpty) Left("no text objects found")
    else {
      // structure was parsed on the byte-preserving ISO-8859-1 view; literal
      // string content is UTF-8 (what synthesize writes) — re-decode so
      // non-ASCII text round-trips (pinned by the Pdf round-trip property)
      val joined = pages.map(_ + "\n\f").mkString
      Right(new String(
        joined.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private def parseContent(content: String): Option[String] = {
    var i = 0
    val n = content.length
    var inText = false
    var any = false
    val lines = mutable.ArrayBuffer.empty[StringBuilder]
    var cur: StringBuilder = null
    // a line-break operator starts a new line only if a show op occurred
    // since the last break — positioning ops before the first show (the
    // `Td` after `BT`) are noise, but breaks BETWEEN shows always count,
    // even when the shown string was empty (empty lines must round-trip;
    // pinned by the pdf round-trip property).
    var sawShow = false
    def ensureLine(): Unit = if (cur == null) { cur = new StringBuilder; lines += cur }
    def breakLine(): Unit = if (sawShow) {
      cur = new StringBuilder; lines += cur; sawShow = false
    }
    while (i < n) {
      val c = content.charAt(i)
      if (!inText) {
        if (c == 'B' && content.startsWith("BT", i)) { inText = true; any = true; i += 2 }
        else i += 1
      } else {
        c match {
          case '(' =>
            val (str, next) = readLiteralRef(content, i)
            ensureLine()
            cur.append(str)
            sawShow = true
            i = next
          case 'E' if content.startsWith("ET", i) =>
            inText = false; i += 2
          case 'T' if content.startsWith("T*", i) =>
            breakLine(); i += 2
          case 'T' if content.startsWith("Td", i) || content.startsWith("TD", i) =>
            breakLine(); i += 2
          case '\'' | '"' =>
            breakLine(); i += 1
          case '[' =>
            // TJ array: strings inside are concatenated (kerning numbers ignored)
            i += 1
          case _ =>
            i += 1
        }
      }
    }
    if (!any) None
    else Some(lines.map(_.toString).mkString("\n"))
  }

  private def readLiteralRef(s: String, open: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = open + 1
    var depth = 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      c match {
        case '\\' if i + 1 < n =>
          val e = s.charAt(i + 1)
          e match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case d if d >= '0' && d <= '7' =>
              var j = i + 1
              var v = 0
              var k = 0
              while (j < n && k < 3 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
                v = v * 8 + (s.charAt(j) - '0'); j += 1; k += 1
              }
              sb.append(v.toChar); i = j
            case _ => sb.append(e); i += 2
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case _ => sb.append(c); i += 1
      }
    }
    (sb.toString, i)
  }

  // ------------------------------------------------------ preprocessors

  def strokeWidthTransformRef(bytes: Array[Byte], darkOnLight: String): Array[Byte] = {
    val s = Payload.utf8(bytes)
    val cleaned = s.filter(c => c >= ' ' || c == '\n' || c == '\t' || c == '\r')
    val out =
      if (darkOnLight == "0")
        cleaned.map { c =>
          if (c >= 'a' && c <= 'z') (c - 32).toChar
          else if (c >= 'A' && c <= 'Z') (c + 32).toChar
          else c
        }
      else cleaned
    Payload.bytes(out)
  }

  // ------------------------------------------------------ extraction

  /** The per-turn kernel in one piece, as it was before it was split at the
    * queue into `Extractor.normalize` and `Extractor.run`: parse, acquire the
    * payload, run the chain (unless `inplace_decode`), then the engine with
    * its `engine_args` validated inside it.
    */
  def extractTurnRef(
      convId: String,
      turnIdx: Int,
      text: String,
      tool: String,
      config: Engines.CoreConfig = Engines.CoreConfig()
  ): ExtractResult = {
    val id = s"$convId#$turnIdx"
    RequestJson.parse(id, tool) match {
      case Left(pe) => ExtractResult(id, Extractor.wrapParseError(id, pe.message), "error", "")
      case Right(req) =>
        val engineName = req.engine.name
        def err(msg: String): ExtractResult =
          ExtractResult(req.id, Extractor.wrapError(req.id, msg), "error", engineName)
        Extractor.acquirePayload(req, text) match {
          case Left(e) => err(e)
          case Right(payload0) =>
            val chained =
              if (req.inplaceDecode) Right(payload0)
              else Preprocessors.runChain(req, payload0)
            chained match {
              case Left(e) => err(e)
              case Right(payload) =>
                val timeOut = Extractor.clampTimeout(req.timeOut)
                val result: Either[String, Engines.EngineResult] = req.engine match {
                  case Engine.Mock      => Engines.mock()
                  case Engine.Tesseract => Engines.tesseract(payload, req.engineArgs)
                  case Engine.Sandwich  => Engines.sandwich(payload, req.engineArgs, timeOut, config)
                  case Engine.GoTesseract => Left("engine is not implemented: go_tesseract")
                  case Engine.Unsupported(n) => Left(s"engine is not implemented: $n")
                }
                result match {
                  case Left(e)  => err(e)
                  case Right(r) => ExtractResult(req.id, r.text, r.status, engineName)
                }
            }
        }
    }
  }
}
