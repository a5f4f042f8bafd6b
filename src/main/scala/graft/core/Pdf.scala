package graft.core

import scala.collection.mutable

/** Minimal deterministic PDF layout handling — the Spark-side analog of the
  * reference's PDF toolchain (`pdfsandwich`/`pdftotext`,
  * `/root/reference/sandwich_engine.go:301-488`). Two halves:
  *
  *   - [[synthesize]]: text -> a tiny single-content-stream PDF (used by the
  *     deterministic transcript generator and by the TIFF->PDF converter
  *     analog, `/root/reference/ocr_util.go:136-169`).
  *   - [[extractText]]: parse uncompressed content streams, walk the text
  *     operators (`BT..ET`, `Tj`, `TJ`, `'`, `"`, `Td/TD/T*`) and emit page
  *     text the way `pdftotext` does: lines joined by `\n`, every page
  *     terminated by `\n\f`.
  *
  * This is NOT a general PDF reader — it handles the uncompressed text-object
  * subset our pipeline produces and that layout-parse semantics require, and
  * reports a parse error (-> `status=error`) on anything else, mirroring the
  * reference's behavior when `pdfsandwich` fails on a broken input.
  */
object Pdf {

  /** Escape a PDF literal string per spec: backslash, parens, and the three
    * common control escapes.
    */
  def escape(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n + 8)
    var i = 0
    while (i < n) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '('  => sb.append("\\(")
        case ')'  => sb.append("\\)")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Build a deterministic one-page PDF whose content stream shows `text`
    * (one `Tj` per input line, `T*` between lines).
    */
  def synthesize(text: String): Array[Byte] = {
    val lines = text.split("\n", -1)
    val shows = lines.map(l => s"(${escape(l)}) Tj").mkString(" T* ")
    val stream = s"BT /F1 12 Tf 14 TL 72 720 Td $shows ET"
    val pdf =
      s"""%PDF-1.4
1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
4 0 obj << /Length ${stream.length} >> stream
$stream
endstream endobj
trailer << /Root 1 0 R >>
%%EOF
"""
    pdf.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Extract text from all uncompressed content streams.
    *
    * Returns Left(error) when the bytes are not parseable as our PDF text
    * subset (no stream, no text operators, compressed data...). The error
    * string becomes the engine error the worker wraps
    * (`ocr_rpc_worker.go:240-243`).
    */
  def extractText(pdfBytes: Array[Byte]): Either[String, String] = {
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

  /** Parse one content stream: collect show-text strings per line; `T*`,
    * `Td`, `TD`, `'` and `"` start a new line. Returns None when the stream
    * contains no BT..ET text object.
    */
  private def parseContent(content: String): Option[String] = {
    var i = 0
    val n = content.length
    var inText = false
    var any = false
    val lines = mutable.ArrayBuffer.empty[java.lang.StringBuilder]
    var cur: java.lang.StringBuilder = null
    // a line-break operator starts a new line only if a show op occurred
    // since the last break — positioning ops before the first show (the
    // `Td` after `BT`) are noise, but breaks BETWEEN shows always count,
    // even when the shown string was empty (empty lines must round-trip;
    // pinned by the pdf round-trip property).
    var sawShow = false
    def ensureLine(): Unit = if (cur == null) { cur = new java.lang.StringBuilder; lines += cur }
    def breakLine(): Unit = if (sawShow) {
      cur = new java.lang.StringBuilder; lines += cur; sawShow = false
    }
    while (i < n) {
      val c = content.charAt(i)
      if (!inText) {
        if (c == 'B' && content.startsWith("BT", i)) { inText = true; any = true; i += 2 }
        else i += 1
      } else {
        c match {
          case '(' =>
            ensureLine()
            i = readLiteral(content, i, cur)
            sawShow = true
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

  /** Read a PDF literal string starting at `(`, append its decoded text to
    * `sb` and return the index after it. Handles escapes (\\ \( \) \n \r
    * \t \b \f octal) and balanced parens; runs of plain chars are appended
    * in bulk.
    */
  private def readLiteral(s: String, open: Int, sb: java.lang.StringBuilder): Int = {
    var i = open + 1
    var depth = 1
    val n = s.length
    while (i < n && depth > 0) {
      val run = i
      while (i < n && { val c = s.charAt(i); c != '\\' && c != '(' && c != ')' }) i += 1
      sb.append(s, run, i)
      if (i < n) s.charAt(i) match {
        case '\\' if i + 1 < n =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case d if d >= '0' && d <= '7' =>
              var j = i + 1
              var v = 0
              var k = 0
              while (j < n && k < 3 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
                v = v * 8 + (s.charAt(j) - '0'); j += 1; k += 1
              }
              sb.append(v.toChar); i = j
            case e => sb.append(e); i += 2 // \( \) \\ and unknown escapes
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case c => sb.append(c); i += 1 // a trailing backslash
      }
    }
    i
  }
}
