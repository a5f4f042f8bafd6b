package graft

import graft.core._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.util.Pretty
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the pure kernel (FIXTURES.md §"property tests"):
  * round-trips, idempotence, determinism, and classifier laws that must hold
  * for ARBITRARY inputs, not just the fixture corpus.
  */
object CoreProperties extends Properties("core") {

  /** Counterexamples print every non-ASCII or control code unit as
    * `\uXXXX`: a lone surrogate (which [[anyText]] generates) printed raw
    * crashes sbt's forked-test JUnit XML listener
    * (`MalformedInputException`), and the falsified input is lost.
    * Declared first: every `forAll` below takes it when the object is built.
    * It is also an implicit view here, and `Pretty` has `map`/`flatMap`:
    * call those on a `String` through `toCharArray` or `augmentString`.
    */
  private implicit val escapedString: String => Pretty = s => Pretty { _ =>
    if (s == null) "null"
    else s.toCharArray.map(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)
      .mkString("\"", "", "\"")
  }

  private val textGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\n', '\t', '(', ')', '\\', '&', '<', '>')))
      .map(_.mkString),
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('é', '中', 'ß', '∀', ' '))).map(_.mkString))

  property("base64 round-trips arbitrary bytes") =
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val a = bs.toArray
      Payload.decodeBase64(Payload.encodeBase64(a)).toOption.get.sameElements(a)
    }

  property("pdf synthesize -> extractText round-trips text (pdftotext form-feed framing)") =
    forAll(textGen) { s =>
      // PDF literal escapes cover \n; bare \r is normalized by the reader
      val t = s.replace("\r", "")
      Pdf.extractText(Pdf.synthesize(t)) == Right(t + "\n\f")
    }

  property("collapseWs is idempotent") = forAll(textGen) { s =>
    val once = Html.collapseWs(s)
    Html.collapseWs(once) == once
  }

  property("collapseWs output never has doubled spaces or edge whitespace") =
    forAll(textGen) { s =>
      val c = Html.collapseWs(s)
      !c.contains("  ") && c == c.trim
    }

  property("decodeEntities is identity without ampersands") =
    forAll(textGen.map(_.filter(_ != '&'))) { s => Html.decodeEntities(s) == s }

  private def utf8(s: String) = UTF8String.fromString(s)

  property("rollingHash kernel equals the code-point fold for arbitrary text") =
    forAll(textGen) { s =>
      val ref = s.codePoints().toArray
        .foldLeft(0L)((h, cp) => (h * 31L + cp) % 2147483647L)
      graft.spark.RollingHashKernel.rollingHash(utf8(s)) == ref
    }

  property("simhash16 kernel equals the per-token majority-bit definition") =
    forAll(textGen) { s =>
      val toks = s.split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = toks.map { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      }
      val ref = (0 until 16).map { b =>
        if (hs.count(h => ((h >> b) & 1) == 1) * 2 > hs.length) 1 << b else 0
      }.sum
      graft.spark.SimHashKernel.simhash16(utf8(s)) == ref
    }

  property("detectFileType classifies by exact magic") =
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val a = bs.toArray
      val t = Payload.detectFileType(a)
      val pdf = a.length > 3 && a.startsWith("%PDF".getBytes("ASCII"))
      val tiff = a.length > 3 &&
        (a.startsWith(Array[Byte](0x49, 0x49, 0x2a, 0x00)) ||
          a.startsWith(Array[Byte](0x4d, 0x4d, 0x00, 0x2a)))
      if (pdf) t == Payload.PDF else if (tiff) t == Payload.TIFF else t == Payload.UNKNOWN
    }

  property("extraction is deterministic for arbitrary text + tool payloads") =
    forAll(textGen, textGen) { (text, tool) =>
      val a = Extractor.extractTurn("c", 0, text, tool)
      val b = Extractor.extractTurn("c", 0, text, tool)
      a == b
    }

  property("extraction never throws; status is always done/error/empty") =
    forAll(textGen, textGen) { (text, tool) =>
      val r = Extractor.extractTurn("c", 0, text, tool)
      Set("done", "error", "").contains(r.status)
    }

  property("identity chain of any length is a no-op") =
    forAll(Gen.chooseNum(0, 8), textGen) { (n, s) =>
      val req = model.RequestJson.parse("c#0",
        s"""{"preprocessors":[${List.fill(n)("\"identity\"").mkString(",")}]}""").toOption.get
      Preprocessors.runChain(req, Payload.bytes(s)).toOption.get.sameElements(Payload.bytes(s))
    }

  property("swt darkOnLight=0 twice restores case") = forAll(textGen) { s =>
    val once = Preprocessors.strokeWidthTransform(Payload.bytes(s), "0")
    val twice = Preprocessors.strokeWidthTransform(once, "0")
    // control chars are stripped on the first pass; the second pass must be
    // case-flip-only, so flip∘flip == first pass with darkOnLight=1
    Payload.utf8(twice) == Payload.utf8(Preprocessors.strokeWidthTransform(Payload.bytes(s), "1"))
  }

  property("multipart round-trips arbitrary boundary-free payloads") =
    forAll(textGen.suchThat(t => !t.contains("--b") && !t.contains("\n\n"))) { t =>
      val body = s"--b\nContent-Type: image/png\n\n$t\n--b--"
      Multipart.extractParts("multipart/related", "b", body) match {
        case Right(x) => Payload.utf8(x.imgBytes) == t.replace("\r\n", "\n")
        case Left(_)  => Prop.falsified != null && false
      }
    }

  private val hostGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))

  property("url policy: validation accepts exactly http/https") =
    forAll(Gen.oneOf("http", "https", "ftp", "file", "mailto", ""), hostGen) { (scheme, host) =>
      val url = if (scheme.isEmpty) host else s"$scheme://$host/x"
      Urls.checkUrlForReplyTo(url).isRight == (scheme == "http" || scheme == "https")
    }

  property("url policy: stripPassword removes the password and only the password") =
    forAll(hostGen, hostGen, hostGen.suchThat(_.nonEmpty)) { (user, host, pass) =>
      val url = s"https://$user:$pass@$host/path"
      val stripped = Urls.stripPassword(url)
      stripped == s"https://$user:***@$host/path"
    }

  property("url policy: stripPassword is identity without userinfo password") =
    forAll(hostGen, hostGen) { (user, host) =>
      Urls.stripPassword(s"https://$host/x") == s"https://$host/x" &&
      Urls.stripPassword(s"https://$user@$host/x") == s"https://$user@$host/x" &&
      Urls.stripPassword(host) == host
    }

  property("timeout clamp is idempotent and lands in (0, default]") =
    forAll(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)) { t =>
      val c = Extractor.clampTimeout(t)
      c > 0 && c <= Extractor.DefaultTimeoutSeconds && Extractor.clampTimeout(c) == c
    }

  property("chunk formulas cover every token, no empty/misaligned chunk, bounded overlap") =
    forAll(Gen.chooseNum(1, 5000)) { n =>
      import graft.operators.Packing.{chunkTokens => ct, chunkStride => cs}
      // the CLOSED FORM both the Spark operator and the DuckDB twin use
      val nChunks = if (n <= ct) 1 else (n - ct + cs - 1) / cs + 1
      val spans = (0 until nChunks).map { i =>
        val start = i * cs
        (start, math.min(ct, n - start))
      }
      spans.forall { case (s, len) => len > 0 && s % cs == 0 && s + len <= n } &&
      spans.last._1 + spans.last._2 == n && // last chunk reaches the end...
      spans.init.forall { case (s, len) => len == ct } && // ...others are full
      // consecutive full chunks overlap by exactly chunkTokens - stride
      spans.sliding(2).forall {
        case Seq((a, _), (b, _)) => b - a == cs
        case _                   => true
      }
    }

  property("winnowing: docs sharing a run >= W+S-1 tokens share a fingerprint at ANY alignment") = {
    import graft.operators.Dedup.{windowTokens => w, windowStride => s}
    val tok: Gen[String] = Gen.chooseNum(0, 50).map(i => s"t$i")
    val toks: Gen[List[String]] = Gen.listOf(tok)
    forAll(toks, toks, Gen.chooseNum(0, 40), Gen.chooseNum(0, 40)) { (pre1, pre2, cut1, cut2) =>
      // a shared verbatim run of exactly W + S - 1 distinct-vocab tokens
      // inserted at ARBITRARY offsets into otherwise-arbitrary docs (the
      // round-5 review found the positional-stride scheme missed exactly
      // the misaligned cases; winnowing's content-defined selection must
      // catch them all)
      val run = (1 to (w + s - 1)).map(i => s"run$i")
      val d1 = pre1.take(cut1) ++ run ++ pre1.drop(cut1)
      val d2 = pre2.take(cut2) ++ run ++ pre2.drop(cut2)
      TextMirrors.winnowedFps(d1).intersect(TextMirrors.winnowedFps(d2)).nonEmpty
    }
  }

  /** Structured crawl-URL generator: every combination of case-mixed
    * scheme/host, userinfo, default/explicit port, path segments with
    * reserved/unreserved/malformed escapes and empty runs, tracking and
    * look-alike query params, and fragments (incl. '?' inside).
    */
  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTPS", "Http")
    userinfo <- Gen.oneOf("", "user@", "user:Pw@")
    host <- Gen.oneOf("Example.COM", "a-b.example.org", "192.168.0.1",
      "sub.EXAMPLE.co.uk")
    port <- Gen.oneOf("", ":80", ":443", ":8443")
    nseg <- Gen.choose(0, 3)
    segs <- Gen.listOfN(nseg, Gen.oneOf("a", "B", "p%2fq", "%7Euser", "x%2",
      "p%zz", "docs", ""))
    slash <- Gen.oneOf("", "/", "//")
    nq <- Gen.choose(0, 4)
    params <- Gen.listOfN(nq, Gen.oneOf("utm_source=f", "utm_x=1", "fbclid=z",
      "fbclident=1", "a=1", "b=2", "q=%41", "utm=keep", "x=%3d", ""))
    frag <- Gen.oneOf("", "#f", "#a?b")
  } yield {
    val path = if (segs.isEmpty) "" else "/" + segs.mkString("/")
    val query = if (params.isEmpty) "" else "?" + params.mkString("&")
    s"$scheme://$userinfo$host$port$path$slash$query$frag"
  }

  property("url canonicalization is IDEMPOTENT (a canonical url is its own dedup key)") =
    forAll(urlGen) { u =>
      val once = Urls.canonicalize(u)
      Urls.canonicalize(once) == once
    }

  property("canonical http(s) urls: no fragment, no tracking params, sorted query") =
    forAll(urlGen) { u =>
      val c = Urls.canonicalize(u)
      val qi = c.indexOf('?')
      val params = if (qi < 0) Seq.empty[String]
        else c.substring(qi + 1).split("&", -1).toSeq
      !c.contains("#") &&
        params == params.sorted &&
        params.forall { p =>
          val k = p.takeWhile(_ != '=')
          k != "fbclid" && !k.startsWith("utm_")
        }
    }

  property("url canonicalization is TOTAL on arbitrary garbage (never throws)") =
    forAll(textGen) { s => Urls.canonicalize(s) != null }

  // ---------------------------------------------------------------------
  // Parity of the primitive-loop kernels with their reference twins
  // (`CoreRefs`) on arbitrary text: every whitespace code unit, the
  // non-whitespace NBSP, lone and paired surrogates, PUA.

  /** Every UTF-16 code unit `Character.isWhitespace` accepts. */
  private val wsUnits: IndexedSeq[Char] =
    (0 until 0x10000).map(_.toChar).filter(Character.isWhitespace)

  private val oddUnits: Seq[String] = Seq(
    "\u00a0", "\ud800", "\udbff", "\udc00", "\udfff", "\ud83d\ude00", "\ue000", "\uf8ff",
    "\u0130", "é", "中")

  private val unitGen: Gen[String] = Gen.frequency(
    5 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(wsUnits).map(_.toString),
    2 -> Gen.oneOf(oddUnits),
    1 -> Gen.oneOf("(", ")", "\\", "&", ";", "<", ">", "/"))

  private val anyText: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.const(wsUnits.mkString("a", "", "b") + wsUnits.mkString),
    2 -> textGen,
    2 -> Arbitrary.arbitrary[String],
    4 -> Gen.listOf(unitGen).map(_.mkString))

  property("collapseWs equals its reference twin") = forAll(anyText) { s =>
    Html.collapseWs(s) == CoreRefs.collapseWsRef(s)
  }

  property("pdf escape equals its reference twin") = forAll(anyText) { s =>
    Pdf.escape(s) == CoreRefs.escapeRef(s)
  }

  property("swt equals its reference twin on text and raw bytes") =
    forAll(Gen.oneOf(anyText.map(Payload.bytes),
      Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray))) { bs =>
      Seq("0", "1").forall { d =>
        Preprocessors.strokeWidthTransform(bs, d)
          .sameElements(CoreRefs.strokeWidthTransformRef(bs, d))
      }
    }

  /** Raw UTF-8 byte strings, well-formed or not: lone continuation bytes,
    * the overlong `C0 80`, the encoded surrogate `ED A0 80`, the
    * out-of-range `F4 90 80 80` and truncated multi-byte sequences, among
    * ASCII and well-formed 2-, 3- and 4-byte sequences.
    */
  private val rawUtf8: Gen[Array[Byte]] = {
    def b(xs: Int*) = Gen.const(xs.map(_.toByte).toArray)
    val piece = Gen.frequency(
      4 -> Gen.alphaNumChar.map(c => Array(c.toByte)),
      1 -> Gen.oneOf(" ", "\"", "{", "}", ":", "\\").map(Payload.bytes),
      3 -> Gen.oneOf(b(0x80), b(0xbf), b(0xc0, 0x80), b(0xed, 0xa0, 0x80),
        b(0xf4, 0x90, 0x80, 0x80), b(0xc3), b(0xe4, 0xb8), b(0xf0, 0x9f, 0x98)),
      2 -> Gen.oneOf(b(0xc3, 0xa9), b(0xe4, 0xb8, 0xad), b(0xf0, 0x9f, 0x98, 0x80)))
    Gen.oneOf(Gen.listOf(piece).map(_.flatten.toArray),
      Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray))
  }

  /** A raw-byte counterexample prints as hex: decoded, its invalid bytes
    * would all read as U+FFFD.
    */
  private implicit val utf8Bytes: UTF8String => Pretty = u => Pretty { _ =>
    if (u == null) "null" else u.getBytes.map(x => f"${x & 0xff}%02x").mkString("utf8[", " ", "]")
  }

  /** A JSON string literal of arbitrary text. */
  private def jsonStr(s: String): String = "\"" + augmentString(s).flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private val otherJson: Gen[String] = Gen.oneOf("null", "true", "false", "0", "-0", "1.50",
    "7", "{}", "[]", "[1,\"a\"]", """{"k":"v"}""", "\"s\"")

  /** Request fields, each with valid, invalid and wrongly typed values. */
  private val requestFields: Seq[(String, Gen[String])] = {
    val engine = Gen.frequency(
      4 -> Gen.oneOf("tesseract", "TESSERACT", "Tesseract", "sandwich", "SandWich", "mock",
        "MOCK", "go_tesseract", "Go_Tesseract", "unknown", "").map(jsonStr),
      2 -> Gen.chooseNum(0, 5).map(_.toString),
      1 -> Gen.oneOf("null", "true", "false", "{}", """{"a":1}""", "1.5", "[]"))
    val stringy = Gen.frequency(
      3 -> Gen.oneOf("6", "13", "0", "3", "14", "banana", "", "txt", "TXT", "combinedpdf",
        "CombinedPDF", "ocrlayeronly", "bogus", "eng").map(jsonStr),
      1 -> otherJson)
    val configVars = Gen.frequency(
      2 -> Gen.oneOf("abc ", "0123456789", "", "xyz\n", "pdf").map(w =>
        s"""{"tessedit_char_whitelist":${jsonStr(w)}}"""),
      1 -> otherJson.map(v => s"""{"tessedit_char_whitelist":"ab","k":$v}"""),
      1 -> Gen.oneOf("{}", "null", "\"k=v\"", "3", "[]", """{"k":{"n":1}}"""))
    val engineArgs = Gen.frequency(
      4 -> (for {
        psm <- Gen.option(stringy)
        lang <- Gen.option(stringy)
        ocrType <- Gen.option(stringy)
        cv <- Gen.option(configVars)
        optimize <- Gen.option(Gen.oneOf("true", "false", "null", "\"yes\"", "1"))
      } yield Seq("psm" -> psm, "lang" -> lang, "ocr_type" -> ocrType, "config_vars" -> cv,
        "result_optimize" -> optimize).collect { case (k, Some(v)) => s"${jsonStr(k)}:$v" }
        .mkString("{", ",", "}")),
      1 -> Gen.oneOf("null", "[]", "\"x\"", "3", "true"))
    def b64(s: String) = Payload.encodeBase64(Payload.bytes(s))
    val imgBase64 = Gen.frequency(
      4 -> Gen.oneOf("", "!!!not-base64!!!", "YWJj\n", "YWJ",
        Payload.encodeBase64(Pdf.synthesize("pdf body ab 12")),
        b64("%PDF-1.4\nstream\nBT (lit \\101) Tj ET"), b64("%PDF"), b64("%PD"),
        b64("II*\u0000tiff little ab"), b64("MM\u0000*tiff big ab"), b64("II*\u0000"),
        b64("II*"), b64("plain garbage")),
      1 -> Gen.listOf(Arbitrary.arbitrary[Byte]).map(bs => Payload.encodeBase64(bs.toArray)))
    val preprocessors = Gen.frequency(
      4 -> Gen.listOf(Gen.oneOf("identity", "stroke-width-transform", "convert-pdf", "bogus",
        "IDENTITY")).map(_.take(4).map(jsonStr).mkString("[", ",", "]")),
      1 -> Gen.oneOf("null", "\"identity\"", "{}", "[1, -0, 1.50, null]"))
    Seq(
      "engine" -> engine,
      "engine_args" -> engineArgs,
      "img_base64" -> imgBase64.map(jsonStr),
      "img_url" -> Gen.oneOf("http://x/y.png", "").map(jsonStr),
      "preprocessors" -> preprocessors,
      "preprocessor-args" -> Gen.oneOf("{}", """{"stroke-width-transform":"0"}""",
        """{"stroke-width-transform":"1"}""", """{"stroke-width-transform":5}""", "null", "[]"),
      "inplace_decode" -> Gen.oneOf("true", "false", "\"true\"", "null"),
      "time_out" -> Gen.oneOf("0", "-1", "60", "1099511627776", "1.5", "\"60\"", "null"),
      "doc_type" -> Gen.oneOf("\"egov\"", "1"))
  }

  /** `tool` JSON: any subset of [[requestFields]] in any order, sometimes
    * with a repeated key (the last one wins); or malformed, blank or not an
    * object.
    */
  private val request: Gen[String] = {
    val member = requestFields.map { case (k, g) => g.map(v => s"${jsonStr(k)}:$v") }
    Gen.frequency(
      10 -> (for {
        present <- Gen.sequence[List[Option[String]], Option[String]](member.map(Gen.option(_)))
        repeated <- Gen.option(Gen.oneOf(member).flatMap(identity))
        seed <- Arbitrary.arbitrary[Long]
      } yield (new scala.util.Random(seed).shuffle(present.flatten) ++ repeated)
        .mkString("{", ",", "}")),
      1 -> Gen.oneOf(null, "", "   ", """{"engine":"mock",""", "[1]", "\"str\"",
        """{"engine": nope}"""))
  }

  property("extraction kernel equals extractTurn on every field, chars counted in UTF-16") = {
    val value = Gen.frequency(1 -> Gen.const(null: String), 6 -> anyText)
    // text and tool also arrive as raw bytes, invalid UTF-8 included, bare
    // or inside a JSON string of an otherwise valid request
    val raw = rawUtf8.map(UTF8String.fromBytes)
    val text = Gen.frequency(6 -> value.map(utf8), 2 -> raw)
    val tool = Gen.frequency(8 -> value.map(utf8), 2 -> Gen.oneOf("""{"engine":"mock"}""",
      """{"engine":"tesseract"}""", """{"engine":"mock",""").map(utf8), 4 -> request.map(utf8),
      1 -> raw,
      1 -> rawUtf8.map(bs => UTF8String.fromBytes(
        Payload.bytes("""{"engine":"mock","id":"""") ++ bs ++ Payload.bytes("\"}"))))
    forAll(value, Gen.chooseNum(0, 1000), text, tool) { (conv, idx, text, tl) =>
      // a Java string crosses Spark as UTF-8 (a lone surrogate becomes '?')
      // and bytes decode by `toString`: the twin reads and writes the same
      // decoded values; counts are of the Java strings
      def decoded(u: UTF8String) = Option(u).map(_.toString).orNull
      val (c, in, t) = (decoded(utf8(conv)), decoded(text), decoded(tl))
      val row = graft.spark.ExtractTextKernel.turn(utf8(conv), idx, text, tl,
        Engines.CoreConfig())
      val r = Extractor.extractTurn(c, idx, in, t)
      def str(i: Int) = Option(row.getUTF8String(i)).map(_.toString).orNull
      def len(s: String) = if (s == null) 0 else s.length
      str(0) == c && row.getInt(1) == idx && str(2) == decoded(utf8(r.text)) &&
        str(3) == r.status && str(4) == r.engine && row.getInt(5) == len(in) + len(t) &&
        row.getInt(6) == len(r.text)
    }
  }

  private val htmlPiece: Gen[String] = {
    val tag = Gen.oneOf("p", "P", "div", "DiV", "a", "A", "td", "li", "h1", "span",
      "nav", "Form", "br", "hr", "img", "table", "section", "x1")
    Gen.frequency(
      4 -> anyText.map(_.take(30)),
      2 -> Gen.const("Lorem ipsum dolor sit amet, consectetur adipiscing"),
      4 -> tag.flatMap(t => Gen.oneOf(s"<$t>", s"</$t>", s"< / $t >", s"<$t/>",
        s"<$t class='c'>", s"< $t >", s"<$t\t/ >", s"</$t\u000b>")),
      3 -> Gen.oneOf("<br/>", "<", "< ", "<>", "</>", "<//>", "</", "<!-- c -->",
        "<!--", "<!DOCTYPE html>", "<?xml ?>", "<script>var x = '</p>';",
        "<SCRIPT>1</script >", "<style>p{}</STYLE>", "&amp;", "&lt;", "&#65;",
        "&#x41;", "&nbsp;", "&bogus;", "&", "<a href='x'>out <a>in</a> tail</a>"))
  }

  property("html extract equals its reference twin on html-shaped and arbitrary text") =
    forAll(Gen.oneOf(Gen.listOf(htmlPiece).map(_.mkString), anyText)) { h =>
      Seq("\n\n", "\n").forall(sep => Html.extract(h, sep) == CoreRefs.htmlExtractRef(h, sep))
    }

  /** PDF-literal generator: nested parens, octal escapes, unknown escapes,
    * a trailing backslash, an unterminated literal, a missing endstream.
    */
  private val pdfGen: Gen[Array[Byte]] = {
    val plain = anyText.map(_.take(20).filterNot(c => c == '(' || c == ')' || c == '\\'))
    val litPiece = Gen.frequency(
      3 -> plain,
      2 -> Gen.oneOf("(", ")", "\\(", "\\)", "\\\\", "\\n", "\\r", "\\t", "\\b", "\\f",
        "\\q", "\\0", "\\7", "\\101", "\\1234", "\\777", "\\8", "(nested (deep) x)"))
    val literal = Gen.listOf(litPiece).map(l => s"(${l.mkString})")
    val op = Gen.oneOf(" Tj ", " T* ", " Td ", " TD ", " ' ", " \" ", " [", "] TJ ", " 0 -14 ")
    for {
      parts <- Gen.listOf(Gen.zip(literal, op))
      tail <- Gen.oneOf("", "(unterminated", "(trailing \\", "\\")
      et <- Gen.oneOf(" ET", "")
      end <- Gen.oneOf("\nendstream\n%%EOF", "")
    } yield {
      val content = "BT " + parts.map { case (l, o) => l + o }.mkString + tail + et
      Payload.bytes(s"%PDF-1.4\nstream\n$content$end")
    }
  }

  property("pdf extractText equals its reference twin on literal-heavy streams") =
    forAll(Gen.oneOf(pdfGen, anyText.map(t => Pdf.synthesize(t)))) { bs =>
      Pdf.extractText(bs) == CoreRefs.extractTextRef(bs)
    }

  property("extractTurn (normalize, then run) equals the monolithic extractTurnRef") = {
    val text = Gen.frequency(
      3 -> anyText,
      2 -> Gen.listOf(htmlPiece).map(_.mkString),
      1 -> rawUtf8.map(bs => UTF8String.fromBytes(bs).toString),
      1 -> Gen.const(null: String),
      1 -> anyText.map(t => Payload.utf8(Pdf.synthesize(t))),
      1 -> Gen.oneOf("II*\u0000tiff text", "MM\u0000*tiff text", "%PDF", ""))
    val config = Gen.oneOf(Engines.CoreConfig(), Engines.CoreConfig(t2pConverter = "tiff2pdf"))
    forAll(Gen.listOfN(5, Gen.zip(text, request, config))) { turns =>
      turns.forall { case (text, tool, cfg) =>
        Extractor.extractTurn("c", 1, text, tool, cfg) == CoreRefs.extractTurnRef("c", 1, text, tool, cfg)
      }
    }
  }
}

/** Pure-Scala mirrors of columnar text kernels, shared by the ScalaCheck
  * laws above and the PipelineSpec parity tests that pin them to the
  * operators' actual Spark output (so the mirror cannot drift silently).
  */
object TextMirrors {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Mirror of [[graft.operators.Dedup.windowFingerprints]]'s per-document
    * selection: md5 of every windowTokens-token window (stride 1), winnowed
    * to the minimum of every windowStride consecutive window positions
    * (whole-list minimum when fewer windows than a span).
    */
  def winnowedFps(toks: Seq[String]): Set[String] = {
    import graft.operators.Dedup.{windowTokens => w, windowStride => s}
    if (toks.size < w) Set.empty
    else {
      val wfps = toks.sliding(w).map(win => md5hex(win.mkString(" "))).toVector
      (0 until math.max(wfps.size - s + 1, 1))
        .map(i => wfps.slice(i, i + s).min).toSet
    }
  }
}
