package graft.core

import graft.model.JVal
import graft.model.JVal._

/** Engine implementations — analogs of the reference's `OcrEngine` impls
  * (`/root/reference/mock_engine.go`, `tesseract_engine.go`,
  * `sandwich_engine.go`). Pure JVM functions: every reference subprocess call
  * (tesseract / pdfsandwich / gs / pdftk / pdftotext) becomes a deterministic
  * in-process transform, keeping the per-turn path inside one
  * whole-stage-codegen kernel call.
  */
object Engines {

  /** Analog of `WorkerConfig` fields that influence semantics
    * (`/root/reference/worker_config.go:44,90-96`).
    */
  final case class CoreConfig(
      t2pConverter: String = "convert", // "convert" | "tiff2pdf"
      prioMap: Map[String, Int] = Map("standard" -> 1) // rabbit_config.go:46
  )

  /** Engine-internal result before worker wrapping: (text, status). */
  final case class EngineResult(text: String, status: String)

  /** Constant mock — `/root/reference/mock_engine.go:3-10`. Note the
    * reference leaves `Status` unset (empty string) on the mock path; we keep
    * that faithfully (pinned by test).
    */
  val MockEngineResponse = "mock engine decoder response"
  def mock(): Either[String, EngineResult] = Right(EngineResult(MockEngineResponse, ""))

  // ---------------------------------------------------------------- tesseract

  final case class TesseractArgs(
      configVars: Map[String, String],
      psm: String,
      lang: String
  ) {
    /** The one config var the analog reads; "" when unset. */
    def whitelist: String = configVars.getOrElse("tessedit_char_whitelist", "")
  }

  /** Arg parsing with the reference's exact lazy-validation semantics and
    * error strings (`/root/reference/tesseract_engine.go:22-74`): absent
    * engine_args -> defaults; config_vars values / psm / lang must be JSON
    * strings, else an error naming the offending value.
    */
  def parseTesseractArgs(engineArgs: Option[Map[String, JVal]]): Either[String, TesseractArgs] = {
    val args = engineArgs.getOrElse(Map.empty)
    for {
      cv <- configVars(args)
      psm <- stringField(args, "psm", "could not convert psm into string")
      lang <- stringField(args, "lang", "could not convert lang into string")
    } yield TesseractArgs(cv, psm, lang)
  }

  /** `config_vars`, shared by both engines: absent or null -> empty, else a
    * JSON object of JSON strings; the first other value is the error.
    */
  private def configVars(args: Map[String, JVal]): Either[String, Map[String, String]] = {
    def err(v: JVal) = Left(s"could not convert configVar into string: ${goString(v)}")
    args.get("config_vars") match {
      case None | Some(JNull) => Right(Map.empty)
      case Some(JObj(m)) =>
        m.foldLeft[Either[String, Map[String, String]]](Right(Map.empty)) {
          case (acc, (k, JStr(s))) => acc.map(_ + (k -> s))
          case (acc, (_, other))   => acc.flatMap(_ => err(other))
        }
      // the reference type-asserts without `ok` and would panic here
      // (tesseract_engine.go:38); we degrade to an error row instead.
      case Some(other) => err(other)
    }
  }

  /** A string-valued arg: absent or null -> "", else a JSON string; any other
    * value is an error under the reference's `prefix`.
    */
  private def stringField(args: Map[String, JVal], key: String, prefix: String): Either[String, String] =
    args.get(key) match {
      case None | Some(JNull) => Right("")
      case Some(JStr(s))      => Right(s)
      case Some(other)        => Left(s"$prefix: ${goString(other)}")
    }

  /** The tesseract-analog extraction: HTML main-content strip (or plain-text
    * normalization) honoring `config_vars.tessedit_char_whitelist` (character
    * filter), `psm` (segmentation: 6/13 -> single-block joining, 0 -> OSD
    * only, which produces no text outfile and therefore errors exactly like
    * `findOutfile` does, `tesseract_engine.go:236-250`).
    */
  def tesseract(bytes: Array[Byte], engineArgs: Option[Map[String, JVal]]): Either[String, EngineResult] =
    parseTesseractArgs(engineArgs).flatMap(args => tesseract(bytes, args.psm, args.whitelist))

  /** [[tesseract]] on validated args: only `psm` and the
    * `tessedit_char_whitelist` config var ("" = no filter) shape the output.
    */
  def tesseract(bytes: Array[Byte], psm: String, whitelist: String): Either[String, EngineResult] = {
    // psm must be a number 0..13 or tesseract itself rejects the flag
    val psmNum: Either[String, Option[Int]] =
      if (psm.isEmpty) Right(None)
      else
        psm.toIntOption match {
          case Some(v) if v >= 0 && v <= 13 => Right(Some(v))
          case _ => Left(s"tesseract failed: invalid psm value $psm")
        }
    psmNum.flatMap {
      case Some(0) =>
        // --psm 0 = orientation/script detection only: tesseract writes
        // no .txt/.hocr/.json outfile -> findOutfile error
        // (tesseract_engine.go:236-250)
        Left("Could not find outfile.  Basename: <tmp> Extensions: [txt hocr json]")
      case psm =>
        val text = Payload.utf8(bytes)
        val separator = psm match {
          case Some(6) | Some(13) => "\n" // single uniform block / raw line
          case _                  => "\n\n"
        }
        val extracted =
          if (Html.looksLikeHtml(text)) Html.extract(text, separator)
          else Html.collapseWs(text)
        val filtered =
          if (whitelist.isEmpty) extracted
          else {
            val keep = whitelist.toSet
            Html.collapseWs(extracted.filter(c => keep.contains(c) || c.isWhitespace || c == '\n'))
          }
        Right(EngineResult(filtered, "done"))
    }
  }

  // ----------------------------------------------------------------- sandwich

  final case class SandwichArgs(
      configVars: Map[String, String],
      lang: String,
      ocrType: String,
      resultOptimize: Boolean
  )

  /** `/root/reference/sandwich_engine.go:36-104` semantics + error strings. */
  def parseSandwichArgs(engineArgs: Option[Map[String, JVal]]): Either[String, SandwichArgs] = {
    val args = engineArgs.getOrElse(Map.empty)
    for {
      cv <- configVars(args)
      lang <- stringField(args, "lang", "could not convert lang into string")
      ocrType <- stringField(args, "ocr_type", "could not convert into string")
      optimize <- args.get("result_optimize") match {
        case None | Some(JNull) => Right(false)
        case Some(JBool(b))     => Right(b)
        case Some(other)        => Left(s"could not convert into boolean: ${goString(other)}")
      }
    } yield SandwichArgs(cv, lang, ocrType, optimize)
  }

  /** TIFF->PDF conversion with converter fallback — the two-attempt semantics
    * of `sandwich_engine.go:344-371` + `ocr_util.go:136-169`. Our synthetic
    * "TIFF" container is magic (`II*\0` / `MM\0*`) + UTF-8 payload. The
    * primary strict converter ("convert") only understands little-endian
    * (`II*\0`) containers; the lenient one ("tiff2pdf") understands both —
    * so a big-endian TIFF under the default config exercises the fallback
    * deterministically.
    */
  private def convertStrict(bytes: Array[Byte]): Option[Array[Byte]] = {
    val s = Payload.utf8(bytes)
    if (bytes.length > 4 && bytes(0) == 0x49 && bytes(1) == 0x49) Some(Pdf.synthesize(s.drop(4)))
    else None
  }
  private def convertLenient(bytes: Array[Byte]): Option[Array[Byte]] =
    if (bytes.length > 4) Some(Pdf.synthesize(Payload.utf8(bytes).drop(4))) else None

  def tiffToPdf(bytes: Array[Byte], primary: String): Either[String, Array[Byte]] =
    tiffToPdfTrace(bytes, primary).map(_._2)

  /** Like [[tiffToPdf]] but also reports WHICH converter produced the pdf —
    * the observable half of the fallback semantics (the reference logs the
    * fallback at `sandwich_engine.go:352-363`).
    */
  def tiffToPdfTrace(bytes: Array[Byte], primary: String): Either[String, (String, Array[Byte])] = {
    def run(name: String) = name match {
      case "tiff2pdf" => convertLenient(bytes)
      case _          => convertStrict(bytes)
    }
    val alternative = if (primary == "convert") "tiff2pdf" else "convert"
    run(primary).map(primary -> _).orElse(run(alternative).map(alternative -> _)) match {
      case Some(traced) => Right(traced)
      case None =>
        Left("entirely failed to convert the input image to intermediate pdf, usually this is caused by a damaged input file")
    }
  }

  /** Deterministic stand-ins for the COMBINEDPDF post-processing steps
    * (`sandwich_engine.go:396-476`): multistamp = original + ocr layer;
    * gs /prepress optimize = a marked, deterministic re-encoding.
    */
  def multistamp(original: Array[Byte], ocrLayer: Array[Byte]): Array[Byte] =
    original ++ ocrLayer
  def optimizePdf(pdf: Array[Byte]): Array[Byte] = {
    val s = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val marked =
      if (s.contains("%%EOF")) s.replace("%%EOF", "%optimized\n%%EOF") else s + "\n%optimized"
    marked.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Sandwich engine — `/root/reference/sandwich_engine.go:126-199,301-488`.
    * Accepts only PDF/TIFF (sniffed, never declared); runs under a
    * per-request deadline (`runExternalCmd`, 281-299); post-processes per
    * upper-cased `ocr_type` (TXT / COMBINEDPDF / OCRLAYERONLY, anything else
    * — including absent — errors); and base64-encodes the delivered file
    * bytes for EVERY ocr_type (484-487).
    */
  def sandwich(
      bytes: Array[Byte],
      engineArgs: Option[Map[String, JVal]],
      timeOutSeconds: Long,
      config: CoreConfig,
      nanoTime: () => Long = System.nanoTime
  ): Either[String, EngineResult] = {
    val args = parseSandwichArgs(engineArgs)
    sandwich(bytes, args.left.getOrElse(null), args.map(_.ocrType).getOrElse(""),
      args.exists(_.resultOptimize), timeOutSeconds, config, nanoTime)
  }

  /** [[sandwich]] on validated args: only `ocr_type` and `result_optimize`
    * shape the output. `argsError` is the `engine_args` validation error
    * (null when they are valid), raised where the reference raises it: after
    * the empty-file and file-type checks.
    */
  def sandwich(
      bytes: Array[Byte],
      argsError: String,
      ocrType: String,
      resultOptimize: Boolean,
      timeOutSeconds: Long,
      config: CoreConfig,
      nanoTime: () => Long
  ): Either[String, EngineResult] = {
    if (bytes == null || bytes.isEmpty)
      return Left("EOF") // readFirstBytes on an empty file, sandwich_engine.go:169-176
    val fileType = Payload.detectFileType(bytes)
    if (fileType == Payload.UNKNOWN)
      return Left("file format not understood") // sandwich_engine.go:178-185
    if (argsError != null) return Left(argsError)
    val deadline = nanoTime() + timeOutSeconds * 1000000000L
    val pdfBytes: Either[String, Array[Byte]] =
      if (fileType == Payload.TIFF) tiffToPdf(bytes, config.t2pConverter)
      else Right(bytes)
    pdfBytes.flatMap { pdf =>
      val upper = ocrType.toUpperCase
      // pdfsandwich analog: layout parse under the request deadline
      val parsed = Pdf.extractText(pdf)
      if (nanoTime() > deadline) Left("command timed out")
      else
        parsed.flatMap { text =>
          // the OCR layer is built only for the output types that carry it
          val delivered: Either[String, Array[Byte]] = upper match {
            case "TXT" => Right(Payload.bytes(text)) // pdftotext path, 455-471
            case "COMBINEDPDF" =>
              val combined = multistamp(pdf, Pdf.synthesize(text))
              Right(if (resultOptimize) optimizePdf(combined) else combined)
            case "OCRLAYERONLY" => Right(Pdf.synthesize(text))
            case _              => Left("requested output format is not supported") // 471-476
          }
          delivered.map(b => EngineResult(Payload.encodeBase64(b), "done"))
        }
    }
  }
}
