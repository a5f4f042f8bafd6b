package graft.core

import graft.model.{ExtractRequest, JVal}

/** Preprocessor chain — analogs of the reference's preprocessor workers
  * (`/root/reference/preprocessor.go`, `stroke_width_transform.go`,
  * `convert-pdf.go`). Each is a pure `bytes -> bytes` transform; the chain is
  * consumed FROM THE TAIL (i.e. executes in reverse list order) exactly like
  * `nextPreprocessor` (`/root/reference/ocr_request.go:30-40`) pops the last
  * element as the next routing key.
  *
  * In the reference every hop crosses the broker; here the whole chain is
  * fused into `Extractor.run`, the per-turn call after the one queue
  * shuffle (no per-hop shuffle — the hops exist only for horizontal
  * scaling, which Spark partitions already give us).
  */
object Preprocessors {

  val Identity = "identity"
  val StrokeWidthTransform = "stroke-width-transform"
  val ConvertPdf = "convert-pdf"

  /** Apply the full chain in reference order (reverse of list order). */
  def runChain(req: ExtractRequest, bytes: Array[Byte]): Either[String, Array[Byte]] =
    runChain(req.preprocessorChain, extractDarkOnLightParam(req), bytes)

  /** [[runChain]] on the decoded chain and its one argument, the SWT
    * dark-on-light value.
    */
  def runChain(chain: List[String], darkOnLight: String,
      bytes: Array[Byte]): Either[String, Array[Byte]] =
    // foldRight = tail-first consumption (ocr_request.go:34-38)
    chain.foldRight[Either[String, Array[Byte]]](Right(bytes)) {
      (name, acc) => acc.flatMap(b => apply(name, darkOnLight, b))
    }

  def apply(name: String, darkOnLight: String, bytes: Array[Byte]): Either[String, Array[Byte]] =
    name match {
      case Identity             => Right(bytes) // preprocessor.go:13-17
      case StrokeWidthTransform => Right(strokeWidthTransform(bytes, darkOnLight))
      case ConvertPdf           => convertPdf(bytes)
      case other                => Left(s"unknown preprocessor: $other") // preprocessor_rpc_worker.go:35-38
    }

  /** Param extraction — verbatim semantics of `extractDarkOnLightParam`
    * (`/root/reference/stroke_width_transform.go:72-90`): default "1"; only
    * the string values "0" and "1" are accepted; anything else (missing,
    * non-string, other strings) is silently ignored.
    */
  def extractDarkOnLightParam(req: ExtractRequest): String =
    req.preprocessorArgs.get(StrokeWidthTransform) match {
      case Some(JVal.JStr(v)) if v == "0" || v == "1" => v
      case _                                          => "1"
    }

  /** Stroke-width-transform analog: the reference runs the DetectText SWT
    * binary to isolate text strokes (`stroke_width_transform.go:51-56`); our
    * text-domain analog isolates "strokes" by stripping non-text control
    * noise, and `darkOnLight=0` (inverted polarity) flips ASCII letter case.
    * Deterministic + arg-sensitive, pinned by tests.
    */
  def strokeWidthTransform(bytes: Array[Byte], darkOnLight: String): Array[Byte] = {
    // one pass, compacting the kept chars in place
    val cs = Payload.utf8(bytes).toCharArray
    val flip = darkOnLight == "0"
    var n = 0
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (c >= ' ' || c == '\n' || c == '\t' || c == '\r') {
        cs(n) =
          if (!flip) c
          else if (c >= 'a' && c <= 'z') (c - 32).toChar
          else if (c >= 'A' && c <= 'Z') (c + 32).toChar
          else c
        n += 1
      }
      i += 1
    }
    Payload.bytes(new String(cs, 0, n))
  }

  /** convert-pdf analog: the reference rasterizes a PDF to TIFF with
    * ghostscript so the tesseract engine can consume it
    * (`/root/reference/convert-pdf.go:22-79`); ours parses the PDF layout and
    * emits plain text bytes — the form our tesseract-analog consumes. A
    * non-PDF input fails like gs would (error -> `status=error`).
    */
  def convertPdf(bytes: Array[Byte]): Either[String, Array[Byte]] =
    if (Payload.detectFileType(bytes) != Payload.PDF)
      Left("convert-pdf: input is not a PDF")
    else Pdf.extractText(bytes).map(Payload.bytes)
}
