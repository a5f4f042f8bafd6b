package graft.core

import graft.model._

/** The fused per-turn extraction kernel: payload acquisition -> preprocessor
  * chain (reverse list order) -> engine dispatch -> worker-style result
  * wrapping. This is the whole reference request lifecycle
  * (`/root/reference/ocr_rpc_client.go:43-195` +
  * `/root/reference/ocr_rpc_worker.go:165-247`) collapsed into one pure
  * function, so Spark can call it from one narrow whole-stage-codegen
  * projection (`graft.spark.ExtractTextKernel`) with no per-hop shuffle.
  */
object Extractor {

  /** Default + maximum response timeout — `ResponseCacheTimeout` /
    * `MaximalResponseCacheTimeout` (`/root/reference/rabbit_config.go:47-48`).
    */
  val DefaultTimeoutSeconds = 28800L

  /** Clamp per `/root/reference/ocr_rpc_client.go:87-89`:
    * `TimeOut >= Maximal || TimeOut == 0` -> default.
    */
  def clampTimeout(timeOut: Long): Long =
    if (timeOut >= DefaultTimeoutSeconds || timeOut <= 0) DefaultTimeoutSeconds else timeOut

  /** Message priority from doc_type — `/root/reference/ocr_rpc_client.go:74-85`:
    * absent doc_type -> 1; known doc_type -> configured priority; unknown
    * doc_type -> the "standard" class priority.
    */
  def priority(docType: String, config: Engines.CoreConfig): Int =
    if (docType.isEmpty) 1
    else config.prioMap.getOrElse(docType, config.prioMap.getOrElse("standard", 1))

  /** Worker-side error wrapping — verbatim format string (double space
    * included) from `/root/reference/ocr_rpc_worker.go:240-243`.
    */
  def wrapError(id: String, errMsg: String): String =
    s"Error processing image url: $id.  Error: $errMsg"

  /** Unmarshal-failure wrapping — `/root/reference/ocr_rpc_worker.go:218-228`. */
  def wrapParseError(id: String, errMsg: String): String =
    s"Error unmarshalling json: $id.  Error: $errMsg"

  /** Normalize the payload to bytes, like the reference client does before
    * enqueue (`ocr_rpc_client.go:146-164`): base64 decoded if present, else
    * URL download (disabled here: at 10^12-turn scale payloads are inline per
    * the input contract — a url-only request becomes an error row), else the
    * raw bytes (for us: the turn's `text` column, UTF-8).
    */
  def acquirePayload(req: ExtractRequest, textColumn: String): Either[String, Array[Byte]] =
    if (req.imgBase64.nonEmpty) Payload.decodeBase64(req.imgBase64)
    else if (req.imgUrl.nonEmpty) Left("url payload acquisition is disabled (inline payloads only)")
    else Right(Payload.bytes(if (textColumn == null) "" else textColumn))

  /** Run one request end-to-end. `textColumn` is the turn's `text` column —
    * the default payload when the tool JSON carries no inline payload.
    */
  def extract(
      req: ExtractRequest,
      textColumn: String,
      config: Engines.CoreConfig = Engines.CoreConfig()
  ): ExtractResult = {
    val engineName = req.engine.name
    def err(msg: String): ExtractResult =
      ExtractResult(req.id, wrapError(req.id, msg), "error", engineName)

    acquirePayload(req, textColumn) match {
      case Left(e) => err(e)
      case Right(payload0) =>
        // O24: inplace_decode runs the engine in-process — the preprocessor
        // chain is routed by the RPC client the inplace path never reaches
        // (`/root/reference/ocr_http_handler.go:115-128`), so it is skipped.
        val chained =
          if (req.inplaceDecode) Right(payload0)
          else Preprocessors.runChain(req, payload0)
        chained match {
          case Left(e) => err(e)
          case Right(payload) =>
            val timeOut = clampTimeout(req.timeOut)
            val result: Either[String, Engines.EngineResult] = req.engine match {
              case Engine.Mock      => Engines.mock()
              case Engine.Tesseract => Engines.tesseract(payload, req.engineArgs)
              case Engine.Sandwich  => Engines.sandwich(payload, req.engineArgs, timeOut, config)
              case Engine.GoTesseract =>
                // NewOcrEngine returns nil for go_tesseract and the reference
                // worker would nil-deref (ocr_engine.go:23-33); we emit an
                // error row instead of crashing the executor.
                Left("engine is not implemented: go_tesseract")
              case Engine.Unsupported(n) =>
                Left(s"engine is not implemented: $n")
            }
            result match {
              case Left(e)  => err(e)
              case Right(r) => ExtractResult(req.id, r.text, r.status, engineName)
            }
        }
    }
  }

  /** Parse + extract one turn. */
  def extractTurn(
      convId: String,
      turnIdx: Int,
      text: String,
      tool: String,
      config: Engines.CoreConfig = Engines.CoreConfig()
  ): ExtractResult = {
    val id = s"$convId#$turnIdx"
    RequestJson.parse(id, tool) match {
      case Left(pe) => ExtractResult(id, wrapParseError(id, pe.message), "error", "")
      case Right(req) => extract(req, text, config)
    }
  }
}
