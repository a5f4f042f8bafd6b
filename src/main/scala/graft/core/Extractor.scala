package graft.core

import graft.model._

/** The per-turn extraction kernel, split where the reference splits it:
  * at the work queue.
  *
  *  - [[normalize]] is the reference's steps 1-3, everything before the
  *    publish: the HTTP handler decodes the request JSON
  *    (`/root/reference/ocr_http_handler.go:75-84`), the RPC client clamps
  *    the timeout (`ocr_rpc_client.go:87-89`) and turns the url/base64/bytes
  *    payload into bytes (`ocr_rpc_client.go:146-164`); here it also
  *    validates the engine args the engine reads.
  *  - [[run]] is steps 4-5, the workers behind the queue: the preprocessor
  *    chain (`preprocessor_rpc_worker.go:239-295`) and the engine dispatch
  *    with worker-style result wrapping (`ocr_rpc_worker.go:165-247`).
  *
  * Both are pure functions. `graft.spark.ExtractTextKernel` calls them as two
  * whole-stage-codegen projections on either side of the salted repartition
  * that stands in for the queue, so only the [[Normalized]] request crosses
  * the shuffle. [[extractTurn]] is the two composed.
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

  /** One request as it crosses the queue: decoded, with only what [[run]]
    * reads. A turn that already failed (its tool JSON did not parse, or its
    * payload could not be acquired) carries its final `error` text and
    * nothing else.
    *
    * @param engine the engine; null when the request did not parse
    * @param error the final error text of a turn that ended before the
    *   queue, else null
    * @param payload the payload bytes; empty when no later stage reads them
    *   (no chain runs and the engine is neither tesseract nor sandwich)
    * @param chain the preprocessor chain in list order (consumed from the
    *   tail); Nil when none runs (`inplace_decode` skips it)
    * @param darkOnLight the SWT argument, only with a chain, else null
    * @param timeOut the clamped timeout in seconds
    * @param argsError the `engine_args` validation error of a tesseract or
    *   sandwich request, else null
    * @param psm tesseract's `psm`, else null
    * @param whitelist tesseract's `tessedit_char_whitelist`, else null
    * @param ocrType sandwich's `ocr_type`, else null
    * @param resultOptimize sandwich's `result_optimize`
    */
  final case class Normalized(
      engine: Engine,
      error: String,
      payload: Array[Byte],
      chain: List[String],
      darkOnLight: String,
      timeOut: Long,
      argsError: String,
      psm: String,
      whitelist: String,
      ocrType: String,
      resultOptimize: Boolean)

  private def failed(engine: Engine, error: String): Normalized =
    Normalized(engine, error, Array.emptyByteArray, Nil, null, DefaultTimeoutSeconds,
      null, null, null, null, resultOptimize = false)

  /** Steps 1-3 for one turn: decode `tool` (a parse failure is final),
    * acquire the payload (a failure is final), clamp the timeout and
    * validate the engine args. `id` is the request id `conv_id#turn_idx`;
    * `text` is the turn's `text` column, the payload when the tool JSON
    * carries none.
    */
  def normalize(id: String, text: String, tool: String): Normalized =
    RequestJson.parse(id, tool) match {
      case Left(pe) => failed(null, wrapParseError(id, pe.message))
      case Right(req) =>
        val engine = req.engine
        // O24: inplace_decode runs the engine in-process — the preprocessor
        // chain is routed by the RPC client the inplace path never reaches
        // (`/root/reference/ocr_http_handler.go:115-128`), so it is skipped.
        val chain = if (req.inplaceDecode) Nil else req.preprocessorChain
        val readsPayload = chain.nonEmpty || engine == Engine.Tesseract || engine == Engine.Sandwich
        // an unread text payload is not encoded; a base64 one is still
        // decoded, since its failure is the turn's result
        acquirePayload(req, if (readsPayload) text else "") match {
          case Left(e) => failed(engine, wrapError(id, e))
          case Right(bytes) =>
            val base = Normalized(engine, null,
              if (readsPayload) bytes else Array.emptyByteArray, chain,
              if (chain.isEmpty) null else Preprocessors.extractDarkOnLightParam(req),
              clampTimeout(req.timeOut), null, null, null, null, resultOptimize = false)
            engine match {
              case Engine.Tesseract => Engines.parseTesseractArgs(req.engineArgs) match {
                case Left(e)  => base.copy(argsError = e)
                case Right(a) => base.copy(psm = a.psm, whitelist = a.whitelist)
              }
              case Engine.Sandwich => Engines.parseSandwichArgs(req.engineArgs) match {
                case Left(e)  => base.copy(argsError = e)
                case Right(a) => base.copy(ocrType = a.ocrType, resultOptimize = a.resultOptimize)
              }
              case _ => base
            }
        }
    }

  /** Steps 4-5 for one normalized turn: the preprocessor chain (reverse list
    * order), then the engine, each failure wrapped like the worker wraps it.
    * Every error is raised where the reference raises it: the chain's first,
    * then tesseract's args error, or sandwich's after its file checks.
    */
  def run(id: String, n: Normalized, config: Engines.CoreConfig = Engines.CoreConfig()): ExtractResult =
    if (n.error != null) ExtractResult(id, n.error, "error", if (n.engine == null) "" else n.engine.name)
    else {
      val engineName = n.engine.name
      val chained =
        if (n.chain.isEmpty) Right(n.payload)
        else Preprocessors.runChain(n.chain, n.darkOnLight, n.payload)
      val result = chained.flatMap { payload =>
        n.engine match {
          case Engine.Mock => Engines.mock()
          case Engine.Tesseract =>
            if (n.argsError != null) Left(n.argsError)
            else Engines.tesseract(payload, n.psm, n.whitelist)
          case Engine.Sandwich =>
            Engines.sandwich(payload, n.argsError, n.ocrType, n.resultOptimize, n.timeOut,
              config, () => System.nanoTime)
          case Engine.GoTesseract =>
            // NewOcrEngine returns nil for go_tesseract and the reference
            // worker would nil-deref (ocr_engine.go:23-33); we emit an
            // error row instead of crashing the executor.
            Left("engine is not implemented: go_tesseract")
          case Engine.Unsupported(c) =>
            Left(s"engine is not implemented: $c")
        }
      }
      result match {
        case Left(e)  => ExtractResult(id, wrapError(id, e), "error", engineName)
        case Right(r) => ExtractResult(id, r.text, r.status, engineName)
      }
    }

  /** Parse + extract one turn: [[run]] of [[normalize]]. */
  def extractTurn(
      convId: String,
      turnIdx: Int,
      text: String,
      tool: String,
      config: Engines.CoreConfig = Engines.CoreConfig()
  ): ExtractResult = {
    val id = s"$convId#$turnIdx"
    run(id, normalize(id, text, tool), config)
  }
}
