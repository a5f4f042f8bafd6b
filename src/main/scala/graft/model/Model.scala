package graft.model

/** Data model for the extraction engine.
  *
  * Mirrors the reference's request/result structs
  * (`/root/reference/ocr_request.go:8-26`, `/root/reference/ocr_rpc_client.go:28-32`)
  * re-expressed as Scala case classes with Catalyst-encodable fields.
  */

/** Input row shape — BASELINE.json `input_hint`:
  * Iceberg/Parquet table of multi-turn conversation / agent transcripts.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

/** Engine selector — reference enum `OcrEngineType`
  * (`/root/reference/ocr_engine.go:10-17`). `GoTesseract` is declared but
  * unimplemented in the reference (`NewOcrEngine` returns nil for it,
  * `ocr_engine.go:23-33`); we surface it as a `status=error` row instead of a
  * worker crash. `Unsupported(n)` models a bare int outside the enum, which the
  * reference accepts verbatim at JSON-decode time (`ocr_engine.go:73-76`) and
  * then crashes on; we also surface it as `status=error`.
  */
sealed trait Engine {
  def name: String

  /** The enum's int value: `Engine.fromInt(code)` is this engine. */
  def code: Long
}
object Engine {
  case object Tesseract extends Engine { val name = "tesseract"; val code = 0L }
  case object GoTesseract extends Engine { val name = "go_tesseract"; val code = 1L }
  case object Sandwich extends Engine { val name = "sandwich"; val code = 2L }
  case object Mock extends Engine { val name = "mock"; val code = 3L }
  final case class Unsupported(code: Long) extends Engine {
    val name = s"unsupported($code)"
  }

  /** Lenient string decode — `/root/reference/ocr_engine.go:50-68`:
    * case-insensitive; unknown strings default to Mock (with a warning in the
    * reference).
    */
  def fromString(s: String): Engine = s.toUpperCase match {
    case "TESSERACT"    => Tesseract
    case "GO_TESSERACT" => GoTesseract
    case "SANDWICH"     => Sandwich
    case "MOCK"         => Mock
    case _              => Mock // unknown string -> mock, ocr_engine.go:64-66
  }

  /** Bare-int decode — accepted verbatim (`ocr_engine.go:73-76`); values
    * outside 0..3 produce an engine the factory can't build.
    */
  def fromInt(i: Long): Engine = i match {
    case 0 => Tesseract
    case 1 => GoTesseract
    case 2 => Sandwich
    case 3 => Mock
    case n => Unsupported(n)
  }
}

/** One extraction request — the analog of `OcrRequest`
  * (`ocr_request.go:8-26`), as the HTTP handler decodes it (step 1,
  * `ocr_http_handler.go:75-84`). `Extractor.normalize` turns it into the
  * `Extractor.Normalized` request that crosses the queue (steps 2-3): the
  * payload is `imgBase64` when set, else the turn's `text` column, and
  * `Extractor.acquirePayload` turns it into bytes, as the reference client
  * normalizes url/base64/bytes before enqueue (`ocr_rpc_client.go:146-164`).
  *
  * `engineArgs` / `preprocessorArgs` stay as raw JSON trees (rendered to a
  * small AST) because the reference validates them lazily *inside* each
  * engine (`tesseract_engine.go:22-74`, `sandwich_engine.go:36-104`).
  * `normalize` validates them before the queue but only records the error;
  * `Extractor.run` (steps 4-5) raises it at the reference's error point.
  * Reference fields no stage reads (`doc_type`,
  * whose priority is computed from the raw tool JSON, `deferred`,
  * `reply_to`, `page_number`, `user_agent`, `reference_id`) are not decoded.
  */
final case class ExtractRequest(
    id: String, // conv_id#turn_idx — deterministic replacement for ksuid
    imgUrl: String,
    imgBase64: String,
    engine: Engine,
    preprocessorChain: List[String], // consumed from the TAIL, ocr_request.go:30-40
    preprocessorArgs: Map[String, JVal],
    engineArgs: Option[Map[String, JVal]],
    timeOut: Long, // seconds; clamped per ocr_rpc_client.go:87-89
    /** O24 — `inplace_decode`: run the engine directly, skipping the queue
      * AND the preprocessor chain (the chain routing lives in the RPC client
      * the inplace path bypasses, `/root/reference/ocr_http_handler.go:109-146`).
      */
    inplaceDecode: Boolean = false
)

/** Extraction result — the analog of `OcrResult`
  * (`/root/reference/ocr_rpc_client.go:28-32`). On engine error the worker
  * overwrites `text` with
  * `"Error processing image url: <id>.  Error: <err>"` and sets
  * `status=error` (`/root/reference/ocr_rpc_worker.go:240-243`) — we
  * reproduce that wrapping verbatim (double space included).
  */
final case class ExtractResult(
    id: String,
    text: String,
    status: String, // "done" | "error" | "" (mock leaves it unset, mock_engine.go:8)
    engine: String
)

/** Minimal immutable JSON AST for option maps. We keep our own tiny AST (vs
  * jackson nodes) so the core stays serializable + encoder-friendly and value
  * typing mirrors Go's `map[string]interface{}` exactly: the reference
  * type-switches on string/bool and errors otherwise
  * (`tesseract_engine.go:42-46`, `sandwich_engine.go:91-97`).
  */
sealed trait JVal
object JVal {
  final case class JStr(v: String) extends JVal
  final case class JBool(v: Boolean) extends JVal
  final case class JNum(v: Double) extends JVal
  final case class JObj(v: Map[String, JVal]) extends JVal
  final case class JArr(v: List[JVal]) extends JVal
  case object JNull extends JVal

  /** Render like Go's `fmt` `%v` for use in error messages
    * ("could not convert ... into string: %v").
    */
  def goString(j: JVal): String = j match {
    case JStr(s)  => s
    case JBool(b) => b.toString
    case JNum(n)  => if (n == n.floor && !n.isInfinite && math.abs(n) < 1e15) n.toLong.toString else n.toString
    case JNull    => "<nil>"
    case JArr(xs) => xs.map(goString).mkString("[", " ", "]")
    case JObj(m)  => m.toSeq.sortBy(_._1).map { case (k, v) => s"$k:${goString(v)}" }.mkString("map[", " ", "]")
  }
}
