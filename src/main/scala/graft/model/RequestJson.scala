package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Lenient JSON decoding of the per-turn `tool` payload into an
  * [[ExtractRequest]] — the analog of unmarshalling `OcrRequest`
  * (`/root/reference/ocr_request.go:8-26`) including the custom engine-enum
  * decoder (`/root/reference/ocr_engine.go:50-80`).
  *
  * Uses jackson-databind (ships with Spark) — one shared `ObjectMapper` is
  * thread-safe for reads, so a single instance serves all partitions.
  */
object RequestJson {
  private val mapper = new ObjectMapper()

  /** Decode failure — the reference worker turns an unmarshalling error into
    * `status=error` with text `"Error unmarshalling json: <id>.  Error: <e>"`
    * (`/root/reference/ocr_rpc_worker.go:218-228`).
    */
  final case class ParseError(message: String)

  def toJVal(n: JsonNode): JVal =
    if (n == null || n.isNull) JVal.JNull
    else if (n.isTextual) JVal.JStr(n.asText())
    else if (n.isBoolean) JVal.JBool(n.asBoolean())
    else if (n.isNumber) JVal.JNum(n.asDouble())
    else if (n.isArray) JVal.JArr(n.elements().asScala.map(toJVal).toList)
    else if (n.isObject)
      JVal.JObj(n.properties().asScala.map(e => e.getKey -> toJVal(e.getValue)).toMap)
    else JVal.JNull

  /** Parse the `tool` JSON of one turn. `id` is the deterministic request id
    * `conv_id#turn_idx` (replacing the reference's ksuid,
    * `ocr_http_handler.go:38-39`). A null/empty/blank `tool` is a plain-text
    * turn: engine defaults to Tesseract exactly like Go's zero value for
    * `OcrEngineType` (iota 0, `ocr_engine.go:12-17`).
    */
  def parse(id: String, tool: String): Either[ParseError, ExtractRequest] = {
    val base = ExtractRequest(
      id = id,
      imgUrl = "",
      imgBase64 = "",
      engine = Engine.Tesseract, // Go zero value = EngineTesseract
      preprocessorChain = Nil,
      preprocessorArgs = Map.empty,
      engineArgs = None,
      timeOut = 0L
    )
    if (tool == null || tool.trim.isEmpty) Right(base)
    else {
      val root =
        try mapper.readTree(tool)
        catch { case e: Exception => return Left(ParseError(e.getMessage)) }
      if (!root.isObject) return Left(ParseError(s"json: cannot unmarshal into OcrRequest"))

      def str(f: String): String = {
        val n = root.get(f); if (n != null && n.isTextual) n.asText() else ""
      }
      def bool(f: String): Boolean = {
        val n = root.get(f); n != null && n.isBoolean && n.asBoolean()
      }

      // Engine: string (case-insensitive, unknown->mock) or bare int
      // (verbatim); any other JSON type is an unmarshal error
      // (ocr_engine.go:50-80).
      val engineNode = root.get("engine")
      val engine: Either[ParseError, Engine] = engineNode match {
        case null                  => Right(Engine.Tesseract)
        case n if n.isTextual      => Right(Engine.fromString(n.asText()))
        case n if n.isIntegralNumber => Right(Engine.fromInt(n.asLong()))
        case _ =>
          Left(ParseError("json: cannot unmarshal into OcrEngineType"))
      }

      val chain: List[String] = root.get("preprocessors") match {
        case null               => Nil
        case n if n.isArray     => n.elements().asScala.map(_.asText()).toList
        case _                  => Nil
      }
      val pArgs: Map[String, JVal] = root.get("preprocessor-args") match {
        case n if n != null && n.isObject =>
          n.properties().asScala.map(e => e.getKey -> toJVal(e.getValue)).toMap
        case _ => Map.empty
      }
      val eArgs: Option[Map[String, JVal]] = root.get("engine_args") match {
        case n if n != null && n.isObject =>
          Some(n.properties().asScala.map(e => e.getKey -> toJVal(e.getValue)).toMap)
        case _ => None // absent or null -> default args, tesseract_engine.go:25-27
      }
      val timeOut: Long = root.get("time_out") match {
        case n if n != null && n.isNumber => n.asLong()
        case _                            => 0L
      }

      engine.map { eng =>
        base.copy(
          imgUrl = str("img_url"),
          imgBase64 = str("img_base64"),
          engine = eng,
          preprocessorChain = chain,
          preprocessorArgs = pArgs,
          engineArgs = eArgs,
          timeOut = timeOut,
          inplaceDecode = bool("inplace_decode")
        )
      }
    }
  }
}
