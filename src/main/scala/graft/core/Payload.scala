package graft.core

/** Payload-type sniffing — the analog of `detectFileType`
  * (`/root/reference/ocr_util.go:114-132`): classify by magic bytes of the
  * first 64 bytes, never by declared type.
  */
object Payload {
  val PDF = "PDF"
  val TIFF = "TIFF"
  val UNKNOWN = "UNKNOWN"

  /** Reference semantics exactly: `%PDF` -> PDF; `II*\0` or `MM\0*` -> TIFF;
    * else UNKNOWN; buffers of <=3 bytes are UNKNOWN (`len(buffer) > 3` guard).
    * Only the first four bytes decide, read in place.
    */
  def detectFileType(b: Array[Byte]): String =
    if (b == null || b.length <= 3) UNKNOWN
    else if (b(0) == 0x25 && b(1) == 0x50 && b(2) == 0x44 && b(3) == 0x46) PDF
    else if (
      (b(0) == 0x49 && b(1) == 0x49 && b(2) == 0x2a && b(3) == 0x00) ||
      (b(0) == 0x4d && b(1) == 0x4d && b(2) == 0x00 && b(3) == 0x2a)
    ) TIFF
    else UNKNOWN

  def utf8(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  def bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Strict base64 decode — analog of Go's `base64.StdEncoding.DecodeString`
    * (`/root/reference/ocr_request.go:42-53`): standard alphabet, rejects
    * embedded newlines/garbage. java.util.Base64.getDecoder matches.
    */
  def decodeBase64(s: String): Either[String, Array[Byte]] =
    try Right(java.util.Base64.getDecoder.decode(s))
    catch { case e: IllegalArgumentException => Left("illegal base64 data") }

  /** Unchunked standard base64 encode — analog of
    * `base64.StdEncoding.EncodeToString` (`sandwich_engine.go:484-487`).
    */
  def encodeBase64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)
}
