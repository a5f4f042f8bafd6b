package graftbench

import java.util.SplittableRandom

/** Seeded generators for the transcript-shaped inputs of `extract_steady`,
  * `extract_skewed` and `ingest_skewed`. Every row is a pure function of (spec, seed, row
  * index), so Spark tasks and the single-threaded reference check regenerate
  * exactly the same rows. The shape (turn count, conversation lengths, the
  * number and sizes of heavy payloads) is fixed by construction; the seed
  * only changes contents, class draws and which conversation gets which
  * length.
  */
object Gen {

  /** One input row, in the column order of the transcripts table. */
  final case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String,
      ts: java.sql.Timestamp,
      cls: Int)

  /** @param convLengths turns per conversation, by conversation rank
    * @param bodyLen     body length in chars for a light row
    * @param heavyRows   row indices that carry a heavy payload, ascending
    * @param heavyChars  body length of each heavy row (same order)
    */
  final case class Spec(
      name: String,
      seed: Long,
      convLengths: Array[Int],
      bodyLen: SplittableRandom => Int,
      heavyRows: Array[Long],
      heavyChars: Array[Int]) {
    val starts: Array[Long] = convLengths.scanLeft(0L)(_ + _)
    def turns: Long = starts.last
    /** seed-dependent permutation of conversation ranks onto ids */
    val convOrder: Array[Int] = {
      val a = Array.range(0, convLengths.length)
      val r = new SplittableRandom(mix(seed ^ 0x5eedL))
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
  }

  /** Class shares of FIXTURES.md §4, one tenth each: 0-3 html/tesseract,
    * 4-5 mock, 6 plain text with an empty tool, 7 base64 PDF, 8 base64 TIFF,
    * 9 base64 garbage (an error row by design).
    */
  val Classes = 10
  val ClassNames: Array[String] = Array("html", "html_psm6", "html_swt", "html_psm0",
    "mock", "mock_int", "plain", "pdf", "tiff", "garbage")

  /** `extract_steady`: `convs` equal conversations of `turnsPerConv` short
    * turns (200-600 chars of body).
    */
  def steady(seed: Long, convs: Int, turnsPerConv: Int): Spec =
    Spec("extract_steady", seed, Array.fill(convs)(turnsPerConv),
      r => 200 + r.nextInt(401), Array.emptyLongArray, Array.emptyIntArray)

  /** `extract_skewed` and `ingest_skewed`: Zipf(1) conversation lengths (the largest holds
    * 1/H(convs) of all turns), log-normal bodies (median 400 chars, sigma
    * 1), and a fixed sliver of heavy rows, html and base64-pdf in turn,
    * whose payload is above `heavyThreshold`: heavy payload sizes are fixed
    * quantiles of a log-normal around 1.15x the threshold, their positions
    * are stratified and seeded.
    */
  def skewed(seed: Long, turns: Int, convs: Int, heavyShare: Double, heavyThreshold: Int): Spec = {
    val h = (1 to convs).map(1.0 / _).sum
    val lengths = Array.tabulate(convs)(k => math.max(1, math.round(turns / (h * (k + 1))).toInt))
    val total = lengths.map(_.toLong).sum
    val nHeavy = math.max(1, math.round(total * heavyShare).toInt)
    val r = new SplittableRandom(mix(seed ^ 0x4ea7L))
    val heavyRows = Array.tabulate(nHeavy)(j =>
      math.min(total - 1, ((j + r.nextDouble()) * total / nHeavy).toLong))
    // payload chars (text + tool) of heavy row j; html rows carry the body
    // once, base64-pdf rows about 2.33 times (plain text + base64 of the pdf)
    val heavyChars = Array.tabulate(nHeavy) { j =>
      val z = inverseNormal((j + 0.5) / nHeavy)
      val payload = (heavyThreshold * 1.15 * math.exp(0.15 * z)).max(heavyThreshold * 1.02)
      (if (j % 2 == 0) payload else payload / 2.33).toInt
    }
    Spec("skewed", seed, lengths,
      rr => math.min(200000, math.max(20, math.exp(math.log(400) + rr.nextGaussian()).toInt)),
      heavyRows, heavyChars)
  }

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Acklam's rational approximation of the standard normal quantile. */
  def inverseNormal(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549671010680434e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val lo = 0.02425
    if (p < lo) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p > 1 - lo) -inverseNormal(1 - p)
    else {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }

  /** A fixed pseudo-word vocabulary (independent of the seed). */
  private val Vocab: Array[String] = {
    val r = new SplittableRandom(20240601L)
    val letters = "etaoinshrdlucmfwypvbgkjqxz"
    Array.fill(600) {
      val n = 2 + r.nextInt(9)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb += letters.charAt(math.min(25, (r.nextDouble() * r.nextDouble() * 26).toInt)))
      sb.toString
    }
  }

  def words(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n + 16)
    while (sb.length < n) {
      if (sb.length > 0) sb.append(if (r.nextInt(12) == 0) ". " else " ")
      sb.append(Vocab(r.nextInt(Vocab.length)))
    }
    sb.setLength(n)
    // no edge whitespace: the engines collapse it, the expected output not
    if (sb.charAt(n - 1) == ' ') sb.setCharAt(n - 1, 'e')
    sb.toString
  }

  private val HtmlHead = "<html><head><title>Doc</title></head><body>" +
    "<nav>Home | <a href=\"/about\">About</a></nav><div id=\"main\"><p>"
  private val HtmlTail = "</p></div><footer>(c) 2026 corpus</footer></body></html>"

  /** The generated body of a turn: its text without the html template. */
  def body(t: Turn): String =
    if (t.cls <= 3) t.text.substring(HtmlHead.length, t.text.length - HtmlTail.length) else t.text

  private def pdf(text: String): String = {
    val esc = text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val stream = s"BT /F1 12 Tf 72 720 Td ($esc) Tj ET"
    s"%PDF-1.4\n1 0 obj << /Length ${stream.length} >> stream\n$stream\nendstream\n%%EOF\n"
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  /** Conversation rank and turn index of a global row index. */
  def locate(spec: Spec, row: Long): (Int, Int) = {
    var i = java.util.Arrays.binarySearch(spec.starts, row)
    if (i < 0) i = -i - 2
    while (spec.convLengths(i) == 0) i += 1
    (i, (row - spec.starts(i)).toInt)
  }

  private val Roles = Array("user", "assistant", "tool")

  def row(spec: Spec, i: Long): Turn = {
    val (rank, turn) = locate(spec, i)
    val r = new SplittableRandom(mix(spec.seed * 0x632BE59BD9B4E019L + i))
    val heavyAt = java.util.Arrays.binarySearch(spec.heavyRows, i)
    val heavy = heavyAt >= 0
    // heavy rows alternate html and base64-pdf, the two payload kinds
    // whose kernels do per-byte work
    val cls = if (heavy) (if (heavyAt % 2 == 0) 0 else 7) else r.nextInt(Classes)
    val n = if (heavy) spec.heavyChars(heavyAt) else spec.bodyLen(r)
    val body = words(r, n)
    val convId = f"conv-${spec.convOrder(rank)}%06d"
    val text = if (cls <= 3) HtmlHead + body + HtmlTail else body
    val tool = cls match {
      case 0 => """{"engine":"tesseract"}"""
      case 1 => """{"engine":"tesseract","engine_args":{"psm":"6","lang":"eng"}}"""
      case 2 => """{"engine":"tesseract","preprocessors":["stroke-width-transform"],"preprocessor-args":{"stroke-width-transform":"0"}}"""
      case 3 => """{"engine":"tesseract","engine_args":{"psm":"0"}}"""
      case 4 => """{"engine":"mock"}"""
      case 5 => """{"engine":3,"doc_type":"standard","time_out":60}"""
      case 6 => ""
      case 7 => s"""{"engine":"sandwich","img_base64":"${b64(pdf(body))}","engine_args":{"ocr_type":"txt"}}"""
      case 8 => s"""{"engine":"SANDWICH","img_base64":"${b64("II*\u0000" + body)}","engine_args":{"ocr_type":"TXT","lang":"deu"}}"""
      case _ => s"""{"engine":"sandwich","img_base64":"${b64("garbage:" + body)}","engine_args":{"ocr_type":"txt"}}"""
    }
    Turn(convId, turn, Roles(r.nextInt(3)), text, tool,
      new java.sql.Timestamp(1767225600000L + rank * 86400000L + turn * 1000L), cls)
  }

  /** Rows `[from, until)` as an iterator (one Spark task's slice). */
  def rows(spec: Spec, from: Long, until: Long): Iterator[Turn] =
    Iterator.iterate(from)(_ + 1).takeWhile(_ < until).map(row(spec, _))

  def payloadChars(t: Turn): Long =
    (if (t.text == null) 0 else t.text.length) + (if (t.tool == null) 0 else t.tool.length)
}
