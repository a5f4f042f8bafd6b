package graftbench

import graft.core.{Engines, Extractor, Payload, Preprocessors}
import graft.model.{Engine, RequestJson}

/** Single-thread timings of the `graft.model` / `graft.core` calls on a
  * sample of the workload's own turns. Each call family runs over the whole
  * sample `reps` times; the median repetition is reported.
  */
object CoreProbe {

  final case class Sample(convId: String, turnIdx: Int, text: String, tool: String)

  private def medianNs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })

  def run(sample: Seq[Sample], reps: Int = 5): Map[String, Double] = {
    val config = Engines.CoreConfig()
    val parsed = sample.flatMap { s =>
      RequestJson.parse(s"${s.convId}#${s.turnIdx}", s.tool).toOption.map(r => (s, r))
    }
    val withB64 = parsed.filter(_._2.imgBase64.nonEmpty)
    val payloads = parsed.flatMap { case (s, r) =>
      Extractor.acquirePayload(r, s.text).toOption.map(p => (r, p))
    }
    val html = payloads.filter(_._1.engine == Engine.Tesseract)
    val pdf = payloads.filter { case (r, p) =>
      r.engine == Engine.Sandwich && Payload.detectFileType(p) == Payload.PDF
    }
    var sink = 0L
    def kib(n: Long) = math.max(1.0, n / 1024.0)

    val parseNs = medianNs(reps) {
      sample.foreach(s => sink += RequestJson.parse(s"${s.convId}#${s.turnIdx}", s.tool).hashCode)
    }
    val b64Ns = medianNs(reps) {
      withB64.foreach(x => sink += Payload.decodeBase64(x._2.imgBase64).hashCode)
    }
    val chainNs = medianNs(reps) {
      payloads.foreach { case (r, p) => sink += Preprocessors.runChain(r, p).hashCode }
    }
    val htmlNs = medianNs(reps) {
      html.foreach { case (r, p) => sink += Engines.tesseract(p, r.engineArgs).hashCode }
    }
    val pdfNs = medianNs(reps) {
      pdf.foreach { case (r, p) =>
        sink += Engines.sandwich(p, r.engineArgs, Extractor.clampTimeout(r.timeOut), config).hashCode
      }
    }
    val turnNs = medianNs(reps) {
      sample.foreach(s => sink += Extractor.extractTurn(s.convId, s.turnIdx, s.text, s.tool).hashCode)
    }
    if (sink == 42) println("") // keeps the results observable to the JIT
    Map(
      "core.parse_us" -> parseNs / 1e3 / sample.size,
      "core.base64_us_per_kib" -> b64Ns / 1e3 / kib(withB64.map(_._2.imgBase64.length.toLong).sum),
      "core.chain_us" -> chainNs / 1e3 / math.max(1, payloads.size),
      "core.html_us_per_kib" -> htmlNs / 1e3 / kib(html.map(_._2.length.toLong).sum),
      "core.pdf_us_per_kib" -> pdfNs / 1e3 / kib(pdf.map(_._2.length.toLong).sum),
      "core.turn_us" -> turnNs / 1e3 / sample.size)
  }
}
