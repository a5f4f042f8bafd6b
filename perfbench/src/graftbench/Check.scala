package graftbench

import java.security.MessageDigest
import java.util.stream.IntStream

import graft.core.Extractor
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digests of extraction output: (rows, xor of the per-row
  * xxhash64, sum of its low 32 bits). Spark computes it as one aggregate
  * over the output; the benchmark computes the same per-row hash on results of
  * `Extractor.extractTurn` run outside Spark.
  */
object Digest {
  final case class D(rows: Long, xor: Long, sum32: Long)

  val Cols: Seq[String] = Seq("conv_id", "turn_idx", "text", "status", "engine")
  def hashCol = xxhash64(Cols.map(col): _*)

  def of(df: DataFrame): D = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(hashCol), lit(0L)),
      coalesce(sum(hashCol.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).head()
    D(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private val expr = new XxHash64(Seq(
    BoundReference(0, StringType, nullable = true), BoundReference(1, IntegerType, nullable = true),
    BoundReference(2, StringType, nullable = true), BoundReference(3, StringType, nullable = true),
    BoundReference(4, StringType, nullable = true)))

  def rowHash(conv: String, turn: Int, text: String, status: String, engine: String): Long =
    expr.eval(InternalRow(UTF8String.fromString(conv), turn, UTF8String.fromString(text),
      UTF8String.fromString(status), UTF8String.fromString(engine))).asInstanceOf[Long]

  /** Digest of a collected query result: columns in name order, doubles at
    * nine significant digits, rows combined by a commutative sum.
    */
  def result(rows: Array[Row]): String = {
    if (rows.isEmpty) return "rows=0"
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    var acc = 0L
    rows.foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("\u0001")
      val b = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(b).getLong
    }
    s"rows=${rows.length};cols=${order.map(names(_)).mkString(",")};sum=${java.lang.Long.toHexString(acc)}"
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** What a generated turn must extract to, from its class alone — the
  * FIXTURES.md section 4 classes as the DuckDB oracle of `e2e_extract` states
  * them — so a wrong engine is caught, not only a wrong pipeline.
  */
object Expected {
  def apply(t: Gen.Turn): (String, String, String) = {
    val body = Gen.body(t)
    def error(msg: String) = s"Error processing image url: ${t.conv_id}#${t.turn_idx}.  Error: $msg"
    t.cls match {
      case 0 | 1 | 6 => (body, "done", "tesseract")
      case 2 => (body.toUpperCase, "done", "tesseract")
      case 3 => (error("Could not find outfile.  Basename: <tmp> Extensions: [txt hocr json]"),
        "error", "tesseract")
      case 4 | 5 => ("mock engine decoder response", "", "mock")
      case 7 | 8 => (java.util.Base64.getEncoder.encodeToString((body + "\n\f").getBytes("UTF-8")),
        "done", "sandwich")
      case _ => (error("file format not understood"), "error", "sandwich")
    }
  }

  def hash(t: Gen.Turn): Long = {
    val (text, status, engine) = apply(t)
    Digest.rowHash(t.conv_id, t.turn_idx, text, status, engine)
  }
}

/** What the generator produced, the digest the Spark output must match (of
  * the expected outputs), and `kernelBad`: the turns on which
  * `Extractor.extractTurn`, run outside Spark, differs from the expected
  * output. Every row is regenerated and checked in parallel, over
  * fixed-size chunks so the result does not depend on the thread count.
  */
final case class Reference(digest: Digest.D, kernelBad: Long, shape: Map[String, Any], sha256: String)

object Reference {
  private val Chunk = 4096

  private final class Part(val xor: Long, val sum32: Long, val rows: Long, val kernelBad: Long,
                           val classes: Array[Long], val heavy: Long, val sizes: Array[Int],
                           val sha: Array[Byte])

  def compute(spec: Gen.Spec, heavyThreshold: Int): Reference = {
    val n = spec.turns
    val chunks = ((n + Chunk - 1) / Chunk).toInt
    val parts = IntStream.range(0, chunks).parallel().mapToObj[Part] { c =>
      val from = c.toLong * Chunk
      val until = math.min(n, from + Chunk)
      val md = MessageDigest.getInstance("SHA-256")
      val classes = new Array[Long](Gen.Classes)
      val sizes = new Array[Int]((until - from).toInt)
      var xor = 0L; var sum32 = 0L; var heavy = 0L; var bad = 0L; var k = 0
      Gen.rows(spec, from, until).foreach { t =>
        md.update(s"${t.conv_id}\u0001${t.turn_idx}\u0001${t.role}\u0001${t.text}\u0001${t.tool}\u0001${t.ts.getTime}\n"
          .getBytes("UTF-8"))
        val r = Extractor.extractTurn(t.conv_id, t.turn_idx, t.text, t.tool)
        val h = Expected.hash(t)
        if (Digest.rowHash(t.conv_id, t.turn_idx, r.text, r.status, r.engine) != h) bad += 1
        xor ^= h; sum32 += h & 0xFFFFFFFFL
        classes(t.cls) += 1
        val p = Gen.payloadChars(t)
        if (p > heavyThreshold) heavy += 1
        sizes(k) = p.toInt; k += 1
      }
      new Part(xor, sum32, until - from, bad, classes, heavy, sizes, md.digest())
    }.toArray.map(_.asInstanceOf[Part])

    val all = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => all.update(p.sha))
    val sizes = parts.flatMap(_.sizes).map(_.toDouble)
    val classes = (0 until Gen.Classes).map(i => parts.map(_.classes(i)).sum)
    val digest = Digest.D(parts.map(_.rows).sum, parts.map(_.xor).foldLeft(0L)(_ ^ _),
      parts.map(_.sum32).sum)
    val shape = Map[String, Any](
      "turns" -> n,
      "conversations" -> spec.convLengths.length,
      "largest_conv_share" -> spec.convLengths.max.toDouble / n,
      "class_mix" -> Gen.ClassNames.zip(classes.map(_.toDouble / n)).toMap,
      "class_mix_target" -> "FIXTURES.md section 4: one tenth per class",
      "payload_chars_quantiles" -> Seq(0.5, 0.9, 0.99, 0.999, 1.0)
        .map(q => s"p${(q * 1000).toInt / 10.0}" -> Stats.quantile(sizes.toSeq, q)).toMap,
      "rows_above_heavy_threshold" -> parts.map(_.heavy).sum,
      "payload_chars_total" -> sizes.sum)
    Reference(digest, parts.map(_.kernelBad).sum, shape, all.digest().map("%02x".format(_)).mkString)
  }

  /** Turns missing from, or differing in, a Spark output whose digest did
    * not match: compared row by row against the expected outputs.
    */
  def countBad(spec: Gen.Spec, out: DataFrame): Long = {
    val got = out.select(col("conv_id"), col("turn_idx"), Digest.hashCol).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).groupBy(_._1)
    var bad = 0L
    Gen.rows(spec, 0, spec.turns).foreach { t =>
      got.get((t.conv_id, t.turn_idx)) match {
        case Some(Array((_, g))) if g == Expected.hash(t) =>
        case _ => bad += 1
      }
    }
    bad + math.max(0L, got.valuesIterator.map(_.length.toLong).sum - spec.turns)
  }
}
