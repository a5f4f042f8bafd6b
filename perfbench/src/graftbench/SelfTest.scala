package graftbench

import java.nio.file.Paths

import graft.spark.ExtractPipeline

/** Generator determinism, run by the benchmark's own tests:
  *
  * {{{
  * graftbench.SelfTest <work dir>
  * }}}
  *
  * For both transcript workloads at a small size: the same seed gives
  * byte-identical rows (SHA-256 over every generated row) and the same
  * parquet content once written by Spark (digest of the read-back rows);
  * another seed gives other rows with the same traffic shape.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val heavy = ExtractPipeline.heavyThreshold
    val specs: Seq[Long => Gen.Spec] = Seq(
      s => Gen.steady(s, 20, 10),
      s => Gen.skewed(s, 400, 40, 0.0005, heavy))
    val spark = Main.session(2, 2, work)
    var failures = 0
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    try specs.foreach { mk =>
      val (a, b, c) = (mk(7), mk(7), mk(8))
      val (ra, rb, rc) = (Reference.compute(a, heavy), Reference.compute(b, heavy), Reference.compute(c, heavy))
      check(ra.sha256 == rb.sha256, s"${a.name}: equal seeds give identical rows")
      check(ra.sha256 != rc.sha256, s"${a.name}: another seed gives other rows")
      check(ra.shape("turns") == rc.shape("turns") &&
        ra.shape("rows_above_heavy_threshold") == rc.shape("rows_above_heavy_threshold") &&
        ra.shape("largest_conv_share") == rc.shape("largest_conv_share"),
        s"${a.name}: the shape does not depend on the seed")
      val written = Seq(a, b).zipWithIndex.map { case (spec, i) =>
        val w = new Extract(spec.name, spec, 3)
        val dir = work.resolve(s"${spec.name}-$i")
        w.prepare(spark, dir)
        val df = spark.read.parquet(dir.toString)
        import org.apache.spark.sql.functions._
        df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head().toString
      }
      check(written.distinct.size == 1, s"${a.name}: equal seeds write the same parquet rows")
    } finally {
      spark.stop()
      Fs.delete(work)
    }
    if (failures > 0) sys.exit(1)
  }
}
