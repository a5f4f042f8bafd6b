package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the stdout contract of the two `graft.Probe` gauges that
  * `graft.Bench` launches: Bench parses one line per thread count with the
  * regexes below (copied from `Bench.kernelTputs` / `Bench.memTputs`) and
  * silently drops a gauge whose lines stop matching. Small sizes, two
  * threads at most.
  */
class ProbeSpec extends AnyFunSuite {

  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.main(args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  /** Thread count -> value for every line `re` matches, in output order. */
  private def parsed(lines: Seq[String], re: scala.util.matching.UnanchoredRegex): Seq[(Int, Double)] =
    lines.collect { case re(t, v) => t.toInt -> v.toDouble }

  test("probe kernelmt: one parseable turns/sec line per thread count") {
    val re = """kernelmt threads=(\d+):.*= ([0-9.]+) turns/sec""".r.unanchored
    val got = parsed(run("kernelmt", "1,2", "4000"), re)
    assert(got.map(_._1) == Seq(1, 2), s"lines: $got")
    got.foreach { case (t, v) => assert(v > 0, s"threads=$t gave $v") }
  }

  test("probe memmt: one parseable GB/s line per thread count") {
    val re = """memmt threads=(\d+):.*= ([0-9.]+) GB/s""".r.unanchored
    val got = parsed(run("memmt", "1,2", "16"), re)
    assert(got.map(_._1) == Seq(1, 2), s"lines: $got")
    got.foreach { case (t, v) => assert(v > 0, s"threads=$t gave $v") }
  }
}
