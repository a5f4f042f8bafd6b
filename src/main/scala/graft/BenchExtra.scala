package graft

import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen `graft.Bench`: per-query wall-clock with repeat control and
  * `.explain("formatted")` plan dumps, so individual queries can be isolated
  * and re-measured without paying the full graded ladder.
  *
  * Usage (same env contract as Bench):
  *   SPARK_GRAFT_SF_DIR=... [SPARK_GRAFT_CPUS=n] \
  *     sbt "runMain graft.BenchExtra [--plans <dir>] [--reps N] [--filter csv]"
  *
  *   --plans <dir>  write <dir>/<query>.txt with the formatted physical plan
  *   --reps N       time each query N times, report min and all samples
  *   --filter csv   only run the named queries (default: all)
  *
  * Each timed run writes the query to Spark's `noop` sink, so it executes
  * the whole plan. That is not `graft.Bench` phase 3's timing action
  * (`df.count()`, the driver's contract), so the numbers are not comparable
  * with the BENCH.md per-query table: under `count()` the optimizer drops
  * the operators that cannot change the row count. At sf0.001, 118 of the
  * 120 optimized plans lose operators that way: 100 only their sort, 18
  * joins, windows or aggregates too — in `dedup_semantic`,
  * `dedup_semantic_incremental` and `dedup_semantic_trained` the whole pair
  * side (join, cosine, cap metrics). A full-pipeline untimed warmup runs first, as in Bench. `SPARK_GRAFT_CPUS` defaults to
  * the machine's processor count. A query that throws prints as
  * `name,FAILED,<exception class>`, is left out of `total_min_sec`, and
  * makes the run exit 1.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    var plansDir: Option[String] = None
    var reps = 1
    var filter: Option[Set[String]] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--filter" => filter = Some(args(i + 1).split(",").map(_.trim).toSet); i += 2
        case other => sys.error(s"unknown arg: $other")
      }
    }
    require(reps >= 1, s"--reps must be at least 1, got $reps")

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.Dedup.registerCapLogger(spark)

    def execute(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // untimed warmup (JIT + codegen + parquet reader), as in Bench phase 3
    execute(SparkEntry.entry(spark))

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }

    plansDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      qs.foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"), plan)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[benchextra] plan dump failed for $name: $e")
        }
      }
      println(s"[benchextra] plans written to $d")
    }

    val results = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val samples = Try((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        execute(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      })
      spark.sparkContext.setJobDescription(null)
      name -> samples
    }
    spark.stop()

    val (timed, failed) = results.partitionMap {
      case (n, Success(s)) => Left(n -> s)
      case (n, Failure(e)) => Right(n -> e)
    }
    println("query,min_sec,samples")
    timed.sortBy(-_._2.min).foreach { case (n, s) =>
      println(f"$n,${s.min}%.3f," + s.map(x => f"$x%.3f").mkString(" "))
    }
    failed.foreach { case (n, e) =>
      System.err.println(s"[benchextra] $n failed: $e")
      println(s"$n,FAILED,${e.getClass.getName}")
    }
    println(f"[benchextra] total_min_sec=${timed.map(_._2.min).sum}%.1f over ${timed.size} queries" +
      (if (failed.isEmpty) "" else s", ${failed.size} failed"))
    if (failed.nonEmpty) sys.exit(1)
  }
}
