package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into each layer. Kept
  * in memory and written out once, at the end of the run. While a span is
  * open its id is the Spark job group, so every job the call submits can be
  * parented to it. A disabled tracer only runs the body.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        start: Long, var end: Long = -1L)

  val spans = ArrayBuffer.empty[Span]
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(nanos: Long): Long = (nanos + offsetNs) / 1000000L
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = sc = spark.sparkContext

  private def setGroup(s: Option[Span]): Unit = if (sc != null && !sc.isStopped) s match {
    case Some(sp) => sc.setJobGroup(Tracer.group(runId, sp.id), sp.name)
    case None => sc.clearJobGroup()
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      setGroup(Some(s))
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }
}

object Tracer {
  def group(runId: String, spanId: Int): String = s"$runId-span-$spanId"
}

/** Spark's own counters for the traced passes: jobs (with the job group
  * that links them to a span), stages, per-task metrics, and the Catalyst
  * phase times of every action.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, name: String, tasks: Int,
                         submitted: Long, completed: Long)
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long, shuffleRecords: Long,
                        inputRecords: Long, inputBytes: Long, outputBytes: Long, spill: Long)
  final case class Action(end: Long, planMs: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val actions = new ConcurrentLinkedQueue[Action]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.attemptNumber(), s.name, s.numTasks,
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.recordsRead, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val planMs = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
    actions.add(Action(System.currentTimeMillis(), planMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Aggregate the events of one pass, `[t0, t1]` in epoch millis. */
  def window(t0: Long, t1: Long, cores: Int, ops: Double): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ss = stages.asScala.filter(s => stageIds(s.id)).toSeq
    val ts = tasks.asScala.filter(t => stageIds(t.stage)).toSeq
    val as = actions.asScala.filter(a => a.end >= t0 && a.end <= t1 + 1000).toSeq
    val jobUnion = Stats.unionLength(js.map(j => (j.start, if (j.end < 0) t1 else j.end)))
    val wall = (t1 - t0).toDouble
    val taskMs = ts.map(_.durationMs).sum.toDouble
    val runMs = ts.map(_.runMs).sum.toDouble
    // the stage that did the most task work: where skew costs the most
    val heaviest = ts.groupBy(_.stage).toSeq.sortBy(-_._2.map(_.runMs).sum).headOption.map(_._2)
    val skew = heaviest.map(g => Stats.maxOverMedian(g.map(_.durationMs.toDouble))).getOrElse(1.0)
    val rowSkew = heaviest.map { g =>
      val recs = g.map(t => if (t.shuffleRecords > 0) t.shuffleRecords else t.inputRecords)
      Stats.maxOverMedian(recs.map(_.toDouble))
    }.getOrElse(1.0)
    Map(
      "sql.plan_share" -> as.map(_.planMs).sum / wall,
      "sql.actions" -> as.size.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.job_s" -> jobUnion / 1e3,
      "exec.outside_jobs_s" -> math.max(0.0, wall - jobUnion) / 1e3,
      "exec.task_time_skew" -> skew,
      "exec.partition_rows_skew" -> rowSkew,
      "exec.idle_core_share" ->
        (if (jobUnion <= 0) 1.0 else math.max(0.0, 1.0 - taskMs / (cores * jobUnion.toDouble))),
      "exec.gc_share" -> (if (runMs <= 0) 0.0 else ts.map(_.gcMs).sum / runMs),
      "exec.task_cpu_share" -> (if (runMs <= 0) 0.0 else ts.map(_.cpuNs).sum / 1e6 / runMs),
      "exec.shuffle_bytes_per_op" -> ts.map(_.shuffleWrite).sum / ops,
      "exec.input_bytes_per_op" -> ts.map(_.inputBytes).sum / ops,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "io.bytes_written" -> ts.map(_.outputBytes).sum.toDouble)
  }

  /** The `ExtractPipeline.extract` figures of one pass, `[t0, t1]` in epoch
    * millis. The scan stage reads the input and writes the salted shuffle;
    * the map stage is the post-shuffle stage that runs the `mapPartitions`
    * kernel (of the stages that read shuffle, the one with the most task
    * time). Skew is max/median over the map stage's tasks.
    */
  def pipeline(t0: Long, t1: Long, cores: Int, ops: Double): Map[String, Double] = {
    val stageIds = jobs.values.asScala.filter(j => j.start >= t0 && j.start <= t1)
      .flatMap(_.stages).toSet
    val byStage = tasks.asScala.filter(t => stageIds(t.stage)).toSeq.groupBy(_.stage)
    val ss = stages.asScala.filter(s => byStage.contains(s.id)).toSeq
    def len(s: Stage) = (s.completed - s.submitted) / 1e3
    val scan = ss.filter(s => byStage(s.id).exists(_.inputBytes > 0))
    val map = ss.filter(s => byStage(s.id).exists(_.shuffleRead > 0))
      .sortBy(s => -byStage(s.id).map(_.runMs).sum).headOption
    val mapTasks = map.map(s => byStage(s.id)).getOrElse(Nil)
    val w = window(t0, t1, cores, ops)
    Map(
      "pipeline.scan_stage_s" -> scan.map(len).sum,
      "pipeline.map_stage_s" -> map.map(len).getOrElse(0.0),
      "pipeline.shuffle_bytes_per_turn" -> byStage.values.flatten.map(_.shuffleWrite).sum / ops,
      "pipeline.task_time_skew" -> Stats.maxOverMedian(mapTasks.map(_.durationMs.toDouble)),
      "pipeline.partition_rows_skew" -> Stats.maxOverMedian(mapTasks.map(_.shuffleRecords.toDouble)),
      "pipeline.idle_core_share" -> w("exec.idle_core_share"),
      "pipeline.gc_share" -> w("exec.gc_share"),
      "pipeline.task_cpu_share" -> w("exec.task_cpu_share"),
      "pipeline.spill_bytes" -> w("exec.spill_bytes"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def maxOverMedian(xs: Seq[Double]): Double =
    if (xs.size < 2) 1.0
    else {
      val m = median(xs)
      if (m <= 0) xs.max.max(1.0) else xs.max / m
    }

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: scala.collection.Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Self time per layer from the spans of a traced run: a span's duration
  * minus the part of it covered by its child spans and by the Spark jobs
  * submitted under it. Job time is its own layer, `spark`.
  */
object SelfTime {
  private def spanOf(tr: Tracer, group: String): Option[Int] =
    Option(group).filter(_.startsWith(tr.runId + "-span-"))
      .map(_.stripPrefix(tr.runId + "-span-").toInt)

  private def jobsBySpan(tr: Tracer, c: Counters): Map[Int, Seq[c.Job]] =
    c.jobs.values.asScala.toSeq.flatMap(j => spanOf(tr, j.group).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  def byLayer(tr: Tracer, c: Counters): Map[String, Double] = {
    val jobs = jobsBySpan(tr, c)
    val children = tr.spans.groupBy(_.parent)
    val self = tr.spans.toSeq.map { s =>
      val (s0, s1) = (tr.epochMs(s.start), tr.epochMs(s.end))
      val kids = children.getOrElse(s.id, Nil).map(k => (tr.epochMs(k.start), tr.epochMs(k.end))) ++
        jobs.getOrElse(s.id, Nil).map(j => (j.start, if (j.end < 0) s1 else j.end))
      val clipped = kids.map { case (a, b) => (math.max(a, s0), math.min(b, s1)) }.filter(x => x._2 > x._1)
      s.layer -> math.max(0L, (s1 - s0) - Stats.unionLength(clipped)) / 1e3
    }
    val sparkJobs = Stats.unionLength(jobs.values.flatten.toSeq.map(j => (j.start, j.end))) / 1e3
    self.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum } + ("spark" -> sparkJobs)
  }

  /** Jobs submitted under the last span named `name` or its descendants. */
  def jobsUnder(tr: Tracer, c: Counters, name: String): Int =
    tr.spans.reverseIterator.find(_.name == name).map { root =>
      val ids = scala.collection.mutable.Set(root.id)
      tr.spans.foreach(s => if (ids(s.parent)) ids += s.id)
      jobsBySpan(tr, c).filter(kv => ids(kv._1)).values.map(_.size).sum
    }.getOrElse(0)

  def dump(tr: Tracer, c: Counters): Map[String, Any] = {
    val jobSpan = c.jobs.values.asScala.map(j => j.id -> spanOf(tr, j.group).getOrElse(-1)).toMap
    val stageJob = c.jobs.values.asScala.flatMap(j => j.stages.map(_ -> j.id)).toMap
    Map(
      "run_id" -> tr.runId,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> tr.epochMs(s.start), "end_ms" -> tr.epochMs(s.end),
        "run_id" -> tr.runId)),
      "jobs" -> c.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
        "parent_span" -> jobSpan(j.id), "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages)),
      "stages" -> c.stages.asScala.toSeq.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "job" -> stageJob.getOrElse(s.id, -1), "name" -> s.name, "tasks" -> s.tasks,
        "submitted_ms" -> s.submitted, "completed_ms" -> s.completed)))
  }
}
