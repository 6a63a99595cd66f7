package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a public function of the engine. Times are epoch
  * milliseconds so they compare with the Spark listener event times. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long)

/** Spark job as seen by the listener: submission and completion times,
  * task count and the stages it ran. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

/** Per-task counters summed per stage. */
final class StageRec {
  var tasks = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One finished Dataset action: planning time and files its scans read. */
final case class QueryRec(startMs: Long, planningMs: Long, filesRead: Long)

/** Engine-side event log, filled by Spark's listener bus. Installed only
  * in the traced run (`spark.extraListeners` and
  * `spark.sql.queryExecutionListeners` name the two classes below), so the
  * untraced run carries no listener at all. */
object EngineLog {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
}

class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    EngineLog.jobs.put(e.jobId, JobRec(e.jobId, e.time, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(EngineLog.jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = EngineLog.stages.computeIfAbsent(e.stageId, _ => new StageRec)
    val m = e.taskMetrics
    rec.synchronized {
      rec.tasks += 1
      if (m != null) {
        rec.bytesRead += m.inputMetrics.bytesRead
        rec.bytesWritten += m.outputMetrics.bytesWritten
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

class QueryListener extends QueryExecutionListener {
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val files = leaves(qe.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    EngineLog.queries.add(QueryRec(start, planning, files))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out when the run ends. Disabled (zero bookkeeping beyond one
  * branch) in the untraced run that produces the end-to-end numbers. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Free-form numeric series recorded by the traced run (e.g. the sink
    * state probe against sink size). */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Double]]]
  /** Extra per-call samples keyed by layer metric name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** The measured loop's operations: (start ms, end ms, GC ms inside). */
  private val ops = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, t0, System.currentTimeMillis())
      }
    }

  /** A span around one operation of the measured loop. The engine-wide
    * totals cover these operations only, not the benchmark's own probes
    * and checks between them. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val gc0 = Stats.gcMs()
      val t0 = System.currentTimeMillis()
      try span(name)(body)
      finally ops += ((t0, System.currentTimeMillis(), Stats.gcMs() - gc0))
    }

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def point(series: String, values: Double*): Unit =
    if (enabled) this.series.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += values

  def all: Seq[Span] = spans.toSeq

  /** Jobs submitted inside [startMs, endMs]. */
  private def jobsIn(s: Long, e: Long): Seq[JobRec] =
    EngineLog.jobs.values.asScala.toSeq.filter(j => j.startMs >= s && j.startMs <= e)

  /** Length of the part of [s, e] covered by no job interval. */
  private def idleMs(s: Long, e: Long, jobs: Seq[JobRec]): Long = {
    val iv = jobs.map(j => (math.max(s, j.startMs), math.min(e, j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (e - s) - covered
  }

  private def stageSum(jobs: Seq[JobRec])(f: StageRec => Long): Long =
    jobs.flatMap(_.stages).distinct
      .flatMap(s => Option(EngineLog.stages.get(s))).map(f).sum

  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  /** Per-layer metrics: for every span name X the per-call medians of
    * X_s, X.jobs, X.tasks, X.idle_s, X.bytes_read, X.bytes_written, and
    * X.files_read where the call ran scans. */
  def layerMetrics(): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val queries = EngineLog.queries.asScala.toSeq
    spans.toSeq.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, calls) =>
      val per = calls.map { c =>
        val js = jobsIn(c.startMs, c.endMs)
        val qs = queries.filter(q => q.startMs >= c.startMs && q.startMs <= c.endMs)
        (c.endMs - c.startMs, js.size.toDouble, stageSum(js)(_.tasks).toDouble,
          idleMs(c.startMs, c.endMs, js), stageSum(js)(_.bytesRead).toDouble,
          stageSum(js)(_.bytesWritten).toDouble, qs.map(_.filesRead).sum.toDouble)
      }
      out(s"${name}_s") = median(per.map(_._1 / 1000.0))
      out(s"$name.jobs") = median(per.map(_._2))
      out(s"$name.tasks") = median(per.map(_._3))
      out(s"$name.idle_s") = median(per.map(_._4 / 1000.0))
      out(s"$name.bytes_read") = median(per.map(_._5))
      out(s"$name.bytes_written") = median(per.map(_._6))
      out(s"$name.files_read") = median(per.map(_._7))
    }
    samples.foreach { case (k, v) => out(k) = median(v.toSeq) }
    out
  }

  /** Engine-wide totals over the measured loop's operations. */
  def engineMetrics(): mutable.LinkedHashMap[String, Double] = {
    val perOp = ops.toSeq.map { case (s, e, _) => (s, e, jobsIn(s, e)) }
    val js = perOp.flatMap(_._3).distinctBy(_.id)
    val qs = EngineLog.queries.asScala.toSeq
      .filter(q => ops.exists { case (s, e, _) => q.startMs >= s && q.startMs <= e })
    mutable.LinkedHashMap(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.flatMap(_.stages).distinct.count(EngineLog.stages.containsKey).toDouble,
      "spark.tasks" -> stageSum(js)(_.tasks).toDouble,
      "spark.idle_s" -> perOp.map { case (s, e, j) => idleMs(s, e, j) }.sum / 1000.0,
      "spark.planning_s" -> qs.map(_.planningMs).sum / 1000.0,
      "spark.shuffle_bytes" -> stageSum(js)(_.shuffleBytes).toDouble,
      "spark.spill_bytes" -> stageSum(js)(_.spillBytes).toDouble,
      "jvm.gc_s" -> ops.map(_._3).sum / 1000.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
