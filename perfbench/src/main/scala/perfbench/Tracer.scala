package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One query as the harness timed it, in epoch milliseconds. */
final case class QuerySpan(id: String, name: String, start: Double,
    buildEnd: Double, end: Double)

private final case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
  var end: Long = -1L
}

private final case class Stage(id: Int, attempt: Int, name: String, start: Long, end: Long)

/** Per-layer counters and spans for traced passes, observed from outside
  * the engine through Spark's public listener APIs.
  *
  * Jobs are attributed to a query by the job group the harness sets
  * around each query (`setJobGroup(spanId)`), so the spans of one query
  * share its id: query -> build | sink -> job -> stage. Listener callbacks
  * run on Spark's listener-bus thread; [[drain]] waits until every event
  * posted before it has been handled, so a pass's counters are complete
  * when they are read.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val DrainGroup = "perfbench-drain"
  private val lock = new Object
  private var drainSeen = 0
  private val drainJobs = scala.collection.mutable.Set.empty[Int]
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val c = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Names of the counters this listener accumulates (all reset per pass). */
  private val counterNames = Seq(
    "plan.actions", "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
    "plan.bhj", "plan.smj", "bcast.count", "bcast.bytes", "bcast.build_s",
    "sched.tasks", "sched.task_overhead_s", "exec.task_s", "exec.cpu_s",
    "exec.gc_s", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.fetch_wait_s", "exec.spill_bytes",
    "store.rdd_blocks", "store.mem_bytes", "store.disk_bytes")

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  def reset(): Unit = lock.synchronized {
    jobs.clear(); stages.clear(); c.clear()
    counterNames.foreach(c(_) = 0.0)
  }
  reset()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == DrainGroup) drainJobs += e.jobId
    else if (group != null) jobs += Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    if (drainJobs.remove(e.jobId)) { drainSeen += 1; lock.notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    if (jobs.exists(_.stageIds.contains(i.stageId)))
      stages += Stage(i.stageId, i.attemptNumber(), i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (!jobs.exists(_.stageIds.contains(e.stageId))) return
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("sched.task_overhead_s", (e.taskInfo.duration - m.executorRunTime).max(0L) / 1e3)
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      add("store.rdd_blocks", 1)
      add("store.mem_bytes", b.memSize.toDouble)
      add("store.disk_bytes", b.diskSize.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordAction(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordAction(qe)

  private def recordAction(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan: Option[SparkPlan] = scala.util.Try(qe.executedPlan).toOption
    val nodes = plan.toSeq.flatMap(p => collectWithSubqueries(p) { case n => n })
    val bcasts = nodes.collect { case b: BroadcastExchangeExec => b }
    def metric(b: SparkPlan, k: String): Double = b.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    lock.synchronized {
      add("plan.actions", 1)
      add("plan.analysis_s", phase(QueryPlanningTracker.ANALYSIS))
      add("plan.optimize_s", phase(QueryPlanningTracker.OPTIMIZATION))
      add("plan.physical_s", phase(QueryPlanningTracker.PLANNING))
      add("plan.bhj", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
      add("plan.smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]))
      add("bcast.count", bcasts.size)
      add("bcast.bytes", bcasts.map(metric(_, "dataSize")).sum)
      add("bcast.build_s", bcasts.map(b => metric(b, "collectTime") + metric(b, "buildTime")).sum / 1e3)
    }
  }

  /** Blocks until every listener event posted before this call is handled:
    * a one-task marker job runs after them on the same ordered queue.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val target = lock.synchronized(drainSeen) + 1
    sc.setJobGroup(DrainGroup, DrainGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    lock.synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (drainSeen < target && System.currentTimeMillis() < deadline) lock.wait(100)
    }
  }

  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Interval union length of `iv` clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Closes a traced pass: returns its per-layer metrics and its spans
    * (each with self time = duration minus what its children cover).
    */
  def passResult(queries: Seq[QuerySpan], wallS: Double, cores: Int,
      cg0: (Long, Double)): (Map[String, Double], Seq[Map[String, Any]]) = {
    drain()
    val cg1 = codegen()
    lock.synchronized {
      val js = jobs.filter(_.end >= 0).toSeq
      val ss = stages.toSeq
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      m("entry.build_s") = queries.map(q => q.buildEnd - q.start).sum / 1e3
      m("entry.sink_s") = queries.map(q => q.end - q.buildEnd).sum / 1e3
      m("entry.driver_s") = queries.map { q =>
        val iv = js.filter(_.group == q.id).map(j => (j.start.toDouble, j.end.toDouble))
        (q.end - q.start) - covered(iv, q.start, q.end)
      }.sum / 1e3
      m ++= c
      m("plan.codegen_compiles") = (cg1._1 - cg0._1).toDouble
      m("plan.codegen_s") = cg1._2 - cg0._2
      m("sched.jobs") = js.size.toDouble
      m("sched.stages") = ss.size.toDouble
      val durs = ss.map(s => (s.end - s.start).toDouble).sorted
      m("sched.stage_p50_ms") = if (durs.isEmpty) 0.0 else Stats.median(durs)
      m("exec.util") = m("exec.task_s") / (wallS * cores)

      val spans = ArrayBuffer.empty[Map[String, Any]]
      def span(id: String, parent: String, kind: String, name: String,
          a: Double, b: Double, children: Seq[(Double, Double)]): Unit =
        spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_ms" -> a, "end_ms" -> b, "dur_ms" -> (b - a),
          "self_ms" -> ((b - a) - covered(children, a, b)))
      queries.foreach { q =>
        span(q.id, null, "query", q.name, q.start, q.end,
          Seq((q.start, q.buildEnd), (q.buildEnd, q.end)))
        val qJobs = js.filter(_.group == q.id)
        Seq(("build", q.start, q.buildEnd), ("sink", q.buildEnd, q.end)).foreach {
          case (kind, a, b) =>
            val mine = qJobs.filter(j => (j.start < q.buildEnd) == (kind == "build"))
            span(s"${q.id}/$kind", q.id, kind, q.name, a, b,
              mine.map(j => (j.start.toDouble, j.end.toDouble)))
            mine.foreach { j =>
              val jid = s"${q.id}/job${j.id}"
              // a stage shared by several jobs runs once: it belongs to the first
              val jStages = ss.filter(s => js.find(_.stageIds.contains(s.id)).contains(j))
              span(jid, s"${q.id}/$kind", "job", s"job ${j.id}", j.start.toDouble,
                j.end.toDouble, jStages.map(s => (s.start.toDouble, s.end.toDouble)))
              jStages.foreach { s =>
                span(s"$jid/stage${s.id}.${s.attempt}", jid, "stage",
                  s.name.linesIterator.nextOption().getOrElse(""),
                  s.start.toDouble, s.end.toDouble, Nil)
              }
            }
        }
      }
      (m.toMap, spans.toSeq)
    }
  }
}
