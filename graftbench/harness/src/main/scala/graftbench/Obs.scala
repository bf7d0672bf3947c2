package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters that add up. */
final class Totals {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def apply(k: String): Double = v.getOrElse(k, 0.0)
}

/** Spark-side observation through public listeners only: a SparkListener
  * for job, stage and task totals, and a QueryExecutionListener for the
  * compile phases and a census of the plan that actually ran. Jobs are
  * attributed to the operation named by the `graftbench.op` local
  * property at submission. Both listener buses deliver asynchronously, so
  * readers call [[quiesce]] first.
  */
final class Obs extends SparkListener with QueryExecutionListener {
  val total = new Totals
  val byOp: mutable.Map[String, Totals] = mutable.LinkedHashMap.empty
  private val stageOp = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  @volatile private var events = 0L
  @volatile private var open = 0

  @volatile var attached = false

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  private def op(name: String): Totals = byOp.getOrElseUpdate(name, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.op")))
      .getOrElse("-")
    e.stageIds.foreach(stageOp(_) = name)
    jobStart(e.jobId) = e.time
    total.add("jobs", 1); total.add("stages", e.stageIds.size.toDouble)
    op(name).add("jobs", 1)
    open += 1; events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    open -= 1; events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null) {
      val o = op(stageOp.getOrElse(e.stageId, "-"))
      def add(k: String, x: Double): Unit = { total.add(k, x); o.add(k, x) }
      add("tasks", 1)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("task_run_s", m.executorRunTime / 1e3)
      add("gc_s", m.jvmGCTime / 1e3)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      events += 1
      val ph = qe.tracker.phases
      Seq("parsing" -> "parse_s", "analysis" -> "analyze_s",
          "optimization" -> "optimize_s", "planning" -> "plan_s").foreach {
        case (phase, k) => total.add(k, ph.get(phase).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      census(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { events += 1 }

  /** Walks the executed plan, into AQE's final plan and its query stages. */
  private def census(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => census(a.executedPlan)
    case q: QueryStageExec => census(q.plan)
    case c: CommandResultExec => census(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => total.add("reused_exchanges", 1)
    case _ =>
      p match {
        case _: Exchange => total.add("exchanges", 1)
        case _: BroadcastNestedLoopJoinExec => total.add("bnlj", 1)
        case _: CartesianProductExec => total.add("cartesian", 1)
        case _ if p.children.isEmpty => total.add("scans", 1)
        case _ =>
      }
      p.children.foreach(census)
      p.subqueries.foreach(census)
  }

  /** Seconds within [fromMs, toMs] covered by at least one Spark job. */
  def jobCoverage(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (covered + curE - curS) / 1e3
  }

  /** Waits until no job is open and no event arrived for 200 ms (max 20 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L; var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val (ev, op) = synchronized((events, open))
      if (ev != last) { last = ev; stableSince = System.nanoTime() }
      else if (op == 0 && System.nanoTime() - stableSince > 200000000L) return
      Thread.sleep(20)
    }
  }
}

/** In-memory spans: one per layer boundary crossed, all sharing the run
  * id, written out once when the run ends. Disabled spans cost nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the durations of its direct children. */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}
