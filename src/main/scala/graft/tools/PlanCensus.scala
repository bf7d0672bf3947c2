package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, ExplainMode, FileSourceScanExec, GenerateExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Census of the plans Spark actually RAN. Under AQE, `df.write` executes
  * a QueryExecution of its own, so `df.queryExecution.executedPlan` read
  * after a write is an initial plan that never executed (no reused
  * exchanges, every duplicated subtree still in place). [[capture]] takes
  * each executed QueryExecution from a `QueryExecutionListener` instead,
  * barriers (`localCheckpoint`, `count`, `collect`) included, and
  * [[count]] walks the final adaptive plan, counting a `ReusedExchange`
  * stub as itself and never its subtree.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanCensus q196 q185"
  *
  * prints one census line per execution of each matching query (substring
  * match), then the formatted final plan of its noop write.
  */
object PlanCensus {
  /** One execution Spark reported: its action name (`localCheckpoint`,
    * `count`, `collect`, `overwrite` for the noop write, ...), the
    * QueryExecution that ran, and its wall time.
    */
  final case class Executed(funcName: String, qe: QueryExecution, secs: Double)

  /** Runs `body`, which must end in one noop write
    * (`.write.format("noop").mode("overwrite").save()`), and returns every
    * execution it ran, in order, up to that write's `overwrite` event.
    */
  def capture(spark: SparkSession)(body: => Unit): Seq[Executed] = {
    val seen = new LinkedBlockingQueue[Executed]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(Executed(funcName, qe, ns / 1e9))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus delivers asynchronously, after the action returns
      val out = ArrayBuffer[Executed]()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!out.lastOption.exists(_.funcName == "overwrite")) {
        val next = seen.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (next == null)
          throw new IllegalStateException(
            s"PlanCensus: no `overwrite` event within 60 s after ${out.map(_.funcName)}")
        out += next
      }
      out.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Executed operators of `p` matching `pred`: walks into AQE's final
    * plan, its query stages, a command's plan and subqueries. A reused
    * exchange or subquery is a stub: it is offered to `pred` itself (count
    * `ReusedExchangeExec` to count reuse), and its subtree, which ran
    * elsewhere, is skipped.
    */
  def count(p: SparkPlan)(pred: SparkPlan => Boolean): Int = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)(pred)
    case q: QueryStageExec => count(q.plan)(pred)
    case c: CommandResultExec => count(c.commandPhysicalPlan)(pred)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => if (pred(p)) 1 else 0
    case _ =>
      (if (pred(p)) 1 else 0) + (p.children ++ p.subqueries).map(count(_)(pred)).sum
  }

  /** `funcName secs scans shuffles broadcasts generates reused bnlj` */
  def line(e: Executed): String = {
    val p = e.qe.executedPlan
    f"${e.funcName}%-16s secs=${e.secs}%7.3f" +
      s" scans=${count(p)(_.isInstanceOf[FileSourceScanExec])}" +
      s" shuffles=${count(p)(_.isInstanceOf[ShuffleExchangeLike])}" +
      s" broadcasts=${count(p)(_.isInstanceOf[BroadcastExchangeLike])}" +
      s" generates=${count(p)(_.isInstanceOf[GenerateExec])}" +
      s" reused=${count(p)(_.isInstanceOf[ReusedExchangeExec])}" +
      s" bnlj=${count(p)(_.isInstanceOf[BroadcastNestedLoopJoinExec])}"
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanCensus <query-substring> ...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.exists(n.contains))
    require(names.nonEmpty, s"no query matches ${args.mkString(",")}")
    for (name <- names) {
      val runs = capture(spark) {
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      println(s"===== $name =====")
      runs.foreach(e => println(s"CENSUS $name ${line(e)}"))
      println(runs.last.qe.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
