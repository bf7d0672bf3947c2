package graft.tools

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** [[PlanCensus]] reads the plans that RAN: under AQE a noop write runs a
  * QueryExecution of its own, and only its final adaptive plan shows the
  * runtime exchange reuse and the scans that actually executed.
  */
class PlanCensusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def noopWrite(name: String): Seq[PlanCensus.Executed] =
    PlanCensus.capture(spark) {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }

  test("q113: the captured write plan is the final adaptive plan — the " +
      "collapsed counts are computed once and reused, the corpus scanned " +
      "once") {
    val runs = noopWrite("q113_dsir_weights")
    assert(runs.last.funcName == "overwrite", runs.map(_.funcName))
    val plan = runs.last.qe.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"),
      s"the census read a plan that never executed:\n$plan")
    val reused = PlanCensus.count(plan)(_.isInstanceOf[ReusedExchangeExec])
    val scans = PlanCensus.count(plan)(_.isInstanceOf[FileSourceScanExec])
    assert(reused >= 1, s"expected a reused exchange, got $reused:\n$plan")
    assert(scans == 1, s"expected 1 executed scan, got $scans:\n$plan")
  }

  test("q196: executions before the write (its localCheckpoint barrier) " +
      "are captured too, in order, ending at the write") {
    val runs = noopWrite("q196_fusion_delta_significance")
    assert(runs.size > 1,
      s"only the write was captured: ${runs.map(_.funcName)}")
    assert(runs.last.funcName == "overwrite", runs.map(_.funcName))
    assert(runs.init.forall(_.funcName != "overwrite"), runs.map(_.funcName))
  }

  test("q182: the λ sweep runs in one execution, the write — no barrier " +
      "before it") {
    val runs = noopWrite("q182_mmr_lambda_sweep")
    assert(runs.map(_.funcName) == Seq("overwrite"), runs.map(_.funcName))
  }
}
