package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FailureAccountingSpec extends AnyFunSuite {

  test("a throwing operation is failed, untimed and delivers nothing") {
    val r = Ops.run("query", "boom") {
      Thread.sleep(20)
      throw new IllegalStateException("injected")
    }
    assert(r.outcome == Outcome.Failed)
    assert(r.latencyS.isEmpty)
    assert(r.obs == 0L)
    assert(r.error.exists(_.contains("injected")))
  }

  test("a gate refusal is rejected, not failed, and not a latency sample") {
    val r = Ops.run("series", "gapped")((Outcome.Rejected, 300L))
    assert(r.outcome == Outcome.Rejected)
    assert(r.latencyS.isEmpty && r.obs == 0L && r.error.isEmpty)
  }

  test("a completed operation is timed and counts its observations") {
    val r = Ops.run("series", "clean") { Thread.sleep(20); (Outcome.Ok, 300L) }
    assert(r.outcome == Outcome.Ok)
    assert(r.latencyS.exists(_ >= 0.02))
    assert(r.obs == 300L)
  }

  test("the report counts a failure against attempts and keeps it out of every time") {
    val ok = Ops.run("query", "fast") { Thread.sleep(10); (Outcome.Ok, 1L) }
    val failed = Ops.run("query", "slow-and-broken") {
      Thread.sleep(200)
      throw new RuntimeException("injected")
    }
    val measured = Batch(0, 0.5, Seq(ok, failed))
    val noWork = new Workload {
      val nominalBatchS = 1.0
      def inputs(spark: SparkSession): Unit = ()
      def warmUp(spark: SparkSession): Unit = ()
      def batch(spark: SparkSession, tracer: Tracer, index: Int): Batch = measured
      def check(spark: SparkSession): Seq[Check] = Nil
      def layerCounts(batches: Seq[Int]): Map[String, Double] = Map.empty
    }
    val args = Main.Args("registry", 0L, 1.0, trace = false, "data", "out", 1, 0.0)
    val rep = Report(args, 1.0, 0.0, Seq(measured), 0.0, None, noWork, Nil, 0.0)
    assert(rep.result("attempted") == 2)
    assert(rep.result("failed") == 1)
    assert(rep.failedShare == 0.5)
    val p50 = rep.endToEnd("latency_p50_s")._1
    assert(p50 == ok.latencyS.get, "only the completed query is a latency sample")
    assert(p50 < 0.2)
  }
}
