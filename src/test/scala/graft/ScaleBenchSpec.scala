package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ScaleBench.CorunPair

/** Pins the Spark-free parts of the scaling harness that [[Bench]]
  * publishes: the co-run leg selection rule and the cluster-only guard.
  */
class ScaleBenchSpec extends AnyFunSuite {

  // eff = tputBig / agg; windowCpu = bigCpuSec + childCpuSecMean
  private def leg(eff: Double, windowCpu: Double): CorunPair =
    CorunPair(tputBig = eff * 1000.0, agg = 1000.0,
      childCpuSecMean = windowCpu / 2, bigCpuSec = windowCpu / 2)

  test("pickCorunLeg drops a leg whose ratio is above 1.05") {
    val implausible = leg(eff = 1.10, windowCpu = 50)
    val valid = leg(eff = 0.90, windowCpu = 80)
    assert(ScaleBench.pickCorunLeg(Seq(implausible, valid), 100.0) ===
      Some(valid))
    assert(ScaleBench.pickCorunLeg(Seq(leg(1.05, 80)), 100.0).isDefined)
  }

  test("pickCorunLeg drops a leg whose window task-CPU is over the bound") {
    val stormy = leg(eff = 0.95, windowCpu = 120)
    val valid = leg(eff = 0.70, windowCpu = 90)
    assert(ScaleBench.pickCorunLeg(Seq(stormy, valid), 100.0) === Some(valid))
    assert(ScaleBench.pickCorunLeg(Seq(leg(0.95, 100)), 100.0).isDefined)
  }

  test("pickCorunLeg picks the lowest window task-CPU, not the best ratio") {
    val bestRatio = leg(eff = 0.98, windowCpu = 95)
    val cleanest = leg(eff = 0.81, windowCpu = 70)
    val middle = leg(eff = 0.90, windowCpu = 85)
    assert(ScaleBench.pickCorunLeg(Seq(bestRatio, cleanest, middle), 100.0) ===
      Some(cleanest))
  }

  test("pickCorunLeg returns None when no leg is valid") {
    val legs = Seq(leg(eff = 1.20, windowCpu = 50), leg(eff = 0.80, windowCpu = 150))
    assert(ScaleBench.pickCorunLeg(legs, 100.0) === None)
    assert(ScaleBench.pickCorunLeg(Seq.empty, 100.0) === None)
  }

  test("runOnce and corun reject execs = None before any session or child") {
    val before = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val e = intercept[IllegalArgumentException] {
      ScaleBench.runOnce(2, "/nonexistent/in", "/nonexistent/out", 10L,
        execs = None)
    }
    assert(e.getMessage.contains("local-cluster only"))
    intercept[IllegalArgumentException] {
      ScaleBench.corun(4, 2, "/nonexistent/in", "/nonexistent/out", 10L,
        execs = None)
    }
    assert((SparkSession.getActiveSession, SparkSession.getDefaultSession) ===
      before)
  }
}
