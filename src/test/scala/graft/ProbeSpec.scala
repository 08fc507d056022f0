package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OperatorCaches

class ProbeSpec extends AnyFunSuite {
  import TestSpark._

  test("time and plan run on a SparkEntry query and on a sub-plan probe") {
    Seq("q_dedup_clusters", "p_cc_only").foreach { name =>
      val t = Probe.time(spark, name, sf)
      assert(t.cold > 0 && t.steady > 0, name)
      assert(t.counts.jobs > 0 && t.counts.stages > 0 &&
        t.counts.tasks >= t.counts.stages, s"$name: ${t.counts}")
      val plan = Probe.plan(spark, name, sf)
      assert(plan.startsWith(s"## $name\n") &&
        plan.contains("== Physical Plan =="), plan.take(200))
    }
  }

  test("every sub-plan probe runs and returns rows") {
    Probe.probes.foreach { case (name, fn) =>
      assert(Bench.force(fn(spark, sf)) > 0, name)
      OperatorCaches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("an unknown name is rejected with the name in the message") {
    val e = intercept[IllegalArgumentException](Probe.plan(spark, "q_nope", sf))
    assert(e.getMessage.contains("q_nope"))
  }
}
