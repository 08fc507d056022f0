package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Observability
import graft.streaming.TransactionPipeline

class ObservabilitySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val users = Seq(("u1", 0.2, "verified", 100.0))
    .toDF("user_id", "risk_score", "kyc_status", "avg_transaction_amount")
  private val merchants = Seq(("m1", 0.01, "low", false))
    .toDF("merchant_id", "fraud_rate", "risk_level", "is_blacklisted")
  private def tx(id: String) =
    s"""{"transaction_id":"$id","user_id":"u1","merchant_id":"m1",
       |"amount":10.0,"timestamp":"2024-01-01T12:00:00Z",
       |"user_agent":"Mozilla/5.0 (X11; Linux x86_64) Gecko/2010 Firefox",
       |"geolocation":{"lat":40.0,"lon":-74.0},
       |"merchant_location":{"lat":40.0,"lon":-74.0}}""".stripMargin

  test("observe metrics ride the batch query (no second scan)") {
    val raw = Seq(tx("a"), tx("b"), "garbage((").toDF("json")
    val df = Observability.withPipelineMetrics(
      TransactionPipeline.pipeline(raw, users, merchants))
    df.collect()
    val m = df.queryExecution.observedMetrics("pipeline")
    assert(m.getAs[Long]("n_rows") == 3)
    assert(m.getAs[Long]("n_parse_errors") == 1)
    assert(m.getAs[Double]("max_score") <= 1.0)
  }

  test("RateListener captures per-micro-batch throughput") {
    val listener = new Observability.RateListener()
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[String](spark)
      in.addData(tx("s1"), tx("s2"))
      val q = TransactionPipeline.pipeline(
        in.toDF().withColumnRenamed("value", "json"), users, merchants)
        .writeStream.format("memory").queryName("obsq")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      assert(listener.stats.exists(_.numInputRows == 2))
    } finally spark.streams.removeListener(listener)
  }

  test("JobCounter drain: 4-partition range is exactly 1 job, 1 stage, 4 tasks") {
    val counter = new Observability.JobCounter(spark)
    try {
      val before = counter.drain()
      spark.range(0, 1000, 1, 4).queryExecution.toRdd.count()
      assert(counter.drain() - before == Observability.JobCounts(1, 1, 4))
    } finally counter.stop()
  }
}
