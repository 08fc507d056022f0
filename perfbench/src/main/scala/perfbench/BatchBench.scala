package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.OperatorCaches

/** Layer breakdown of hot batch queries, run as part of a traced run:
  * each SparkEntry query below, started from cold operator and SQL caches,
  * split into build (the `fn(spark, dir)` call, i.e. eager actions while
  * the DataFrame is built), plan (`executedPlan`) and execute (`toRdd`),
  * with its jobs and task metrics drained from the listener bus.
  *
  * Warm-up is one cold pass, which also writes every result for the
  * DuckDB oracle check, and one untimed warm pass; then passes repeat for
  * `seconds` (at least one).
  */
object BatchBench {
  /** (query, the table it reads). */
  val Queries: Seq[(String, String)] = Seq(
    "q_ann_residual_rerank" -> "embeddings", // ANN index family
    "q_dedup_minhash" -> "documents",        // banded near-duplicate family
    "q_dedup_clusters" -> "documents",       // eager build at construction time
    "q_funnel" -> "events",                  // per-job scheduling floor
    "q_fraud_scoring" -> "events")           // batch twin of the stream pipeline
  private val names = Queries.map(_._1)

  private def release(spark: SparkSession): Unit = {
    OperatorCaches.releaseAll()
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, o: Opts, seconds: Int): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def attempt[T](q: String)(f: => T): Option[T] = {
      attempted += 1
      release(spark)
      try Some(f) catch { case e: Throwable =>
        failures += q
        System.err.println(s"[perfbench] $q failed: $e")
        None
      }
    }

    val oracleDir = o.dir("oracle")
    val (_, coldS) = Clock.secondsOf(names.foreach(q => attempt(q) {
      SparkEntry.queries(q)(spark, o.data).write.mode("overwrite").parquet(s"$oracleDir/$q")
    }))
    Json.write(s"$oracleDir/oracle_sql.json", names.map(q => q -> SparkEntry.oracleSql(q)).toMap)

    val tracer = new Tracer(spark, p => Option(p.getProperty("spark.jobGroup.id")))
    val sc = spark.sparkContext
    def phase[T](tag: String)(f: => T): (T, Double) = {
      sc.setJobGroup(tag, tag)
      try Clock.secondsOf(f) finally sc.clearJobGroup()
    }
    def pass(p: Int): Map[String, Any] = {
      val (rows, passS) = Clock.secondsOf(names.flatMap(q => attempt(q) {
        val (df, buildS) = phase(s"$p|$q|build")(SparkEntry.queries(q)(spark, o.data))
        val (_, planS) = phase(s"$p|$q|plan")(df.queryExecution.executedPlan)
        val execFromMs = System.currentTimeMillis()
        val (_, execS) = phase(s"$p|$q|exec")(df.queryExecution.toRdd.count())
        Map[String, Any]("query" -> q, "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
          "exec_window_ms" -> Seq(execFromMs, System.currentTimeMillis()))
      }))
      tracer.drain()
      Map("wall_s" -> passS, "queries" -> rows.map { r =>
        val cs = Seq("build", "plan", "exec").map(ph => tracer.get(s"$p|${r("query")}|$ph"))
        r ++ Map("jobs" -> cs.map(_.jobs).sum, "tasks" -> cs.map(_.tasks).sum,
          "task_run_ms" -> cs.map(_.runMs).sum, "task_cpu_ms" -> cs.map(_.cpuNs).sum / 1e6,
          "shuffle_bytes" -> cs.map(_.shuffleBytes).sum, "spill_bytes" -> cs.map(_.spillBytes).sum,
          "exec_job_spans_ms" -> cs(2).jobSpans.toSeq)
      })
    }

    val warmS = coldS + Clock.secondsOf(pass(-1))._2
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) passes += pass(passes.size)
    tracer.close()
    Map("attempted" -> attempted, "failed_queries" -> failures.toSeq, "warmup_s" -> warmS,
      "oracle_dir" -> oracleDir, "passes" -> passes.toSeq)
  }
}
