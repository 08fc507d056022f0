package graft.functions

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline observability — the Spark-native replacement for the
  * reference's Prometheus counters
  * (reference: FeatureEnrichmentProcessor.java:27-31,372-388 per-op
  * counters; monitoring/metrics.py). Two mechanisms:
  *
  * - `withPipelineMetrics`: `df.observe` named metrics computed
  *   inline by the running query (no second scan) — row counts,
  *   error rates, score distribution. Works on batch and streaming.
  * - `RateListener`: a StreamingQueryListener capturing per-batch
  *   input rate / processing rate / watermark, the numbers the
  *   reference scraped from Flink's reporter.
  * - `JobCounter`: Spark jobs, stages and tasks, exact once drained.
  */
object Observability {

  def withPipelineMetrics(scored: DataFrame,
                          name: String = "pipeline"): DataFrame =
    scored.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(col("parse_error"), 1L).otherwise(0L)).as("n_parse_errors"),
      sum(when(col("decision") === "DECLINE", 1L).otherwise(0L))
        .as("n_declined"),
      avg(col("fraud_score")).as("avg_score"),
      max(col("fraud_score")).as("max_score"))

  final case class BatchStats(batchId: Long, numInputRows: Long,
                              inputRowsPerSecond: Double,
                              processedRowsPerSecond: Double)

  /** Collects per-micro-batch throughput stats (bounded queue). */
  final class RateListener(keep: Int = 100) extends StreamingQueryListener {
    private val q = new ConcurrentLinkedQueue[BatchStats]()
    def stats: Seq[BatchStats] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      q.add(BatchStats(p.batchId, p.numInputRows,
        p.inputRowsPerSecond, p.processedRowsPerSecond))
      while (q.size() > keep) q.poll()
    }
  }

  final case class JobCounts(jobs: Long, stages: Long, tasks: Long) {
    def -(o: JobCounts): JobCounts =
      JobCounts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  }

  /** Counts jobs, submitted stages and their tasks on `spark`'s
    * listener bus. The bus delivers events asynchronously, so a count
    * read right after an action can miss its last events; [[drain]]
    * first waits until the bus has delivered everything posted so far.
    * Skipped stages are never submitted and count nothing.
    */
  final class JobCounter(spark: SparkSession) extends SparkListener {
    private val jobs = new AtomicLong
    private val stages = new AtomicLong
    private val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
    }

    /** Totals since construction, after every event posted before this
      * call has been delivered; throws `TimeoutException` after 60 s.
      */
    def drain(): JobCounts = {
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext, 60000L)
      JobCounts(jobs.get, stages.get, tasks.get)
    }

    def stop(): Unit = spark.sparkContext.removeSparkListener(this)
  }
}
