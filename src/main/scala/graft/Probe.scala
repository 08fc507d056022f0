package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.functions.Observability.{JobCounter, JobCounts}
import graft.operators.{Dedup, OperatorCaches, Similarity}
import graft.sources.Tables

/** Diagnostics over `SparkEntry` queries and named sub-plan probes:
  *
  *   sbt "runMain graft.Probe time <name,name,...|all> [sfDir]"
  *   sbt "runMain graft.Probe plan <name,name,...|all> [sfDir]"
  *
  * `time` prints the cold seconds, the min of 3 steady runs, and that
  * steady run's jobs/stages/tasks, read after draining the listener
  * bus so they are exact. `plan` prints `## <name>` and the formatted
  * physical plan; with AQE on that is the whole initial plan.
  * `all` is every query and every probe. `sfDir` defaults to
  * `$SPARK_GRAFT_SF_DIR`; cores come from [[Sessions.cpus]].
  */
object Probe {
  /** Stages of declared queries, so a slow query can be attributed to
    * the stage that owns the time.
    */
  val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- cluster family (q_dedup_clusters et al.) ----
    "p_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    "p_sig_reps" -> ((s, d) => sigReps(docs(s, d))),
    "p_rep_pairs" -> ((s, d) => Dedup.simhashPairs(docs(s, d))),
    "p_cc_only" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.connectedComponents(
        Dedup.simhashPairs(dd).select("doc_a", "doc_b"),
        sigReps(dd).select("doc_id"), "doc_id")
    }),
    "p_clusters" -> ((s, d) => Dedup.simhashClusters(docs(s, d))),
    // ---- containment: prefix-filtered vs direct self-join ----
    "p_containment_prefix" -> ((s, d) => Dedup.containmentPairs(docs(s, d),
      threshold = 0.8, prefixFilter = Some(true))),
    "p_containment_direct" -> ((s, d) => Dedup.containmentPairs(docs(s, d),
      threshold = 0.8, prefixFilter = Some(false))),
    // ---- ANN ladder ----
    "p_prepared" -> ((s, d) =>
      emb(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))),
    "p_truth" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), col("vec_id") < 8, 3)),
    "p_ivf" -> ((s, d) => Similarity.ivfTopK(emb(s, d), col("vec_id") < 8, 3)),
    "p_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d), col("vec_id") < 8, 3)),
    "p_lsh" -> ((s, d) => Similarity.lshTopK(emb(s, d), col("vec_id") < 8, 3))
  )

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")
  private def sigReps(docs: DataFrame): DataFrame =
    Dedup.simhash(docs).groupBy("simhash").agg(min("doc_id").as("doc_id"))

  private def lookup(name: String): (SparkSession, String) => DataFrame =
    probes.get(name).orElse(SparkEntry.queries.get(name))
      .getOrElse(throw new IllegalArgumentException(
        s"$name is neither a SparkEntry query nor a probe"))

  final case class Timing(cold: Double, steady: Double, counts: JobCounts)

  def time(spark: SparkSession, name: String, sfDir: String): Timing = {
    val fn = lookup(name)
    val counter = new JobCounter(spark)
    def once(): (Double, JobCounts) = {
      val before = counter.drain()
      val t0 = System.nanoTime()
      Bench.force(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      val counts = counter.drain() - before
      OperatorCaches.releaseAll()
      spark.catalog.clearCache()
      (sec, counts)
    }
    try {
      val cold = once()._1
      val (steady, counts) = Seq.fill(3)(once()).minBy(_._1)
      Timing(cold, steady, counts)
    } finally counter.stop()
  }

  def plan(spark: SparkSession, name: String, sfDir: String): String = {
    val txt = lookup(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    OperatorCaches.releaseAll()
    spark.catalog.clearCache()
    s"## $name\n\n```\n$txt```\n"
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe time|plan <name,name,...|all> [sfDir]"
    require(args.length >= 2 && Set("time", "plan")(args(0)), usage)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(usage))
    val names =
      if (args(1) == "all") (SparkEntry.queries.keys ++ probes.keys).toSeq.sorted
      else args(1).split(",").toSeq
    val spark = Sessions.local(Sessions.cpus)
    names.foreach { n =>
      if (args(0) == "plan") print(plan(spark, n, sfDir))
      else {
        val t = time(spark, n, sfDir)
        println(f"PROBE $n cold=${t.cold}%.3f steady=${t.steady}%.3f " +
          s"jobs=${t.counts.jobs} stages=${t.counts.stages} " +
          s"tasks=${t.counts.tasks} sf=$sfDir")
      }
    }
    spark.stop()
  }
}
