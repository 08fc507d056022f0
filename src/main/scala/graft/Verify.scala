package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus)
    // optional comma-separated filter for local iteration on a subset
    // (the driver sets no filter and dumps everything)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) })
    spark.stop()
  }

  /** Writes `oracle_sql.json`, then one parquet dump per query under
    * `outDir/<name>`. Every selected query's old dump is deleted before
    * the first query runs, so a query that fails, or that is never
    * reached because the JVM died, has no dump at all: the compare
    * reports it missing instead of grading an earlier run's output.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), oracleJson)
    queries.keys.foreach(n => FileUtils.deleteDirectory(new File(outDir, n)))
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // drop operator-internal caches between queries
        graft.operators.OperatorCaches.releaseAll()
        spark.catalog.clearCache()
      }
    }
  }

  private def oracleJson: String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
