package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Runs one workload and writes its raw record
  * (samples, counters, check results) as JSON to `--out`; `run.py` turns
  * that record into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --cores C --work DIR [--data DIR] --out FILE
  * (`--data` holds the batch tables a traced stream_trickle run queries)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    val out = argv(argv.indexOf("--out") + 1)
    val record = o.workload match {
      case "stream_trickle" => StreamBench.trickle(o)
      case "stream_backlog" => StreamBench.backlog(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    Json.write(out, record)
    System.exit(0)
  }
}
