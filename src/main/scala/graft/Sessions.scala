package graft

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is configured. Every main and
  * the test suite share this config, so a setting the data needs (the
  * parquet timestamp flags below) cannot be missing from one of them.
  */
object Sessions {

  /** Core count for a main: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, UI off, WARN.
    * `events.parquet` stores TIMESTAMP(NANOS): `nanosAsLong` reads it as
    * a long (`graft.sources.Tables` converts it back), and
    * `inferTimestampNTZ=false` keeps the other timestamp columns LTZ.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
