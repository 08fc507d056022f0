package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Command-line options shared by every workload. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: String, data: String) {
  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
}

object Opts {
  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, kv("work"), kv.getOrElse("data", ""))
  }
}

/** The one session factory of the benchmark: every scratch path points
  * into the run's work directory, so nothing is written elsewhere.
  */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Clock {
  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the raw run record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), apply(v).getBytes(StandardCharsets.UTF_8))
}

/** Per-key executor counters drained from the listener bus. A key is a
  * job group (batch queries) or a micro-batch id (streams).
  */
final class Counters {
  var jobs = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "job_spans_ms" -> jobSpans.toSeq)
}

/** Passive tracing: a SparkListener keyed by `keyOf(job properties)` plus
  * a StreamingQueryListener that keeps every progress report. Counts are
  * read only after [[drain]], which submits a sentinel job and polls until
  * the listener has seen its end — the bus delivers events in order, so
  * every earlier event has been counted by then.
  */
final class Tracer(spark: SparkSession, keyOf: java.util.Properties => Option[String]) {
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val Sentinel = "perfbench-drain-"
  private var drains = 0

  private def counters(k: String) = byKey.computeIfAbsent(k, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).getOrElse(new java.util.Properties)
      val group = Option(props.getProperty("spark.jobGroup.id")).getOrElse("")
      if (group.startsWith(Sentinel)) jobKey.put(e.jobId, group)
      else keyOf(props).foreach { k =>
        jobKey.put(e.jobId, k); jobStart.put(e.jobId, e.time)
        val c = counters(k); c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobKey.get(e.jobId)).foreach { k =>
        if (k.startsWith(Sentinel)) ended.add(k)
        else {
          val c = counters(k)
          c.synchronized { c.jobSpans += ((jobStart.get(e.jobId), e.time)) }
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(keyOf).foreach(k => stageKey.put(e.stageInfo.stageId, k))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { k =>
        val c = counters(k)
        c.synchronized {
          c.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Block until every event posted before this call has been counted. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    drains += 1
    val tag = s"$Sentinel$drains"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ended.contains(tag)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  /** Wait until the streaming listener has reported batch `batchId` of `runId`. */
  def awaitProgress(runId: java.util.UUID, batchId: Long, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!progress.asScala.exists(p => p.runId == runId && p.batchId >= batchId)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("streaming listener did not drain")
      Thread.sleep(5)
    }
  }

  def get(k: String): Counters = Option(byKey.get(k)).getOrElse(new Counters)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
