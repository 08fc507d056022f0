package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.gen.DataGen
import graft.ml.FraudModel
import graft.sources.log.{GraftLog, GraftLogFormat, GraftLogOffset}
import graft.streaming.TransactionPipeline

/** The two streaming workloads: graftlog → TransactionPipeline.pipeline →
  * toLogSink with a checkpoint, fed either live (`stream_trickle`, an
  * open-loop producer at a fixed rate) or from a pre-filled backlog
  * (`stream_backlog`, drained under admission control).
  */
object StreamBench {
  val Users = 10000
  val Merchants = 5000
  val Partitions = 4
  val TrickleRate = 1000            // offered load, records per second
  val LingerMs = 20                 // producer batching window
  val WarmRecords = 500             // drained by the cold first trigger
  val WarmQueries = 4               // concurrent queries that warm the JIT before the live query
  val WarmQueryTriggers = 15        // trickle-sized triggers each of them runs
  val WarmTriggers = 5              // triggers of live traffic before the measured window
  val MaxWarmSeconds = 15           // cap on that warm-up on a slow host
  val TailSeconds = 1               // traffic kept up after the measured window
  val BacklogRowsPerSecond = 50000  // backlog size per second of --seconds
  val WarmBacklogRows = 200000L
  val SmallBatch = 1000L            // batch size at which per-trigger fixed costs dominate
  val OneCoreRows = 25000L          // cap on the single-core baseline's batch
  val BatchSeconds = 5              // measured batch passes in a traced run
  val MaxRecordsPerTrigger = 200000L
  val SetupReps = 3

  // ---- inputs ------------------------------------------------------------

  private def uniform(salt: Int, seed: Long) =
    pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(1000000L)).cast("double") / 1e6

  /** Merchant profiles with the columns `enrich` joins (the engine's
    * generator covers users only).
    */
  def merchants(spark: SparkSession, seed: Long): DataFrame =
    spark.range(Merchants).select(
      concat(lit("m"), col("id")).as("merchant_id"),
      (uniform(101, seed) * 0.2).as("fraud_rate"),
      when(uniform(102, seed) < 0.7, "low").when(uniform(102, seed) < 0.95, "medium")
        .otherwise("high").as("risk_level"),
      (uniform(103, seed) < 0.01).as("is_blacklisted"))

  /** Profile tables, materialised once as parquet like a profile store. */
  final case class Profiles(dir: String) {
    def users(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/users")
    def merchants(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/merchants")
  }

  def writeProfiles(spark: SparkSession, seed: Long, dir: String): Profiles = {
    DataGen.userProfiles(spark, Users, seed).write.mode("overwrite").parquet(s"$dir/users")
    merchants(spark, seed).write.mode("overwrite").parquet(s"$dir/merchants")
    Profiles(dir)
  }

  /** `n` DataGen transactions as (key = transaction_id, value = JSON) log
    * records, in id order. About 0.1% are cut to their first half, i.e.
    * malformed JSON the pipeline must turn into ERROR_* placeholders.
    */
  def inputs(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val tx = DataGen.transactions(spark, n, Users, seed)
    val bad = pmod(xxhash64(col("key"), lit(seed), lit(7)), lit(1000L)) === 0
    tx.select(col("transaction_id").as("key"),
        to_json(struct(tx.columns.toIndexedSeq.map(col): _*)).as("json"))
      .select(col("key"),
        when(bad, expr("substring(json, 1, int(length(json) / 2))"))
          .otherwise(col("json")).as("value"))
  }

  private def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  // ---- producer and tailer ----------------------------------------------

  /** Appends records [from, to) as one segment of partition `p`. */
  private def appendSegment(dir: String, p: Int, base: Long, keys: Array[Array[Byte]],
                            values: Array[Array[Byte]], from: Int, to: Int,
                            tsMicros: Int => Long): Unit = {
    val tmp = GraftLogFormat.newTmpFile(dir)
    val w = new GraftLogFormat.SegmentWriter(tmp)
    (from until to).foreach(i => w.append(keys(i), values(i), tsMicros(i)))
    w.close()
    GraftLogFormat.publish(dir, tmp, p, base, (to - from).toLong)
  }

  /** Open-loop producer on one thread: record `from + j` is due at
    * t0 + j / rate. Records are appended in LingerMs windows, one segment
    * per window, round-robin over partitions, each stamped with its due
    * time. The schedule never waits for the query; `lateMs` records how
    * far behind each window close the append finished. Records from
    * `stopAt` on are never appended.
    */
  final class Producer(dir: String, keys: Array[Array[Byte]], values: Array[Array[Byte]],
                       from: Int, rate: Int, t0Nanos: Long, t0Micros: Long)
      extends Thread("perfbench-producer") {
    val lateMs = mutable.ArrayBuffer.empty[Double]
    @volatile var error: Throwable = _
    @volatile var stopAt: Int = keys.length
    setDaemon(true)
    override def run(): Unit = try {
      val next = Array.tabulate(Partitions)(p => GraftLogFormat.endOffset(dir, p))
      val perWindow = rate * LingerMs / 1000
      var c = 0
      var i = from
      while (i < stopAt) {
        val end = math.min(stopAt, from + (c + 1) * perWindow)
        val closeNs = t0Nanos + (end - from).toLong * 1000000000L / rate
        var now = System.nanoTime()
        while (now < closeNs) { LockSupport.parkNanos(closeNs - now); now = System.nanoTime() }
        val p = c % Partitions
        appendSegment(dir, p, next(p), keys, values, i, end,
          r => t0Micros + (r - from).toLong * 1000000L / rate)
        next(p) += end - i
        lateMs += (System.nanoTime() - closeNs) / 1e6
        i = end; c += 1
      }
    } catch { case t: Throwable => error = t }
  }

  /** Tails the output log: checks every partition about every 2 ms and
    * stamps each new segment with the time it became visible; with
    * `readKeys` it also records the first visibility of every key. A
    * partition is listed only when its directory changed, or changed in
    * the last ListAfterChangeMs (directory times may be coarser than the
    * renames that publish segments), so polling stays cheap as the log
    * grows.
    */
  final class Tailer(dir: String, readKeys: Boolean) extends Thread("perfbench-tailer") {
    @volatile var stopped = false
    @volatile var rows = 0L
    val segments = mutable.ArrayBuffer.empty[(Long, Long)]   // (visible nanoTime, records)
    val firstSeen = new java.util.HashMap[String, java.lang.Long]()
    private val seen = mutable.HashSet.empty[String]
    private val changedMs = mutable.Map.empty[Int, Long]
    private val ListAfterChangeMs = 50L
    private var parts = 0
    setDaemon(true)
    override def run(): Unit = while (!stopped) {
      if (parts == 0) parts = GraftLogFormat.readPartitions(dir)
      (0 until parts).foreach { p =>
        val mtime = new java.io.File(dir, s"p=$p").lastModified()
        val last = changedMs.getOrElse(p, -1L)
        if (mtime != last || System.currentTimeMillis() - mtime < ListAfterChangeMs) {
          changedMs(p) = mtime
          GraftLogFormat.segments(dir, p).foreach { s =>
            if (seen.add(s.file.getPath)) {
              val t = System.nanoTime()
              segments += ((t, s.count))
              if (readKeys) GraftLogFormat.readSegment(s).foreach { r =>
                firstSeen.putIfAbsent(new String(r.key, UTF_8), t)
              }
              rows += s.count
            }
          }
        }
      }
      Thread.sleep(2)
    }
    def finish(): Unit = { stopped = true; join() }
    def awaitRows(n: Long, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (rows < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
    }
  }

  // ---- query, checks, layers --------------------------------------------

  def startQuery(spark: SparkSession, profiles: Profiles, in: String, out: String,
                 ckpt: String, maxRecords: Option[Long]): StreamingQuery =
    TransactionPipeline.toLogSink(
      TransactionPipeline.pipeline(
        TransactionPipeline.fromLog(spark, in, maxRecordsPerTrigger = maxRecords),
        profiles.users(spark), profiles.merchants(spark)),
      out, ckpt).start()

  private def logRecords(dir: String): Long =
    GraftLogFormat.endOffsets(dir).values.sum

  private def segmentCount(dir: String): Long =
    (0 until GraftLogFormat.readPartitions(dir)).map(p => GraftLogFormat.segments(dir, p).size.toLong).sum

  /** Exactly-once and batch≡stream parity. Every transaction_id the batch
    * pipeline derives from the input log (ERROR_* placeholders included)
    * must occur exactly once in the output log, with the same fraud_score
    * and decision; returns the violating ids per kind plus the total.
    */
  def check(spark: SparkSession, profiles: Profiles, in: String, out: String): Map[String, Long] = {
    val expected = TransactionPipeline.pipeline(
        GraftLog.read(spark, in).select(col("value").cast("string").as("json")),
        profiles.users(spark), profiles.merchants(spark))
      .groupBy("transaction_id")
      .agg(count(lit(1)).as("n_in"), first("fraud_score").as("s_in"), first("decision").as("d_in"))
    val outSchema = StructType(Seq(StructField("transaction_id", StringType),
      StructField("fraud_score", DoubleType), StructField("decision", StringType)))
    val streamed = GraftLog.read(spark, out)
      .select(from_json(col("value").cast("string"), outSchema).as("r")).select("r.*")
      .groupBy("transaction_id")
      .agg(count(lit(1)).as("n_out"), first("fraud_score").as("s_out"), first("decision").as("d_out"))
    val j = expected.join(streamed, Seq("transaction_id"), "full_outer")
    val missing = col("n_out").isNull
    val extra = col("n_in").isNull
    val duplicate = col("n_in") > 1 || col("n_out") > 1
    val mismatch = !missing && !extra &&
      !(col("s_in") <=> col("s_out") && col("d_in") <=> col("d_out"))
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val r = j.agg(n(missing), n(extra), n(duplicate), n(mismatch),
      n(missing || extra || duplicate || mismatch), n(col("transaction_id").startsWith("ERROR_"))).head()
    Seq("missing", "extra", "duplicate", "mismatch", "failed", "error_placeholders")
      .zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap
  }

  private def offsetsTotal(json: String): Long =
    if (json == null) 0L else GraftLogOffset.parse(json).ends.values.sum

  /** One micro-batch's progress report plus its drained executor counters. */
  private def triggerRecord(p: StreamingQueryProgress, c: Counters): Map[String, Any] = {
    val src = p.sources.head
    Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "backlog_rows" -> (offsetsTotal(src.latestOffset) - offsetsTotal(src.startOffset)),
      "exec" -> c.toMap)
  }

  private def streamTracer(spark: SparkSession): Tracer =
    new Tracer(spark, props => for {
      q <- Option(props.getProperty("sql.streaming.queryId"))
      b <- Option(props.getProperty("streaming.sql.batchId"))
    } yield s"$q/$b")

  /** Trigger records of query `q` whose trigger started inside [fromMs, toMs). */
  private def triggers(t: Tracer, q: StreamingQuery, fromMs: Long, toMs: Long): Seq[Map[String, Any]] = {
    t.awaitProgress(q.runId, q.lastProgress.batchId)
    t.drain()
    t.progress.asScala.toSeq.filter(_.runId == q.runId).sortBy(_.batchId)
      .filter { p => val s = Instant.parse(p.timestamp).toEpochMilli; s >= fromMs && s < toMs }
      .map(p => triggerRecord(p, t.get(s"${q.id}/${p.batchId}")))
  }

  /** Cumulative pipeline prefixes over one bounded batch of about `rows`
    * input records, timed `reps` times each (interleaved): log scan and
    * cast → parseJson → enrich → FraudModel.score → scoreAndDecide →
    * to_json + graftlog write. The whole `pipeline()` over the same batch,
    * written the same way, is timed alongside as the reference the prefix
    * chain must add up to (alone when `fullOnly`). Returns median seconds
    * and the batch's row count.
    */
  def prefixTimes(spark: SparkSession, profiles: Profiles, in: String, rows: Long,
                  scratch: String, reps: Int, fullOnly: Boolean = false): Map[String, Any] = {
    val ends = GraftLogFormat.endOffsets(in)
    val per = math.max(1L, rows / ends.size)
    val bounded = ends.map { case (p, e) => p -> math.min(e, per) }
    def chain(): Seq[() => Unit] = {
      val raw = spark.read.format("graftlog").option("path", in)
        .option("startingOffsets", GraftLogOffset(ends.map { case (p, _) => p -> 0L }).json())
        .option("endingOffsets", GraftLogOffset(bounded).json())
        .load().select(col("value").cast("string").as("json"))
      def write(df: DataFrame): () => Unit = () =>
        GraftLog.write(df.select(col("transaction_id").as("key"),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value")), scratch, Partitions)
      val full = write(TransactionPipeline.pipeline(raw, profiles.users(spark), profiles.merchants(spark)))
      if (fullOnly) Seq(full)
      else {
        val parsed = TransactionPipeline.parseJson(raw)
        val enriched = TransactionPipeline.enrich(parsed, profiles.users(spark), profiles.merchants(spark))
        val modeled = FraudModel.score(enriched, coalesce(col("amount"), lit(0.0)),
          coalesce(col("timestamp"), timestamp_seconds(lit(0L))))
        val decided = TransactionPipeline.scoreAndDecide(modeled)
        Seq(raw, parsed, enriched, modeled, decided)
          .map(df => () => { df.queryExecution.toRdd.count(); () }) ++ Seq(write(decided), full)
      }
    }
    val times = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    (1 to reps).foreach { _ =>
      chain().zipWithIndex.foreach { case (f, i) =>
        if (times.size <= i) times += mutable.ArrayBuffer.empty[Double]
        times(i) += Clock.secondsOf(f())._2
      }
    }
    val med = times.map(t => Clock.median(t.toSeq)).toSeq
    Map("rows" -> bounded.values.sum, "reps" -> reps, "seconds" -> med.init, "full_seconds" -> med.last)
  }

  /** Layer probes of a traced run, after its stream measurement: the
    * prefix chain at trigger size (and at SmallBatch, where the enrich
    * layer is its fixed cost), the batch query pass, and last — since it
    * replaces the session — the whole pipeline over the same batch on
    * local[1], the single-core baseline.
    */
  private def layerProbes(spark: SparkSession, o: Opts, profiles: Profiles, in: String,
                          rows: Long, reps: Int): Map[String, Any] = {
    val scratch = o.work + "/prefix"
    val prefix = prefixTimes(spark, profiles, in, rows, scratch, reps)
    val small = if (rows > SmallBatch) prefixTimes(spark, profiles, in, SmallBatch, scratch, 3) else prefix
    val batch = BatchBench.run(spark, o, BatchSeconds)
    val one = Session.start(1, o.work)
    prefixTimes(one, profiles, in, SmallBatch, scratch, 1, fullOnly = true)
    Map("prefix" -> prefix, "prefix_small" -> small, "batch" -> batch,
      "one_core" -> prefixTimes(one, profiles, in, math.min(rows, OneCoreRows), scratch,
        if (rows > SmallBatch) 1 else reps, fullOnly = true))
  }

  // ---- workloads --------------------------------------------------------

  /** Set-up repeated SetupReps times (each rep restarts the session): the
    * returned session and value are the last rep's.
    */
  private def repeatedSetup[T](o: Opts)(f: (SparkSession, Int) => T): (SparkSession, T, Seq[Double]) = {
    var spark: SparkSession = null
    var v: T = null.asInstanceOf[T]
    val secs = (1 to SetupReps).map { r =>
      Clock.secondsOf { spark = Session.start(o.cores, o.work); v = f(spark, r) }._2
    }
    (spark, v, secs)
  }

  /** JIT warm-up for the trickle: WarmQueries queries side by side, each
    * draining WarmQueryTriggers trickle-sized triggers (TrickleRate / 2
    * records in LingerMs segments) from a log of its own.
    */
  private def warmJit(spark: SparkSession, o: Opts, profiles: Profiles,
                      keys: Array[Array[Byte]], values: Array[Array[Byte]]): Unit = {
    val perTrigger = TrickleRate / 2
    val perSegment = TrickleRate * LingerMs / 1000
    val queries = (1 to WarmQueries).map { w =>
      val in = o.dir(s"trickle/warm$w/in")
      GraftLogFormat.ensureMeta(in, Partitions)
      (0 until WarmQueryTriggers * perTrigger / perSegment).foreach { c =>
        val from = c * perSegment
        appendSegment(in, c % Partitions, (c / Partitions).toLong * perSegment, keys, values,
          from, from + perSegment, _ => System.currentTimeMillis() * 1000L)
      }
      startQuery(spark, profiles, in, o.work + s"/trickle/warm$w/out",
        o.work + s"/trickle/warm$w/ckpt", Some(perTrigger.toLong))
    }
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
  }

  /** Live traffic. The trigger path takes the JIT about 100 triggers to
    * compile, so set-up first runs most of them in `warmJit`. Then the
    * measured query drains a cold first segment and the producer starts; the
    * measured window is the `--seconds` of records due from the first
    * producer window after WarmTriggers triggers of that traffic (counted
    * in triggers, not seconds, so the JIT state at the window's start does
    * not depend on how fast the host is), and traffic goes on for
    * TailSeconds after it.
    */
  def trickle(o: Opts): Map[String, Any] = {
    val n = WarmRecords + TrickleRate * (MaxWarmSeconds + 1 + o.seconds + TailSeconds)
    val (spark, (profiles, keys, values), setupReps) = repeatedSetup(o) { (s, r) =>
      val recs = inputs(s, n, o.seed).collect()
      (writeProfiles(s, o.seed, o.dir(s"profiles$r")),
        recs.map(_.getString(0).getBytes(UTF_8)), recs.map(_.getString(1).getBytes(UTF_8)))
    }
    val (in, out, ckpt) = (o.dir("trickle/in"), o.work + "/trickle/out", o.work + "/trickle/ckpt")
    GraftLogFormat.ensureMeta(in, Partitions)
    val tracer = if (o.trace) Some(streamTracer(spark)) else None

    // warm-up: side-by-side trickle-sized triggers, then the first records
    // as one segment, drained by the measured query's cold trigger
    val (query, warmS) = Clock.secondsOf {
      warmJit(spark, o, profiles, keys, values)
      appendSegment(in, 0, 0L, keys, values, 0, WarmRecords, _ => System.currentTimeMillis() * 1000L)
      val q = startQuery(spark, profiles, in, out, ckpt, None)
      q.processAllAvailable()
      q
    }
    val tailer = new Tailer(out, readKeys = true)
    tailer.start()
    val coldBatch = query.lastProgress.batchId
    val t0Nanos = System.nanoTime() + 50000000L
    val t0Ms = System.currentTimeMillis() + 50L
    val producer = new Producer(in, keys, values, WarmRecords, TrickleRate, t0Nanos, t0Ms * 1000L)
    producer.start()
    val warmDeadline = t0Nanos + MaxWarmSeconds * 1000000000L
    def warmTriggers = query.lastProgress.batchId - coldBatch
    while (warmTriggers < WarmTriggers && System.nanoTime() < warmDeadline && producer.isAlive)
      Thread.sleep(10)
    val warmed = warmTriggers
    // the window opens at the first producer window due at least 100 ms from now
    val perWindow = TrickleRate * LingerMs / 1000
    val dueSoFar = (System.nanoTime() + 100000000L - t0Nanos) * TrickleRate / 1000000000L
    val firstDue = WarmRecords + ((dueSoFar + perWindow - 1) / perWindow * perWindow).toInt
    val window = o.seconds * TrickleRate
    producer.stopAt = firstDue + window + TailSeconds * TrickleRate
    producer.join()
    if (producer.error != null) throw producer.error
    query.processAllAvailable()
    tailer.awaitRows(producer.stopAt, 60000L)
    tailer.finish()
    val dueNanos = (i: Int) => t0Nanos + (i - WarmRecords).toLong * 1000000000L / TrickleRate
    val windowStartMs = t0Ms + (firstDue - WarmRecords).toLong * 1000L / TrickleRate
    val trig = tracer.map(t => triggers(t, query, windowStartMs, windowStartMs + o.seconds * 1000L))
    val triggerMs = query.recentProgress.toSeq.map(_.durationMs.get("triggerExecution").longValue)
    query.stop()

    // visibility of every record due inside the measured window, per second, in due order
    val visible = (0 until o.seconds).map { sec =>
      (firstDue + sec * TrickleRate until firstDue + (sec + 1) * TrickleRate).flatMap { i =>
        Option(tailer.firstSeen.get(new String(keys(i), UTF_8)))
          .orElse(Option(tailer.firstSeen.get("ERROR_" + md5Hex(values(i)))))
          .map(vis => (i, vis.longValue))
      }
    }
    val lat = visible.map(_.map { case (i, vis) => (vis - dueNanos(i)) / 1e6 })
    val lastVisible = visible.flatten.map(_._2).max
    val checks = check(spark, profiles, in, out)
    val base = Map[String, Any](
      "workload" -> o.workload, "cores" -> o.cores,
      "attempted" -> logRecords(in), "checks" -> checks,
      "setup_reps_s" -> setupReps, "warmup_s" -> warmS,
      "setup_s" -> (Clock.median(setupReps) + warmS),
      "warm_triggers" -> warmed, "warm_traffic_s" -> (firstDue - WarmRecords).toDouble / TrickleRate,
      "latency_ms_by_second" -> lat,
      "wall_s" -> (lastVisible - dueNanos(firstDue)) / 1e9,
      "producer_late_ms" -> producer.lateMs.toSeq, "trigger_ms" -> triggerMs)
    val traced = tracer.map { t =>
      t.close()
      val trigs = trig.get
      val medRows = Clock.median(trigs.map(_("rows").asInstanceOf[Long].toDouble))
      Map[String, Any]("triggers" -> trigs,
        "input_segments" -> segmentCount(in), "output_segments" -> segmentCount(out)) ++
        layerProbes(spark, o, profiles, in, math.max(1L, medRows.toLong), reps = 5)
    }.getOrElse(Map.empty)
    base ++ traced
  }

  def backlog(o: Opts): Map[String, Any] = {
    val n = BacklogRowsPerSecond.toLong * o.seconds
    val (spark, (profiles, in), setupReps) = repeatedSetup(o) { (s, r) =>
      val in = o.dir(s"backlog/in$r")
      GraftLog.write(inputs(s, n, o.seed), in, Partitions)
      (writeProfiles(s, o.seed, o.dir(s"profiles$r")), in)
    }
    // warm-up: drain a separate log of one full trigger through the same query
    val warmS = Clock.secondsOf {
      val warmIn = o.dir("backlog/warm_in")
      GraftLog.write(inputs(spark, WarmBacklogRows, o.seed), warmIn, Partitions)
      val q = startQuery(spark, profiles, warmIn, o.work + "/backlog/warm_out",
        o.work + "/backlog/warm_ckpt", Some(MaxRecordsPerTrigger))
      q.processAllAvailable(); q.stop()
    }._2
    val tracer = if (o.trace) Some(streamTracer(spark)) else None
    val out = o.work + "/backlog/out"
    val tailer = new Tailer(out, readKeys = false)
    tailer.start()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val query = startQuery(spark, profiles, in, out, o.work + "/backlog/ckpt", Some(MaxRecordsPerTrigger))
    tailer.awaitRows(n, 150000L)
    query.processAllAvailable()
    tailer.finish()
    val trig = tracer.map(t => triggers(t, query, startMs, Long.MaxValue))
    query.stop()
    val drainS = (tailer.segments.map(_._1).max - t0) / 1e9
    // per-record catch-up latency: every record is pending at drain start
    val lat = tailer.segments.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, segs) => Seq((t - t0) / 1e6, segs.map(_._2).sum) }
    val checks = check(spark, profiles, in, out)
    val base = Map[String, Any](
      "workload" -> o.workload, "cores" -> o.cores,
      "attempted" -> logRecords(in), "checks" -> checks,
      "setup_reps_s" -> setupReps, "warmup_s" -> warmS,
      "setup_s" -> (Clock.median(setupReps) + warmS),
      "latency_ms_weighted" -> lat,
      "throughput_rows_per_s" -> tailer.rows / drainS)
    val traced = tracer.map { t =>
      t.close()
      val trigs = trig.get
      val medRows = Clock.median(trigs.map(_("rows").asInstanceOf[Long].toDouble))
      Map[String, Any]("triggers" -> trigs,
        "input_segments" -> segmentCount(in), "output_segments" -> segmentCount(out)) ++
        layerProbes(spark, o, profiles, in, medRows.toLong, reps = 2)
    }.getOrElse(Map.empty)
    base ++ traced
  }
}
