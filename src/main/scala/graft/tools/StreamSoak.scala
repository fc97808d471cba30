package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming scale soak (VERDICT r9 #7): drive ≥10 M events through the
  * stateful streaming twins and MEASURE that state stays bounded — the
  * design claim ("state ∝ concurrently active keys / keys within the
  * watermark, never history") turned into numbers from
  * `StreamingQueryProgress.stateOperators`.
  *
  * Shape of the falsification: the generated key stream is built so a
  * LEAKING store grows ~linearly with total input (every key ever seen
  * retained) while a bounded store plateaus at the designed working
  * set. We assert the plateau: max state rows stays within a small
  * multiple of the designed working set AND the late-run maximum does
  * not exceed ~1.1× the mid-run maximum (flatness) — a leak fails both
  * long before 10 M rows.
  *
  *  - Sessionize: user ids rotate generations (1 000 users interleave
  *    for 1 M events, then a fresh 1 000) — event-time timeouts must
  *    evict finished generations, so bounded ≈ active ±1 generation,
  *    leaking → all `10 × 1000` users.
  *  - Curate dedup: 100 k distinct fingerprints recycle through a
  *    1-simulated-hour watermark — `dropDuplicatesWithinWatermark`
  *    must hold ≈ one watermark's worth, leaking → every arrival.
  *  - Corpus dedup (stream-static): the design claim is ZERO streaming
  *    state — the static corpus fingerprint set IS the state, rebuilt
  *    per micro-batch plan, never stored by the stream. Bound = 0
  *    state rows across 10 M streamed documents; any stateful-operator
  *    row at all fails the soak.
  *
  * Event time is ACCELERATED (10 ms of simulated time per event): the
  * watermark/timeout machinery sees hours of stream life in a ~60 s
  * wall-clock run — same technique as the spec suites, at 1000× their
  * volume. Source is the built-in `rate` source (no files, no
  * external services); sink is `noop` so the soak measures the
  * operators, not a sink. Prints one JSON line per soak plus `"ok"`.
  */
object StreamSoak {

  val TargetRows = 10L * 1000 * 1000

  private final case class SoakResult(name: String, inputRows: Long,
                                      outputRows: Long, maxState: Long,
                                      midMaxState: Long, lateMaxState: Long,
                                      batches: Int, wallSec: Double,
                                      bound: Long, ok: Boolean,
                                      steadyRowsPerSec: Long,
                                      meanBatchMs: Long, maxBatchMs: Long,
                                      maxStateMemBytes: Long)

  /** Run `q` until ≥ `target` input rows have been processed, sampling
    * state-operator rows AND per-batch (inputRows, triggerExecution ms)
    * from every retained progress event (`recentProgress`, retention
    * raised to cover the whole run).
    */
  private def drive(spark: SparkSession, q: StreamingQuery, target: Long)
      : (Long, Long, Vector[Long], Vector[(Long, Long)], Int, Long) = {
    var input = 0L; var output = 0L; var batches = 0; var maxMem = 0L
    val states = Vector.newBuilder[Long]
    var batchStats = Vector.empty[(Long, Long)]
    var done = false
    while (!done) {
      Thread.sleep(500)
      val progresses = q.recentProgress
      input = progresses.map(_.numInputRows).sum
      output = progresses.flatMap(p => Option(p.sink).map(_.numOutputRows))
        .filter(_ >= 0).sum
      batches = progresses.length
      states.clear()
      maxMem = 0L
      val bs = Vector.newBuilder[(Long, Long)]
      progresses.foreach { p =>
        if (p.stateOperators.nonEmpty) {
          states += p.stateOperators.map(_.numRowsTotal).sum
          // guide §5 receipt: the store's own memory claim (HDFS-backed
          // map size, or RocksDB total SST+memtable when that provider
          // is selected) — the number that says whether bounded ROWS
          // also means bounded BYTES
          maxMem = math.max(maxMem, p.stateOperators.map(_.memoryUsedBytes).sum)
        }
        val dur = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        bs += ((p.numInputRows, dur))
      }
      batchStats = bs.result()
      done = input >= target || q.exception.isDefined
    }
    q.exception.foreach(throw _)
    q.stop()
    (input, output, states.result(), batchStats, batches, maxMem)
  }

  /** Accelerated event stream off the rate source: one row per `value`,
    * event time = epoch + value×10 ms.
    */
  private def rateEvents(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", 8)
      .load()
      .withColumn("ts", timestamp_micros(col("value") * 10000L))

  private def soak(name: String, spark: SparkSession, out: DataFrame,
                   workingSet: Long, boundFactor: Double): SoakResult = {
    val t0 = System.nanoTime()
    val q = out.writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"soak_$name").toString)
      .start()
    val (input, output, states, batchStats, batches, maxMem) =
      drive(spark, q, TargetRows)
    val wall = (System.nanoTime() - t0) / 1e9
    // steady-state throughput: rows/sec over the second half of the
    // batches (ramp-up and first-batch codegen excluded), from the
    // per-batch triggerExecution durations — the number a capacity
    // plan would use (verdict-r13 #9). Mean/max batch latency beside
    // it: a throughput hit from batch-duration death spirals shows in
    // maxBatchMs long before the mean moves.
    val half = batchStats.drop(batchStats.length / 2)
      .filter { case (rows, ms) => ms > 0 && rows > 0 }
    val steadyRows = half.map(_._1).sum
    val steadyMs = half.map(_._2).sum
    val steadyRps = if (steadyMs > 0) steadyRows * 1000L / steadyMs else 0L
    val allMs = batchStats.map(_._2).filter(_ > 0)
    val meanMs = if (allMs.nonEmpty) allMs.sum / allMs.length else 0L
    val maxMs = if (allMs.nonEmpty) allMs.max else 0L
    val bound = (workingSet * boundFactor).toLong
    val maxState = if (states.isEmpty) 0L else states.max
    // flatness: state in the last quarter of batches must not exceed
    // ~1.1× the mid-run (2nd/3rd quarter) maximum
    val n = states.length
    val mid = states.slice(n / 4, 3 * n / 4)
    val late = states.drop(3 * n / 4)
    val midMax = if (mid.isEmpty) 0L else mid.max
    val lateMax = if (late.isEmpty) 0L else late.max
    // output must flow (a wrong filter/lang gate would pass the state
    // bound vacuously), state must plateau under the bound
    val ok = output > 0 && maxState <= bound &&
      (midMax == 0 || lateMax <= 1.1 * midMax)
    SoakResult(name, input, output, maxState, midMax, lateMax, batches,
      math.round(wall * 10) / 10.0, bound, ok, steadyRps, meanMs, maxMs,
      maxMem)
  }

  def main(args: Array[String]): Unit = {
    // A/B lever (round 18, verdict-r17 #7): SPARK_GRAFT_STATE_STORE=
    // rocksdb swaps the default HDFS-backed in-heap store for the
    // RocksDB provider (executor-local native memory + SST files) —
    // the production choice when per-executor state exceeds what the
    // heap store's full-copy snapshots tolerate. Same soaks, same
    // bounds; the receipt records which store produced the numbers.
    val store = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
    require(Set("hdfs", "rocksdb").contains(store),
      s"SPARK_GRAFT_STATE_STORE must be hdfs|rocksdb, got $store")
    val rocksdb =
      if (store == "rocksdb") Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    // keep every progress event for the whole run: the default 100
    // would silently drop the ramp-up batches the flatness check
    // compares against
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      ("spark.sql.streaming.numRecentProgressUpdates" -> "5000") +: rocksdb: _*)

    // --- sessionize: generations of 1 000 interleaved users ---------
    // each generation spans 1 M events (=10 000 simulated seconds);
    // within it a user's events arrive 10 sim-seconds apart — inside
    // the 1-minute gap, so one open session per active user. Timeouts
    // must evict a generation once it rotates out.
    val sessionized = graft.streaming.SessionizeStream.sessions(
      rateEvents(spark, 400000)
        .select(
          (col("value") % 1000 + floor(col("value") / 1000000L) * 1000)
            .as("user_id"),
          col("ts"), lit(1.0).as("value")),
      gapMinutes = 1, watermark = "2 minutes").toDF()
    val s1 = soak("sessionize", spark, sessionized,
      workingSet = 2000, boundFactor = 3.0)

    // --- sessionize under key skew: one hot user takes 20% ----------
    // same rotating generations, but every 5th event is redirected to
    // user -1 — the zipf-sf100 shape, streaming edition. Per-key
    // ordering is indivisible, so the hot group's events land on ONE
    // task per microbatch; the soak measures that this is extra
    // volume, not a stall: state stays ≈ active generation + 1 (the
    // hot session never closes — its events never gap), output still
    // flows from the rotating users, and the flatness check would
    // catch a batch-duration death spiral as unprocessed input.
    val hotUser = when(pmod(col("value"), lit(5)) === 0, lit(-1L))
      .otherwise(col("value") % 1000 + floor(col("value") / 1000000L) * 1000)
    val sessionizedSkew = graft.streaming.SessionizeStream.sessions(
      rateEvents(spark, 400000)
        .select(hotUser.as("user_id"), col("ts"), lit(1.0).as("value")),
      gapMinutes = 1, watermark = "2 minutes").toDF()
    val s1b = soak("sessionize_hotkey", spark, sessionizedSkew,
      workingSet = 2001, boundFactor = 3.0)

    // --- curate dedup: 100 k fingerprints through a 1 h watermark ---
    // fingerprints recycle every 100 k events (1 000 simulated
    // seconds) — far inside the watermark, so steady-state the store
    // holds ≈ the distinct set; a leak holds every arrival.
    val curated = graft.streaming.CurateStream.run(
      rateEvents(spark, 400000)
        .select(col("value").as("doc_id"), col("ts"),
          concat(lit("the quick brown fox jumps document number "),
            (col("value") % 100000).cast("string")).as("text")),
      minQuality = 0.0, keepLang = "en", watermark = "1 hour")
    val s2 = soak("curate_dedup", spark, curated,
      workingSet = 100000, boundFactor = 3.0)

    // --- corpus dedup: stream-static join, ZERO streaming state -----
    // static corpus holds variants 0..99999; the stream cycles over
    // 200 k variants, so the RANGE difference (not any arithmetic on
    // the corpus side) makes ~half the stream annotate in_corpus=true.
    // workingSet 0 → bound 0: one stateful-operator row is a failure.
    val corpus = spark.range(100000).select(
      col("id").as("doc_id"),
      concat(lit("the quick brown fox jumps document number "),
        col("id").cast("string")).as("text"))
    val corpusDeduped = graft.streaming.EventStream.dedupAgainstCorpus(
      rateEvents(spark, 400000)
        .select(col("value").as("doc_id"), col("ts"),
          concat(lit("the quick brown fox jumps document number "),
            (col("value") % 200000).cast("string")).as("text")),
      corpus)
    val s3 = soak("corpus_dedup", spark, corpusDeduped,
      workingSet = 0, boundFactor = 1.0)

    // --- curate-on-ingest THROUGHPUT (verdict-r13 #9): fixed-size
    // batches from the rate-micro-batch source, produced as fast as
    // the pipeline drains them — every batch is compute-bound, so
    // steady_rows_per_sec = rowsPerBatch / batchDuration measures the
    // curation operator, not the rate faucet. (The plain rate source
    // is unusable here: when processing lags, each next batch covers
    // ALL elapsed wall time, so batch sizes grow geometrically — the
    // first attempt spent 180+ CPU-minutes inside one runaway batch.)
    // Same pipeline and state bounds as s2; this run exists for the
    // rows/sec and batch-latency numbers.
    val fixedBatches = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 1000000)
      .option("numPartitions", 8)
      .load()
      .withColumn("ts", timestamp_micros(col("value") * 10000L))
    val curatedFast = graft.streaming.CurateStream.run(
      fixedBatches
        .select(col("value").as("doc_id"), col("ts"),
          concat(lit("the quick brown fox jumps document number "),
            (col("value") % 100000).cast("string")).as("text")),
      minQuality = 0.0, keepLang = "en", watermark = "1 hour")
    val s4 = soak("curate_throughput", spark, curatedFast,
      workingSet = 100000, boundFactor = 3.0)

    Seq(s1, s1b, s2, s3, s4).foreach { r =>
      println(
        s"""{"soak":"${r.name}","store":"$store","input_rows":${r.inputRows},""" +
        s""""output_rows":${r.outputRows},"max_state_rows":${r.maxState},""" +
        s""""mid_max_state":${r.midMaxState},"late_max_state":${r.lateMaxState},""" +
        s""""max_state_mem_bytes":${r.maxStateMemBytes},""" +
        s""""batches":${r.batches},"wall_sec":${r.wallSec},""" +
        s""""steady_rows_per_sec":${r.steadyRowsPerSec},""" +
        s""""mean_batch_ms":${r.meanBatchMs},"max_batch_ms":${r.maxBatchMs},""" +
        s""""bound":${r.bound},"bounded":${r.ok}}""")
    }
    val ok = Seq(s1, s1b, s2, s3, s4).forall(_.ok)
    println(if (ok) "SOAK OK" else "SOAK FAILED")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
