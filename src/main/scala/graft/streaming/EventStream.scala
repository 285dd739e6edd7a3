package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the events table.
  *
  * The reference engine has no stream processing; this is part of the
  * pipeline layer a 100 TB ingest needs: watermarked windowed
  * aggregation (late data bounded, state evictable) and custom
  * session state via flatMapGroupsWithState. Batch parquet drives the
  * same code in tests through readStream + memory sink.
  */
object EventStream {

  /** Canonical events schema AFTER Tables.normalizeEventTs: ts is
    * nanos-since-epoch (long). The on-disk file's own ts flavor
    * (nanos long vs timestamp) varies across generator builds, so
    * readStream sniffs it from the parquet footer (one batch-read of
    * the schema — metadata only, no data scan) and normalizes.
    */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema =
      spark.read.parquet(s"$sfDir/events.parquet").schema
    // glob, not bare file: FileStreamSource requires a directory-like
    // path for basePath inference
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(s"$sfDir/events.*"))
  }

  private val memSinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Serializes every conf-set → start() → conf-restore section of
    * the drain helpers (r15 ADVICE/verdict): pinning the state-store
    * partition count means mutating the shared session's
    * spark.sql.shuffle.partitions around start(), which is correct
    * because StreamExecution clones the session synchronously inside
    * start() — but two drains (or a drain plus a conf-mutating batch
    * query) on concurrent threads could clobber each other's restore.
    * The Bench/Verify harness is single-threaded per query today; the
    * lock makes the invariant structural instead of assumed
    * (uncontended acquisition is effectively free).
    */
  private[streaming] def withStateParts[T](spark: SparkSession,
      parts: Option[Int])(body: => T): T = confLock.synchronized {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try { parts.foreach(p => spark.conf.set(key, p.toString)); body }
    finally spark.conf.set(key, prev)
  }
  private[streaming] val confLock = new Object

  /** Runs the watermarked windowed aggregation AS A STREAM (memory
    * sink, complete mode, drained synchronously) and returns the
    * result — the oracle-checked `streaming_window` query goes through
    * here, so streaming execution itself is gated against DuckDB.
    */
  def windowedCountsBatchDrain(spark: SparkSession, sfDir: String,
      statePartitions: Option[Int] = Some(4)): DataFrame = {
    import org.apache.spark.sql.functions._
    val name = s"graft_stream_win_${memSinkId.incrementAndGet()}"
    // bounded |windows x types| state — same state-store sizing note
    // as lateWindowCountsDrain (map side still splits by input file)
    val q = withStateParts(spark, statePartitions) {
      windowedCounts(readStream(spark, sfDir), "1 hour", "2 hours")
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
    }
    try q.processAllAvailable() finally q.stop()
    // 1h tumbling windows align to epoch hours -> same buckets as the
    // batch events_window query
    spark.table(name).select(
      (unix_timestamp(col("window.start")) / 3600L).cast("long").as("hour_bucket"),
      col("event_type"), col("n"),
      round(col("total"), 2).as("total"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** HyperLogLog distinct-user registers maintained by the STREAM
    * (graft.functions.Hll's portable register math as a complete-mode
    * stateful aggregation — state is |event_types| x 64 register
    * rows, bounded no matter how long the stream runs; contrast the
    * unbounded per-user state an exact streaming distinct would
    * need), finished to per-type estimates after the drain. The
    * register table is the sketch's MERGE form, which is exactly why
    * the incremental max-per-micro-batch aggregation is legal.
    */
  def hllDistinctUsersBatchDrain(spark: SparkSession, sfDir: String,
      statePartitions: Option[Int] = Some(4)): DataFrame = {
    import org.apache.spark.sql.functions._
    val name = s"graft_stream_hll_${memSinkId.incrementAndGet()}"
    // state is |event_types| x 64 register rows by construction —
    // bounded at any ingest size (same sizing note as
    // lateWindowCountsDrain; the sketch's whole point is that merge
    // state never grows with the data)
    val q = withStateParts(spark, statePartitions) {
      graft.functions.Hll
        .registers(readStream(spark, sfDir), "user_id", Seq("event_type"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
    }
    try q.processAllAvailable() finally q.stop()
    graft.functions.Hll.estimate(spark.table(name), Seq("event_type"))
      .select(col("event_type"), round(col("hll_est"), 4).as("hll_est"))
      .orderBy(col("event_type"))
  }

  /** documents.parquet schema for the streaming dedup path. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup: the ingest-side twin of Dedup.exactGroups.
    * Documents stream in, each emits its content digest, and streaming
    * `dropDuplicates` lets only first-seen digests through — the
    * dedup-on-arrival pattern of a training-data ingest. Projecting to
    * the digest BEFORE dropDuplicates keeps the emitted row
    * deterministic (which duplicate arrives first is not).
    *
    * State note: keyed by digest with no watermark, state grows with
    * distinct documents — correct for a bounded backfill; a 100 TB
    * continuous ingest bounds it with `dropDuplicatesWithinWatermark`
    * on an arrival-time column (spec-demonstrated on events) at the
    * cost of only deduping within the watermark horizon.
    */
  def dedupDistinctBatchDrain(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_dedup_${memSinkId.incrementAndGet()}"
    val q = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
      .select(md5(col("text")).as("h"))
      .dropDuplicates("h")
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy(col("h"))
  }

  /** Exact nanos -> timestamp without a double round-trip ("/" would
    * promote to double; `div` stays integral). */
  def tsCol: org.apache.spark.sql.Column = expr("timestamp_micros(ts div 1000)")

  /** Stream-STREAM interval join executed as a real stream: each
    * click joined to the same user's purchases in the preceding
    * `lookbackHours` — the two-stream correlation op (attribution
    * joins, feature lookback). Both sides carry watermarks and the
    * join condition bounds event time on BOTH ends, so Spark evicts
    * join state once the watermark passes `lookbackHours + watermark`
    * — state stays bounded on an unbounded stream, the property that
    * makes this runnable on a 100 TB/day ingest. Inner join + append
    * mode: rows emit exactly once.
    *
    * Timestamps are exact micros (timestamp_micros(ts div 1000)), so
    * the interval arithmetic matches the DuckDB oracle's integer
    * epoch_us comparison bit for bit.
    */
  def intervalJoinBatchDrain(spark: SparkSession, sfDir: String,
      lookbackHours: Int = 6, statePartitions: Option[Int] = None): DataFrame = {
    val name = s"graft_stream_ij_${memSinkId.incrementAndGet()}"
    // state-store partitioning is frozen into the checkpoint at first
    // run, so unlike batch shuffles AQE can never re-size it — choose
    // it from expected per-trigger volume up front (a few thousand
    // rows/trigger does not need 32 stores x 2 join sides writing
    // delta files every micro-batch; a 100 TB/day ingest does)
    withStateParts(spark, statePartitions) {
      intervalJoinBatchDrainImpl(spark, sfDir, lookbackHours, name)
    }
  }

  private def intervalJoinBatchDrainImpl(spark: SparkSession, sfDir: String,
      lookbackHours: Int, name: String): DataFrame = {
    val clicks = readStream(spark, sfDir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("click_id"),
        tsCol.as("c_ts"))
      .withWatermark("c_ts", "12 hours")
    val purchases = readStream(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("event_id").as("purchase_id"),
        tsCol.as("p_ts"), col("value"))
      .withWatermark("p_ts", "12 hours")
    val q = clicks.join(purchases,
        col("c_uid") === col("p_uid") &&
          col("p_ts") >= col("c_ts") - expr(s"INTERVAL $lookbackHours HOURS") &&
          col("p_ts") <= col("c_ts"))
      .select(col("click_id"), col("purchase_id"),
        round(col("value"), 4).as("value"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy(col("click_id"), col("purchase_id"))
  }

  /** Tumbling-window counts with a watermark: state for a window is
    * dropped once the watermark passes, so executor state stays
    * bounded no matter how long the stream runs.
    */
  def windowedCounts(
      events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withColumn("event_ts", tsCol)
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Append-mode hourly counts driven by an EXPLICIT arrival order:
    * each element of `batches` becomes exactly one micro-batch (its
    * file is written to the source dir and drained before the next is
    * written), so the watermark trajectory — and therefore which late
    * rows get dropped — is a deterministic function of the data, not
    * of scheduler timing. A sentinel row at `sentinelUs` (far past
    * every real event) is fed last so the final watermark passes every
    * real window end and append mode emits them all; Spark's no-data
    * micro-batch (on by default) performs that final eviction inside
    * `processAllAvailable`.
    *
    * Replayable semantics (pinned by LateDataSpec, including the
    * window-end == watermark boundary): the watermark entering
    * micro-batch b is `max(eventTimeMs over batches < b) - delayMs`
    * (event times floored to whole ms), and an arriving row is dropped
    * iff its window END is <= that watermark.
    */
  /** The watermarked hourly aggregation the late-audit stream runs per
    * micro-batch — split out so graft.Plans can dump its EXECUTED plan.
    */
  private[graft] def lateAgg(src: DataFrame, delay: String): DataFrame =
    src.withColumn("event_ts", tsCol)
      .withWatermark("event_ts", delay)
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_stream"))

  /** Executed per-micro-batch plan of the late-audit stream (PLANS.md
    * evidence): one real micro-batch through [[lateAgg]], then the
    * engine's own explain — shows EventTimeWatermark and the
    * StateStoreRestore/Save pair around the partial aggregation, i.e.
    * state is keyed AFTER map-side partial aggregation, not per row.
    */
  def lateAuditPlanString(spark: SparkSession, sfDir: String): String = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_late_plan").toString
    val name = s"graft_stream_lateplan_${memSinkId.incrementAndGet()}"
    graft.Tables.load(spark, sfDir, "events").limit(1000)
      .coalesce(1).write.parquet(s"$tmp/in")
    val q = lateAgg(
        spark.readStream.schema(schema).parquet(s"$tmp/in/*.parquet"),
        "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) { q.explain() }
      bos.toString("UTF-8")
    } finally {
      q.stop()
      graft.operators.AtRest.deleteTree(tmp)
    }
  }

  def lateWindowCountsDrain(spark: SparkSession, batches: Seq[DataFrame],
      sentinelUs: Long, delay: String,
      statePartitions: Option[Int] = None): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_late").toString
    val incoming = s"$tmp/incoming"
    val name = s"graft_stream_late_${memSinkId.incrementAndGet()}"
    val cols = schema.fieldNames.map(col)
    def feed(df: DataFrame): Unit =
      df.select(cols: _*).coalesce(1).write.mode("append").parquet(incoming)
    try {
      // first batch lands before start() so the glob has files to list
      feed(batches.head)
      // State partitioning is pinned at the query's FIRST micro-batch
      // from the session conf and can never be AQE-resized — the same
      // sizing note as intervalJoinBatchDrain / the sweep: this agg's
      // state is |hours x types| rows, bounded at ANY corpus size, so
      // default-conf state stores (32 on the bench box) x 4 drain
      // rounds are pure per-micro-batch task + delta-file overhead.
      // The MAP side still parallelizes by input split; only the
      // bounded state store is narrowed.
      val q = withStateParts(spark, statePartitions) {
        lateAgg(
          spark.readStream.schema(schema).parquet(s"$incoming/*.parquet"),
          delay)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      }
      try {
        q.processAllAvailable()
        batches.tail.foreach { b => feed(b); q.processAllAvailable() }
        val spark2 = spark
        import spark2.implicits._
        feed(Seq((-1L, sentinelUs * 1000L, -1L, "__sentinel__", 0.0, ""))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name)
        .select((unix_timestamp(col("window.start")) / 3600L).cast("long")
            .as("hour_bucket"),
          col("event_type"), col("n_stream"))
        .where(col("event_type") =!= "__sentinel__")
        .localCheckpoint(eager = true) // detach from the sink + temp dir
      spark.catalog.dropTempView(name)
      out
    } finally {
      graft.operators.AtRest.deleteTree(tmp)
    }
  }

  /** Late-data loss report for the watermarked hourly aggregate — the
    * audit a 100 TB streaming ingest runs before trusting its windowed
    * counts: how many rows did the watermark legitimately drop, and
    * from which windows? Arrival is simulated deterministically so the
    * DuckDB oracle can replay the exact watermark trajectory with
    * integer arithmetic: arrival batch = tercile of the observed
    * event-time RANGE, and every `lateResidue`-th event_id arrives one
    * batch late (a bounded out-of-orderness injection).
    *
    * Output per (hour_bucket, event_type): `n_all` (ground truth),
    * `n_stream` (what the finalized append-mode window reported) and
    * `n_late = n_all - n_stream` (rows the watermark dropped). Only
    * late rows whose event time trails the carrying batch's high
    * watermark by more than `delay` are lost — the bounded-loss
    * contract withWatermark sells.
    */
  def lateDataAuditBatchDrain(spark: SparkSession, sfDir: String,
      nBatches: Int = 3, lateResidue: Int = 17,
      delayHours: Int = 2): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val mm = ev.agg(min(expr("ts div 1000")).as("mn"),
      max(expr("ts div 1000")).as("mx")).head()
    val mn = mm.getLong(0); val mx = mm.getLong(1)
    val span = mx - mn + 1
    val last = lit((nBatches - 1).toLong)
    val withB = ev
      .withColumn("b0",
        least(last, expr(s"((ts div 1000) - ${mn}L) * $nBatches div ${span}L")))
      .withColumn("b",
        when(pmod(col("event_id"), lit(lateResidue.toLong)) === 0L,
          least(last, col("b0") + 1L)).otherwise(col("b0")))
    val batches = (0 until nBatches).map(i => withB.where(col("b") === i.toLong))
    // the sentinel must outrun the DELAY, not just the data: the final
    // watermark is sentinel - delay, and every real window end must
    // sit below it or unfinalized windows masquerade as late loss
    val sentinelUs = mx + (delayHours + 24L) * 3600L * 1000000L
    // 4 state partitions, the sweep's sizing: hourly-window x type
    // state is bounded regardless of ingest size (see
    // lateWindowCountsDrain's pinning note)
    val streamed = lateWindowCountsDrain(
      spark, batches, sentinelUs, s"$delayHours hours",
      statePartitions = Some(4))
    val allCounts = ev
      .groupBy(expr("(ts div 1000) div 3600000000").cast("long")
          .as("hour_bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_all"))
    allCounts.join(streamed, Seq("hour_bucket", "event_type"), "left")
      .select(col("hour_bucket"), col("event_type"), col("n_all"),
        coalesce(col("n_stream"), lit(0L)).as("n_stream"),
        (col("n_all") - coalesce(col("n_stream"), lit(0L))).as("n_late"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** [[lateWindowCountsDrain]] for SEVERAL watermark delays over ONE
    * shared ingest: the temp-dir feeds are written once and a
    * streaming query PER delay reads the same incoming glob. Each
    * query tracks its own watermark over the identical one-file-per-
    * drain sequence, so every per-delay trajectory — and output — is
    * the same as a solo drain with that delay would produce; drains
    * run on one thread per query so the schedulers' constant costs
    * overlap instead of adding.
    */
  def lateWindowCountsSweepDrain(spark: SparkSession,
      batches: Seq[DataFrame], sentinelUs: Long,
      delays: Seq[String]): Seq[DataFrame] = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_sweep").toString
    val incoming = s"$tmp/incoming"
    val cols = schema.fieldNames.map(col)
    def feed(df: DataFrame): Unit =
      df.select(cols: _*).coalesce(1).write.mode("append").parquet(incoming)
    try {
      feed(batches.head)
      // State partitioning is pinned at each query's FIRST micro-batch
      // from the session's shuffle-partition conf. The sweep's state
      // is |hours x types| — bounded and tiny at ANY corpus size — so
      // 32 state partitions x |delays| queries x 4 drain rounds is
      // pure task-scheduling overhead; pin the sweep's state to 4
      // partitions and restore the conf once the queries are started.
      // (At 100 TB the MAP side still parallelizes by input split;
      // only the bounded state store is narrowed.)
      val named = withStateParts(spark, Some(4)) {
        delays.map { d =>
          val name = s"graft_stream_sweep_${memSinkId.incrementAndGet()}"
          val q = lateAgg(
              spark.readStream.schema(schema).parquet(s"$incoming/*.parquet"),
              d)
            .writeStream.outputMode("append")
            .format("memory").queryName(name).start()
          (name, q)
        }
      }
      try {
        def drainAll(): Unit = {
          val ts = named.map { case (_, q) =>
            new Thread(() => q.processAllAvailable())
          }
          ts.foreach(_.start()); ts.foreach(_.join())
        }
        drainAll()
        batches.tail.foreach { b => feed(b); drainAll() }
        val spark2 = spark
        import spark2.implicits._
        feed(Seq((-1L, sentinelUs * 1000L, -1L, "__sentinel__", 0.0, ""))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        drainAll()
      } finally named.foreach(_._2.stop())
      // detach from the sink + temp dir; the three per-delay
      // checkpoints are independent bounded sink reads, so they run
      // on one thread each like the drains (r16, §2.6) instead of
      // three serial blocking jobs
      val out = named.map { case (name, _) =>
        val t = new java.util.concurrent.FutureTask(() =>
          spark.table(name)
            .select((unix_timestamp(col("window.start")) / 3600L)
                .cast("long").as("hour_bucket"),
              col("event_type"), col("n_stream"))
            .where(col("event_type") =!= "__sentinel__")
            .localCheckpoint(eager = true))
        new Thread(t).start()
        t
      }.map(_.get())
      // the memory sinks are registered as temp views; once the
      // checkpoint detaches the results, drop them so repeated sweeps
      // in one session don't accumulate catalog entries
      named.foreach { case (name, _) => spark.catalog.dropTempView(name) }
      out
    } finally {
      graft.operators.AtRest.deleteTree(tmp)
    }
  }

  /** The [[lateDataAuditBatchDrain]] loss report swept over several
    * watermark delays with the ingest SHARED: arrival simulation,
    * feeds and the batch ground truth are computed once, and the
    * shared sentinel outruns the LARGEST delay (which finalizes the
    * smaller-delay windows just the same — rows are dropped on
    * arrival against the watermark entering their batch, which only
    * the data batches determine, so the per-delay outputs are
    * sentinel-size-invariant). One summary row per delay.
    */
  def lateDataAuditSweepDrain(spark: SparkSession, sfDir: String,
      delaysHours: Seq[Int], nBatches: Int = 3,
      lateResidue: Int = 17): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val mm = ev.agg(min(expr("ts div 1000")).as("mn"),
      max(expr("ts div 1000")).as("mx")).head()
    val mn = mm.getLong(0); val mx = mm.getLong(1)
    val span = mx - mn + 1
    val last = lit((nBatches - 1).toLong)
    val withB = ev
      .withColumn("b0",
        least(last, expr(s"((ts div 1000) - ${mn}L) * $nBatches div ${span}L")))
      .withColumn("b",
        when(pmod(col("event_id"), lit(lateResidue.toLong)) === 0L,
          least(last, col("b0") + 1L)).otherwise(col("b0")))
    val batches = (0 until nBatches).map(i => withB.where(col("b") === i.toLong))
    val sentinelUs = mx + (delaysHours.max + 24L) * 3600L * 1000000L
    val streamedPerDelay = lateWindowCountsSweepDrain(spark, batches,
      sentinelUs, delaysHours.map(h => s"$h hours"))
    // lazy (r16): the ground truth is still computed ONCE — the three
    // delay branches of the final union share the checkpointed RDD
    // inside the one result job — without a separate blocking job
    val allCounts = ev
      .groupBy(expr("(ts div 1000) div 3600000000").cast("long")
          .as("hour_bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_all"))
      .localCheckpoint(eager = false)
    delaysHours.zip(streamedPerDelay).map { case (h, streamed) =>
      allCounts.join(streamed, Seq("hour_bucket", "event_type"), "left")
        .select(col("n_all"),
          coalesce(col("n_stream"), lit(0L)).as("n_stream"))
        .agg(sum(col("n_all")).as("n_all"),
          sum(col("n_stream")).as("n_stream"))
        .select(lit(h.toLong).as("delay_hours"), col("n_all"),
          col("n_stream"), (col("n_all") - col("n_stream")).as("n_late"))
    }.reduce(_.unionByName(_)).orderBy(col("delay_hours"))
  }

  /** Machinery constants for Bench's streaming split: a REAL stream's
    * wall time is dominated by start→drain harness cost (temp-dir
    * parquet feeds, source file listing, micro-batch scheduling,
    * stop, sink read) that is CONSTANT per drain, not operator work
    * that scales with data. These run the same harness shapes with a
    * pass-through pipeline (a never-true pushed predicate instead of
    * a stateful operator — row groups are stat-skipped, so the
    * constant slightly UNDERCOUNTS scan cost and the derived operator
    * time is an upper bound). `fed` mirrors the late-data family:
    * nBatches temp-dir feeds + a sentinel feed, one drain after each;
    * `direct` mirrors the single-drain direct-source streams.
    */
  def harnessBaselineFed(spark: SparkSession, sfDir: String,
      nBatches: Int = 3): Double = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val batches = (0 until nBatches).map(i =>
      ev.where(pmod(col("event_id"), lit(nBatches.toLong)) === i.toLong))
    val t0 = System.nanoTime()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_base").toString
    val incoming = s"$tmp/incoming"
    val name = s"graft_stream_base_${memSinkId.incrementAndGet()}"
    val cols = schema.fieldNames.map(col)
    def feed(df: DataFrame): Unit =
      df.select(cols: _*).coalesce(1).write.mode("append").parquet(incoming)
    try {
      feed(batches.head)
      val q = spark.readStream.schema(schema)
        .parquet(s"$incoming/*.parquet")
        .where(col("event_id") === Long.MinValue)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        batches.tail.foreach { b => feed(b); q.processAllAvailable() }
        val spark2 = spark
        import spark2.implicits._
        feed(Seq((-1L, 0L, -1L, "__sentinel__", 0.0, ""))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).count()
    } finally {
      graft.operators.AtRest.deleteTree(tmp)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def harnessBaselineDirect(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    val name = s"graft_stream_based_${memSinkId.incrementAndGet()}"
    val q = readStream(spark, sfDir)
      .where(col("event_id") === Long.MinValue)
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).count()
    (System.nanoTime() - t0) / 1e9
  }

  case class Event(user_id: Long, tsUs: Long, value: Double)
  case class Session(user_id: Long, nEvents: Long, totalValue: Double,
      startUs: Long, endUs: Long)

  /** Gap-based sessionization with explicit state (exact integer
    * microseconds). Emits a session when `gapUs` elapses between a
    * user's consecutive events; the still-open session stays in
    * GroupState (per-key, partitioned by user_id — scales
    * horizontally with executors).
    */
  def sessionize(events: Dataset[Event], gapUs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[Session]) =>
          val sorted = it.toSeq.sortBy(_.tsUs)
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var cur = state.getOption.orNull
          for (e <- sorted) {
            if (cur == null) {
              cur = Session(uid, 1L, e.value, e.tsUs, e.tsUs)
            } else if (e.tsUs - cur.endUs > gapUs) {
              out += cur
              cur = Session(uid, 1L, e.value, e.tsUs, e.tsUs)
            } else {
              cur = cur.copy(nEvents = cur.nEvents + 1,
                totalValue = cur.totalValue + e.value, endUs = e.tsUs)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }
}
