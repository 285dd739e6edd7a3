package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming near-dup detection against an at-rest signature store —
  * the third leg of the streaming story (StreamIngestSpec: vectors
  * stream INTO an index; SearchStream: queries stream in; here:
  * DOCUMENTS stream in and each micro-batch is checked for near-dups
  * against everything ingested so far). This is the batch idiom for
  * an online ingest endpoint that rejects/flags duplicates on the way
  * in (the reference's Insert is CRUD-only; a training-data pipeline
  * front door needs exactly this check).
  *
  * Per micro-batch, [[Dedup.incrementalMinhashPairs]] minhashes ONLY
  * the increment (map-only over the batch), band-joins it against the
  * store read at rest, and emits exactly the pairs touching a new
  * doc. The store grows by |batch| signature rows per batch (n × 9
  * longs — at 100 TB of text the store is ~0.1% of corpus bytes,
  * parquet-partitioned by band prefix if bucket-pruned probes are
  * needed). Because emitted pairs always touch the current batch and
  * batches are disjoint, the pair stream over any arrival order is a
  * disjoint union that reconstructs the full-corpus
  * [[Dedup.minhashPairs]] result exactly — the property the
  * `streaming_neardup` oracle (same SQL as `dedup_minhash`) checks.
  *
  * Restart semantics: foreachBatch is at-least-once, so a production
  * pair sink must be idempotent on (doc_a, doc_b) — the read-back
  * below applies that distinct; the store swap is atomic-ish per
  * batch (write-next + rename, as in StreamIngestSpec). For a KEYED
  * mutable store the general-purpose answer is [[UpsertSink]]:
  * batchId-named overwrite commits make replays structurally
  * idempotent (UpsertSinkSpec proves exactly-once effect across a
  * checkpoint restart).
  */
object DedupStream {

  /** Stream the documents table in `nSplits` disjoint micro-batches
    * through the incremental near-dup check and drain synchronously:
    * returns the accumulated pair stream, which equals the one-shot
    * [[Dedup.minhashPairs]] over the whole corpus.
    */
  def neardupBatchDrain(spark: SparkSession, sfDir: String,
      nSplits: Int = 3): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_dedup").toString
    val incoming = s"$tmp/incoming"
    val store = s"$tmp/sigs"
    val pairsDir = s"$tmp/pairs"
    // arrival files: one per micro-batch (maxFilesPerTrigger=1),
    // disjoint by doc_id residue
    (0 until nSplits).foreach { i =>
      docs.where(col("doc_id") % nSplits === i).coalesce(1)
        .write.mode("append").parquet(incoming)
    }
    // the signature store starts empty (schema from a zero-row build)
    Dedup.minhashSigs(docs.limit(0), "text", "doc_id")
      .coalesce(1).write.parquet(store)
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$incoming/*.parquet")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val (allSigs, pairs) = Dedup.incrementalMinhashPairs(
              spark.read.parquet(store), batch, "text", "doc_id")
            pairs.write.mode("append").parquet(pairsDir)
            // allSigs is checkpointed inside incrementalMinhashPairs,
            // so the swap below can't invalidate its lineage
            allSigs.write.mode("overwrite").parquet(s"$store.next")
            // crash-safe swap: park the live store aside before the
            // rename so no window exists where NO copy is on disk —
            // a restart finds either `store` or `store.old` intact
            val p = new org.apache.hadoop.fs.Path(store)
            val pOld = new org.apache.hadoop.fs.Path(s"$store.old")
            val pNext = new org.apache.hadoop.fs.Path(s"$store.next")
            fs.delete(pOld, true)
            fs.rename(p, pOld)
            fs.rename(pNext, p)
            fs.delete(pOld, true)
            ()
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val spark2 = spark
      import spark2.implicits._
      if (!new java.io.File(pairsDir).exists())
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
      else
        spark.read.parquet(pairsDir)
          .distinct() // idempotence under at-least-once redelivery
          .orderBy(col("doc_a"), col("doc_b"))
          .localCheckpoint(eager = true) // detach from the temp dir
    } finally {
      graft.operators.AtRest.deleteTree(tmp)
    }
  }

  private val natSinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact streaming dedup via Spark's BUILT-IN
    * `dropDuplicatesWithinWatermark` — the idiomatic counterpart to
    * the custom signature store above for the exact-duplicate case:
    * state lives in the engine's state store, keyed by the dedup
    * column, and the watermark EVICTS keys older than the horizon, so
    * state is bounded by (arrival rate × watermark) instead of
    * growing with the corpus — the property that makes exact dedup
    * deployable on an unbounded ingest stream. (The custom store
    * remains the NEAR-dup path: minhash bands aren't expressible as
    * an equality dedup key.)
    *
    * The drain harness materializes a duplicated arrival: the
    * event_id<2000 slice written twice (two files, one micro-batch),
    * so every id arrives exactly twice within the watermark window
    * and the operator must drop exactly half the rows. Returns the
    * per-type survivor counts, which equal the batch DISTINCT replay.
    */
  def dedupWithinWatermarkDrain(spark: SparkSession, sfDir: String,
      statePartitions: Option[Int] = Some(8)): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_nat_dedup").toString
    val ev = graft.Tables.load(spark, sfDir, "events")
      .where(col("event_id") < 2000)
    // same slice twice -> exact duplicates across files
    ev.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    ev.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema // ts long (canonical)
    val name = s"graft_nat_dedup_${natSinkId.incrementAndGet()}"
    // state partitioning is frozen at the first micro-batch (the
    // intervalJoinBatchDrain sizing note): dedup state here is
    // (arrival rate x watermark horizon) keys — size the store count
    // to per-trigger volume up front (the harness feeds one bounded
    // slice; a 100 TB/day ingest passes a bigger value)
    val q = EventStream.withStateParts(spark, statePartitions) {
      spark.readStream.schema(schema).parquet(s"$tmp/in/*.parquet")
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
    }
    try q.processAllAvailable() finally q.stop()
    try {
      spark.table(name)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy(col("event_type"))
        .localCheckpoint(eager = true) // detach from the temp dir
    } finally {
      graft.operators.AtRest.deleteTree(tmp)
    }
  }
}
