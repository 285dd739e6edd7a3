package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, AtRest, KnnGraph}
import scala.util.control.NonFatal

/** Streaming SEARCH over an at-rest index — the serving mirror of
  * StreamIngestSpec's ingest direction (there: vectors stream INTO a
  * live index via foreachBatch appendToIvf; here: QUERIES stream in
  * and each micro-batch probes the loaded index). This is the batch
  * idiom for the reference's online Search endpoint
  * (pkg/index/hnsw/hnsw.go Search): a query firehose lands in
  * micro-batches, each batch routes through the coarse quantizer and
  * scores only its probed clusters — one scan of the tagged index per
  * batch via [[Ann.searchIvfBatch]] (the batch ships inside each task),
  * never per-query driver loops.
  *
  * State: none (the index is static within a serving generation), so
  * there is no watermark to manage; restarts are safe because every
  * batch's output is append-only and keyed by qid.
  */
object SearchStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming serve of the kNN-GRAPH index — the graph family's
    * analog of the IVF drain below, and the full reference serving
    * model (hnsw.go Search is an online endpoint over a PERSISTED
    * graph): LOAD the at-rest index at `idxDir` (built + written once
    * by GraphIndexCache / KnnGraph.writeIndex — the serving
    * generation never re-scans the corpus; edges + vecs + count
    * params come off parquet), then drain the query stream: each
    * micro-batch hashes its vectors to the build's LSH planes and
    * routes through ONE beam-search traversal for the whole batch
    * (count-derived beam/hops from the persisted count). Per-qid
    * results are batch-invariant — a query's traversal depends only
    * on (qid, qv, graph) — so however the firehose is micro-batched,
    * the drained rows equal one static search (spec-pinned).
    * Stateless like the IVF drain: append-only output, restart-safe.
    */
  def graphServeDrain(spark: SparkSession, sfDir: String, idxDir: String,
      nQueries: Int = 10, k: Int = 8): DataFrame = {
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_graph_serve").toString
    var hot: Seq[DataFrame] = Nil
    try {
      val loaded = KnnGraph.loadIndex(spark, idxDir)
      // the loaded serving generation: keep hot across batches
      val edges = loaded.rounds.last.persist()
      val vecs = loaded.vecs.persist()
      hot = Seq(edges, vecs)
      val q = spark.readStream.schema(embSchema).parquet(s"$sfDir/embeddings.*")
        .where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), _.cast("double")).as("qv"),
          Ann.lshSignature(col("embedding"), 8).as("qbucket"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            KnnGraph.beamSearch(edges, vecs, batch, loaded.n, k)
              .write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val spark2 = spark
      import spark2.implicits._
      if (!new java.io.File(outDir).listFiles().exists(_.getName.endsWith(".parquet")))
        Seq.empty[(Long, Long, Long, Int)].toDF("qid", "node", "d_e4", "rank")
      else
        spark.read.parquet(outDir)
          .orderBy(col("qid"), col("rank"))
          .localCheckpoint(eager = true)
    } finally {
      hot.foreach(df => try df.unpersist(false)
        catch { case NonFatal(e) =>
          System.err.println(s"[stream] unpersist failed: ${e.getClass.getName}: ${e.getMessage}")
        })
      // best-effort temp cleanup of the drain output only — idxDir is
      // the SHARED at-rest index (GraphIndexCache owns its lifetime);
      // the checkpoint above owns the result rows
      AtRest.deleteTree(outDir)
    }
  }

  /** Run the query stream against a static IVF index (first-8
    * centroids — deterministic, same as `ann_ivf_static`) and drain
    * synchronously: queries = the first `nQueries` embedding rows
    * streamed from parquet, each micro-batch probed with
    * `nprobe`-cluster routing, results appended to `outDir` as
    * parquet BY THE EXECUTORS (no driver-side result collection),
    * then read back ordered. The oracle replays the same per-query
    * routing + rounded-cosine ranking in DuckDB.
    */
  def searchBatchDrain(spark: SparkSession, sfDir: String,
      nQueries: Int = 10, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    // the loaded serving generation: tag once, keep hot across batches
    val tagged = Ann.tagCorpus(e, "vec_id", "embedding", cents).persist()
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_stream_search").toString
    try {
      val q = spark.readStream.schema(embSchema).parquet(s"$sfDir/embeddings.*")
        .where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            Ann.searchIvfBatch(tagged, cents, batch, "vec_id", "embedding",
                "cosine", k, nprobe)
              .write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val spark2 = spark
      import spark2.implicits._
      // empty stream -> no parquet written; return an empty typed frame
      if (!new java.io.File(outDir).listFiles().exists(_.getName.endsWith(".parquet")))
        Seq.empty[(Long, Long, Double)].toDF("qid", "vec_id", "dist")
      else
        spark.read.parquet(outDir)
          .orderBy(col("qid"), col("dist"), col("vec_id"))
          .localCheckpoint(eager = true) // detach from the temp dir
    } finally {
      tagged.unpersist(false)
      // best-effort temp cleanup; the checkpoint above owns the rows
      AtRest.deleteTree(outDir)
    }
  }
}
