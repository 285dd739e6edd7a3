package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VectorStore

/** IVF-PQ: the composed production vector index (Jégou et al. 2011,
  * the FAISS `IVFx,PQy` family; the HNSW-replacement pairing of the
  * reference's index surface at batch scale). A coarse k-means
  * quantizer routes a query to `nprobe` clusters, and within those
  * clusters the search scans only 8-byte PQ codes with ADC scoring —
  * so a query touches nprobe/k of the corpus AND reads 32x fewer
  * bytes per touched row. At rest the codes are partitioned by
  * cluster: probing = partition-pruned scan of nprobe directories.
  *
  * Encode and scoring are Pq's codegen'd kernels: build and append
  * run `pq_encode` over the cluster-tagged frame they already hold
  * (no join back on id), and search is one broadcast probe join
  * ([[Ann.probeJoin]], the query riding along) and `pq_adc` under one
  * top-k — no explode of codes, no codebook join, no shuffle.
  *
  * [[build]] PQ-encodes the raw vectors (IVF-Flat-PQ). Classic
  * IVF-PQ encodes residuals (x - centroid) for tighter quantization
  * ([[buildResidual]]); that swaps the encode input and scores each
  * probed cluster against its own residual query. Both forms are
  * DuckDB-oracled end to end —
  * static centroids (`ann_ivfpq_static`) and TRAINED, raw
  * (`ann_ivfpq`) and residual (`ann_ivfpq_residual`), via the
  * 1e-6-snapped unrolled k-means chains.
  */
object IvfPq {

  /** codes: (idCol, codes array<int>, cluster). */
  case class Index(centroids: DataFrame, model: Pq.Model, codes: DataFrame)

  /** (idCol, codes, cluster) from a frame that already carries `cluster`. */
  private def encodeTagged(model: Pq.Model, tagged: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    tagged.select(col(idCol), Pq.pq_encode(model, col(vecCol)).as("codes"),
      col("cluster"))

  /** (idCol, cluster, _r = x - centroid(x) as doubles) of tagged rows. */
  private def residuals(tagged: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    tagged.join(broadcast(centroids), Seq("cluster"))
      .select(col(idCol), col("cluster"),
        zip_with(col(vecCol), col("centroid"),
          (x, c) => x.cast("double") - c).as("_r"))

  def build(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, kClusters: Int = 16, ivfIters: Int = 3,
      m: Int = 8, kCodes: Int = 16, pqIters: Int = 2,
      trainSampleMod: Long = 1): Index = {
    val (tagged, centroids) = Ann.buildIvf(
      corpus, idCol, vecCol, kClusters, ivfIters, trainSampleMod)
    val model = Pq.train(corpus, idCol, vecCol, dim, m, kCodes, pqIters,
      trainSampleMod)
    Index(centroids, model, encodeTagged(model, tagged, idCol, vecCol))
  }

  /** Deterministic variant for oracles/tests: centroids = first
    * kClusters vectors, codebooks = subvectors of the first kCodes.
    */
  def staticIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, kClusters: Int = 8, m: Int = 8, kCodes: Int = 16): Index = {
    val cents = corpus.where(col(idCol) < kClusters)
      .select(col(idCol).cast("int").as("cluster"),
        transform(col(vecCol), _.cast("double")).as("centroid"))
    val tagged = Ann.tagCorpus(corpus, idCol, vecCol, cents)
    val model = Pq.staticCodebooks(corpus, idCol, vecCol, dim, m, kCodes)
    Index(cents, model, encodeTagged(model, tagged, idCol, vecCol))
  }

  /** Probe nprobe clusters ([[Ann.probeJoin]]), ADC-score only their
    * codes ([[Pq.adcTopK]]). No action on the query path beyond the
    * model's one-time codebook collect.
    */
  def search(index: Index, query: DataFrame, idCol: String,
      topK: Int, nprobe: Int = 2): DataFrame =
    Pq.adcTopK(index.model,
      Ann.probeJoin(index.codes, index.centroids, query, nprobe, identity),
      "qvec", idCol, topK, Knn.DefaultRound)

  /** Classic residual IVF-PQ (Jégou et al. §IV): PQ encodes
    * x - centroid(x) instead of x, so all codebook mass models the
    * WITHIN-cluster geometry — tighter quantization, higher recall at
    * identical code size. The coarse routing/storage layout is
    * unchanged; only the encode input and the query side differ (each
    * probed cluster scores against its own residual query q - c).
    */
  def buildResidual(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, kClusters: Int = 16, ivfIters: Int = 3,
      m: Int = 8, kCodes: Int = 16, pqIters: Int = 2,
      trainSampleMod: Long = 1): Index = {
    val (tagged, centroids) = Ann.buildIvf(
      corpus, idCol, vecCol, kClusters, ivfIters, trainSampleMod)
    val resid = residuals(tagged, centroids, idCol, vecCol)
      .localCheckpoint(true) // encode + train both consume it
    val sample =
      if (trainSampleMod > 1) resid.where(col(idCol) % trainSampleMod === 0)
      else resid
    val model = Pq.train(sample, idCol, "_r", dim, m, kCodes, pqIters)
    Index(centroids, model, encodeTagged(model, resid, idCol, "_r"))
  }

  /** Search a residual index: every probed cluster gets its own
    * residual query (q - centroid), and `pq_adc` scores each
    * candidate's codes against its cluster's residual. Same shape as
    * the raw-vector path; the probe's broadcast carries nprobe
    * (cluster, qres) rows.
    */
  def searchResidual(index: Index, query: DataFrame, idCol: String,
      topK: Int, nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    Pq.adcTopK(index.model,
      Ann.probeJoin(index.codes, index.centroids, query, nprobe,
        _.join(broadcast(index.centroids), Seq("cluster"))
          .select(col("cluster"), zip_with(col("qvec"), col("centroid"),
            (x, c) => x.cast("double") - c).as("qres"))),
      "qres", idCol, topK, roundTo)

  /** Live-index insert for the composed index: route each new vector
    * through the FROZEN coarse quantizer (the `ivf_assign` kernel),
    * encode the routed rows with the FROZEN codebooks, union — no
    * retrain, no touch of existing codes, and no shuffle: routing and
    * encode are both map-only (the residual form adds one centroid
    * broadcast).
    * `residual = true` encodes x - centroid(x) instead of x, matching
    * a [[buildResidual]] index (the append must mirror the encode the
    * index was built with or ADC scores are garbage).
    */
  def appendToIndex(index: Index, newRows: DataFrame, idCol: String,
      vecCol: String, residual: Boolean = false): Index = {
    val tagged = Ann.tagCorpus(newRows, idCol, vecCol, index.centroids)
    val newCodes =
      if (residual)
        encodeTagged(index.model,
          residuals(tagged, index.centroids, idCol, vecCol), idCol, "_r")
      else encodeTagged(index.model, tagged, idCol, vecCol)
    Index(index.centroids, index.model, index.codes.unionByName(newCodes))
  }

  /** Live-index delete: [[VectorStore.delete]]'s
    * broadcast batch anti-join of the doomed ids. Remaining rows keep
    * their cluster, so an at-rest partitionBy("cluster") layout stays
    * valid (only rewritten partitions change) — same contract as
    * Ann.deleteFromIvf.
    */
  def deleteFromIndex(index: Index, idCol: String,
      doomed: DataFrame): Index =
    Index(index.centroids, index.model,
      VectorStore.delete(index.codes, idCol, doomed))

  /** At-rest layout: codes partitionBy(cluster) + centroids +
    * codebooks/params (reusing the PQ index layout for the latter).
    */
  def writeIndex(index: Index, path: String): Unit = {
    index.codes.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/codes")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    Pq.writeModel(index.model, index.codes.sparkSession, path)
  }

  def loadIndex(spark: SparkSession, path: String): Index =
    Index(
      spark.read.parquet(s"$path/centroids"),
      Pq.loadModel(spark, path),
      spark.read.parquet(s"$path/codes"))
}
