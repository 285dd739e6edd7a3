package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The join + window formulations of the batch kNN operators and the
  * IVF probe ranking, kept as the executable specs the `knn_block` and
  * `ivf_probe` kernels are tested against: every (query, corpus row)
  * pair as a row, rounded, then a `row_number` window per qid.
  */
object KnnReference {

  /** (qid, id, dist) for every pair of a broadcast query set and the corpus. */
  def knnPairs(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, metric: String,
      excludeSelf: Boolean, roundTo: Int): DataFrame = {
    val d = VectorFunctions.forMetric(metric)(col(vecCol), col(qvecCol))
    corpus
      .crossJoin(broadcast(queries))
      .where(if (excludeSelf) col(idCol) =!= col(qidCol) else lit(true))
      .select(col(qidCol), col(idCol), round(d, roundTo).as("dist"))
  }

  /** The top `k` (dist, id) pairs per qid by a rank window:
    * (qid, id, dist, rank) ordered by (qid, rank).
    */
  def rankWindow(pairs: DataFrame, qidCol: String, idCol: String, k: Int): DataFrame =
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qidCol)).orderBy(col("dist"), col(idCol))))
      .where(col("rank") <= k)
      .orderBy(col(qidCol), col("rank"))

  /** One pair per (qid, id), at its smallest dist. */
  def distinctPairs(pairs: DataFrame, qidCol: String, idCol: String): DataFrame =
    pairs.groupBy(col(qidCol), col(idCol)).agg(min(col("dist")).as("dist"))

  /** `Knn.knnJoin` as a cross join + rank window. */
  def knnJoinWindow(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, metric: String, k: Int,
      excludeSelf: Boolean = true, roundTo: Int = 4): DataFrame =
    rankWindow(knnPairs(corpus, queries, idCol, vecCol, qidCol, qvecCol, metric,
      excludeSelf, roundTo), qidCol, idCol, k)

  /** A one-row query's (`qvec`) `nprobe` l2-nearest clusters by a
    * cross join + `orderBy(distance, cluster).limit`: the Catalyst
    * ranking `IvfKernels.probe` (`ivf_probe`, the single-query IVF
    * probe and `VectorSql`'s plan-time route) is tested against.
    */
  def nearestClusters(
      centroids: DataFrame, query: DataFrame, nprobe: Int): DataFrame =
    query.crossJoin(broadcast(centroids))
      .select(col("cluster"),
        VectorFunctions.vec_l2(
          transform(col("qvec"), _.cast("double")), col("centroid")).as("_d"))
      .orderBy(col("_d"), col("cluster")).limit(nprobe)
      .select(col("cluster"))

  /** Each query row's `nprobe` l2-nearest clusters, ties to the lower
    * cluster, by a cross join + rank window: (qid, qvec, cluster).
    */
  def routeWindow(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    queries.withColumn("_row", monotonically_increasing_id())
      .crossJoin(broadcast(centroids))
      .select(col("_row"), col("qid"), col("qvec"), col("cluster"),
        VectorFunctions.vec_l2(
          transform(col("qvec"), _.cast("double")), col("centroid")).as("_d"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_row")).orderBy(col("_d"), col("cluster"))))
      .where(col("_rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("cluster"))

  /** `Ann.searchIvfBatch` as routing + probe join + rank window, one
    * row per (qid, id) at its smallest dist: (qid, id, dist, rank).
    */
  def searchIvfWindow(
      tagged: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, metric: String, k: Int,
      nprobe: Int, roundTo: Int = 4): DataFrame = {
    val d = VectorFunctions.forMetric(metric)(col(vecCol), col("qvec"))
    rankWindow(tagged
      .join(broadcast(routeWindow(queries, centroids, nprobe)), Seq("cluster"))
      .select(col("qid"), col(idCol), round(d, roundTo).as("dist"))
      .transform(distinctPairs(_, "qid", idCol)),
      "qid", idCol, k)
  }
}
