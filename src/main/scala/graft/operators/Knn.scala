package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions}

/** Flat (exact) k-nearest-neighbour search, Spark-first.
  *
  * Reference behavior: /root/reference/pkg/index/flat/flat.go computes
  * the metric against every stored vector, sorts, truncates to k. Here
  * the corpus is a DataFrame and `orderBy(dist).limit(k)` compiles to
  * `TakeOrderedAndProject`: a per-partition bounded heap followed by a
  * driver-side merge of k rows per partition — no global sort, no
  * corpus shuffle, linear scale-out with executors.
  *
  * Distances are rounded to `roundTo` decimals BEFORE ordering and ties
  * are broken by the id column, so results are deterministic and
  * reproducible across engines (the DuckDB oracle orders identically).
  */
object Knn {

  val DefaultRound = 4

  /** Exact top-k for a single query vector column expression, under
    * [[cut]]'s contract (a null-vector row used to rank first).
    *
    * @param corpus  DataFrame holding `idCol` and `vecCol`
    * @param query   single-row DataFrame with the query vector as `qvec`
    * @param metric  euclidean | cosine | dotproduct | manhattan
    */
  def topK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      metric: String,
      k: Int,
      roundTo: Int = DefaultRound): DataFrame =
    exactTopK(corpus.crossJoin(broadcast(query)), idCol, vecCol, metric, k, roundTo)

  /** The exact score of a row paired with its query `qvec`. */
  private[graft] def dist(vecCol: String, metric: String, roundTo: Int): Column =
    round(VectorFunctions.forMetric(metric)(col(vecCol), col("qvec")), roundTo)

  /** [[cut]] by the exact [[dist]]: (id, dist). */
  private[graft] def exactTopK(pairs: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, roundTo: Int): DataFrame =
    cut(pairs, idCol, Seq(vecCol, "qvec"), dist(vecCol, metric, roundTo), "dist", k)

  /** THE single-query top-k cut of every index family: rows paired
    * with their query → (id, `name` = `score`) by (score, id), limited
    * to `k` (`TakeOrderedAndProject`; `k <= 0` gives no rows, `k > n`
    * n). A null in any of `inputs` (vector or codes, query) drops the
    * row on the input: a filter on the score alias would be pushed
    * below the projection and evaluate the kernel twice per row. NaN
    * scores are kept and order last.
    */
  private[graft] def cut(pairs: DataFrame, idCol: String, inputs: Seq[String],
      score: Column, name: String, k: Int): DataFrame =
    pairs.where(inputs.map(col(_).isNotNull).reduce(_ && _))
      .select(col(idCol), score.as(name))
      .orderBy(col(name), col(idCol))
      .limit(math.max(k, 0))

  /** THE shortlist rerank: the exact [[topK]] over the corpus rows on
    * `shortlist`, a broadcast semi-join of its ids (no corpus shuffle).
    */
  private[graft] def rerank(corpus: DataFrame, shortlist: DataFrame,
      query: DataFrame, idCol: String, vecCol: String, metric: String,
      k: Int, roundTo: Int): DataFrame =
    topK(corpus.join(broadcast(shortlist.select(col(idCol))), Seq(idCol)),
      query, idCol, vecCol, metric, k, roundTo)

  /** Radius (range) search: ALL corpus rows within `radius` of the
    * query, nearest first — the "every vector closer than r" contract
    * (ε-NN) that pairs with top-k in most vector stores. Map-only
    * filter + TakeOrdered on the (small) survivor set; the predicate
    * evaluates inside whole-stage codegen next to the scan, so at
    * scale this reads the corpus once and shuffles only matches.
    * `maxRows` bounds the result (a loose radius must not collect an
    * unbounded set to the driver).
    */
  def radiusSearch(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      metric: String,
      radius: Double,
      maxRows: Int = 1000,
      roundTo: Int = DefaultRound): DataFrame = {
    val d = dist(vecCol, metric, roundTo)
    cut(corpus.crossJoin(broadcast(query)).where(d <= radius), idCol,
      Seq(vecCol, "qvec"), d, "dist", maxRows)
  }

  /** Faceted top-k: the query's nearest `k` within EACH value of
    * `groupCol` (per-label / per-source retrieval — "best matches from
    * every shard of the catalog", the diversified-results contract a
    * plain top-k can't give when one dense group dominates). One
    * corpus scan; the per-group cut runs as WindowGroupLimit partials
    * BEFORE the group exchange, so only k rows per partition per
    * group shuffle — the grouped twin of [[topK]]'s
    * TakeOrderedAndProject (plan-guarded like embed_outliers).
    */
  def topKPerGroup(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      metric: String,
      k: Int,
      roundTo: Int = DefaultRound): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("dist"), col(idCol))
    corpus
      .crossJoin(broadcast(query))
      .select(col(groupCol), col(idCol), dist(vecCol, metric, roundTo).as("dist"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col(groupCol), col(idCol), col("dist"))
      .orderBy(col(groupCol), col("dist"), col(idCol))
  }

  /** Batch kNN: every row of `queries` gets its own top-k from `corpus`.
    *
    * One corpus scan through the `knn_block` aggregate
    * ([[graft.functions.KnnBlock]]): each row is scored against the
    * whole query block in the task, with no (query, row) pair rows,
    * no join and no window; each task's partial is <= k pairs per
    * query and the partials meet in one single-partition exchange.
    * The query block is a micro-batch: `queries` is collected by a
    * scalar subquery once per action (no job while the DataFrame is
    * built) and shipped inside each task, so it must fit in a task.
    *
    * Output: (qid in its input type, integral; id as bigint; dist =
    * `round(d, roundTo)`; rank from 1), ordered by (qid, rank). Per
    * qid, the k smallest (dist, id) over distinct ids; rows with a
    * null id or vector and NaN distances are skipped; query rows
    * sharing a qid share one top-k; with `excludeSelf` an id equal to
    * its qid (and every pair of a null qid) is skipped. `k <= 0`
    * gives no rows and `k > n` gives n rows per qid. A length
    * mismatch raises IllegalArgumentException ("vec_<metric>: …").
    */
  def knnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qidCol: String,
      qvecCol: String,
      metric: String,
      k: Int,
      excludeSelf: Boolean = true,
      roundTo: Int = DefaultRound): DataFrame =
    searchBlock(corpus, idCol, vecCol,
      queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec")), None,
      metric, k, excludeSelf, roundTo)
      .select(col("qid").as(qidCol), col("id").as(idCol), col("dist"), col("rank"))

  /** `df` coalesced to one partition when it provably is one already
    * (projections and filters over a one-partition RDD or loaded cache,
    * as a streamed micro-batch, a one-slice `createDataFrame` or a
    * pinned centroid table; with `oneFile`, also over one file no
    * larger than the open cost, which Spark never splits, as a stored
    * centroid table), so a block's aggregate needs no exchange and its
    * subquery is one job. Any other frame keeps its partitions and the
    * aggregate its partial/final pair: a query frame is never scanned
    * by one task. Query blocks leave `oneFile` off: identical blocks
    * of one plan share that exchange (recall_dim_budget: 10 jobs, 13
    * with one subquery job per block).
    */
  private[operators] def onePartition(df: DataFrame, oneFile: Boolean): DataFrame = {
    def single(p: LogicalPlan): Boolean = p match {
      case r: LogicalRDD => r.rdd.getNumPartitions == 1
      case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded &&
        m.cacheBuilder.cachedColumnBuffers.getNumPartitions == 1
      case LogicalRelation(f: HadoopFsRelation, _, _, _, _) =>
        oneFile && f.location.inputFiles.length == 1 &&
          f.location.sizeInBytes <= SQLConf.get.filesOpenCostInBytes
      case _: Project | _: Filter => single(p.children.head)
      case _ => false
    }
    if (single(df.queryExecution.optimizedPlan)) df.coalesce(1) else df
  }

  /** THE batch search of [[knnJoin]] and [[Ann.searchIvfBatch]]: the
    * `knn_block` result of a (qid, qvec) block over `corpus` as (qid,
    * id, dist, rank) rows, ordered by (qid, rank) in the one partition
    * the partials meet in. `probe` = (centroids, nprobe) scores each
    * query against its `nprobe` nearest clusters' rows only.
    */
  private[operators] def searchBlock(
      corpus: DataFrame, idCol: String, vecCol: String, queries: DataFrame,
      probe: Option[(DataFrame, Int)], metric: String, k: Int,
      excludeSelf: Boolean, roundTo: Int): DataFrame = {
    val block = onePartition(queries, oneFile = false)
      .select(collect_list(struct(col("qid"), col("qvec")))).scalar()
    val ivf = probe.map { case (centroids, nprobe) =>
      (col("cluster"), Ann.centroidBlock(centroids), nprobe)
    }
    corpus
      .agg(TopKAgg.knn_block(col(idCol), col(vecCol), block, ivf, metric, k,
        excludeSelf, roundTo).as("_kb"))
      .select(inline(col("_kb")))
      .orderBy(col("qid"), col("rank"))
  }
}
