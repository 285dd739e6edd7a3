package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg

/** Cross-family recall audit: one matrix of (family, budget,
  * recall@k) over a shared query sample, for every index family the
  * engine serves — LSH, IVF, PQ, SQ8, BQ and composed IVF-PQ. The
  * post-build report a platform team reads to pick an index and a
  * probe budget for a corpus (the reference exposes no such audit;
  * its single HNSW index has one recall knob, ef).
  *
  * Scale shape: the exact baselines and every family's candidate
  * scoring are bounded by the QUERY SAMPLE (nQueries × corpus scan,
  * one batch kNN join per metric) — never corpus × corpus. Each
  * family scores candidates exactly as its serving path does (same
  * kernels, same rounding, same tie-breaks), so the matrix is
  * deterministic given deterministic models; with the static
  * centroids/codebooks used by `ann_recall_matrix` the whole report
  * replays in DuckDB.
  */
object Recall {

  /** (qid, id) pairs of the per-query top-k by `s`, ties by id.
    * TopKPairs partial aggregation, not a rank window: each map task
    * folds its partition to <= k pairs per query BEFORE the shuffle,
    * so a family's full scored frame (|Q| x corpus rows) never
    * crosses an exchange — the window formulation shuffled and
    * sorted every scored pair (272 Window nodes in the executed
    * ann_recall_matrix plan). Ordering is identical: ascending
    * (_s, id) with integer id ties, the TopKBuffer contract.
    */
  private def topPairs(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(TopKAgg.topk_pairs(col("_s").cast("double"),
        col(idCol).cast("long"), k).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_pair"))
      .select(col("qid"), col("_pair.id").as(idCol))

  /** One (family, budget, recall) row: fraction of exact pairs the
    * family's candidate set recovered. Both sides carry nQueries × k
    * rows — the agg is trivially bounded.
    */
  private def recallRow(exact: DataFrame, approx: DataFrame,
      idCol: String, family: String, budget: String): DataFrame =
    exact.join(approx.withColumn("_hit", lit(1)), Seq("qid", idCol), "left_outer")
      .agg(round(avg(coalesce(col("_hit"), lit(0)).cast("double")), 4).as("recall"))
      .select(lit(family).as("family"), lit(budget).as("budget"), col("recall"))

  /** The family × budget recall matrix. Queries = the first
    * `nQueries` corpus vectors (deterministic sample); each family
    * uses its deterministic model (static first-`kClusters` centroids,
    * static codebooks, min/max-trained SQ8/BQ) and is scored against
    * the exact top-k under ITS serving metric (cosine for the
    * hyperplane/centroid-routing families, euclidean for the
    * code-scan families) — the number answers "what does THIS index
    * at THIS budget give up vs exact search it replaces".
    */
  def matrix(corpus: DataFrame, idCol: String, vecCol: String,
      nQueries: Int = 10, k: Int = 10,
      graphBuild: Option[KnnGraph.Build] = None): DataFrame = {
    // fail fast on non-integral ids (r15 ADVICE): topPairs casts the
    // id to long, and a non-numeric id would silently become null and
    // be dropped — recall rows computed from an empty approx side
    // instead of an error
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(corpus.schema(idCol).dataType)
    }, s"Recall.matrix requires an integral id column; '$idCol' is " +
      corpus.schema(idCol).dataType.simpleString)
    // width read from the data (one-row job): the SAME matrix runs
    // the 64-dim test corpus and the reference-width 384-dim corpus
    // (tools/gen_dim384.py) unchanged — the Dim384 rule every
    // dim-sizing query follows
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    val q = corpus.where(col(idCol) < nQueries)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    // -- §2.6 "overlap independent jobs": three construction chains
    //    BLOCK the driver — the SQ and BQ model fits (one min/max
    //    aggregate collect each) and the graph family's beam
    //    traversal (one small frontier-shard collect per hop). They
    //    are mutually independent and independent of every lazy
    //    family frame built below, so a bounded pool (3 threads —
    //    "2-3 jobs in flight is plenty") runs them concurrently
    //    instead of serializing ~6 blocking driver jobs; each chain
    //    is deterministic and the assembled rows are bit-identical
    //    to the serial construction. Job descriptions/locality are
    //    thread-local, which is exactly why the guide blesses the
    //    driver-side thread pool for this shape.
    // daemon threads: the pool is shut down on the normal path, but a
    // construction exception must not leave non-daemon threads pinning
    // the JVM open
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def await[T](f: scala.concurrent.Future[T]): T =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    val fSqModel = scala.concurrent.Future { Sq.train(corpus, vecCol, dim) }
    val bqWide = dim > 64
    val fBqModel = scala.concurrent.Future {
      if (bqWide) Bq.trainWide(corpus, vecCol, dim = dim)
      else Bq.train(corpus, vecCol, dim = dim)
    }
    val fGraphApprox = scala.concurrent.Future {
      val gBuild = graphBuild.getOrElse(
        KnnGraph.nnDescentBuild(corpus, idCol, vecCol, 16))
      val gq = gBuild.vecs.where(col("id") < nQueries)
        .select(col("id").as("qid"), col("v").as("qv"),
          col("bucket").as("qbucket"))
      val served = KnnGraph
        .beamSearch(gBuild.rounds.last, gBuild.vecs, gq, gBuild.n, k)
        .where(col("rank") <= k - 1)
        .select(col("qid"), col("node").as(idCol))
        .unionByName(gq.select(col("qid"), col("qid").as(idCol)))
      (gq, served)
    }
    def scored(df: DataFrame, metric: String): DataFrame =
      df.select(col("qid"), col(idCol), Knn.dist(vecCol, metric, 4).as("_s"))
    val exactCos = topPairs(
      scored(corpus.crossJoin(broadcast(q)), "cosine"), idCol, k)
      .localCheckpoint(eager = false)
    val exactEuc = topPairs(
      scored(corpus.crossJoin(broadcast(q)), "euclidean"), idCol, k)
      .localCheckpoint(eager = false)

    // -- LSH: candidates share the query's signature bucket ------------
    def lsh(planes: Int): DataFrame = {
      val sc = corpus.withColumn("_b", Ann.lshSignature(col(vecCol), planes))
      val sq = q.withColumn("_qb", Ann.lshSignature(col("qvec"), planes))
      recallRow(exactCos,
        topPairs(scored(sc.join(broadcast(sq), col("_b") === col("_qb")),
          "cosine"), idCol, k),
        idCol, "lsh", s"planes=$planes")
    }

    // -- IVF (static first-8 centroids): per-query nprobe routing ------
    val cents = corpus.where(col(idCol) < 8)
      .select(col(idCol).cast("int").as("cluster"),
        transform(col(vecCol), _.cast("double")).as("centroid"))
    val tagged = Ann.tagCorpus(corpus, idCol, vecCol, cents)
      .localCheckpoint(eager = false)
    def ivf(nprobe: Int): DataFrame =
      recallRow(exactCos,
        Ann.searchIvfBatch(tagged, cents, q, idCol, vecCol, "cosine", k, nprobe)
          .select(col("qid"), col(idCol)),
        idCol, "ivf", s"nprobe=$nprobe")

    // -- PQ (static codebooks): batch ADC over every (query, code) ----
    val pqModel = Pq.staticCodebooks(corpus, idCol, vecCol, dim = dim,
      m = 8, k = 16)
    val codes = Pq.encode(pqModel, corpus, idCol, vecCol)
      .localCheckpoint(eager = false)
    // per-(qid, id) ADC score: Pq.searchAdcJoin's
    val adcScores = codes.crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        Pq.adcScore(pqModel, col("codes"), col("qvec"), 4).as("_s"))
      .localCheckpoint(eager = false)
    val pqAdc = recallRow(exactEuc, topPairs(adcScores, idCol, k),
      idCol, "pq", "adc")

    // -- code-scan families share the rerank shape: shortlist C per
    //    query from the approximate scores, exact euclidean on those --
    def rerank(shortScores: DataFrame, c: Int): DataFrame = {
      val short = topPairs(shortScores, idCol, c)
      recallRow(exactEuc,
        topPairs(scored(corpus.join(short, Seq(idCol))
          .join(broadcast(q), Seq("qid")), "euclidean"), idCol, k),
        idCol, "_", "_") // family/budget relabelled by the caller
    }
    def relabel(row: DataFrame, family: String, budget: String): DataFrame =
      row.select(lit(family).as("family"), lit(budget).as("budget"), col("recall"))
    val pqRerank = relabel(rerank(adcScores, 30), "pq", "rerank=30")

    val sqModel = await(fSqModel)
    val sqScores = Sq.encode(sqModel, corpus, idCol, vecCol)
      .crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        Sq.dist8(sqModel, 4).as("_s"))
      .localCheckpoint(eager = false)
    val sq8Codes = recallRow(exactEuc, topPairs(sqScores, idCol, k),
      idCol, "sq8", "codes")
    val sq8Rerank = relabel(rerank(sqScores, 30), "sq8", "rerank=30")

    // SQ4 shares SQ8's min/max model; only the level count (and the
    // nibble packing, invisible to distances) differs — its recall
    // rows quantify what the halved at-rest bytes cost
    val sq4Scores = Sq.encode4(sqModel, corpus, idCol, vecCol)
      .crossJoin(broadcast(q))
      .select(col("qid"), col(idCol),
        Sq.dist4(sqModel, 4).as("_s"))
      .localCheckpoint(eager = false)
    val sq4Codes = recallRow(exactEuc, topPairs(sq4Scores, idCol, k),
      idCol, "sq4", "codes")
    val sq4Rerank = relabel(rerank(sq4Scores, 30), "sq4", "rerank=30")

    // BQ switches to the multi-word form past one packed long — the
    // hamming VALUES (per-dim sign disagreements) are identical, so
    // the dim-generic oracle covers both packings
    val bqModel = await(fBqModel)
    val bqCodes =
      if (bqWide) Bq.encodeWide(bqModel, corpus, idCol, vecCol)
      else Bq.encode(bqModel, corpus, idCol, vecCol)
    val bqQ = q.select(col("qid"),
      (if (bqWide) Bq.bq_encode_wide(bqModel, col("qvec"))
       else Bq.bq_encode(bqModel, col("qvec"))).as("_qc"))
    val bqScores = bqCodes
      .crossJoin(broadcast(bqQ))
      .select(col("qid"), col(idCol),
        (if (bqWide) Bq.hammingWide(col("code"), col("_qc"))
         else Bq.hamming(col("code"), col("_qc"))).as("_s"))
      .localCheckpoint(eager = false)
    val bqHam = recallRow(exactEuc, topPairs(bqScores, idCol, k),
      idCol, "bq", "hamming")
    val bqRerank = relabel(rerank(bqScores, 30), "bq", "rerank=30")

    // -- composed IVF-PQ (static): ADC restricted to routed clusters --
    def ivfpq(nprobe: Int): DataFrame = {
      val routed = tagged.select(col(idCol), col("cluster"))
        .join(broadcast(q.select(col("qid"), Ann.probe(col("qvec"), cents, nprobe).as("_p"))
          .select(col("qid"), explode(col("_p")).as("cluster"))), Seq("cluster"))
        .select(col("qid"), col(idCol))
      recallRow(exactEuc,
        topPairs(adcScores.join(routed, Seq("qid", idCol)), idCol, k),
        idCol, "ivfpq", s"nprobe=$nprobe")
    }

    // -- graph family: NN-descent build (count-derived rounds, width
    //    16 — the HNSW-analog artifact) + greedy beam traversal at
    //    the count-derived ef-style beam; served results = top-(k-1)
    //    of the final beam plus the identity self-pair, k candidates
    //    TOTAL like every other family (the graph has no self-edges;
    //    a served ANN always returns a corpus query itself, and the
    //    exact baseline includes it — cutting the beam to k-1 keeps
    //    the cross-family budget equal instead of quietly granting
    //    the graph an 11th guess). `graphBuild` lets the caller pass
    //    the SHARED at-rest build (GraphIndexCache) so the audit
    //    doesn't pay an in-audit rebuild — the at-rest discipline the
    //    other families' static models already follow here --
    val graphRow = {
      val (_, served) = await(fGraphApprox)
      recallRow(exactEuc, served, idCol, "graph", "beam=3log2n")
    }
    pool.shutdown()

    Seq(lsh(8), lsh(6), ivf(1), ivf(2), ivf(4),
        pqAdc, pqRerank, sq8Codes, sq8Rerank, sq4Codes, sq4Rerank,
        bqHam, bqRerank, ivfpq(2), ivfpq(4), graphRow)
      .reduce(_.unionByName(_))
      .orderBy(col("family"), col("budget"))
  }

  /** kNN label purity@k — the embedding-quality audit that needs no
    * index: for each sampled vector, the fraction of its k exact
    * nearest neighbours (self excluded) sharing its label, averaged
    * per label. Near-1 purity means the space separates the classes;
    * a label stuck near chance (1/|labels|) is noise or mislabeled —
    * the metric read next to [[graft.operators.Profile.labelOutliers]]
    * before trusting embeddings for retrieval or classification.
    *
    * Scale shape: cost is bounded by the QUERY SAMPLE — one batch kNN
    * (the knn_block aggregate, k rows per query per partition
    * pre-shuffle), then the bounded q×k neighbour table is
    * BROADCAST back onto the corpus for the label lookup, so the
    * corpus is scanned, never shuffled.
    */
  def labelPurity(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, metric: String, k: Int)
      : DataFrame = {
    val qs = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      col(labelCol).as("qlabel"))
    val nn = Knn.knnJoin(corpus, qs.select(col("qid"), col("qvec")),
      idCol, vecCol, "qid", "qvec", metric, k)
    corpus.select(col(idCol), col(labelCol).as("nlabel"))
      .join(broadcast(nn.select(col("qid"), col(idCol))), Seq(idCol))
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), Seq("qid"))
      .groupBy(col("qid"), col("qlabel"))
      .agg((sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .cast("double") / k).as("frac"))
      .groupBy(col("qlabel").as(labelCol))
      .agg(count(lit(1)).as("n_queries"), round(avg(col("frac")), 4).as("purity"))
      .orderBy(col(labelCol))
  }
}
