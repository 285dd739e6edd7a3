package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Ann, Bq, IvfPq, Knn, KnnGraph, Pq, Sq}

/** Every index family over one corpus, built through graft's public
  * calls, plus the serving call of each family for a batch of queries.
  * Columns: corpus (id, vec); queries (qid, qvec). Results are
  * collected as (qid -> ids by rank), the answer a caller waits for.
  * The kNN graph covers ids below `graphBase`; 0 builds no graph.
  */
final class Indexes(run: Run, val corpus: DataFrame, graphBase: Long,
    val clusters: Int) extends AutoCloseable {
  import Indexes._
  private val t = run.trace
  private val held = mutable.ArrayBuffer[DataFrame]()

  /** Cache and materialize: the at-rest form an index is served from. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    run.noop(p)
    held += p
    p
  }

  /** Materialize a maintained index version with its lineage cut (the
    * pattern graft itself uses between rounds). A cached version would
    * keep the whole history of batches in its plan, and planning every
    * later query against the cache would slow down batch after batch.
    */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def build[T](fam: String)(body: => T): T =
    t.span("operators", s"$fam.build", drain = true)(body)

  var base: DataFrame = pin(corpus)
  var tagged: DataFrame = _
  var centroids: DataFrame = _
  var ivfpq: IvfPq.Index = _
  var sqModel: Sq.Model = _
  var sqCodes: DataFrame = _
  var bqModel: Bq.Model = _
  var bqCodes: DataFrame = _
  var graph: KnnGraph.Build = _

  build("ivf") {
    val (tg, c) = Ann.buildIvf(base, "id", "vec", clusters, iters = 1,
      trainSampleMod = 8)
    centroids = pin(c)
    tagged = pin(tg)
  }
  build("ivfpq") {
    // IVF-PQ over the IVF above: the same coarse quantizer and PQ codes
    // of the raw vectors (what IvfPq.build composes, minus a second
    // k-means); codebooks from corpus rows, as IvfPq.staticIndex does
    val model = Pq.staticCodebooks(base, "id", "vec", Dim, m = 8, k = 16)
    val m = model.copy(codebooks = pin(model.codebooks))
    ivfpq = IvfPq.Index(centroids, m, pin(Pq.encode(m, base, "id", "vec")
      .join(tagged.select(col("id"), col("cluster")), Seq("id"))))
  }
  build("sq8") {
    sqModel = Sq.train(base, "vec", Dim)
    sqCodes = pin(Sq.encode(sqModel, base, "id", "vec"))
  }
  build("bq") {
    bqModel = Bq.train(base, "vec", Dim)
    bqCodes = pin(Bq.encode(bqModel, base, "id", "vec"))
  }
  if (graphBase > 0) build("graph") {
    // the rounds come back checkpointed; serving reads the last one
    graph = KnnGraph.nnDescentBuild(base.where(col("id") < graphBase),
      "id", "vec", k = GraphDegree, iters = 1)
  }

  override def close(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  /** The serving plan of `fam` for a multi-row query frame, or one plan
    * per query for the families whose public search takes one query.
    */
  def plans(fam: String, q: DataFrame, qids: Seq[Long]): Seq[(Option[Long], DataFrame)] =
    fam match {
      case "exact" => Seq(None -> Knn.knnJoin(base, q, "id", "vec", "qid",
        "qvec", "euclidean", K).select("qid", "id"))
      case "ivf" => Seq(None -> Ann.searchIvfBatch(tagged, centroids, q,
        "id", "vec", "euclidean", K, nprobe = NProbe).select("qid", "id"))
      case "graph" => Seq(None -> KnnGraph.beamSearch(graph.rounds.last,
          graph.vecs,
          q.select(col("qid"), transform(col("qvec"), _.cast("double")).as("qv"),
            Ann.lshSignature(col("qvec"), 8).as("qbucket")),
          graph.n, k = K)
        .select(col("qid"), col("node").as("id")))
      case single => qids.map { id =>
        val one = q.where(col("qid") === id).select(col("qvec"))
        Some(id) -> (single match {
          case "ivfpq" => IvfPq.search(ivfpq, one, "id", K, nprobe = NProbe)
          case "sq8" => Sq.search(sqModel, sqCodes, one, "id", K)
          case "bq" => Bq.searchWithRerank(bqModel, bqCodes, base, one, "id",
            "vec", "euclidean", K, candidates = 10 * K)
        }).select(col("id"))
      }
    }

  /** Run one family on a batch; returns qid -> ids in rank order. */
  def serve(fam: String, q: DataFrame, qids: Seq[Long]): Map[Long, Seq[Long]] =
    t.span("operators", fam) {
      val ps = t.span("operators", s"$fam.plan")(plans(fam, q, qids))
      val rows = t.span("operators", s"$fam.action", drain = true) {
        ps.flatMap {
          case (Some(qid), df) => df.collect().map(r => qid -> r.getLong(0)).toSeq
          case (None, df) => df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        }
      }
      run.counters(s"$fam.hits") += rows.size
      rows.groupMap(_._1)(_._2)
    }
}

object Indexes {
  val Dim = 64
  val K = 10
  val NProbe = 4
  val GraphDegree = 16
  val Families = Seq("exact", "ivf", "ivfpq", "sq8", "bq", "graph")
  /** Families whose public search takes one query vector per call. */
  val SingleQuery = Set("ivfpq", "sq8", "bq")
  val Batch = 64
  /** Batch size of the single-query families: one call per vector. */
  val SingleBatch = 4
}
