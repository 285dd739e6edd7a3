package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfPq, Knn}

class IvfPqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private lazy val e = Tables.load(spark, sf, "embeddings")
  private def q(qid: Long) =
    e.where(col("vec_id") === qid).select(col("embedding").as("qvec"))

  test("trained IVF-PQ: self-query found, decent recall vs exact l2") {
    val idx = IvfPq.build(e, "vec_id", "embedding", dim = 64,
      kClusters = 8, ivfIters = 2, m = 8, kCodes = 16, pqIters = 2)
    val got = IvfPq.search(idx, q(0), "vec_id", topK = 10, nprobe = 4)
      .collect().map(_.getLong(0))
    assert(got.take(5).contains(0L), s"self not in top-5: ${got.toSeq}")
    val exact = Knn.topK(e, q(0), "vec_id", "embedding", "euclidean", 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect got.toSet).size / 10.0
    assert(recall >= 0.2, s"recall $recall")
  }

  test("residual IVF-PQ: self-query found, recall not worse than raw-vector PQ") {
    val raw = IvfPq.build(e, "vec_id", "embedding", dim = 64,
      kClusters = 8, ivfIters = 2, m = 8, kCodes = 16, pqIters = 2)
    val res = IvfPq.buildResidual(e, "vec_id", "embedding", dim = 64,
      kClusters = 8, ivfIters = 2, m = 8, kCodes = 16, pqIters = 2)
    def recall(search: Long => Set[Long]): Double = (0L until 10L).map { qid =>
      val exact = Knn.topK(e, q(qid), "vec_id", "embedding", "euclidean", 10)
        .collect().map(_.getLong(0)).toSet
      (exact intersect search(qid)).size
    }.sum / 100.0
    val rawRecall = recall(qid =>
      IvfPq.search(raw, q(qid), "vec_id", 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet)
    val resRecall = recall(qid =>
      IvfPq.searchResidual(res, q(qid), "vec_id", 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet)
    // residual quantization models within-cluster geometry: it must
    // not lose to raw-vector encoding at the same code budget (allow
    // one-neighbor noise across the 10-query sample)
    assert(resRecall >= rawRecall - 0.01,
      s"residual $resRecall < raw $rawRecall")
    val top = IvfPq.searchResidual(res, q(0), "vec_id", 10, nprobe = 4)
      .collect().map(_.getLong(0))
    assert(top.take(5).contains(0L), s"self not in top-5: ${top.toSeq}")
  }

  test("at-rest IVF-PQ: write/load round trip, probe partition-prunes codes") {
    val idx = IvfPq.staticIndex(e, "vec_id", "embedding", dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfPq.writeIndex(idx, dir)
    val back = IvfPq.loadIndex(spark, dir)
    assert(back.model.m == idx.model.m && back.model.subDim == idx.model.subDim)

    val mem = IvfPq.search(idx, q(0), "vec_id", 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val rest = IvfPq.search(back, q(0), "vec_id", 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(mem.sameElements(rest))

    // scale proof: the codes scan reads only the probed cluster
    // partitions (dynamic pruning via the broadcast cluster join)
    val res = IvfPq.search(back, q(0), "vec_id", 10, nprobe = 2)
    val parts = SparkTestSession.partitionsRead(res)
    assert(parts.nonEmpty && parts.forall(_ <= 2),
      s"scan read $parts of 8 cluster partitions:\n${res.queryExecution.executedPlan}")
  }

  test("nprobe=k (probe everything) == plain PQ ADC over all codes") {
    val idx = IvfPq.staticIndex(e, "vec_id", "embedding", dim = 64, kClusters = 8)
    val all = IvfPq.search(idx, q(0), "vec_id", 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val pq = graft.operators.Pq.searchAdcJoin(idx.model,
        idx.codes.select(col("vec_id"), col("codes")), q(0), "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(all.sameElements(pq))
  }

  test("composed append+delete equals the full build's codes (raw and residual)") {
    for (residual <- Seq(false, true)) {
      val full =
        if (residual) IvfPq.buildResidual(e, "vec_id", "embedding", dim = 64,
          kClusters = 8, ivfIters = 2, m = 8, kCodes = 16, pqIters = 2)
        else IvfPq.build(e, "vec_id", "embedding", dim = 64,
          kClusters = 8, ivfIters = 2, m = 8, kCodes = 16, pqIters = 2)
      // same frozen models, codes restricted to the "old" half...
      val oldIdx = IvfPq.Index(full.centroids, full.model,
        full.codes.where(col("vec_id") < 400))
      // ...then live-append the other half and delete every 7th id
      val doomed = e.where(col("vec_id") % 7 === 0)
      val live = IvfPq.deleteFromIndex(
        IvfPq.appendToIndex(oldIdx, e.where(col("vec_id") >= 400),
          "vec_id", "embedding", residual),
        "vec_id", doomed)
      val expect = full.codes.where(col("vec_id") % 7 =!= 0)
      assert(live.codes.orderBy("vec_id").collect().toSeq ==
        expect.orderBy("vec_id").collect().toSeq,
        s"residual=$residual live codes != full-build codes")
    }
  }
}
