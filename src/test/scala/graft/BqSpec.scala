package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bq

class BqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  def corpus = Tables.load(spark, sf, "embeddings")

  test("packed hamming equals the naive per-dim sign mismatch count") {
    val model = Bq.train(corpus, "embedding", 64)
    val codes = Bq.encode(model, corpus, "vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val thr = model.thr
    // naive count computed from the raw vectors, no packing
    val naive = corpus.crossJoin(q).collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      val qv = r.getSeq[Float](r.fieldIndex("qvec"))
      val id = r.getLong(r.fieldIndex("vec_id"))
      val ham = (0 until 64).count(i =>
        (v(i).toDouble > thr(i)) != (qv(i).toDouble > thr(i)))
      id -> ham
    }.toMap
    val packed = codes.crossJoin(q.select(
        Bq.bq_encode(model, col("qvec")).as("qcode")))
      .select(col("vec_id"), Bq.hamming(col("code"), col("qcode")).as("ham"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(packed == naive)
  }

  test("bit 63 (sign bit of the packed long) participates correctly") {
    // dim-64 vectors that differ ONLY in dimension 64 -> hamming 1;
    // the packed xor is Long.MinValue (sign bit), bit_count must see it
    val a = Array.fill(64)(0.0f); a(63) = 10.0f
    val b = Array.fill(64)(0.0f); b(63) = -10.0f
    val df = Seq((0L, a), (1L, b)).toDF("vec_id", "embedding")
    val model = Bq.train(df, "embedding", 64)
    val codes = Bq.encode(model, df, "vec_id", "embedding")
    val pair = codes.as("x").crossJoin(codes.as("y"))
      .where(col("x.vec_id") === 0 && col("y.vec_id") === 1)
      .select(Bq.hamming(col("x.code"), col("y.code"))).head.getInt(0)
    assert(pair == 1)
  }

  test("search plan is map-only: no exchange before TakeOrdered") {
    val model = Bq.train(corpus, "embedding", 64)
    val codes = Bq.encode(model, corpus, "vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val plan = Bq.search(model, codes, q, "vec_id", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("write/load round trip reproduces search results") {
    val model = Bq.train(corpus, "embedding", 64)
    val codes = Bq.encode(model, corpus, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("bqidx").toString
    Bq.writeIndex(model, codes, dir)
    val (m2, c2) = Bq.loadIndex(spark, dir)
    assert(m2.thr.sameElements(model.thr))
    val q = corpus.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val a = Bq.search(model, codes, q, "vec_id", 10).collect().toSeq
    val b = Bq.search(m2, c2, q, "vec_id", 10).collect().toSeq
    assert(a == b)
  }

  test("rerank with corpus-sized candidate set equals exact flat kNN") {
    val model = Bq.train(corpus, "embedding", 64)
    val codes = Bq.encode(model, corpus, "vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val n = corpus.count().toInt
    val rr = Bq.searchWithRerank(model, codes, corpus, q,
      "vec_id", "embedding", "euclidean", topK = 10, candidates = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = graft.operators.Knn.topK(corpus, q,
      "vec_id", "embedding", "euclidean", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rr == exact)
  }

  test("append+delete round-trip equals a fresh encode on the same data") {
    val model = Bq.train(corpus, "embedding", 64)
    val old = corpus.where(col("vec_id") < 400)
    val add = corpus.where(col("vec_id") >= 400)
    val doomed = corpus.where(col("vec_id") % 7 === 0)
    val live = Bq.deleteFromIndex(
      Bq.appendToIndex(model, Bq.encode(model, old, "vec_id", "embedding"),
        add, "vec_id", "embedding"),
      "vec_id", doomed)
    val fresh = Bq.encode(model,
      corpus.where(col("vec_id") % 7 =!= 0), "vec_id", "embedding")
    assert(live.orderBy("vec_id").collect().toSeq ==
      fresh.orderBy("vec_id").collect().toSeq)
  }

  test("dims beyond the 64-bit word are refused, not silently folded") {
    intercept[IllegalArgumentException] {
      Bq.train(corpus, "embedding", 65)
    }
    // a hand-built over-wide model must fail at encode time too
    // (1L << 65 would wrap mod 64 and corrupt bit 1)
    val wide = Bq.Model(65, Array.fill(65)(0.0))
    val vec65 = corpus.limit(1).select(col("vec_id"),
      concat(col("embedding"), array(lit(1.0f))).as("embedding"))
    val err = intercept[Throwable] {
      Bq.encode(wide, vec65, "vec_id", "embedding").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(_.getMessage != null) &&
      chain(err).exists(t => t.getMessage != null &&
        t.getMessage.contains("exceeds the 64-bit word")), err.toString)
  }

  test("composed IVF-BQ append equals a fresh encodeIvf of the union") {
    val e = corpus
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val model = Bq.train(e, "embedding", 64)
    val full = Bq.encodeIvf(model,
      graft.operators.Ann.tagCorpus(e, "vec_id", "embedding", cents),
      "vec_id", "embedding")
    val oldCodes = full.where(col("vec_id") < 400)
    val live = Bq.appendToIvfIndex(model, oldCodes, cents,
      e.where(col("vec_id") >= 400), "vec_id", "embedding")
    assert(live.orderBy("vec_id").collect().toSeq ==
      full.orderBy("vec_id").collect().toSeq)
  }

  test("IVF-BQ with all clusters probed and corpus-sized shortlist == exact kNN") {
    val e = corpus
    val cents = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val tagged = graft.operators.Ann.tagCorpus(e, "vec_id", "embedding", cents)
    val model = Bq.train(e, "embedding", 64)
    val codes = Bq.encodeIvf(model, tagged, "vec_id", "embedding")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val n = e.count().toInt
    val got = Bq.searchIvfBq(model, codes, cents, e, q,
      "vec_id", "embedding", "euclidean", topK = 10, candidates = n,
      nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = graft.operators.Knn.topK(e, q, "vec_id", "embedding",
      "euclidean", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact)
  }

  test("IVF-BQ codes at rest: partitionBy(cluster) probe is partition-pruned") {
    val e = corpus
    val cents = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val tagged = graft.operators.Ann.tagCorpus(e, "vec_id", "embedding", cents)
    val model = Bq.train(e, "embedding", 64)
    val dir = java.nio.file.Files.createTempDirectory("ivfbq").toString
    Bq.encodeIvf(model, tagged, "vec_id", "embedding")
      .write.partitionBy("cluster").parquet(s"$dir/codes")
    val atRest = spark.read.parquet(s"$dir/codes")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val res = Bq.searchIvfBq(model, atRest, cents, e, q,
      "vec_id", "embedding", "euclidean", topK = 10, candidates = 50)
    // same answers as the in-memory composition
    val mem = Bq.searchIvfBq(model,
      Bq.encodeIvf(model, tagged, "vec_id", "embedding"), cents, e, q,
      "vec_id", "embedding", "euclidean", topK = 10, candidates = 50)
    assert(res.collect().toSeq == mem.collect().toSeq)
    // scale proof: the code scan reads only the probed clusters
    val parts = SparkTestSession.partitionsRead(res)
    assert(parts.nonEmpty && parts.forall(_ <= 2),
      s"scan read $parts of 4 cluster partitions:\n${res.queryExecution.executedPlan}")
  }

  test("recall@10 grows with the shortlist; 20% of corpus reaches 0.7") {
    // 1-bit codes are coarser than SQ8: the shortlist multiplier is
    // the quality knob. Pin the monotone contract and a usable floor
    // at candidates = n/5 (still a 32x-smaller scan than the corpus).
    val model = Bq.train(corpus, "embedding", 64)
    val codes = Bq.encode(model, corpus, "vec_id", "embedding")
    val q = corpus.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val exact = graft.operators.Knn.topK(corpus, q,
      "vec_id", "embedding", "euclidean", 10)
      .collect().map(_.getLong(0)).toSet
    def recallAt(c: Int): Double = {
      val ids = Bq.searchWithRerank(model, codes, corpus, q,
        "vec_id", "embedding", "euclidean", topK = 10, candidates = c)
        .collect().map(_.getLong(0)).toSet
      (ids & exact).size / 10.0
    }
    val n = corpus.count().toInt
    val r50 = recallAt(50); val rBig = recallAt(n / 5)
    assert(rBig >= r50, s"r50=$r50 rBig=$rBig")
    assert(rBig >= 0.7, s"recall at n/5 = $rBig")
  }
}
