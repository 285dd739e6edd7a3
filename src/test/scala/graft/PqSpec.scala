package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{IvfPq, Pq}

class PqSpec extends AnyFunSuite {
  import SparkTestSession.executed
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private lazy val e = Tables.load(spark, sf, "embeddings")
  private lazy val model = Pq.train(e, "vec_id", "embedding", dim = 64, m = 8, k = 16, iters = 2)
  private lazy val codes = Pq.encode(model, e, "vec_id", "embedding").cache()
  private lazy val static =
    Pq.staticCodebooks(e, "vec_id", "embedding", dim = 64, m = 8, k = 16)
  private lazy val q0 = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))

  /** The explode + codebook-join + shuffled `min_by` encode that the
    * pq_encode kernel replaced: the reference it must equal. */
  private def refEncode(m: Pq.Model, corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("_id"),
        explode(transform(sequence(lit(0), lit(m.m - 1)), g =>
          struct(g.as("grp"),
            transform(slice(col("embedding"), g * m.subDim + 1, lit(m.subDim)),
              _.cast("double")).as("sv")))).as("e"))
      .select(col("e.grp").as("grp"), col("_id"), col("e.sv").as("_v"))
      .join(broadcast(m.codebooks), Seq("grp"))
      .withColumn("_d", VectorFunctions.vec_l2(col("_v"), col("centroid")))
      .groupBy(col("grp"), col("_id"))
      .agg(min_by(col("code"), struct(col("_d"), col("code"))).as("code"))
      .groupBy(col("_id"))
      .agg(transform(array_sort(collect_list(struct(col("grp"), col("code")))),
        s => s.getField("code")).as("codes"))
      .select(col("_id").as("vec_id"), col("codes"))

  /** The explode + codebook-join + shuffled sum ADC that the pq_adc
    * kernel replaced: (vec_id, squared distance). */
  private def refAdc(m: Pq.Model, codes: DataFrame, query: DataFrame): DataFrame = {
    val qsub = transform(
      slice(col("qvec"), col("grp") * m.subDim + 1, lit(m.subDim)), _.cast("double"))
    codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("grp", "code")))
      .join(broadcast(m.codebooks), Seq("grp", "code"))
      .crossJoin(broadcast(query))
      .withColumn("_pd", aggregate(
        zip_with(qsub, col("centroid"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("vec_id"))
      .agg(sum(col("_pd")).as("_s"))
  }

  private def codeMap(df: DataFrame): Map[Long, Seq[Int]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  /** vec_id -> raw bits of the double, so NaN == NaN and 0.0 != -0.0. */
  private def bitsMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) ->
      java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap

  /** Seeded random corpus of `n` float vectors (`vec_id`, `embedding`). */
  private def randomCorpus(seed: Long, n: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ss = spark; import ss.implicits._
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def vecFrame(rows: (Long, Seq[Float])*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  private def codesFrame(rows: (Long, Seq[Int])*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, c) => Row(id, c) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("codes", ArrayType(IntegerType)))))

  /** The IllegalArgumentException somewhere in a failed job's causes. */
  private def iae(f: => Any): IllegalArgumentException = {
    val t = intercept[Exception](f)
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
      .getOrElse(fail(s"no IllegalArgumentException in $t"))
  }

  test("train: m*k codebook entries of subDim each") {
    assert(model.codebooks.count() == 8 * 16)
    assert(model.codebooks.select(size(col("centroid"))).distinct().head().getInt(0) == 8)
  }

  test("encode: one code row per vector, m codes in [0, k)") {
    assert(codes.count() == e.count())
    val bad = codes.where(size(col("codes")) =!= 8 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad == 0)
  }

  test("encode is deterministic") {
    val again = Pq.encode(model, e, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val first = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(first == again)
  }

  test("ADC search: self-query ranks the encoded vector at/near the top, recall reasonable") {
    val approx = Pq.searchAdcJoin(model, codes, q0, "vec_id", topK = 20)
      .collect().map(_.getLong(0))
    assert(approx.take(5).contains(0L), s"query vector not in top-5: ${approx.toSeq}")
    // recall@10 of PQ-ADC (8 bytes/vector) vs exact l2 top-10
    val exact = graft.operators.Knn.topK(e, q0, "vec_id", "embedding", "euclidean", 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx.take(10).toSet).size / 10.0
    assert(recall >= 0.2, s"recall $recall")
  }

  test("pq_adc kernel search == explode + join reference, incl. at rest") {
    // static codebooks: both formulations fully deterministic
    val sc = Pq.encode(static, e, "vec_id", "embedding").localCheckpoint(true)
    assert(codeMap(sc) == codeMap(refEncode(static, e)))
    val kernel = Pq.searchAdcJoin(static, sc, q0, "vec_id", topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ref = refAdc(static, sc, q0)
      .select(col("vec_id"), round(sqrt(col("_s")), 4).as("score"))
      .orderBy(col("score"), col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(kernel.sameElements(ref), s"kernel=${kernel.toSeq} ref=${ref.toSeq}")

    // at-rest round trip: write codes+codebooks+params, load, same top-k
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Pq.writeIndex(static, sc, dir)
    val (rm, rc) = Pq.loadIndex(spark, dir)
    assert(rm.m == static.m && rm.k == static.k && rm.subDim == static.subDim)
    val rest = Pq.searchAdcJoin(rm, rc, q0, "vec_id", topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rest.sameElements(kernel))
  }

  test("kernels == explode + join reference on seeded random data: ties, NaN, Inf") {
    // m=4 x subDim=4, k=8 codebooks from corpus rows 0..7, with code 5
    // a copy of code 2 in every subspace: exact distance ties, which
    // the lower code must win
    val (m, k, sub) = (4, 8, 4)
    for (seed <- Seq(11L, 12L)) {
      val base = randomCorpus(seed, 300, m * sub)
      val rows = base.where(col("vec_id") < k).collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble)).toMap
      val ss = spark; import ss.implicits._
      val cb = (for (g <- 0 until m; c <- 0 until k) yield
        (g, c, rows(if (c == 5) 2 else c).slice(g * sub, (g + 1) * sub)))
        .toDF("grp", "code", "centroid")
      val pm = Pq.Model(m, k, sub, cb)
      val v = base.where(col("vec_id") === 20).head().getSeq[Float](1)
      val corpus = base.unionByName(vecFrame(
        1000L -> v.updated(5, Float.NaN),               // NaN in subspace 1
        1001L -> v.updated(9, Float.PositiveInfinity),  // +Inf in subspace 2
        1002L -> Seq.fill(m * sub)(Float.NaN)))
      val kernel = codeMap(Pq.encode(pm, corpus, "vec_id", "embedding"))
      assert(kernel == codeMap(refEncode(pm, corpus)), s"seed $seed")
      assert(kernel.values.forall(!_.contains(5)), "a tie must go to the lower code")
      assert(kernel(2L) == Seq(2, 2, 2, 2))
      assert(kernel(1000L)(1) == 0 && kernel(1001L)(2) == 0)
      assert(kernel(1002L) == Seq(0, 0, 0, 0))
      // double-typed input (the residual path) encodes the same
      val dbl = corpus.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      assert(codeMap(Pq.encode(pm, dbl, "vec_id", "embedding")) == kernel)

      val cs = Pq.encode(pm, corpus, "vec_id", "embedding")
      for (qid <- Seq(3L, 1000L)) { // an ordinary query and a NaN one
        val q = corpus.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
        val got = bitsMap(cs.crossJoin(broadcast(q))
          .select(col("vec_id"), Pq.pq_adc(pm, col("codes"), col("qvec"))))
        assert(got == bitsMap(refAdc(pm, cs, q)), s"seed $seed query $qid")
      }
    }
  }

  test("pq_encode of a null vector is m zero codes, as the explode + join encode gave") {
    // every sub-distance is null, so the (distance, code) minimum is
    // code 0 in each subspace; ADC skips rows whose codes are null
    val got = codeMap(Pq.encode(static, vecFrame(7L -> null), "vec_id", "embedding"))
    assert(got == Map(7L -> Seq.fill(8)(0)))
    val top = Pq.searchAdcJoin(static, codesFrame(1L -> null, 2L -> Seq.fill(8)(3)),
      q0, "vec_id", topK = 10).collect().map(_.getLong(0))
    assert(top.toSeq == Seq(2L))
  }

  test("dimension mismatch and out-of-range codes raise IllegalArgumentException") {
    val v = e.where(col("vec_id") === 0).head().getSeq[Float](1)
    for (bad <- Seq(v.take(60), v ++ v.take(8))) {
      val x = iae(Pq.encode(static, vecFrame(1L -> bad), "vec_id", "embedding").collect())
      assert(x.getMessage.contains("pq_encode: dimension mismatch"), x.getMessage)
    }
    def search(codes: DataFrame, query: DataFrame): Any =
      Pq.searchAdcJoin(static, codes, query, "vec_id", topK = 10).collect()
    val ok = Seq.fill(8)(1)
    val shortQ = vecFrame(0L -> v.take(60)).select(col("embedding").as("qvec"))
    assert(iae(search(codesFrame(1L -> ok), shortQ)).getMessage
      .contains("pq_adc: dimension mismatch"))
    assert(iae(search(codesFrame(1L -> ok.take(3)), q0)).getMessage
      .contains("pq_adc: 3 codes"))
    for (c <- Seq(16, -1)) {
      val x = iae(search(codesFrame(1L -> ok.updated(7, c)), q0))
      assert(x.getMessage.contains(s"pq_adc: code $c out of range [0, 16)"), x.getMessage)
    }
  }

  test("PQ encode, search and append plans are map-only: no Exchange, no Generate") {
    def shuffles(df: DataFrame): Int = executed(df).count(_.isInstanceOf[ShuffleExchangeLike])
    // a Generate over code rows is the old explode + codebook join; the
    // one allowed is the IVF probe's, the one-row query exploded over
    // its nprobe clusters on the broadcast side
    def generates(df: DataFrame): Int = executed(df).count {
      case g: GenerateExec => !g.generator.toString.contains("ivf_probe")
      case _ => false
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_plan").toString
    Pq.writeIndex(static, Pq.encode(static, e, "vec_id", "embedding"), dir)
    val (rm, rc) = Pq.loadIndex(spark, dir)
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    IvfPq.writeIndex(IvfPq.staticIndex(e, "vec_id", "embedding", dim = 64), ivfDir)
    val idx = IvfPq.loadIndex(spark, ivfDir)

    // the serving scan: parquet codes -> codegen'd pq_adc -> top-k heap
    val adc = Pq.searchAdcJoin(rm, rc, q0, "vec_id", topK = 10)
    assert(executed(adc).exists(_.nodeName == "TakeOrderedAndProject"))
    for ((name, df) <- Seq(
        "Pq.encode" -> Pq.encode(rm, e, "vec_id", "embedding"),
        "Pq.searchAdcJoin" -> adc,
        "IvfPq.search" -> IvfPq.search(idx, q0, "vec_id", topK = 10, nprobe = 2))) {
      assert(shuffles(df) == 0, s"$name shuffles")
      assert(generates(df) == 0, s"$name generates")
    }
    // append: the coarse routing (the ivf_assign kernel) and the
    // encode are both map-only, raw or residual
    val add = e.where(col("vec_id") >= 400)
    for (residual <- Seq(false, true)) {
      val appended = IvfPq.appendToIndex(idx, add, "vec_id", "embedding", residual).codes
      assert(shuffles(appended) == 0, s"residual=$residual")
      assert(generates(appended) == 0, s"residual=$residual")
    }
  }

  test("ADC + exact re-rank recovers near-perfect recall") {
    val reranked = Pq.searchWithRerankJoin(model, codes, e, q0,
      "vec_id", "embedding", "euclidean", topK = 10, candidates = 100)
      .collect().map(_.getLong(0)).toSet
    val exact = graft.operators.Knn.topK(e, q0, "vec_id", "embedding", "euclidean", 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect reranked).size / 10.0
    assert(recall >= 0.7, s"rerank recall $recall")
  }

  test("variance-snake permutation: a real permutation, balanced groups") {
    val order = Pq.varianceSnakeOrder(e, "vec_id", "embedding", m = 8)
    assert(order.sorted == (0 until 64).toList) // bijective on dims
    // determinism: the exact-integer ranking replays identically
    assert(order == Pq.varianceSnakeOrder(e, "vec_id", "embedding", m = 8))
  }

  test("OPQ permutation: trained-PQ distortion <= plain at same m/k") {
    // the claim ann_pq_permuted exists to earn: dealing dims to
    // subspaces by variance (snake draft) never leaves one
    // subquantizer starved and another overloaded, so total
    // reconstruction SSE at the same m/k/iters budget is at worst
    // plain PQ's (equal on a perfectly isotropic cloud, better the
    // more the per-dim variances spread)
    def sse(corpus: DataFrame): Double = {
      val m = Pq.train(corpus, "vec_id", "embedding", dim = 64,
        m = 8, k = 16, iters = 2)
      val sub = corpus.select(col("vec_id"),
          explode(transform(sequence(lit(0), lit(7)), g =>
            struct(g.as("grp"),
              transform(slice(col("embedding"), g * 8 + 1, lit(8)),
                _.cast("double")).as("sv")))).as("x"))
        .select(col("x.grp").as("grp"), col("vec_id"), col("x.sv").as("sv"))
      val d2 = aggregate(
        zip_with(col("sv"), col("centroid"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (a, b) => a + b)
      sub.join(broadcast(m.codebooks), Seq("grp"))
        .select(col("grp"), col("vec_id"), d2.as("d2"))
        .groupBy(col("grp"), col("vec_id")).agg(min(col("d2")).as("err2"))
        .agg(sum(col("err2"))).head().getDouble(0)
    }
    val order = Pq.varianceSnakeOrder(e, "vec_id", "embedding", m = 8)
    val pe = e.select(col("vec_id"),
      array(order.map(i => col("embedding").getItem(i)): _*).as("embedding"))
    val plain = sse(e)
    val permuted = sse(pe)
    assert(permuted <= plain * 1.005,
      f"permuted SSE $permuted%.2f vs plain $plain%.2f")
    info(f"plain SSE $plain%.3f, permuted SSE $permuted%.3f, " +
      f"ratio ${permuted / plain}%.4f")
  }

  test("append+delete round-trip equals a fresh encode on the same data") {
    val old = e.where(col("vec_id") < 400)
    val add = e.where(col("vec_id") >= 400)
    val doomed = e.where(col("vec_id") % 7 === 0)
    val live = Pq.deleteFromIndex(
      Pq.appendToIndex(model, Pq.encode(model, old, "vec_id", "embedding"),
        add, "vec_id", "embedding"),
      "vec_id", doomed)
    val fresh = Pq.encode(model,
      e.where(col("vec_id") % 7 =!= 0), "vec_id", "embedding")
    assert(live.orderBy("vec_id").collect().toSeq ==
      fresh.orderBy("vec_id").collect().toSeq)
  }
}
