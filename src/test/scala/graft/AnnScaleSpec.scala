package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{Ann, Bq, IvfAssignExpr, IvfKernels, IvfPq, IvfTable, Pq, Sq}
import graft.sources.VectorStore

class AnnScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("native lsh_signature == HOF composition on the corpus") {
    val e = Tables.load(spark, sf, "embeddings")
    val diff = e.select(
        Ann.lshSignature(col("embedding"), 8).as("k"),
        Ann.lshSignatureHof(col("embedding"), 8).as("h"))
      .where(col("k") =!= col("h")).count()
    assert(diff == 0)
  }

  test("lsh_signature runs codegen'd (plan shows *(1))") {
    val e = Tables.load(spark, sf, "embeddings")
    val plan = e.select(Ann.lshSignature(col("embedding")).as("b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [lsh_signature"), plan)
  }

  test("rp_project: plane rows never alias at any supported width") {
    // With the former p*64 stride, plane p+1 was plane p shifted by
    // 64 positions for inputs wider than 64 dims — components were
    // not independent and the JL bound silently failed on lag-64
    // autocorrelated embeddings. The MaxDim stride makes every
    // stream index (p, j) unique: p*MaxDim + j + 1 collides across
    // planes only if MaxDim <= j, which checkInputDataTypes can
    // never see — pin the arithmetic here.
    val M = graft.functions.RpKernels.MaxDim
    assert(M >= 2048)
    val idx = for (p <- 0 until 16; j <- 0 until M) yield p * M + j + 1
    assert(idx.distinct.length == idx.length)
    // and the kernel really reads that stream: component 1 of a
    // one-hot vector at dim j equals the plane entry at 1*M + j + 1
    val j0 = 100
    val oneHot = Array.fill(M / 2)(0.0f).updated(j0, 1.0f)
    val out = graft.functions.RpKernels.project(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        oneHot.map(_.asInstanceOf[Any])), isFloat = true, k = 2)
    val expected =
      ((1 * M + j0 + 1) * 2654435761L % 4294967296L) / 4294967296.0 - 0.5
    assert(out.getDouble(1) === expected)
  }

  test("kmeansMulti == kmeans per k: same seeds, ties, centroid snap") {
    // the multi-k chain must be numerically identical to |ks|
    // independent chains — the elbow oracle replays the per-k CTEs,
    // so any divergence (seed rule, tie-break, rounding) fails there
    // at 10x the debugging cost; pin it here directly
    val e = Tables.load(spark, sf, "embeddings")
    val multi = Ann.kmeansMulti(e, "vec_id", "embedding",
        ks = Seq(2, 4, 8), iters = 2, trainSampleMod = 2)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSet
    val single = Seq(2, 4, 8).flatMap { k =>
      Ann.kmeans(e, "vec_id", "embedding", k = k, iters = 2,
          trainSampleMod = 2)
        .collect()
        .map(r => (k, r.getInt(0), r.getSeq[Double](1)))
    }.toSet
    assert(multi === single)
  }

  test("rp_project: inputs wider than MaxDim are rejected, not aliased") {
    // past MaxDim the Weyl-stream index p*MaxDim + j wraps into plane
    // p+1's rows — exactly the aliasing the stride exists to prevent —
    // so the kernel must refuse rather than silently degrade
    val M = graft.functions.RpKernels.MaxDim
    val wide = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](M + 1)(0.0f))
    val e = intercept[IllegalArgumentException] {
      graft.functions.RpKernels.project(wide, isFloat = true, k = 2)
    }
    assert(e.getMessage.contains(s"up to $M"), e.getMessage)
  }

  test("rp_project: JL mean distance ratio near 1, runs codegen'd") {
    val e = Tables.load(spark, sf, "embeddings").limit(64)
    val proj = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
      graft.functions.LshExpr.rp_project(col("embedding"), 16).as("y"))
    val plan = proj.queryExecution.executedPlan.toString
    assert(plan.contains("rp_project"), plan)
    def d2(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, z) -> (x - z) * (x - z)), " +
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")
    val r = proj.as("a").join(proj.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select((d2("a.y", "b.y") * 12.0 / (d2("a.v", "b.v") * 16.0)).as("ratio"))
      .agg(avg(col("ratio"))).head.getDouble(0)
    // E[ratio] = 1 under JL; 16 dims is noisy per pair but the mean
    // over ~2k pairs concentrates well inside [0.8, 1.2]
    assert(r > 0.8 && r < 1.2, s"mean JL ratio $r")
  }

  test("multi-table LSH with L=1 degenerates to single-table searchLsh") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val single = Ann.searchLsh(e, q, "vec_id", "embedding", "cosine", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val multi = Ann.searchLshTables(e, q, "vec_id", "embedding", "cosine", 10,
      planesPerTable = 8, numTables = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(single.sameElements(multi))
  }

  test("multi-table LSH candidates are the union of per-table buckets") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    // k large enough to return every candidate: the result set must
    // contain each single-table result set (OR-amplification)
    val all = Ann.searchLshTables(e, q, "vec_id", "embedding", "cosine", 100000,
      planesPerTable = 4, numTables = 4)
      .collect().map(_.getLong(0)).toSet
    // table 0 of the combined signature = plain 4-plane signature
    val t0 = Ann.searchLshTables(e, q, "vec_id", "embedding", "cosine", 100000,
      planesPerTable = 4, numTables = 1)
      .collect().map(_.getLong(0)).toSet
    assert(t0.subsetOf(all))
    assert(all.contains(0L)) // the query vector always matches itself
  }

  test("annJoinLsh: equi-join candidates, partial topk before the exchange") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val res = Ann.annJoinLsh(e, q, "vec_id", "embedding", "qid", "qvec",
      "euclidean", 5)
    val plan = res.queryExecution.executedPlan.toString
    // candidates must come from a hash join on (tbl, bucket), NOT the
    // broadcast nested-loop cross join of the exact knnJoin
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_topk_pairs"), plan)

    // every returned neighbor is a true bucket collision, ranked right
    val rows = res.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(3) <= 5))
    // approximate recall vs the exact batch join on the same queries
    val exact = graft.operators.Knn.knnJoin(e, q, "vec_id", "embedding",
      "qid", "qvec", "euclidean", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.2, s"batch ANN recall $recall vs exact")
  }

  test("appendToIvf: new vectors land in their nearest cluster, no retrain") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, centroids) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 2)
    val newRows = graft.sources.VectorStore.randomVectors(spark, 10, 64, seed = 9L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val appended = Ann.appendToIvf(tagged, centroids, newRows, "vec_id", "embedding")
    assert(appended.count() == e.count() + 10)
    assert(appended.where(col("vec_id") >= 10000L)
      .select("cluster").distinct().count() >= 1)
  }

  test("IVF insert+delete round-trip == fresh build on the same data") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, centroids) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 2)
    val fresh = tagged.select(col("vec_id"), col("cluster"))

    val newRows = graft.sources.VectorStore.randomVectors(spark, 10, 64, seed = 9L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val appended = Ann.appendToIvf(tagged, centroids, newRows, "vec_id", "embedding")
    val afterDelete = Ann.deleteFromIvf(
        appended, "vec_id", newRows.select(col("vec_id")))
      .select(col("vec_id"), col("cluster"))

    assert(afterDelete.count() == e.count())
    assert(afterDelete.exceptAll(fresh).count() == 0)
    assert(fresh.exceptAll(afterDelete).count() == 0)
  }

  test("deleteFromIvf is an anti-join: only doomed ids leave, tags untouched") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, _) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 1)
    val doomed = e.where(col("vec_id") % 7 === 0).select(col("vec_id"))
    val after = Ann.deleteFromIvf(tagged, "vec_id", doomed)
    assert(after.count() == tagged.count() - doomed.count())
    assert(after.where(col("vec_id") % 7 === 0).count() == 0)
    // surviving rows keep their cluster (at-rest partitions stay valid)
    val before = tagged.where(col("vec_id") % 7 =!= 0)
      .select(col("vec_id"), col("cluster"))
    assert(after.select(col("vec_id"), col("cluster"))
      .exceptAll(before).count() == 0)
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
  }

  test("ivfStats: per-cluster counts and shares account for every row") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, _) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 1)
    val stats = Ann.ivfStats(tagged).collect()
    assert(stats.map(_.getAs[Long]("n")).sum == e.count())
    val shareSum = stats.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 0.01)
  }

  test("compactIvf: no-op when balanced, recenter+retag when skewed") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, centroids) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 2)
    val tcached = tagged.localCheckpoint(true)

    // balanced index (kmeans on this corpus stays under 0.9): no-op,
    // same DataFrame objects back — zero jobs beyond the stats probe
    val (t2, c2) = Ann.compactIvf(tcached, centroids, "vec_id", "embedding",
      maxShare = 0.9)
    assert((t2 eq tcached) && (c2 eq centroids))

    // churn: delete 90% of every cluster except the largest -> skew
    val sizes = Ann.ivfStats(tcached).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n")).toMap
    val biggest = sizes.maxBy(_._2)._1
    val doomed = tcached
      .where(col("cluster") =!= biggest && col("vec_id") % 10 =!= 0)
      .select(col("vec_id"))
    val skewed = Ann.deleteFromIvf(tcached, "vec_id", doomed)
      .localCheckpoint(true)
    val shareBefore = Ann.ivfStats(skewed)
      .agg(org.apache.spark.sql.functions.max(col("share"))).head().getDouble(0)
    assert(shareBefore > 0.5, s"setup failed to skew: $shareBefore")

    val (t3, c3) = Ann.compactIvf(skewed, centroids, "vec_id", "embedding",
      maxShare = 0.5, iters = 2)
    assert(t3.count() == skewed.count()) // rebalance loses no rows
    // retag is consistent: every row sits in its argmin cluster
    val expect = Ann.tagCorpus(
      skewed.drop("cluster"), "vec_id", "embedding", c3)
      .select(col("vec_id"), col("cluster"))
    assert(t3.select(col("vec_id"), col("cluster"))
      .exceptAll(expect).count() == 0)
    val shareAfter = Ann.ivfStats(t3)
      .agg(org.apache.spark.sql.functions.max(col("share"))).head().getDouble(0)
    assert(shareAfter <= shareBefore,
      s"compact made skew worse: $shareBefore -> $shareAfter")
  }

  test("IVF written partitionBy(cluster): probe scans only nprobe partitions") {
    val e = Tables.load(spark, sf, "embeddings")
    val (tagged, centroids) = Ann.buildIvf(e, "vec_id", "embedding", k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    // the at-rest layout for 100 TB: one parquet partition per cluster
    Ann.writeIndex(tagged, centroids, dir)
    val (back, cents) = Ann.loadIndex(spark, dir)
    val q = Tables.load(spark, sf, "embeddings")
      .where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val res = Ann.searchIvf(back, cents, q,
      "vec_id", "embedding", "cosine", 10, nprobe = 2)

    // correctness: query vector found at distance 0
    val rows = res.collect()
    assert(rows.head.getLong(0) == 0L && rows.head.getDouble(1) == 0.0)

    // scale proof: the scan reads only the probed cluster directories
    val parts = SparkTestSession.partitionsRead(res)
    assert(parts.nonEmpty && parts.forall(_ <= 2),
      s"scan read $parts of 4 cluster partitions:\n${res.queryExecution.executedPlan}")
  }

  test("tagCorpus plan is map-only: no Exchange, no join") {
    val e = Tables.load(spark, sf, "embeddings")
    val cents = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val tagged = Ann.tagCorpus(e, "vec_id", "embedding", cents)
    val nodes = SparkTestSession.executed(tagged)
    assert(!nodes.exists(_.isInstanceOf[Exchange]), nodes.head.treeString)
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), nodes.head.treeString)
    assert(tagged.queryExecution.executedPlan.toString.contains("ivf_assign"))
  }

  test("live-index delete + append plans are shuffle-free for every family") {
    // the doomed ids come from an RDD, so Spark has no size statistics
    // for them — the case where a plain anti-join plans a sort-merge
    // join that shuffles the whole index
    val e = Tables.load(spark, sf, "embeddings")
    val base = e.where(col("vec_id") < 400).localCheckpoint()
    val fresh = e.where(col("vec_id") >= 400)
    val doomed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(7L), Row(450L)), 1),
      StructType(Seq(StructField("vec_id", LongType))))
    val n = 398 + fresh.count() // 1 and 7 leave; 450 is appended after
    val (tagged, cents) = Ann.buildIvf(base, "vec_id", "embedding", k = 4, iters = 1)
    val ivfpq = IvfPq.staticIndex(base, "vec_id", "embedding", dim = 64)
    val pq = Pq.staticCodebooks(base, "vec_id", "embedding", dim = 64)
    val sq = Sq.train(base, "embedding", 64)
    val bq = Bq.train(base, "embedding", 64)
    def idx(df: DataFrame) = df.localCheckpoint()
    val families = Seq(
      "VectorStore" -> VectorStore.insert(
        VectorStore.delete(base, "vec_id", doomed), fresh),
      "VectorStore.update" -> VectorStore.update(
        VectorStore.delete(base, "vec_id", doomed), "vec_id", fresh),
      "Ann" -> Ann.appendToIvf(Ann.deleteFromIvf(idx(tagged), "vec_id", doomed),
        cents, fresh, "vec_id", "embedding"),
      "Pq" -> Pq.appendToIndex(pq, Pq.deleteFromIndex(
        idx(Pq.encode(pq, base, "vec_id", "embedding")), "vec_id", doomed),
        fresh, "vec_id", "embedding"),
      "Sq" -> Sq.appendToIndex(sq, Sq.deleteFromIndex(
        idx(Sq.encode(sq, base, "vec_id", "embedding")), "vec_id", doomed),
        fresh, "vec_id", "embedding"),
      "Bq" -> Bq.appendToIndex(bq, Bq.deleteFromIndex(
        idx(Bq.encode(bq, base, "vec_id", "embedding")), "vec_id", doomed),
        fresh, "vec_id", "embedding")) ++
      Seq(false, true).map(residual => s"IvfPq residual=$residual" ->
        IvfPq.appendToIndex(IvfPq.deleteFromIndex(
          ivfpq.copy(codes = idx(ivfpq.codes)), "vec_id", doomed),
          fresh, "vec_id", "embedding", residual).codes)
    for ((name, df) <- families) {
      val nodes = SparkTestSession.executed(df)
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 0,
        s"$name shuffles:\n${nodes.head.treeString}")
      assert(df.count() == n, name)
    }
  }

  /** The join + shuffled `min_by` assignment the ivf_assign kernel
    * replaced, per (group, _id): the reference it must equal. */
  private def refAssign(vecs: DataFrame, cents: DataFrame,
      group: Option[String]): DataFrame =
    vecs.join(broadcast(cents), group.toSeq)
      .withColumn("_d", VectorFunctions.vec_l2(col("_v"), col("centroid")))
      .groupBy((group.toSeq :+ "_id").map(col): _*)
      .agg(min_by(col("cluster"), struct(col("_d"), col("cluster"))).as("cluster"))

  test("ivf_assign kernel == join + min_by reference: ties, NaN, Inf, nulls, groups") {
    val rnd = new scala.util.Random(20261018L)
    // elements from a 3-value grid, so distance ties are common
    def elem(): Double = rnd.nextInt(40) match {
      case 0 => Double.NaN
      case 1 => Double.PositiveInfinity
      case 2 => Double.NegativeInfinity
      case i => (i % 3 - 1).toDouble
    }
    def vec(): Seq[Double] = if (rnd.nextInt(25) == 0) null else Seq.fill(4)(elem())
    for ((group, values) <- Seq(None -> Seq(0), Some("k") -> Seq(2, 3, 5),
        Some("grp") -> Seq(0, 1, 2, 3))) {
      val g = group.getOrElse("g")
      // duplicate centroid rows: each vector twice, under clusters c and c + 7
      val centRows = values.flatMap { v =>
        (0 until 5).flatMap { c =>
          // the last group's cluster 3 is null: it takes every vector
          val x = if (group.nonEmpty && v == values.last && c == 3) null else vec()
          if (c == 4 && v != values.last) Nil else Seq(Row(v, c, x), Row(v, c + 7, x))
        }
      }
      // one group without centroids: its vectors are dropped by both
      val vecRows = (0 until 300).map(i =>
        Row(if (i % 50 == 0) 99 else values(i % values.length), i.toLong, vec()))
      for (elemType <- Seq(DoubleType, FloatType)) {
        val typed = vecRows.map(r =>
          if (elemType == DoubleType || r.isNullAt(2)) r
          else Row(r(0), r(1), r.getSeq[Double](2).map(_.toFloat)))
        val vecs = spark.createDataFrame(spark.sparkContext.parallelize(typed, 3),
          StructType(Seq(StructField(g, IntegerType), StructField("_id", LongType),
            StructField("_v", ArrayType(elemType)))))
        val cents = spark.createDataFrame(spark.sparkContext.parallelize(centRows, 1),
          StructType(Seq(StructField(g, IntegerType), StructField("cluster", IntegerType),
            StructField("centroid", ArrayType(DoubleType)))))
        val t = IvfTable.collect(cents, group)
        val kernel = vecs.where(col(g).isin(t.groups.toSeq: _*))
          .select(col(g), col("_id"), Shims.column(IvfAssignExpr(
            Shims.expression(col("_v")), Shims.expression(col(g)), t)).as("cluster"))
        def tags(df: DataFrame) =
          df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
        val want = tags(refAssign(vecs, cents, Some(g)).select(col(g), col("_id"), col("cluster")))
        val got = tags(kernel)
        val wrong = (got.toSet diff want.toSet).take(5)
        assert(got.size == 294 && want.size == 294 && wrong.isEmpty,
          s"group=$group $elemType: kernel (group, id) -> cluster $wrong")
        if (group.isEmpty) {
          assert(Ann.tagCorpus(
              vecs.where(col(g) === 0).withColumnRenamed("_v", "v"),
              "_id", "v", cents.drop(g)).collect()
            .map(r => (0, r.getLong(0)) -> r.getInt(2)).toMap == want)
          // the top-nprobe probe (ivf_probe, every single-query IVF
          // search and VectorSql's route) picks the clusters of the
          // Catalyst reference, for nprobe 1, 2 and k
          val table = IvfTable.collect(cents.drop(g), None)
          val g0 = typed.filter(_.getInt(0) == 0)
          for (r <- g0.take(10) ++ g0.find(_.isNullAt(2));
               nprobe <- Seq(1, 2, table.clusters.length)) {
            val qdf = spark.createDataFrame(
              spark.sparkContext.parallelize(Seq(Row(r.get(2))), 1),
              StructType(Seq(StructField("qvec", ArrayType(elemType)))))
            val want = KnnReference.nearestClusters(cents.drop(g), qdf, nprobe)
              .collect().map(_.getInt(0)).toSet
            val x = if (r.isNullAt(2)) null else r.getSeq[Any](2).map {
              case f: Float => f.toDouble
              case d: Double => d
            }.toArray
            val got = IvfKernels.probe(x, table, nprobe).toSet
            assert(got == want, s"$elemType nprobe=$nprobe ${r.get(2)}: probe $got")
          }
        }
      }
    }
  }

  test("tagCorpus metaCols ride the index; filtered probe == filter-then-search") {
    val e = Tables.load(spark, sf, "embeddings")
    val cents = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val tagged = Ann.tagCorpus(e, "vec_id", "embedding", cents,
      metaCols = Seq("label"))
    // metadata survived the min_by payload unchanged
    val drift = tagged.join(e.select(col("vec_id"), col("label").as("l0")), "vec_id")
      .where(col("label") =!= col("l0")).count()
    assert(drift == 0)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    // filtering the tagged index inside the probe equals building the
    // index over the pre-filtered corpus (assignment is per-row)
    val a = Ann.searchIvf(tagged.where(col("label") === 3).drop("label"),
      cents, q, "vec_id", "embedding", "cosine", 10, nprobe = 2).collect().toSeq
    val b = Ann.searchIvf(
      Ann.tagCorpus(e.where(col("label") === 3), "vec_id", "embedding", cents),
      cents, q, "vec_id", "embedding", "cosine", 10, nprobe = 2).collect().toSeq
    assert(a == b)
  }

  // ---- degenerate input to the shared k-means / assignment ----------
  // Six 4-dim vectors in two tight groups; `cents` is the first of each.
  private val base: Seq[(Long, Seq[Double])] = Seq(
    0L -> Seq(0.0, 0, 0, 0), 1L -> Seq(10.0, 10, 10, 10),
    2L -> Seq(1.0, 0, 0, 0), 3L -> Seq(9.0, 10, 10, 10),
    4L -> Seq(0.0, 1, 0, 0), 5L -> Seq(10.0, 9, 10, 10))
  private def frame(rows: Seq[(Long, Seq[Double])]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "v")
  }
  private def cents = {
    val s = spark; import s.implicits._
    Seq((0, Seq(0.0, 0, 0, 0)), (1, Seq(10.0, 10, 10, 10))).toDF("cluster", "centroid")
  }
  /** tagCorpus as id -> (cluster, vector or null). */
  private def tags(c: Seq[(Long, Seq[Double])]): Map[Long, (Int, Seq[Double])] =
    Ann.tagCorpus(frame(c), "id", "v", cents).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), Option(r.getSeq[Double](1)).orNull)).toMap
  private def kmeans(c: Seq[(Long, Seq[Double])], k: Int): Map[Int, Seq[Double]] =
    Ann.kmeans(frame(c), "id", "v", k = k, iters = 2).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
  private def pq(c: Seq[(Long, Seq[Double])], k: Int): Pq.Model =
    Pq.train(frame(c), "id", "v", dim = 4, m = 2, k = k, iters = 2)
  /** Codebooks as (grp, code) -> entry. */
  private def book(model: Pq.Model): Map[(Int, Int), Seq[Double]] =
    model.codebooks.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
  private val third = 0.333333
  private val twoGroups = Map(0 -> Seq(third, third, 0.0, 0.0),
    1 -> Seq(9.666667, 9.666667, 10.0, 10.0))

  test("degenerate input: a null vector is tagged to cluster 0; a null seed takes every vector") {
    val nul = null.asInstanceOf[Seq[Double]]
    val t = tags(base :+ (6L -> nul))
    assert(t(6L) == ((0, null)))
    assert(t.size == 7 && t(1L)._1 == 1)
    // not a seed: assigned, but posexplode(null) adds nothing to a mean
    assert(kmeans(base :+ (6L -> nul), 2) == twoGroups)
    assert(book(pq(base :+ (6L -> nul), 2)) == Map(
      (0, 0) -> Seq(third, third), (0, 1) -> Seq(9.666667, 9.666667),
      (1, 0) -> Seq(0.0, 0.0), (1, 1) -> Seq(10.0, 10.0)))
    // a seed: every distance to it is null, and a null distance ranks
    // first in the (distance, cluster) minimum
    assert(kmeans((-1L -> nul) +: base, 2) == Map(0 -> Seq(5.0, 5.0, 5.0, 5.0)))
    assert(book(pq((-1L -> nul) +: base, 2)) == Map(
      (0, 0) -> Seq(5.0, 5.0), (1, 0) -> Seq(5.0, 5.0)))
  }

  test("degenerate input: a NaN element ranks above every distance; its cluster mean goes NaN") {
    val nan = 6L -> Seq(Double.NaN, 0, 0, 0)
    assert(tags(base :+ nan)(6L)._1 == 0) // all distances NaN: lowest cluster
    val km = kmeans(base :+ nan, 2)
    assert(km(0).head.isNaN && km(0).tail == Seq(0.0, 0.0, 0.0))
    assert(km(1) == Seq(5.0, 5.0, 5.0, 5.0)) // the rest move off the NaN centroid
    val b = book(pq(base :+ nan, 2))
    assert(b((0, 0)).head.isNaN && b((0, 0))(1) == 0.0)
    assert(b - ((0, 0)) == Map((0, 1) -> Seq(5.0, 5.0),
      (1, 0) -> Seq(0.0, 0.0), (1, 1) -> Seq(10.0, 10.0)))
  }

  test("degenerate input: dimension mismatch raises; PQ training ignores extra elements") {
    def iae(f: => Any): IllegalArgumentException = {
      val t = intercept[Exception](f)
      Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x }
        .getOrElse(fail(s"no IllegalArgumentException in $t"))
    }
    for (bad <- Seq(Seq(0.0, 0, 0), Seq(0.0, 0, 0, 0, 0))) {
      val c = base :+ (6L -> bad)
      for (x <- Seq(iae(tags(c)), iae(kmeans(c, 2))))
        assert(x.getMessage.contains("vec_l2: dimension mismatch"), x.getMessage)
    }
    assert(iae(book(pq(base :+ (6L -> Seq(0.0, 0, 0)), 2)))
      .getMessage.contains("vec_l2: dimension mismatch"))
    // subvectors slice m x subDim elements: a 5th one is never read
    assert(book(pq(base :+ (6L -> Seq(0.0, 0, 0, 0, 7)), 2)) ==
      book(pq(base :+ (6L -> Seq(0.0, 0, 0, 0)), 2)))
  }

  test("degenerate input: an empty corpus gives empty tags, centroids and codebooks") {
    assert(tags(Nil).isEmpty)
    assert(kmeans(Nil, 2).isEmpty)
    assert(Ann.kmeansMulti(frame(Nil), "id", "v", Seq(2, 3), iters = 2).count() == 0)
    val model = pq(Nil, 2)
    assert(model.codebooks.count() == 0)
    intercept[IllegalArgumentException](model.table)
  }

  test("degenerate input: k > n seeds n clusters; duplicate PQ seeds lose their members") {
    val small = base.take(3)
    assert(kmeans(small, 10) == small.map(_._2).zipWithIndex.map(_.swap).toMap)
    val multi = Ann.kmeansMulti(frame(small), "id", "v", Seq(2, 10), iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(multi == Seq(2, 10).flatMap(k =>
      kmeans(small, k).map { case (c, v) => (k, c) -> v }).toMap)
    // subspace 1 of ids 0 and 2 is (0, 0) twice: the tie goes to code
    // 0, so code 2 has no members and drops out
    val model = pq(small, 10)
    assert(book(model) == Map(
      (0, 0) -> Seq(0.0, 0.0), (0, 1) -> Seq(10.0, 10.0), (0, 2) -> Seq(1.0, 0.0),
      (1, 0) -> Seq(0.0, 0.0), (1, 1) -> Seq(10.0, 10.0)))
    // a kernel needs every (grp, code): the table refuses a short book
    intercept[IllegalArgumentException](model.table)
  }

  test("degenerate input: duplicate ids are tagged per row, not merged") {
    // id 2 twice: once near cluster 0, once on cluster 1
    val dup = base :+ (2L -> Seq(10.0, 10, 10, 10))
    val rows = Ann.tagCorpus(frame(dup), "id", "v", cents).collect()
      .map(r => r.getLong(0) -> r.getInt(2))
    assert(rows.length == 7)
    assert(rows.filter(_._1 == 2L).map(_._2).sorted.toSeq == Seq(0, 1))
    val tagged = Ann.tagCorpus(frame(base), "id", "v", cents)
    assert(Ann.appendToIvf(tagged, cents, frame(dup), "id", "v").count() == 13)
    // both copies count in their cluster's mean
    assert(kmeans(dup, 2) == Map(twoGroups.head, 1 -> Seq(9.75, 9.75, 10.0, 10.0)))
  }

  test("degenerate input: k = 0 trains no centroids; no centroids tag nothing") {
    assert(kmeans(base, 0).isEmpty)
    val multi = Ann.kmeansMulti(frame(base), "id", "v", Seq(0, 2), iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(multi == twoGroups.map { case (c, v) => (2, c) -> v })
    val none = cents.where(lit(false))
    assert(tags(Nil).isEmpty && Ann.tagCorpus(frame(base), "id", "v", none).count() == 0)
    val tagged = Ann.tagCorpus(frame(base), "id", "v", cents)
    assert(Ann.appendToIvf(tagged, none, frame(base), "id", "v").count() == 6)
  }

  test("degenerate input: the shared delete drops each doomed id once; null ids match nothing") {
    val s = spark; import s.implicits._
    val store = Seq(Some(0L) -> "a", Some(1L) -> "b", Some(2L) -> "c", None -> "n")
      .toDF("id", "x")
    val doomed = Seq(Some(1L), Some(1L), None, Some(99L)).toDF("id")
    val left = VectorStore.delete(store, "id", doomed).collect().map(r => Option(r.get(0)))
    assert(left.length == 3 && left.toSet == Set(Some(0L), Some(2L), None))
    // an upsert with a repeated key replaces the old row with both copies
    assert(VectorStore.update(store, "id", Seq(Some(2L) -> "u", Some(2L) -> "v")
      .toDF("id", "x")).where(col("id") === 2).as[(Long, String)].collect()
      .map(_._2).sorted.toSeq == Seq("u", "v"))
    val tagged = Ann.tagCorpus(frame(base), "id", "v", cents)
    val after = Ann.deleteFromIvf(tagged, "id", doomed)
    assert(after.select("id", "cluster").collect().toSet ==
      tagged.where(col("id") =!= 1).select("id", "cluster").collect().toSet)
  }
}
