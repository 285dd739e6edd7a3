package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAgg
import graft.operators.{Ann, Knn}

/** Degenerate input for the two batch kNN operators, `Knn.knnJoin` and
  * `Ann.searchIvfBatch`, which share one contract: per qid the k
  * smallest (dist, id) over distinct ids; null ids, null vectors and
  * NaN distances skipped; query rows sharing a qid share one top-k;
  * `k <= 0` gives no rows and `k > n` gives n; a length mismatch
  * raises IllegalArgumentException naming the metric.
  */
class KnnDegenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
  private val qSchema = StructType(Seq(
    StructField("qid", LongType), StructField("qvec", ArrayType(FloatType))))

  private def frame(schema: StructType, rows: Seq[(Any, Seq[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v) }, 2), schema)
  private def corpus(rows: (Any, Seq[Float])*): DataFrame = frame(vecSchema, rows)
  private def queries(rows: (Any, Seq[Float])*): DataFrame = frame(qSchema, rows)
  /** Every corpus row in cluster 0, the one centroid (at the origin). */
  private def tagged(c: DataFrame): DataFrame = c.withColumn("cluster", lit(0))
  private def cents(dim: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(0, Seq.fill(dim)(0.0))), 1),
      StructType(Seq(StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType)))))

  private def exact(c: DataFrame, q: DataFrame, k: Int,
      excludeSelf: Boolean = false, metric: String = "euclidean"): Seq[(Any, Long, Double)] =
    Knn.knnJoin(c, q, "id", "vec", "qid", "qvec", metric, k, excludeSelf)
      .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2))).toSeq
  private def ivf(c: DataFrame, q: DataFrame, k: Int, nprobe: Int = 1,
      metric: String = "euclidean", dim: Int = 2): Seq[(Any, Long, Double)] =
    Ann.searchIvfBatch(tagged(c), cents(dim), q, "id", "vec", metric, k, nprobe)
      .orderBy(col("qid"), col("dist"), col("id"))
      .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2))).toSeq

  private val plain = corpus(1L -> Seq(0f, 0f), 2L -> Seq(1f, 0f), 5L -> Seq(3f, 0f))

  test("k = 0 gives no rows and k > n gives n: knnJoin, searchIvfBatch, topk_pairs") {
    val q = queries(7L -> Seq(0f, 0f))
    assert(exact(plain, q, 0).isEmpty)
    assert(ivf(plain, q, 0).isEmpty)
    assert(exact(plain, q, 10).map(_._2) === Seq(1L, 2L, 5L))
    assert(ivf(plain, q, 10).map(_._2) === Seq(1L, 2L, 5L))
    val pairs = plain.select(lit(1).as("g"), col("id"), col("id").cast("double").as("d"))
    def topk(k: Int): Seq[Long] = pairs.groupBy(col("g"))
      .agg(TopKAgg.topk_pairs(col("d"), col("id"), k).as("t"))
      .select(explode(col("t")).as("p")).select(col("p.id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(topk(0).isEmpty)
    assert(topk(10) === Seq(1L, 2L, 5L))
  }

  test("null vector, NaN element and duplicate id rows: both operators keep one row per id") {
    val c = corpus(1L -> Seq(0f, 0f), 2L -> Seq(0.5f, 0f), 2L -> Seq(1f, 0f),
      3L -> null, 4L -> Seq(Float.NaN, 0f))
    val q = queries(100L -> Seq(0f, 0f))
    val want = Seq((100L, 1L, 0.0), (100L, 2L, 0.5))
    assert(exact(c, q, 10) === want)
    assert(ivf(c, q, 10) === want)
  }

  test("a null query vector gets no rows") {
    val q = queries(7L -> Seq(0f, 0f), 8L -> null)
    assert(exact(plain, q, 2).map(_._1).distinct === Seq(7L))
    assert(ivf(plain, q, 2).map(_._1).distinct === Seq(7L))
  }

  test("duplicate qids share one top-k over distinct ids") {
    // qid 7 twice: its rows' distances per id are (0, 1), (1, 0), (3, 2)
    val q = queries(7L -> Seq(0f, 0f), 7L -> Seq(1f, 0f))
    val want = Seq((7L, 1L, 0.0), (7L, 2L, 0.0), (7L, 5L, 2.0))
    assert(exact(plain, q, 3) === want)
    assert(ivf(plain, q, 3, nprobe = 2) === want)
  }

  test("a null qid is a query of its own; excludeSelf skips it") {
    val q = queries((null: Any) -> Seq(0f, 0f), 7L -> Seq(3f, 0f))
    val want = Seq((null, 1L, 0.0), (null, 2L, 1.0), (7L, 5L, 0.0), (7L, 2L, 2.0))
    assert(exact(plain, q, 2) === want)
    assert(ivf(plain, q, 2) === want)
    assert(exact(plain, q, 2, excludeSelf = true) === Seq((7L, 5L, 0.0), (7L, 2L, 2.0)))
  }

  test("an empty query set or an empty corpus gives no rows") {
    assert(exact(plain, queries(), 3).isEmpty)
    assert(ivf(plain, queries(), 3).isEmpty)
    assert(exact(corpus(), queries(7L -> Seq(0f, 0f)), 3).isEmpty)
    assert(ivf(corpus(), queries(7L -> Seq(0f, 0f)), 3).isEmpty)
  }

  test("a dimension mismatch raises IllegalArgumentException naming the metric") {
    val q = queries(7L -> Seq(0f, 0f, 0f))
    def raised(f: => Any): String = {
      val e = intercept[Exception](f)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      causes.collectFirst { case i: IllegalArgumentException => i.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $causes"))
    }
    assert(raised(exact(plain, q, 2, metric = "cosine")).contains("vec_cosine"))
    assert(raised(exact(plain, q, 2)).contains("vec_l2"))
    // routed (3-dim centroids), then scored against 2-dim rows
    assert(raised(ivf(plain, q, 2, metric = "cosine", dim = 3)).contains("vec_cosine"))
  }
}
