package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Knn}

/** The `knn_block` kernel behind `Knn.knnJoin` and `Ann.searchIvfBatch`
  * equals the join + window references ([[KnnReference]]) on seeded
  * data: every metric, float and double vectors, int and long ids and
  * qids, duplicate qids, `excludeSelf` on and off, and distances that
  * sit on the rounding unit's half-unit boundary.
  */
class KnnBlockSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val metrics = Seq("euclidean", "cosine", "dotproduct", "manhattan")

  /** 240 rows of `dim` elements; every 7th row repeats the previous
    * vector (exact distance ties). `grid` draws elements on a 1e-5 grid
    * inside [0, 2e-4], so distances crowd a few rounding units and many
    * land on or next to a half unit; otherwise elements are in [-1, 1].
    */
  private def vectors(seed: Int, grid: Boolean, dim: Int = 6): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val vs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    (0 until 240).foreach { i =>
      vs += (if (i % 7 == 6) vs.last
        else Array.fill(dim)(if (grid) rnd.nextInt(21) * 1e-5 else rnd.nextDouble() * 2 - 1))
    }
    vs.toSeq
  }

  /** `rows` in a seeded shuffled order: a later row can then carry a
    * smaller id than the kept worst, the case the reject margin is for.
    */
  private def frame(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      new scala.util.Random(rows.length).shuffle(rows), 3),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private case class Setup(floatVecs: Boolean, idType: DataType, qidType: DataType,
      excludeSelf: Boolean, roundTo: Int) {
    override def toString: String =
      s"${if (floatVecs) "float" else "double"} vectors / ${idType.simpleString} ids / " +
        s"${qidType.simpleString} qids / excludeSelf $excludeSelf / roundTo $roundTo"
  }

  /** Corpus (id, vec), queries (qid, qvec) — 12 corpus vectors under
    * their own ids plus qid 3 a second time with another vector — and
    * a tagged copy with 4 clusters and their 4 centroids.
    */
  private def data(vs: Seq[Array[Double]], s: Setup) = {
    def vec(v: Array[Double]): Any = if (s.floatVecs) v.map(_.toFloat).toSeq else v.toSeq
    def num(t: DataType, x: Long): Any = if (t == IntegerType) x.toInt else x
    val vt = ArrayType(if (s.floatVecs) FloatType else DoubleType)
    val corpus = frame(vs.zipWithIndex.map { case (v, i) => Row(num(s.idType, i), vec(v)) },
      "id" -> s.idType, "vec" -> vt)
    val qrows = (0 until 240 by 20).map(i => Row(num(s.qidType, i), vec(vs(i)))) :+
      Row(num(s.qidType, 3), vec(vs(7)))
    val queries = frame(qrows, "qid" -> s.qidType, "qvec" -> vt)
    val tagged = corpus.withColumn("cluster", (col("id") % 4).cast("int"))
    val cents = frame((0 until 4).map(c => Row(c, vs(50 + c).toSeq)),
      "cluster" -> IntegerType, "centroid" -> ArrayType(DoubleType))
    (corpus, queries, tagged, cents)
  }

  private def rows(df: DataFrame): Seq[(Any, Long, Double)] =
    df.collect().map(r => (r.get(0), r.getAs[Number](1).longValue(), r.getDouble(2))).toSeq

  private val setups = Seq(
    Setup(floatVecs = true, IntegerType, LongType, excludeSelf = true, roundTo = 4),
    Setup(floatVecs = false, LongType, IntegerType, excludeSelf = false, roundTo = 3))

  for (grid <- Seq(true, false); s <- setups) {
    test(s"knnJoin == cross join + rank window on ${if (grid) "grid" else "spread"} data: $s") {
      val (corpus, queries, _, _) = data(vectors(11, grid), s)
      metrics.foreach { m =>
        val got = Knn.knnJoin(corpus, queries, "id", "vec", "qid", "qvec", m, 5,
          s.excludeSelf, s.roundTo)
        val want = KnnReference.rankWindow(KnnReference.distinctPairs(
          KnnReference.knnPairs(corpus, queries, "id", "vec", "qid", "qvec", m,
            s.excludeSelf, s.roundTo), "qid", "id"), "qid", "id", 5)
        assert(got.schema.map(_.dataType) === Seq(s.qidType, LongType, DoubleType, IntegerType))
        assert(rows(got) === rows(want.select("qid", "id", "dist")), m)
        assert(got.collect().map(_.getInt(3)).toSeq ===
          want.collect().map(_.getInt(3)).toSeq, m)
      }
    }

    test(s"searchIvfBatch == routing + probe join + rank window on ${if (grid) "grid" else "spread"} data: $s") {
      val (_, queries, tagged, cents) = data(vectors(13, grid), s)
      metrics.foreach { m =>
        val got = Ann.searchIvfBatch(tagged, cents, queries, "id", "vec", m, 5,
          nprobe = 2, roundTo = s.roundTo)
        val want = KnnReference.searchIvfWindow(tagged, cents, queries, "id", "vec", m, 5,
          nprobe = 2, roundTo = s.roundTo)
        assert(got.schema.map(_.dataType) === Seq(s.qidType, s.idType, DoubleType))
        assert(rows(got) === rows(want.select("qid", "id", "dist")), m)
      }
    }
  }

  test("a raw distance above the kept worst that rounds onto it still enters") {
    // one partition, in arrival order: id 50 fills k = 1 at 0.3; id 1
    // at 0.30001 rounds to 0.3 and wins the id tie
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(50L, Seq(0.3, 0.0)), Row(1L, Seq(0.30001, 0.0))), 1),
      StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType)))))
    val q = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(9L, Seq(0.0, 0.0))), 1),
      StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(DoubleType)))))
    assert(rows(Knn.knnJoin(corpus, q, "id", "vec", "qid", "qvec", "euclidean", 1))
      === Seq((9L, 1L, 0.3)))
  }
}
