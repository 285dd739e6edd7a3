package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Bq, IvfPq, Knn, Pq, Sq}

/** Degenerate input for the single-query searches, which share one
  * top-k cut (`Knn.cut`): a row with a null vector or null codes never
  * comes back, a null query vector gives no rows, `k = 0` gives no rows
  * and `k > n` gives the n scorable rows. A NaN element is kept (its
  * distance orders last), as before the shared cut.
  */
class SearchDegenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** {1: [0, 0], 2: [1, 0], 3: null, 4: [NaN, 0]}: 3 scorable rows. */
  private lazy val corpus = frame(
    StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType)))),
    Seq(Row(1L, Seq(0f, 0f)), Row(2L, Seq(1f, 0f)), Row(3L, null),
      Row(4L, Seq(Float.NaN, 0f))))
  private def query(v: Seq[Float]): DataFrame = frame(
    StructType(Seq(StructField("qvec", ArrayType(FloatType)))), Seq(Row(v)))
  private lazy val q = query(Seq(0.5f, 0f))
  private lazy val nullQ = query(null)

  /** One centroid at the origin: every row in cluster 0. */
  private lazy val cents = frame(
    StructType(Seq(StructField("cluster", IntegerType),
      StructField("centroid", ArrayType(DoubleType)))),
    Seq(Row(0, Seq(0.0, 0.0))))

  /** m = 2 subspaces of one dim, codes {0 -> 0.0, 1 -> 1.0}. */
  private lazy val pqModel = Pq.Model(2, 2, 1, frame(
    StructType(Seq(StructField("grp", IntegerType), StructField("code", IntegerType),
      StructField("centroid", ArrayType(DoubleType)))),
    for (g <- 0 to 1; c <- 0 to 1) yield Row(g, c, Seq(c.toDouble))))
  /** {1: [0, 0], 2: [1, 0], 3: null, 4: [1, 1]}: 3 scorable rows. */
  private lazy val pqCodes = frame(
    StructType(Seq(StructField("id", LongType),
      StructField("codes", ArrayType(IntegerType)), StructField("cluster", IntegerType))),
    Seq(Row(1L, Seq(0, 0), 0), Row(2L, Seq(1, 0), 0), Row(3L, null, 0),
      Row(4L, Seq(1, 1), 0)))

  private lazy val sqModel = Sq.Model(2, Array(0.0, 0.0), Array(1.0, 1.0))
  private lazy val bqModel = Bq.Model(2, Array(0.5, 0.5))

  /** Each single-query search as (query, k) => ids, best first. */
  private lazy val searches: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "Knn.topK" -> ((qd, k) => Knn.topK(corpus, qd, "id", "vec", "euclidean", k)),
    "Sq.search" -> ((qd, k) =>
      Sq.search(sqModel, Sq.encode(sqModel, corpus, "id", "vec"), qd, "id", k)),
    "Sq.search4" -> ((qd, k) =>
      Sq.search4(sqModel, Sq.encode4(sqModel, corpus, "id", "vec"), qd, "id", k)),
    "Bq.search" -> ((qd, k) =>
      Bq.search(bqModel, Bq.encode(bqModel, corpus, "id", "vec"), qd, "id", k)),
    "Bq.searchWide" -> ((qd, k) =>
      Bq.searchWide(bqModel, Bq.encodeWide(bqModel, corpus, "id", "vec"), qd, "id", k)),
    "Pq.searchAdcJoin" -> ((qd, k) =>
      Pq.searchAdcJoin(pqModel, pqCodes.drop("cluster"), qd, "id", k)),
    "Ann.searchIvf" -> ((qd, k) =>
      Ann.searchIvf(corpus.withColumn("cluster", lit(0)), cents, qd, "id", "vec",
        "euclidean", k, nprobe = 1)),
    "IvfPq.search" -> ((qd, k) =>
      IvfPq.search(IvfPq.Index(cents, pqModel, pqCodes), qd, "id", k, nprobe = 1)))

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  for ((name, search) <- searches) {
    test(s"$name: no null-vector row, null query and k = 0 give no rows, k > n gives n") {
      val all = ids(search(q, 10))
      assert(!all.contains(3L), s"$name returned the null row: $all")
      assert(all.sorted === Seq(1L, 2L, 4L), s"$name: k > n must give the n scorable rows")
      assert(ids(search(q, 2)) === all.take(2), name)
      assert(ids(search(nullQ, 10)).isEmpty, s"$name: a null query vector must give no rows")
      assert(ids(search(q, 0)).isEmpty, s"$name: k = 0 must give no rows")
    }
  }

  test("Knn.topK: a NaN element is kept and orders last; ties break by id") {
    val rows = Knn.topK(corpus, q, "id", "vec", "euclidean", 10).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    assert(rows.take(2).map(_.getDouble(1)).toSeq === Seq(0.5, 0.5))
    assert(rows(2).getDouble(1).isNaN)
  }
}
