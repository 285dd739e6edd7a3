package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KnnGraph

/** Degenerate input for graph serving, on a 40-node line graph (node i
  * at (i, 0), edges to i ± 1 and i ± 2, LSH buckets of 4 consecutive
  * ids): a null query vector gives no rows, a NaN element raises
  * (Spark's ANSI cast of the NaN distance), `k = 0` gives no rows and
  * `k > beam` gives the beam, a query never returns its own id, a query
  * whose bucket is empty walks from its id ring alone, and an empty
  * query frame gives no rows.
  */
class KnnGraphDegenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val n = 40L

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val vecs = frame(
    StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
      StructField("bucket", LongType))),
    (0L until n).map(i => Row(i, Seq(i.toDouble, 0.0), i / 4)))
  private lazy val graph = frame(
    StructType(Seq(StructField("src", LongType), StructField("dst", LongType))),
    for (i <- 0L until n; d <- Seq(-2L, -1L, 1L, 2L) if i + d >= 0 && i + d < n)
      yield Row(i, i + d))

  private val qSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType)), StructField("qbucket", LongType)))
  private def queries(rows: Row*): DataFrame = frame(qSchema, rows)

  /** (qid, node) rows of a result, ordered by (qid, rank). */
  private def served(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy(col("qid"), col("rank")).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("node"))).toSeq

  private def beam(q: DataFrame, k: Int = 4): DataFrame =
    KnnGraph.beamSearch(graph, vecs, q, n, k = k, beam = 4, hops = 2)
  private def layered(q: DataFrame): DataFrame =
    KnnGraph.layeredSearchRounds(graph, vecs, q.drop("qbucket"), n, beam = 4,
      hops = 2).last
  private def filtered(q: DataFrame): DataFrame =
    KnnGraph.filteredBeamSearch(graph, vecs, q, n, vecs.select(col("id")), k = 4,
      beam = 4, hops = 2)
  private val walks: Seq[(String, DataFrame => DataFrame)] = Seq(
    "beamSearch" -> (beam(_)), "layeredSearchRounds" -> layered,
    "filteredBeamSearch" -> filtered)

  test("a null query vector gives no rows; the other queries are served") {
    val q = queries(Row(100L, null, 7L), Row(101L, Seq(30.0, 0.0), 7L))
    for ((name, walk) <- walks) {
      val got = served(walk(q))
      assert(got.nonEmpty && got.forall(_._1 == 101L), s"$name: $got")
    }
  }

  test("a NaN element raises") {
    val q = queries(Row(100L, Seq(Double.NaN, 0.0), 7L))
    for ((name, walk) <- walks) {
      val e = intercept[Exception](walk(q).collect())
      assert(e.getMessage.contains("CAST_OVERFLOW"), s"$name: ${e.getMessage}")
    }
  }

  test("k = 0 gives no rows, k > beam gives the beam") {
    val q = queries(Row(100L, Seq(30.0, 0.0), 7L))
    assert(beam(q, k = 0).collect().isEmpty)
    val wide = beam(q, k = 10).orderBy(col("rank")).collect()
    assert(wide.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3, 4))
    assert(wide.map(_.getAs[Long]("node")).toSeq === Seq(30L, 29L, 31L, 28L))
    assert(wide.map(_.getAs[Long]("d_e4")).toSeq === Seq(0L, 10000L, 10000L, 20000L))
  }

  test("a qid equal to a node id never returns that node") {
    val q = queries(Row(30L, Seq(30.0, 0.0), 7L))
    for ((name, walk) <- walks) {
      val got = served(walk(q))
      assert(got.map(_._2) === Seq(29L, 31L, 28L, 32L), s"$name: $got")
    }
  }

  test("a query whose LSH bucket is empty is seeded by its id ring alone") {
    // qid 100 rings to 100 ± 1..4 mod 40 = 16..24 minus 20; the nearest
    // four of those to (30, 0) are 24, 23, 22 and 21
    val lonely = queries(Row(100L, Seq(30.0, 0.0), 99L))
    val seeded = KnnGraph.beamSearchRounds(graph, vecs, lonely, n, beam = 4,
      hops = 2)
    assert(served(seeded.head).map(_._2) === Seq(24L, 23L, 22L, 21L))
    // the walk climbs from the ring towards the query
    assert(served(seeded.last).map(_._2) === Seq(28L, 27L, 26L, 25L))
    // bucket mates 28..31 seed the same query straight at its neighbours
    val mates = queries(Row(100L, Seq(30.0, 0.0), 7L))
    assert(served(KnnGraph.beamSearchRounds(graph, vecs, mates, n, beam = 4,
      hops = 2).head).map(_._2) === Seq(30L, 29L, 31L, 28L))
  }

  test("an empty query frame gives no rows") {
    for ((name, walk) <- walks)
      assert(walk(queries()).collect().isEmpty, name)
  }
}
