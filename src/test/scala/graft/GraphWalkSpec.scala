package graft

import scala.math.Ordering.Implicits.seqOrdering
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KnnGraph

/** The `graph_walk` kernel against the per-hop Catalyst walk
  * ([[GraphReference]]): identical rows, in rank order, for every hop
  * of the flat, routed, ADC and filtered walks and for the append
  * probe. The graphs are random, with integer coordinates in [0, 4)^3
  * so distances tie often, a node with a null vector, an id on two
  * rows, self-loops, duplicate edges, an empty LSH bucket, missing
  * and null LUT entries and external queries.
  */
class GraphWalkSpec extends AnyFunSuite {
  import GraphWalkSpec.Case
  lazy val spark = SparkTestSession.spark

  private def frame(schema: StructType, rows: Seq[Row], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private def randomCase(seed: Int): Case = {
    val rnd = new Random(seed)
    val n = 60L
    def point(): Seq[Double] = Seq.fill(3)(rnd.nextInt(4).toDouble)
    val vecs = frame(StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType)), StructField("bucket", LongType))),
      (0L until n).map(i => Row(i, if (i == 7) null else point(), rnd.nextInt(6).toLong)) :+
        Row(5L, point(), rnd.nextInt(6).toLong))
    val graph = frame(StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType), StructField("d_e4", LongType),
        StructField("rank", IntegerType))),
      for (i <- 0L until n; r <- 1 to 5) yield Row(i, rnd.nextInt(n.toInt).toLong, 0L, r))
    // corpus queries (own id), external ones and one from an empty bucket
    val qrows = (0L until 6L).map(i => Row(i * 9, point(), rnd.nextInt(6).toLong)) ++
      (0L until 5L).map(i => Row(100 + i, point(), rnd.nextInt(6).toLong)) :+
      Row(200L, point(), 99L)
    val queries = frame(StructType(Seq(StructField("qid", LongType),
      StructField("qv", ArrayType(DoubleType)), StructField("qbucket", LongType))), qrows)
    val codes = frame(StructType(Seq(StructField("node", LongType),
        StructField("grp", IntegerType), StructField("code", IntegerType))),
      for (i <- 0L until n; g <- 0 until 3) yield Row(i, g, rnd.nextInt(4)))
    val lut = frame(StructType(Seq(StructField("qid", LongType),
        StructField("grp", IntegerType), StructField("code", IntegerType),
        StructField("sd", LongType))),
      // some (query, grp, code) entries missing, some null
      for (q <- qrows; g <- 0 until 3; c <- 0 until 4 if rnd.nextInt(8) != 0)
        yield Row(q.getLong(0), g, c, if (rnd.nextInt(8) == 0) null else rnd.nextInt(5).toLong))
    val allowed = frame(StructType(Seq(StructField("id", LongType))),
      (0L until n).filter(_ => rnd.nextInt(3) == 0).map(Row(_)))
    Case(n, vecs, graph, queries, codes, lut, allowed)
  }

  private lazy val cases = Seq(11, 12, 13).map(randomCase)

  private def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      .sortBy(r => r.map(v => if (v == null) Long.MinValue else v.asInstanceOf[Number].longValue))

  private def sameHops(got: Seq[DataFrame], want: Seq[DataFrame], what: String,
      cols: Seq[String] = Seq("qid", "rank", "node", "d_e4")): Unit = {
    assert(got.length === want.length, what)
    got.zip(want).zipWithIndex.foreach { case ((g, w), h) =>
      val (gr, wr) = (rows(g, cols: _*), rows(w, cols: _*))
      assert(gr === wr, s"$what hop $h")
      if (h == 0) assert(gr.nonEmpty, s"$what hop 0 is empty")
    }
  }

  test("flat walk: every hop's beam equals the Catalyst walk") {
    cases.foreach { c =>
      sameHops(KnnGraph.beamSearchRounds(c.graph, c.vecs, c.queries, c.n, beam = 5, hops = 3),
        GraphReference.beamSearchRounds(c.graph, c.vecs, c.queries, c.n, beam = 5, hops = 3),
        "flat")
    }
  }

  test("routed walk: every hop's beam and the routed seeds equal the Catalyst walk") {
    cases.foreach { c =>
      val q = c.queries.drop("qbucket")
      sameHops(KnnGraph.layeredSearchRounds(c.graph, c.vecs, q, c.n, beam = 4, hops = 2,
          seedK = 3),
        GraphReference.layeredSearchRounds(c.graph, c.vecs, q, c.n, beam = 4, hops = 2,
          seedK = 3),
        "routed")
      assert(rows(KnnGraph.routedSeeds(c.vecs, q, c.n, s = 3), "qid", "node") ===
        rows(GraphReference.routedSeeds(c.vecs, q, c.n, s = 3), "qid", "node"))
    }
  }

  test("ADC walk: every hop's beam and scored set equal the Catalyst walk") {
    cases.foreach { c =>
      val (gotScored, wantScored) =
        (scala.collection.mutable.Buffer[DataFrame](), scala.collection.mutable.Buffer[DataFrame]())
      sameHops(KnnGraph.beamSearchRoundsAdc(c.graph, c.vecs, c.queries, c.n, c.codes, c.lut,
          beam = 5, hops = 3, scoredOut = Some(gotScored)),
        GraphReference.beamSearchRoundsAdc(c.graph, c.vecs, c.queries, c.n, c.codes, c.lut,
          beam = 5, hops = 3, scoredOut = Some(wantScored)),
        "adc")
      sameHops(gotScored.toSeq, wantScored.toSeq, "adc scored", Seq("qid", "node", "d_e4"))
    }
  }

  test("filtered walk: the admitted top-k equals the Catalyst walk's") {
    cases.foreach { c =>
      val got = KnnGraph.filteredBeamSearch(c.graph, c.vecs, c.queries, c.n, c.allowed,
        k = 6, beam = 5, hops = 3)
      val want = GraphReference.filteredBeamSearch(c.graph, c.vecs, c.queries, c.n,
        c.allowed, k = 6, beam = 5, hops = 3)
      sameHops(Seq(got), Seq(want), "filtered")
    }
  }

  test("append probe: each new vector's base neighbours equal the Catalyst walk's") {
    cases.foreach { c =>
      val build = KnnGraph.Build(Seq(c.graph), c.vecs, c.n)
      val batch = c.queries.where(col("qid") >= 100)
      sameHops(Seq(KnnGraph.appendBatch(build, batch, 4).probe),
        Seq(GraphReference.appendProbe(build, batch, 4)), "probe",
        Seq("src", "d_e4", "dst"))
    }
  }
}

object GraphWalkSpec {
  final case class Case(n: Long, vecs: DataFrame, graph: DataFrame,
      queries: DataFrame, codes: DataFrame, lut: DataFrame, allowed: DataFrame)
}
