package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{VectorDistance, VectorFunctions}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

object SparkTestSession {
  // the production session factory, so the suite dogfoods the session
  // wiring every main runs on (ExtensionsSpec asserts what it promises)
  lazy val spark: SparkSession = Session(cpus = 4)

  /** Every node of the executed (AQE-final) plan, after running it. */
  def executed(df: DataFrame): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  /** The `numPartitions` metric (partition directories read) of every
    * scan of a partitioned table in the executed plan, after running it.
    */
  def partitionsRead(df: DataFrame): Seq[Long] =
    executed(df).collect {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty =>
        s.metrics("numPartitions").value
    }
}

class VectorExprsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def lit32(vs: Seq[Float]) =
    Literal(ArrayData.toArrayData(vs.toArray), ArrayType(FloatType, false))

  private def evalDist(a: Seq[Float], b: Seq[Float], m: String): Double =
    VectorDistance(lit32(a), lit32(b), m).eval(null).asInstanceOf[Double]

  // interpreted (eval) path
  test("l2 interpreted") {
    assert(math.abs(evalDist(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f), "l2")) < 1e-12)
    assert(math.abs(evalDist(Seq(0f, 0f), Seq(3f, 4f), "l2") - 5.0) < 1e-12)
  }
  test("l1 interpreted") {
    assert(math.abs(evalDist(Seq(1f, -2f), Seq(-1f, 3f), "l1") - 7.0) < 1e-12)
  }
  test("dot interpreted is negated") {
    assert(math.abs(evalDist(Seq(1f, 2f), Seq(3f, 4f), "dot") - (-11.0)) < 1e-12)
  }
  test("cosine interpreted: identical -> 0, orthogonal -> 1, opposite -> 2") {
    assert(math.abs(evalDist(Seq(1f, 0f), Seq(1f, 0f), "cosine")) < 1e-12)
    assert(math.abs(evalDist(Seq(1f, 0f), Seq(0f, 1f), "cosine") - 1.0) < 1e-12)
    assert(math.abs(evalDist(Seq(1f, 0f), Seq(-1f, 0f), "cosine") - 2.0) < 1e-12)
  }
  test("cosine zero vector -> 1.0 (reference distance.go:89-91)") {
    assert(evalDist(Seq(0f, 0f), Seq(1f, 2f), "cosine") == 1.0)
  }
  test("dimension mismatch throws") {
    intercept[IllegalArgumentException] {
      evalDist(Seq(1f), Seq(1f, 2f), "l2")
    }
  }

  // codegen path via DataFrame, mixed float/double element types
  test("codegen path matches interpreted, float vs double arrays") {
    val df = Seq((Array(1f, 2f, 3f), Array(4.0, 6.0, 3.0))).toDF("a", "b")
    val row = df.select(
      VectorFunctions.vec_l2($"a", $"b").as("l2"),
      VectorFunctions.vec_l1($"a", $"b").as("l1"),
      VectorFunctions.vec_dot($"a", $"b").as("dot"),
      VectorFunctions.vec_cosine($"a", $"b").as("cos")).head()
    assert(math.abs(row.getDouble(0) - 5.0) < 1e-12)
    assert(math.abs(row.getDouble(1) - 7.0) < 1e-12)
    assert(math.abs(row.getDouble(2) - (-25.0)) < 1e-12)
    assert(row.getDouble(3) > 0.0 && row.getDouble(3) < 1.0)
  }

  test("null input propagates null, not an error") {
    val row = Seq((Some(Array(1f, 2f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(VectorFunctions.vec_l2($"a", $"b").as("d"))
      .head()
    assert(row.isNullAt(0))
  }

  test("SQL registration: vec_l2 usable from spark.sql") {
    VectorFunctions.register(spark)
    Seq((Array(0f, 0f), Array(3f, 4f))).toDF("a", "b")
      .createOrReplaceTempView("vt")
    val d = spark.sql("SELECT vec_l2(a, b) AS d FROM vt").head().getDouble(0)
    assert(math.abs(d - 5.0) < 1e-12)
  }

  test("distance runs inside WholeStageCodegen (no fallback)") {
    // must be file-backed: local relations are folded at optimize time
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val df = e.select(
      VectorFunctions.vec_l2($"embedding", $"embedding").as("d"))
    // "*(n)" prefix marks a WholeStageCodegen stage in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_l2"), plan)
  }
}

class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs on sf0.001 and every oracle key exists") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
    val qk = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keySet.foreach(k => assert(qk.contains(k), s"oracle $k has no query"))
  }

  test("knn_euclidean: query vector itself is nearest with dist 0") {
    val rows = SparkEntry.queries("knn_euclidean")(spark, sf).collect()
    assert(rows.head.getLong(0) == 0L)
    assert(rows.head.getDouble(1) == 0.0)
  }

  test("filters push down to parquet scan") {
    val df = SparkEntry.queries("meta_filter")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("label"), scan)
  }
}
