package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TopKAgg, TopKBuffer}
import graft.operators.Knn

class TopKAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("TopKBuffer keeps k smallest with (dist,id) tie-break, any order") {
    val b1 = new TopKBuffer(3)
    Seq((5.0, 1L), (1.0, 2L), (3.0, 3L), (1.0, 1L), (9.0, 9L))
      .foreach { case (d, i) => b1.add(d, i) }
    assert(b1.sorted.toSeq == Seq((1.0, 1L), (1.0, 2L), (3.0, 3L)))
    // merge path (order-independent)
    val a = new TopKBuffer(3); val b = new TopKBuffer(3)
    Seq((5.0, 1L), (1.0, 2L)).foreach { case (d, i) => a.add(d, i) }
    Seq((3.0, 3L), (1.0, 1L), (9.0, 9L)).foreach { case (d, i) => b.add(d, i) }
    a.merge(b)
    assert(a.sorted.toSeq == Seq((1.0, 1L), (1.0, 2L), (3.0, 3L)))
    // serde round-trip
    val c = TopKBuffer.deserialize(a.serialize())
    assert(c.sorted.toSeq == a.sorted.toSeq)
  }

  test("topk_pairs aggregate == rank window on real corpus") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val viaAgg = Knn.knnJoin(e, q, "vec_id", "embedding", "qid", "qvec",
      "euclidean", 5).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaWin = KnnReference.knnJoinWindow(e, q, "vec_id", "embedding", "qid", "qvec",
      "euclidean", 5).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaAgg.toSeq == viaWin.toSeq)
  }

  test("batch kNN plans: no join or window and one single-partition exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val e = Tables.load(spark, sf, "embeddings")
    val sc = spark.sparkContext
    // single-partition query and centroid frames, as a served micro-batch
    def local(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(sc.parallelize(df.collect().toSeq, 1), df.schema)
    val q = local(e.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    val cents = local(e.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid")))
    val tagged = graft.operators.Ann.tagCorpus(e, "vec_id", "embedding", cents).cache()
    tagged.count()
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }) ++ p.subqueries.flatMap(nodes)
    // action jobs: one per block subquery, the partials' map stage, the result
    Seq(
      ("knnJoin", 3, () => Knn.knnJoin(e, q, "vec_id", "embedding", "qid", "qvec",
        "euclidean", 3)),
      ("searchIvfBatch", 4, () => graft.operators.Ann.searchIvfBatch(tagged, cents, q,
        "vec_id", "embedding", "euclidean", 3, nprobe = 2))).foreach { case (name, jobs, build) =>
      val (df, buildJobs) = JobCount.during(spark)(build())
      assert(buildJobs === 0, s"$name submitted $buildJobs jobs while its DataFrame was built")
      val (rows, actionJobs) = JobCount.during(spark)(df.collect())
      assert(rows.length === 12, name)
      assert(actionJobs === jobs, name)
      val ns = nodes(df.queryExecution.executedPlan)
      val plan = ns.map(_.nodeName).mkString(", ")
      assert(ns.exists(_.toString.contains("partial_knn_block")), s"$name: $plan")
      assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), s"$name: $plan")
      assert(!ns.exists(_.isInstanceOf[WindowExec]), s"$name: $plan")
      val shuffles = ns.collect { case s: ShuffleExchangeExec => s.outputPartitioning }
      assert(!shuffles.exists(_.isInstanceOf[RangePartitioning]), s"$name: $plan")
      assert(shuffles === Seq(SinglePartition), s"$name: $plan")
    }
    tagged.unpersist()
  }

  test("topk_pairs usable in plain groupBy aggregations") {
    val df = Seq((1L, 0.5, 10L), (1L, 0.1, 11L), (1L, 0.3, 12L), (2L, 0.9, 13L))
      .toDF("g", "d", "i")
    val r = df.groupBy($"g")
      .agg(TopKAgg.topk_pairs($"d", $"i", 2).as("t"))
      .orderBy($"g").collect()
    val g1 = r(0).getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(x => (x.getDouble(0), x.getLong(1))) == Seq((0.1, 11L), (0.3, 12L)))
    assert(r(1).getSeq[org.apache.spark.sql.Row](1).length == 1)
  }
}
