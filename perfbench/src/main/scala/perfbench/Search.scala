package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.VectorStore
import graft.sql.VectorSql

/** The query pool and its exact answers, computed in plain Scala on the
  * driver over the collected corpus (the output checks' ground truth).
  */
final class Truth(ids: Array[Long], vecs: Array[Array[Float]],
    val qids: Array[Long], val qvecs: Array[Array[Float]], graphBase: Long) {
  private val byId = ids.zip(vecs).toMap
  private val baseIdx = ids.indices.filter(i => ids(i) < graphBase).toArray
  private val cache = mutable.Map[(Long, Boolean), Array[(Long, Double)]]()
  private val qById = qids.zip(qvecs).toMap

  def qvec(qid: Long): Array[Float] = qById(qid)

  def corpus: Iterator[(Long, Array[Float])] = ids.iterator.zip(vecs.iterator)

  /** Exact top-K of query `qid` over the corpus, or over the graph base. */
  def top(qid: Long, graphOnly: Boolean = false): Array[(Long, Double)] =
    cache.getOrElseUpdate((qid, graphOnly),
      if (graphOnly) Brute.topK(baseIdx.map(ids), baseIdx.map(vecs), qById(qid), Indexes.K)
      else Brute.topK(ids, vecs, qById(qid), Indexes.K))

  def dist(id: Long, qid: Long): Double = Brute.l2(byId(id), qById(qid))

  /** An exact answer: the distance at every rank equals the truth's (ids
    * may differ only between rows at the same distance).
    */
  def exactOk(qid: Long, got: Seq[Long]): Boolean = {
    val want = top(qid)
    got.size == want.length && got.zip(want).forall { case (id, (_, d)) =>
      math.abs(dist(id, qid) - d) <= 1e-4
    }
  }

  def recall(qid: Long, got: Seq[Long], graphOnly: Boolean): Double = {
    val want = top(qid, graphOnly).map(_._1).toSet
    got.distinct.count(want.contains).toDouble / want.size
  }
}

object Truth {
  def load(run: Run, graphBase: Long): Truth = {
    val spark = run.spark
    val c = spark.read.parquet(s"${run.data}/corpus.parquet").collect()
    val q = spark.read.parquet(s"${run.data}/queries.parquet")
      .select(col("qid"), col("vec")).collect()
    new Truth(c.map(_.getLong(0)), c.map(Brute.vec(_, 1)),
      q.map(_.getLong(0)), q.map(Brute.vec(_, 1)), graphBase)
  }
}

/** `search`: read-only serving in a closed loop by one client. A cycle
  * walks the index families in a seeded order; each step sends three
  * requests: a query batch for the family, one single-vector NEAREST TO
  * statement through VectorSql, and one query of graft's registry
  * (`SparkEntry.queries`) over the generated `embeddings` table. The
  * run ends with the first whole cycle past the time budget (and not
  * before `MinCycles`), so every run has the same request mix. The
  * first cycle is a warm-up and is left out of the figures.
  */
final class Search(run: Run) {
  import Indexes._
  private val spark = run.spark
  private val t = run.trace
  val GraphBase = 500L
  val Clusters = 16
  /** One warm-up cycle, then at least two measured ones. */
  val MinCycles = 3

  def run(): Unit = {
    val truth = Truth.load(run, GraphBase)
    run.mark("truth_at")
    val rnd = new scala.util.Random(run.seed)
    val idx = run.setup {
      val corpus = t.span("sources", "corpus")(
        VectorStore.load(spark, s"${run.data}/corpus.parquet"))
      new Indexes(run, corpus.repartition(Main.Cpus), GraphBase, Clusters)
    }
    val cat = new VectorSql.Catalog(spark)
    cat.put("docs", idx.pin(idx.base.select(col("id").cast("string").as("id"),
      col("vec").as("vector"),
      map().cast(MapType(StringType, StringType)).as("metadata"))))
    val registry = new Registry(run)

    val batchTimes = mutable.ArrayBuffer[Double]()
    val sqlTimes = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    val byFamily = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var vectors = 0L
    var busy = 0.0
    val order = rnd.shuffle(Families)
    run.mark("loop_start_at")
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var step = 0
    while (step % order.size != 0 || step < MinCycles * order.size ||
        System.nanoTime() < deadline) {
      val fam = order(step % order.size)
      val (s, n) = batch(idx, truth, fam, rnd, recalls, warmUp = step < order.size)
      batchTimes += s; busy += s; vectors += n
      byFamily.getOrElseUpdate(fam, mutable.ArrayBuffer()) += s
      val s2 = statement(cat, truth, rnd)
      sqlTimes += s2; busy += s2; vectors += 1
      registry.next(warmUp = step < order.size)
      step += 1
      if (step == order.size) {
        // the first cycle warms the JVM and Spark's code caches up for
        // every request shape; it is checked but not measured
        Seq(batchTimes, sqlTimes, recalls, registry.times).foreach(_.clear())
        byFamily.clear()
        vectors = 0L; busy = 0.0
        run.mark("warm_end_at")
      }
    }
    run.mark("loop_end_at")
    run.e2e("search_qps") = (vectors / busy, "1/s")
    run.e2e("batch_p50_s") = (Stats.median(batchTimes.toSeq), "s")
    run.e2e("batch_p90_s") = (Stats.tail(batchTimes.toSeq), "s")
    run.e2e("sql_p50_s") = (Stats.median(sqlTimes.toSeq), "s")
    run.e2e("recall_at_10") = (recalls.sum / recalls.size, "share")
    run.samples("batch") = batchTimes.size
    run.samples("sql") = sqlTimes.size
    byFamily.foreach { case (f, xs) => run.details(s"$f.batch_s") = Stats.median(xs.toSeq) }
    run.details("sql_total_s") = sqlTimes.sum
    run.details("registry_total_s") = registry.times.sum
    registry.finish()
    if (t.enabled) {
      Layers.families(run, idx)
      Layers.sql(run)
      Probes.run(run, idx)
      run.mark("probes_end_at")
    }
  }

  /** One family batch with its checks; returns (seconds, vectors). */
  private def batch(idx: Indexes, truth: Truth, fam: String,
      rnd: scala.util.Random, recalls: mutable.ArrayBuffer[Double],
      warmUp: Boolean): (Double, Int) = {
    // a warm-up batch only has to compile the family's plans
    val size = (Indexes.SingleQuery(fam), warmUp) match {
      case (true, true) => 1
      case (true, false) => Indexes.SingleBatch
      case (false, true) => 8
      case (false, false) => Indexes.Batch
    }
    val qids = Seq.fill(size)(truth.qids(rnd.nextInt(truth.qids.length))).distinct
    val q = Search.queryFrame(spark, qids.map(id => id -> truth.qvec(id)))
    val t0 = System.nanoTime()
    val got = t.request(fam)(idx.serve(fam, q, qids))
    val s = (System.nanoTime() - t0) / 1e9
    qids.foreach { qid =>
      val ids = got.getOrElse(qid, Nil)
      if (fam == "exact") run.check(truth.exactOk(qid, ids), s"exact q$qid: $ids")
      else {
        recalls += truth.recall(qid, ids, graphOnly = fam == "graph")
        run.check(ids.size == K, s"$fam q$qid returned ${ids.size} rows")
      }
    }
    (s, qids.size)
  }

  /** One NEAREST TO statement, checked against the exact answer. */
  private def statement(cat: VectorSql.Catalog, truth: Truth,
      rnd: scala.util.Random): Double = {
    val qid = truth.qids(rnd.nextInt(truth.qids.length))
    val sql = "SELECT id, distance FROM docs NEAREST TO " +
      truth.qvec(qid).map(f => new java.math.BigDecimal(f.toString).toPlainString)
        .mkString("[", ",", "]") + s" USING euclidean LIMIT $K"
    val t0 = System.nanoTime()
    val ids = t.request("sql") {
      t.span("sql", "parse")(VectorSql.parse(sql))
      val df = t.span("sql", "plan")(VectorSql.execute(cat, sql))
      t.span("sql", "exec", drain = true)(df.collect().map(_.getString(0).toLong).toSeq)
    }
    val s = (System.nanoTime() - t0) / 1e9
    run.check(truth.exactOk(qid, ids), s"sql q$qid: $ids")
    s
  }
}

object Search {
  def queryFrame(spark: org.apache.spark.sql.SparkSession,
      qs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(qs.map { case (id, v) => Row(id, v.toSeq) }, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType)))))
}
