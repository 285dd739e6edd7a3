package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, Bq, IvfPq, Sq}
import graft.sources.VectorStore
import graft.streaming.UpsertSink

/** `ingest`: writes beside reads. Every index family is built over the
  * base corpus in set-up; the run then applies the seeded churn stream
  * batch by batch (whole batches until the time budget is spent). Each
  * batch is committed through UpsertSink (a delete is a tombstone row),
  * goes through the public delete and append calls of the exact, IVF,
  * IVF-PQ, SQ8 and BQ families, and is followed by one query batch on
  * the live indexes, exact and IVF in turn. The kNN graph is left out: its
  * append and delete cost about 6.6 s per batch at this size, which
  * would leave one commit per run. At least `MinCommits` batches run;
  * the first is a warm-up and is left out of the figures.
  */
final class Ingest(run: Run) {
  import Indexes._
  private val spark = run.spark
  private val t = run.trace
  /** One warm-up batch, then at least four measured ones. */
  val MinCommits = 5
  val Clusters = 16
  /** Families queried after commits, in turn: exact answers are checked
    * (a fresh insert at rank 1, no deleted id), IVF gives the recall.
    */
  val Served = Seq("exact", "ivf")

  private val rowSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType)), StructField("deleted", BooleanType)))

  def run(): Unit = {
    val truth = Truth.load(run, 0L)
    val live = mutable.LinkedHashMap[Long, Array[Float]]()
    val rnd = new scala.util.Random(run.seed)
    var store = ""
    var setups = 0
    val idx = run.setup {
      setups += 1
      store = s"${run.out}/store-$setups"
      val corpus = t.span("sources", "corpus")(
        VectorStore.load(spark, s"${run.data}/corpus.parquet"))
      val i = new Indexes(run, corpus.repartition(Main.Cpus), 0L, Clusters)
      t.span("streaming", "commit.base", drain = true)(UpsertSink.commit(store,
        i.base.select(col("id"), col("vec"), lit(false).as("deleted")), 0L))
      i
    }
    truth.corpus.foreach { case (id, v) => live(id) = v }
    run.mark("loop_start_at")
    val churn = spark.read.parquet(s"${run.data}/churn.parquet")
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val deleted = mutable.Set[Long]()
    val commitTimes = mutable.ArrayBuffer[Double]()
    val batchTimes = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    var rows = 0L
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var b = 0
    while ((b < MinCommits || System.nanoTime() < deadline) && b < churn.size) {
      val ops = churn(b)._2
      def of(op: String) = ops.filter(_.getString(1) == op)
      val ins = of("insert").map(r => r.getLong(2) -> Brute.vec(r, 3)).toSeq
      val upd = of("update").map(r => r.getLong(2) -> Brute.vec(r, 3)).toSeq
      val del = of("delete").map(_.getLong(2)).toSeq
      val t0 = System.nanoTime()
      t.request(s"commit$b")(commit(idx, store, b + 1, ins, upd, del))
      val s = (System.nanoTime() - t0) / 1e9
      // the first batch warms the code caches up: checked, not measured
      if (b > 0) {
        commitTimes += s
        rows += ops.length
      }
      run.counters("churn.rows") += ops.length
      del.foreach { id => live.remove(id); deleted += id }
      (ins ++ upd).foreach { case (id, v) => live(id) = v; deleted -= id }
      val bs = serve(idx, truth, live, deleted, Served(b % Served.size), ins.head,
        rnd, if (b > 0) recalls else mutable.ArrayBuffer[Double]())
      if (b > 0) batchTimes += bs
      b += 1
    }
    run.mark("loop_end_at")
    val onDisk = Ingest.bytes(new java.io.File(store))
    run.e2e("ingest_rows_per_s") = (rows / commitTimes.sum, "1/s")
    run.e2e("commit_p50_s") = (Stats.median(commitTimes.toSeq), "s")
    run.e2e("commit_p90_s") = (Stats.tail(commitTimes.toSeq), "s")
    run.e2e("bytes_per_live_row") = (onDisk.toDouble / live.size, "B")
    run.e2e("batch_p50_s") = (Stats.median(batchTimes.toSeq), "s")
    run.e2e("recall_at_10") = (recalls.sum / recalls.size, "share")
    run.samples("commit") = commitTimes.size
    run.samples("batch") = batchTimes.size
    if (t.enabled) {
      Layers.families(run, idx)
      Layers.streaming(run, store, b)
    }
  }

  private def frame(rows: Seq[(Long, Array[Float])], deleted: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, if (v == null) null else v.toSeq, deleted) }, 1),
      rowSchema)

  /** Commit one batch and maintain every index family. */
  private def commit(idx: Indexes, store: String, batchId: Long,
      ins: Seq[(Long, Array[Float])], upd: Seq[(Long, Array[Float])],
      del: Seq[Long]): Unit = {
    val fresh = frame(ins ++ upd, deleted = false).select("id", "vec")
    val doomed = frame((del ++ upd.map(_._1)).map(_ -> null), deleted = true).select("id")
    t.span("streaming", "commit", drain = true)(UpsertSink.commit(store,
      frame(ins ++ upd, deleted = false)
        .unionByName(frame(del.map(_ -> null), deleted = true)), batchId))
    // The delete call only plans; the append after it materializes the
    // new version with its lineage cut, so append_s covers both.
    def maintain(fam: String)(delete: => Unit)(append: => Unit): Unit = {
      t.span("operators", s"$fam.delete")(delete)
      t.span("operators", s"$fam.append", drain = true)(append)
    }
    maintain("exact") {
      idx.base = VectorStore.delete(idx.base, "id", doomed)
    } { idx.base = idx.checkpoint(VectorStore.insert(idx.base, fresh)) }
    maintain("ivf") {
      idx.tagged = Ann.deleteFromIvf(idx.tagged, "id", doomed)
    } {
      idx.tagged = idx.checkpoint(
        Ann.appendToIvf(idx.tagged, idx.centroids, fresh, "id", "vec"))
    }
    maintain("ivfpq") {
      idx.ivfpq = IvfPq.deleteFromIndex(idx.ivfpq, "id", doomed)
    } {
      val i = IvfPq.appendToIndex(idx.ivfpq, fresh, "id", "vec")
      idx.ivfpq = i.copy(codes = idx.checkpoint(i.codes))
    }
    maintain("sq8") {
      idx.sqCodes = Sq.deleteFromIndex(idx.sqCodes, "id", doomed)
    } {
      idx.sqCodes = idx.checkpoint(
        Sq.appendToIndex(idx.sqModel, idx.sqCodes, fresh, "id", "vec"))
    }
    maintain("bq") {
      idx.bqCodes = Bq.deleteFromIndex(idx.bqCodes, "id", doomed)
    } {
      idx.bqCodes = idx.checkpoint(
        Bq.appendToIndex(idx.bqModel, idx.bqCodes, fresh, "id", "vec"))
    }
  }

  /** One query batch on the live indexes, with a freshly inserted vector
    * among the queries; returns its seconds.
    */
  private def serve(idx: Indexes, truth: Truth, live: mutable.Map[Long, Array[Float]],
      deleted: mutable.Set[Long], fam: String, fresh: (Long, Array[Float]),
      rnd: scala.util.Random, recalls: mutable.ArrayBuffer[Double]): Double = {
    val size = if (SingleQuery(fam)) SingleBatch else Batch
    val pool = Seq.fill(size - 1)(truth.qids(rnd.nextInt(truth.qids.length))).distinct
    val freshQid = 2_000_000_000L + fresh._1
    val qs = pool.map(id => id -> truth.qvec(id)) :+ (freshQid -> fresh._2)
    val q = Search.queryFrame(spark, qs)
    val t0 = System.nanoTime()
    val got = t.request(s"serve.$fam")(idx.serve(fam, q, qs.map(_._1)))
    val s = (System.nanoTime() - t0) / 1e9
    val ids = live.keys.toArray
    val vecs = ids.map(live)
    qs.foreach { case (qid, qv) =>
      val res = got.getOrElse(qid, Nil)
      val want = Brute.topK(ids, vecs, qv, K)
      run.check(!res.exists(deleted.contains), s"$fam q$qid returned a deleted id: $res")
      if (fam == "exact") {
        run.check(res.size == K && res.zip(want).forall { case (id, (_, d)) =>
          math.abs(Brute.l2(live(id), qv) - d) <= 1e-4 }, s"exact q$qid: $res")
        if (qid == freshQid)
          run.check(res.headOption.contains(fresh._1), s"fresh ${fresh._1} not at rank 1: $res")
      } else {
        val w = want.map(_._1).toSet
        recalls += res.distinct.count(w.contains).toDouble / K
      }
    }
    s
  }
}

object Ingest {
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
}
