package perfbench

import org.apache.spark.sql.functions._

import graft.functions.{TopKBuffer, VectorFunctions}
import graft.operators.{Bq, Pq, Sq}

/** Kernel probes of the traced run: graft's public distance, top-k and
  * code functions called from outside on the set-up indexes. They report
  * operation counts and the bytes those operations read by
  * construction (vector or code width × evaluations); no hardware
  * counters, as this is a CPU run.
  */
object Probes {
  val Queries = 4
  /** PQ's public ADC search takes one query per call. */
  val PqQueries = 2

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(run: Run, idx: Indexes): Unit = {
    val t = run.trace
    val n = idx.base.count()
    val q = idx.base.where(col("id") < Queries)
      .select(col("vec").as("qvec"))
    val dim = Indexes.Dim

    // four distance columns per (row, query) pair
    val dS = t.span("functions", "distances", drain = true) {
      timed(run.noop(idx.base.crossJoin(broadcast(q)).select(
        VectorFunctions.vec_l2(col("vec"), col("qvec")),
        VectorFunctions.vec_cosine(col("vec"), col("qvec")),
        VectorFunctions.vec_dot(col("vec"), col("qvec")),
        VectorFunctions.vec_l1(col("vec"), col("qvec")))))
    }
    val dEvals = n * Queries * 4

    // a recorded distance stream: one buffer per chunk, then merged
    val stream = idx.base.where(col("id") % 4 === 0)
      .crossJoin(broadcast(q.limit(1)))
      .select(col("id"), VectorFunctions.vec_l2(col("vec"), col("qvec")))
      .collect().map(r => (r.getDouble(1), r.getLong(0)))
    val reps = 20
    val kS = t.span("functions", "topk") {
      timed {
        for (_ <- 0 until reps) {
          val parts = stream.grouped(4096).map { chunk =>
            val b = new TopKBuffer(Indexes.K)
            chunk.foreach { case (d, id) => b.add(d, id) }
            b
          }.toSeq
          parts.reduce { (a, b) => a.merge(b); a }.sorted
        }
      }
    }
    val kOps = stream.length.toLong * reps

    val qc = q.select(col("qvec"),
      Bq.bq_encode(idx.bqModel, col("qvec")).as("qcode"))
    val cS = t.span("functions", "codes", drain = true) {
      timed {
        run.noop(idx.sqCodes.crossJoin(broadcast(qc))
          .select(Sq.sq8_l2(idx.sqModel, col("codes"), col("qvec"))))
        run.noop(idx.bqCodes.crossJoin(broadcast(qc))
          .select(Bq.hamming(col("code"), col("qcode"))))
        for (i <- 0 until PqQueries)
          Pq.searchAdcJoin(idx.ivfpq.model, idx.ivfpq.codes,
            idx.base.where(col("id") === i).select(col("vec").as("qvec")),
            "id", Indexes.K).collect()
      }
    }
    val cEvals = (2 * Queries + PqQueries) * n
    val m = idx.ivfpq.model.m
    run.layers("functions.distance_evals_per_s") = (dEvals / dS, "1/s")
    run.layers("functions.topk_adds_per_s") = (kOps / kS, "1/s")
    run.layers("functions.code_evals_per_s") = (cEvals / cS, "1/s")
    run.layers("functions.bytes_scanned") = ((dEvals * dim * 4 +
      n * (Queries * (dim * 4 + 8) + PqQueries * m * 4)).toDouble, "B")
  }
}
