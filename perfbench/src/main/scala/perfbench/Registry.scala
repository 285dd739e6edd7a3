package perfbench

import graft.SparkEntry

/** Requests against graft's query registry (`SparkEntry.queries`) over
  * the generated `embeddings` table. Each query's DataFrame is built,
  * then forced through the noop sink; nothing is cached across queries.
  * In the warm-up each query's result is saved instead, with its DuckDB
  * oracle (`SparkEntry.oracleSql`), for the check in `oracle.py`.
  */
final class Registry(run: Run) {
  private val t = run.trace
  private var step = 0
  val times = scala.collection.mutable.ArrayBuffer[Double]()

  /** Seeded order of one walk over the queries. */
  private lazy val order = new scala.util.Random(run.seed).shuffle(Registry.Names)
  new java.io.File(s"${run.out}/oracle").mkdirs()

  /** Run the next query. During the warm-up its result is written out
    * for the oracle check instead of to the noop sink.
    */
  def next(warmUp: Boolean): Unit = {
    val name = order(step % order.size)
    step += 1
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    t.request(name) {
      val df = t.span("query", "build")(fn(run.spark, run.data))
      t.span("query", "action", drain = true) {
        if (warmUp) save(name, df) else run.noop(df)
      }
    }
    times += (System.nanoTime() - t0) / 1e9
  }

  private def save(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"${run.out}/oracle/$name.parquet")
    val w = new java.io.PrintWriter(s"${run.out}/oracle/$name.sql")
    try w.print(SparkEntry.oracleSql(name)) finally w.close()
  }

  def finish(): Unit = {
    run.e2e("registry_p50_s") = (Stats.median(times.toSeq), "s")
    if (t.enabled) Layers.query(run)
  }
}

object Registry {
  /** Registry queries that read only `embeddings`: exact top-k, filtered
    * and sub-query top-k, a batch kNN join, a scan and a projection.
    */
  val Names = Seq("knn_cosine", "knn_filtered", "knn_subquery", "knn_join",
    "vector_scan", "vector_normalize")
}
