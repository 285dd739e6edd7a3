package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Entry point of one benchmark run. `run.py` generates the inputs,
  * starts this main and turns the report it writes into the result
  * line:
  *
  *   perfbench.Main <workload> <dataDir> <seed> <seconds> <trace 0|1> <outDir>
  *
  * The report is one JSON object: operation counts, failures, the
  * workload's raw end-to-end figures and, when traced, the per-layer
  * figures.
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, data, seedS, secondsS, traceS, out) = args
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traceS == "1")
    val run = new Run(spark, trace, data, seedS.toLong, secondsS.toDouble, out)
    try {
      workload match {
        case "search" => new Search(run).run()
        case "ingest" => new Ingest(run).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      trace.close()
      run.finish()
    } finally spark.stop()
  }
}

/** Shared state of one run: checks, raw samples and the report. */
final class Run(val spark: SparkSession, val trace: Trace, val data: String,
    val seed: Long, val seconds: Double, val out: String) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** End-to-end figures, each with its unit. */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer figures (traced run only), each with its unit. */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** Sample counts behind the tail percentiles. */
  val samples = mutable.LinkedHashMap[String, Long]()
  /** Named operation counters, e.g. rows returned per family. */
  val counters = mutable.Map[String, Long]().withDefaultValue(0L)
  val wallStart = System.nanoTime()
  /** Seconds worth printing beside the metrics: each set-up, the
    * moments the run's phases ended (`*_at`), per-family medians.
    */
  val details = mutable.LinkedHashMap[String, Double]()
  def mark(name: String): Unit = details(name) = (System.nanoTime() - wallStart) / 1e9

  def fail(what: String): Unit = failures += what

  /** Check one operation: count it, and record a failure when false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Run the set-up `Run.Setups` times, report the median and keep the
    * last result (earlier ones are closed first).
    */
  def setup[T](body: => T): T = {
    val times = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    for (_ <- 0 until Run.Setups) {
      last.foreach {
        case c: AutoCloseable => c.close()
        case _ =>
      }
      System.gc()
      val t0 = System.nanoTime()
      last = Some(body)
      times += (System.nanoTime() - t0) / 1e9
    }
    e2e("setup_s") = (Stats.median(times.toSeq), "s")
    details ++= times.zipWithIndex.map { case (x, i) => s"setup$i" -> x }
    last.get
  }

  /** Force a DataFrame the way a consumer that keeps its result would:
    * every column of every row is computed and written to the noop
    * sink (never `count()`, which lets Catalyst prune the projection).
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def finish(): Unit = {
    // memory Spark holds for cached and checkpointed blocks at the end
    if (trace.enabled) layers("spark.cache_mb") =
      (spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, "MB")
    if (trace.enabled) {
      Layers.spark(this)
      trace.writeSpans(s"$out/spans.jsonl")
    }
    val w = new java.io.PrintWriter(s"$out/report.json")
    try w.print(Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toSeq,
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toSeq,
      "samples" -> samples.toSeq,
      "details" -> details.toSeq,
      "wall_s" -> (System.nanoTime() - wallStart) / 1e9)))
    finally w.close()
  }
}

object Run {
  /** Set-ups per run: a cold and a warm JVM. A third would cost about
    * 10 s of every run.
    */
  val Setups = 2
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile that still has at least ten samples beyond
    * it: the tail the sample can actually support.
    */
  def tail(xs: Seq[Double]): Double =
    quantile(xs, math.max(0.5, math.min(0.9, 1.0 - 10.0 / xs.size)))
}

/** Minimal JSON writer for the report. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      obj(s.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Plain-Scala vector helpers for the output checks: independent of
  * every Spark and graft code path.
  */
object Brute {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Exact top-k ids by (distance, id) over `ids`/`vecs`. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float],
      k: Int): Array[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < ids.length) {
      val d = l2(vecs(i), q)
      if (heap.size < k) heap.enqueue((d, ids(i)))
      else if (d < heap.head._1 || (d == heap.head._1 && ids(i) < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d, ids(i)))
      }
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(p => (p._2, p._1)).toArray
  }

  def vec(r: Row, i: Int): Array[Float] = r.getSeq[Float](i).toArray
}
