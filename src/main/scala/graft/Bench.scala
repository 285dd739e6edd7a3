package graft

import scala.util.control.NonFatal

/** Benchmark main. Prints ONE compact JSON summary as the true last
  * stdout line (build.sbt routes forked stdout straight through and
  * suppresses sbt's `[success]` trailer, so the driver's bounded tail
  * parse sees clean JSON); the full per-query map goes to
  * bench_self.json.
  *
  * Noise model this is built for: a shared-JVM local[32] run has
  * sustained GC/JIT phases lasting several queries, so single-shot —
  * and even per-query median-of-3 — numbers swung 5-41x on untouched
  * code between rounds (all reps of a query sit inside the same
  * phase). Timing noise is one-sided (it only inflates), so the run
  * order is walked TWICE, A→Z then Z→A, and each query reports the
  * MIN of its two per-pass medians: a GC phase cannot straddle the
  * same query at both ends of the schedule.
  *
  * `SPARK_GRAFT_QUERIES=a,b` warms and times only the named queries
  * (and only their build/search and streaming splits); such a partial
  * run prints its full line to stdout and writes no bench_self file,
  * so it never overwrites a full run's record.
  */
object Bench {
  /** Seconds rounded to ms so the JSON stays compact enough for the
    * driver's bounded tail capture.
    */
  private def ms3(v: Double): Double = math.round(v * 1000) / 1000.0

  private def warn(what: String, e: Throwable): Unit =
    System.err.println(s"BENCH $what: ${e.getClass.getName}: ${e.getMessage}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 2 reps per pass x 2 passes = 4 timed runs per query, about the
    // same budget as the old 3-rep single pass + its re-samples
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val cpus = Session.cpus
    val spark = Session(cpus)
    // warmup pass at the smallest SF: JIT + codegen caches + parquet
    // footers, so timed numbers reflect steady state, not first-query
    // JVM warmup
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (n, fn) =>
        try fn(spark, warmDir).count()
        catch { case NonFatal(e) => warn(s"WARMUP FAIL $n", e) }
      }
    }
    // drop caches + checkpoint blocks between queries so one query's
    // leftovers (kmeans localCheckpoints, cached code tables) can't
    // inflate a later query's GC time
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // force the per-JVM at-rest artifacts at the BENCH SF before the
    // timed passes (r16, prescribed by the r15 advice + verdict item
    // 7): each build is timed by the AtRest store and reported below
    // as a split `build` entry, so the one-time costs stay on the
    // record instead of skewing the first timed consumer (the
    // min-of-pass-medians estimator was silently dropping them). Artifacts are per-JVM temp dirs built
    // from the parquet inputs — nothing persists across runs.
    SparkEntry.atRestWarm.filter(wanted).foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case NonFatal(e) => warn(s"ATREST WARM FAIL $n", e) }
      cleanup()
    }
    val sfCanon = new java.io.File(sfDir).getCanonicalPath
    val names = SparkEntry.queries.keys.toSeq.filter(wanted).sorted
    // one timed run; None on crash (a crash never poisons other reps
    // or the other pass — ADVICE r7: a re-sample failure used to
    // discard valid measurements)
    def run(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case NonFatal(e) => warn(s"FAIL $name", e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup()
      if (ok) Some(dt) else None
    }
    // lower median: timing noise only inflates, so for even sizes the
    // smaller middle element is the better central estimate
    def median(ts: Seq[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)
    def pass(order: Seq[String]): Map[String, Double] =
      order.flatMap { name =>
        var times = (1 to reps).flatMap(_ => run(name))
        // adaptive re-sample: if the spread within this pass still
        // exceeds 2x, two more reps tighten the median; a failure
        // here keeps the existing reps rather than voiding them
        if (times.size >= 2 && times.max / times.min > 2.0)
          times = times ++ (1 to 2).flatMap(_ => run(name))
        if (times.isEmpty) None else Some(name -> median(times))
      }.toMap
    val passA = pass(names)
    val passB = pass(names.reverse)
    // a query is failed only if BOTH passes produced zero successful
    // runs; otherwise it reports the min of its per-pass medians
    val results: Seq[(String, Double)] = names.map { n =>
      (passA.get(n), passB.get(n)) match {
        case (Some(a), Some(b)) => n -> math.min(a, b)
        case (Some(a), None)    => n -> a
        case (None, Some(b))    => n -> b
        case (None, None)       => n -> -1.0
      }
    }
    // build/search phase split for the trained-index families: build =
    // train + encode + materialize codes (persist+count), search =
    // probe over the materialized frame — the steady-state serving
    // cost an at-rest index pays, with the one-shot training cost
    // reported separately instead of smeared into every round's total
    val splits = SparkEntry.benchSplits.filter(kv => wanted(kv._1)).flatMap { case (name, mk) =>
      try {
        val (build, search) = mk(spark, sfDir)
        val t0 = System.nanoTime()
        val codes = build().persist()
        codes.count()
        val tb = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        search(codes).count()
        val ts = (System.nanoTime() - t1) / 1e9
        codes.unpersist(false)
        cleanup()
        Some(name -> (tb, ts))
      } catch { case NonFatal(e) => warn(s"SPLIT FAIL $name", e); None }
    }
    // streaming machinery split: a real stream's time is dominated by
    // a CONSTANT start→drain harness cost per cycle; measure each
    // harness kind's pass-through constant (min of 3 — noise only
    // inflates) and report operator = raw − cycles×constant. Raw
    // queries/total stay untouched for cross-round comparability.
    val resultMap = results.toMap
    val harness = SparkEntry.streamHarness.filter(kv => wanted(kv._1))
    val wantsFed = harness.values.exists(_._1 == "fed")
    val wantsDirect = harness.values.exists(_._1 == "direct")
    def minOf3(f: () => Double): Double =
      (1 to 3).map(_ => try f() catch { case NonFatal(e) => warn("HARNESS FAIL", e); -1.0 })
        .filter(_ >= 0) match {
          case Nil => -1.0
          case ts  => ts.min
        }
    val hbFed = if (wantsFed)
      minOf3(() => { val v = graft.streaming.EventStream
        .harnessBaselineFed(spark, sfDir); cleanup(); v }) else -1.0
    val hbDirect = if (wantsDirect)
      minOf3(() => { val v = graft.streaming.EventStream
        .harnessBaselineDirect(spark, sfDir); cleanup(); v }) else -1.0
    val streamSplit = harness.toSeq.sorted.flatMap {
      case (n, (kind, cycles)) =>
        val hb = if (kind == "fed") hbFed else hbDirect
        resultMap.get(n).filter(_ >= 0).filter(_ => hb >= 0).map { t =>
          n -> (cycles * hb, math.max(0.0, t - cycles * hb))
        }
    }
    val ss = streamSplit.map { case (k, (h, o)) =>
      "\"" + k + "\":{\"harness\":" + ms3(h) + ",\"operator\":" + ms3(o) + "}"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "-1" else ms3(v).toString) }
      .mkString("{", ",", "}")
    // at-rest artifact build entries for THIS sf dir (keys are
    // canonical-dir-prefixed; strip to the variant tag for the report)
    val atRest = graft.operators.AtRest.buildTimes.toSeq
      .filter(_._1.startsWith(sfCanon + ":")).sortBy(_._1)
      .map { case (k, v) =>
        "\"atrest:" + k.substring(sfCanon.length + 1) + "\":{\"build\":" +
          ms3(v) + "}"
      }
    val sp = (splits.map { case (k, (b, s)) =>
      "\"" + k + "\":{\"build\":" + ms3(b) + ",\"search\":" + ms3(s) + "}"
    } ++ atRest).mkString("{", ",", "}")
    val failedNames = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failed = failedNames.mkString("[", ",", "]")
    // a crashed query must NOT shrink the headline number into a fake
    // speedup: with any failure the total is null + valid:false, so
    // cross-round total comparisons can't silently improve via a crash
    val total =
      if (failedNames.nonEmpty) "null"
      else ms3(results.map(_._2).filter(_ >= 0).sum).toString
    val valid = failedNames.isEmpty
    // per-pass medians kept alongside, so a consumer can audit how
    // much position noise the min folded away
    val pm = names.flatMap { n =>
      val a = passA.get(n); val b = passB.get(n)
      if (a.isEmpty && b.isEmpty) None
      else Some("\"" + n + "\":[" + a.map(ms3).getOrElse(-1.0) + "," +
        b.map(ms3).getOrElse(-1.0) + "]")
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","valid":$valid,"reps":$reps,"passes":2,"estimator":"min_of_pass_medians","queries":$qs,"pass_medians":$pm,"split":$sp,"stream_split":$ss,"harness_per_drain":{"fed":${ms3(hbFed)},"direct":${ms3(hbDirect)}},"failed":$failed,"sf":"$sfDir"}"""
    // the driver keeps only the LAST ~2000 chars of stdout; the full
    // per-query map doesn't fit, so the full line goes to a file and a
    // short summary (total + slowest queries — what a regression check
    // cares about) is printed as the final stdout line, after
    // spark.stop() so no Spark console chatter can land behind it
    // bench_self.json keeps its historical name for existing readers;
    // bench_self_c${cpus}.json additionally keeps each CPU count's
    // full map so a later lower-core run can't overwrite the 32-core
    // per-query data (r15 verdict item 2: per-query round-over-round
    // and scaling ratios need both files to survive)
    if (only.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_self.json"),
        (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_self_c$cpus.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) => warn("bench_self write failed", e) }
    // slowest list ranks by OPERATOR time (streaming machinery
    // constants split out — full raw map + stream_split are in
    // bench_self.json): a regression check cares about operator cost,
    // and un-split stream start/drain constants would otherwise bury
    // every real entry
    val splitMap = streamSplit.toMap
    val slow = results.filter(_._2 >= 0)
      .map { case (k, v) => k -> splitMap.get(k).map(_._2).getOrElse(v) }
      .sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    spark.stop()
    if (only.nonEmpty) println(line)
    else println(s"""{"metric":"total","value":$total,"unit":"sec","valid":$valid,"reps":$reps,"passes":2,"n_queries":${results.size},"slowest_operator":$slow,"harness_per_drain":{"fed":${ms3(hbFed)},"direct":${ms3(hbDirect)}},"failed":$failed,"sf":"$sfDir"}""")
  }
}
