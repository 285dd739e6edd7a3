package perfbench

import scala.jdk.CollectionConverters._

import graft.operators.KnnGraph

/** Turns the traced run's spans and charges into per-layer figures. */
object Layers {
  private def spansNamed(run: Run, layer: String, name: String): Seq[Span] =
    run.trace.spans.filter(s => s.layer == layer && s.name == name).toSeq

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** operators.<family>.*: serving cost per call, build, append and
    * delete cost per call.
    */
  def families(run: Run, idx: Indexes): Unit = {
    val t = run.trace
    Indexes.Families.foreach { f =>
      val p = s"operators.$f"
      val calls = spansNamed(run, "operators", f)
      val ch = calls.map(t.inclusive)
      val n = math.max(1, calls.size).toDouble
      run.layers(s"$p.call_s") = (mean(calls.zip(ch).map { case (s, c) =>
        math.max(0.0, s.dur - c.jobWallS) }), "s")
      run.layers(s"$p.jobs") = (ch.map(_.jobs).sum / n, "count")
      run.layers(s"$p.stages") = (ch.map(_.stages).sum / n, "count")
      run.layers(s"$p.tasks") = (ch.map(_.tasks).sum / n, "count")
      run.layers(s"$p.shuffle_bytes") =
        (ch.map(c => c.shuffleRead + c.shuffleWrite).sum / n, "B")
      val hits = run.counters(s"$f.hits")
      run.layers(s"$p.candidates_per_hit") =
        (if (hits == 0) 0.0 else ch.map(_.joinRows).sum.toDouble / hits, "ratio")
      run.layers(s"$p.build_s") = (mean(spansNamed(run, "operators", s"$f.build").map(_.dur)), "s")
      maintenance(run, f)
    }
    val graphCalls = spansNamed(run, "operators", "graph")
    if (graphCalls.nonEmpty && idx.graph != null) {
      val hops = KnnGraph.adaptiveHops(idx.graph.n, Indexes.K)
      run.layers("operators.graph.jobs_per_hop") =
        (graphCalls.map(t.inclusive(_).jobs).sum.toDouble / graphCalls.size / hops, "count")
    }
    val evals = Indexes.Families.flatMap(f => spansNamed(run, "operators", f))
      .map(t.inclusive(_).joinRows).sum
    run.layers("functions.distance_evals") = (evals.toDouble, "count")
  }

  /** append_s / delete_s / append_jobs of one family (ingest). */
  def maintenance(run: Run, f: String): Unit = {
    val t = run.trace
    val app = spansNamed(run, "operators", s"$f.append")
    val del = spansNamed(run, "operators", s"$f.delete")
    run.layers(s"operators.$f.append_s") = (mean(app.map(_.dur)), "s")
    run.layers(s"operators.$f.delete_s") = (mean(del.map(_.dur)), "s")
    run.layers(s"operators.$f.append_jobs") =
      (mean(app.map(s => t.inclusive(s).jobs.toDouble)), "count")
  }

  /** sql.*: parse, plan (analysis + optimisation + planning, from the
    * query-execution tracker) and the execution remainder.
    */
  def sql(run: Run): Unit = {
    val t = run.trace
    val parse = spansNamed(run, "sql", "parse")
    val build = spansNamed(run, "sql", "plan")
    val exec = spansNamed(run, "sql", "exec")
    val planS = (build ++ exec).map(t.inclusive(_).planS).sum
    val n = math.max(1, exec.size).toDouble
    run.layers("sql.parse_s") = (mean(parse.map(_.dur)), "s")
    run.layers("sql.plan_s") = (planS / n, "s")
    run.layers("sql.exec_s") =
      (math.max(0.0, (build ++ exec).map(_.dur).sum - planS) / n, "s")
  }

  /** query.*: per registry query, DataFrame build (and the jobs it
    * submits) split from the action.
    */
  def query(run: Run): Unit = {
    val t = run.trace
    val build = spansNamed(run, "query", "build")
    val action = spansNamed(run, "query", "action")
    val n = math.max(1, build.size).toDouble
    val all = (build ++ action).map(t.inclusive)
    run.layers("query.build_s") = (build.map(_.dur).sum / n, "s")
    run.layers("query.build_jobs") = (build.map(t.inclusive(_).jobs).sum / n, "count")
    run.layers("query.plan_s") = (all.map(_.planS).sum / n, "s")
    run.layers("query.action_s") = (action.map(_.dur).sum / n, "s")
    run.layers("query.jobs") = (all.map(_.jobs).sum / n, "count")
    sources(run, build)
  }

  /** sources.*: table reads inside `spans`, per span. */
  def sources(run: Run, spans: Seq[Span]): Unit = {
    val cs = spans.map(run.trace.inclusive)
    val n = math.max(1, spans.size).toDouble
    run.layers("sources.read_jobs") = (cs.map(_.readJobs).sum / n, "count")
    run.layers("sources.read_s") = (cs.map(_.readS).sum / n, "s")
  }

  /** streaming.*: UpsertSink commits of the churn batches 1..n. */
  def streaming(run: Run, store: String, n: Int): Unit = {
    val commits = spansNamed(run, "streaming", "commit")
    val dirs = (1 to n).map(b => new java.io.File(s"$store/${graft.streaming.UpsertSink.BatchCol}=$b"))
    val files = dirs.map(d => Option(d.listFiles).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0))
    val rows = run.counters("churn.rows").toDouble
    run.layers("streaming.commit_s") = (mean(commits.map(_.dur)), "s")
    run.layers("streaming.bytes_written_per_row") =
      (if (rows == 0) 0.0 else dirs.map(Ingest.bytes).sum / rows, "B")
    run.layers("streaming.files_per_commit") = (files.sum.toDouble / math.max(1, n), "count")
  }

  /** spark.* totals for the whole run and the layer self times. */
  def spark(run: Run): Unit = {
    val t = run.trace
    val cs = t.allCharges.toSeq
    val wall = (System.nanoTime() - run.wallStart) / 1e9
    val iv = t.jobIntervals.asScala.toSeq.sortBy(_._1)
    // union of job intervals: wall time with at least one job running
    var covered = 0.0
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += (curE - curS) / 1e3; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += (curE - curS) / 1e3
    val run_s = cs.map(_.runS).sum
    run.layers("spark.jobs") = (cs.map(_.jobs).sum.toDouble, "count")
    run.layers("spark.tasks") = (cs.map(_.tasks).sum.toDouble, "count")
    run.layers("spark.executor_run_s") = (run_s, "s")
    run.layers("spark.slot_busy_share") = (run_s / (wall * Main.Cpus), "share")
    run.layers("spark.driver_gap_s") = (math.max(0.0, wall - covered), "s")
    run.layers("spark.gc_s") = (cs.map(_.gcS).sum, "s")
    run.layers("spark.shuffle_read_bytes") = (cs.map(_.shuffleRead).sum.toDouble, "B")
    run.layers("spark.shuffle_write_bytes") = (cs.map(_.shuffleWrite).sum.toDouble, "B")
    run.layers("spark.spill_bytes") = (cs.map(_.spill).sum.toDouble, "B")
    run.layers("spark.input_bytes") = (cs.map(_.input).sum.toDouble, "B")
    run.layers("spark.unattributed_jobs") = (t.unattributedJobs.toDouble, "count")
    t.layerSelf.foreach { case (l, s) => run.layers(s"self.$l.s") = (s, "s") }
    run.layers("trace.hook_s") = (t.hookNanos / 1e9, "s")
  }
}
