package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions}
import graft.operators.KnnGraph

/** The graph walk as a Catalyst plan: every hop one DataFrame join,
  * aggregate and lazy `localCheckpoint`, the form `KnnGraph` served
  * its graph with before the `graph_walk` kernel. GraphWalkSpec checks
  * the kernel against it hop by hop. Each function takes the arguments
  * of its `KnnGraph` namesake.
  */
object GraphReference {

  private def dE4(a: Column, b: Column): Column =
    round(VectorFunctions.vec_l2(a, b) * 1e4).cast("bigint")

  private def budgets(n: Long, beam: Int, hops: Int, degree: Int): (Int, Int) =
    (if (beam == KnnGraph.Adaptive) KnnGraph.adaptiveBeam(n) else beam,
      if (hops == KnnGraph.Adaptive) KnnGraph.adaptiveHops(n, degree) else hops)

  /** LSH-bucket-mate ∪ id-ring entry points; `q` exposes (qid, qbucket). */
  def lshRingSeeds(q: DataFrame, vecs: DataFrame, n: Long, ringSeeds: Int): DataFrame = {
    val ring = q.select(col("qid"), explode(sequence(lit(1), lit(ringSeeds))).as("d"))
      .select(col("qid"),
        explode(array(pmod(col("qid") + col("d"), lit(n)),
          pmod(col("qid") - col("d"), lit(n)))).as("node"))
    val mates = q.select(col("qid"), col("qbucket"))
      .join(vecs.select(col("id").as("node"), col("bucket")),
        col("qbucket") === col("bucket"))
      .select(col("qid"), col("node"))
    ring.unionByName(mates).where(col("qid") =!= col("node")).distinct()
  }

  /** Each query's top-`s` members of the id-mod level, by a nested-loop
    * join of the level against the query set.
    */
  def routedSeeds(vecs: DataFrame, q: DataFrame, n: Long, s: Int = 8): DataFrame = {
    val level = vecs.where(pmod(col("id"), lit(KnnGraph.levelMod(n))) === 0)
      .select(col("id").as("node"), col("v").as("nv"))
    level.join(q.select(col("qid"), col("qv")), col("node") =!= col("qid"))
      .select(col("qid"), col("node"), dE4(col("nv"), col("qv")).as("d"))
      .groupBy(col("qid"))
      .agg(TopKAgg.topk_pairs(col("d").cast("double"), col("node"), s).as("tk"))
      .select(col("qid"), explode(col("tk")).as("pair"))
      .select(col("qid"), col("pair.id").as("node"))
  }

  /** One frontier expansion through the out-edges: a join on src. */
  def expandFrontier(frontier: DataFrame, edges: DataFrame): DataFrame =
    frontier.join(edges.select(col("src"), col("dst")), col("node") === col("src"))
      .select(col("qid"), col("dst").as("node"))

  /** Score the seeds, then `hops` expand/re-score/top-beam rounds. `q`
    * exposes (qid, qv); `scorer` maps (qid, node) candidates to (qid,
    * node, d_e4) (None: exact integer-e4 l2 against `vecs`) and gets
    * distinct candidates; `scoredOut` receives each hop's scored set.
    */
  def beamCore(graph: DataFrame, vecs: DataFrame, q: DataFrame,
      seeds: DataFrame, beam: Int, hops: Int,
      scorer: Option[DataFrame => DataFrame] = None,
      scoredOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None): Seq[DataFrame] = {
    val score: DataFrame => DataFrame = scorer.getOrElse(cands =>
      cands
        .join(vecs.select(col("id").as("node"), col("v").as("nv")), Seq("node"))
        .join(q.select(col("qid"), col("qv")), Seq("qid"))
        .select(col("qid"), col("node"), dE4(col("nv"), col("qv")).as("d_e4")))
    def scoreBeam(cands: DataFrame): DataFrame = {
      var sc = score(cands)
      scoredOut.foreach { buf => sc = sc.localCheckpoint(false); buf += sc }
      sc.groupBy(col("qid"))
        .agg(TopKAgg.topk_pairs(col("d_e4").cast("double"), col("node"), beam).as("tk"))
        .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "pair")))
        .select(col("qid"), col("pair.id").as("node"),
          col("pair.dist").cast("bigint").as("d_e4"),
          (col("pos") + 1).cast("int").as("rank"))
    }
    val out = Seq.newBuilder[DataFrame]
    var state = scoreBeam(seeds).localCheckpoint(false)
    out += state
    for (_ <- 1 to hops) {
      val frontier = state.select(col("qid"), col("node"))
      val cands0 = frontier.unionByName(expandFrontier(frontier, graph))
        .where(col("qid") =!= col("node"))
      val cands = if (scorer.nonEmpty) cands0.distinct() else cands0
      state = scoreBeam(cands).localCheckpoint(false)
      out += state
    }
    out.result()
  }

  def beamSearchRounds(graph: DataFrame, vecs: DataFrame, queries: DataFrame,
      n: Long, beam: Int = KnnGraph.Adaptive, hops: Int = KnnGraph.Adaptive,
      ringSeeds: Int = 4, degree: Int = 8): Seq[DataFrame] = {
    val (bw, nHops) = budgets(n, beam, hops, degree)
    val q = broadcast(queries.select(col("qid"), col("qv"), col("qbucket"))
      .localCheckpoint(false))
    beamCore(graph, vecs, q, lshRingSeeds(q, vecs, n, ringSeeds), bw, nHops)
  }

  def layeredSearchRounds(graph: DataFrame, vecs: DataFrame, queries: DataFrame,
      n: Long, beam: Int = KnnGraph.Adaptive, hops: Int = KnnGraph.Adaptive,
      seedK: Int = 8, degree: Int = 8): Seq[DataFrame] = {
    val (bw, nHops) = budgets(n, beam, hops, degree)
    val q = broadcast(queries.select(col("qid"), col("qv")).localCheckpoint(false))
    beamCore(graph, vecs, q, routedSeeds(vecs, q, n, seedK), bw, nHops)
  }

  def beamSearchRoundsAdc(graph: DataFrame, vecs: DataFrame, queries: DataFrame,
      n: Long, codes: DataFrame, lut: DataFrame, beam: Int = KnnGraph.Adaptive,
      hops: Int = KnnGraph.Adaptive, ringSeeds: Int = 4, degree: Int = 8,
      scoredOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None): Seq[DataFrame] = {
    val (bw, nHops) = budgets(n, beam, hops, degree)
    val q = broadcast(queries.select(col("qid"), col("qv"), col("qbucket"))
      .localCheckpoint(false))
    val blut = broadcast(lut.localCheckpoint(false))
    val adcScore: DataFrame => DataFrame = cands =>
      cands
        .join(codes.select(col("node"), col("grp"), col("code")), Seq("node"))
        .join(blut, Seq("qid", "grp", "code"))
        .groupBy(col("qid"), col("node"))
        .agg(sum(col("sd")).as("d_e4"))
    beamCore(graph, vecs, q, lshRingSeeds(q, vecs, n, ringSeeds), bw, nHops,
      Some(adcScore), scoredOut)
  }

  def filteredBeamSearch(graph: DataFrame, vecs: DataFrame, queries: DataFrame,
      n: Long, allowed: DataFrame, k: Int = 8, beam: Int = KnnGraph.Adaptive,
      hops: Int = KnnGraph.Adaptive, ringSeeds: Int = 4, degree: Int = 8): DataFrame = {
    val (bw, nHops) = budgets(n, beam, hops, degree)
    val q = broadcast(queries.select(col("qid"), col("qv"), col("qbucket"))
      .localCheckpoint(false))
    val scored = scala.collection.mutable.Buffer[DataFrame]()
    beamCore(graph, vecs, q, lshRingSeeds(q, vecs, n, ringSeeds), bw, nHops,
      scoredOut = Some(scored))
    scored.toSeq.map(_.select(col("qid"), col("node"), col("d_e4")))
      .reduce(_.unionByName(_)).distinct()
      .join(allowed.select(col("id").as("node")), Seq("node"), "left_semi")
      .groupBy(col("qid"))
      .agg(TopKAgg.topk_pairs(col("d_e4").cast("double"), col("node"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "pair")))
      .select(col("qid"), col("pair.id").as("node"),
        col("pair.dist").cast("bigint").as("d_e4"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** `KnnGraph.appendBatch`'s probe: each new vector's top-`degree`
    * base neighbors as (src, dst, d_e4).
    */
  def appendProbe(build: KnnGraph.Build, batch: DataFrame, degree: Int): DataFrame =
    beamSearchRounds(build.rounds.last, build.vecs, batch, build.n).last
      .where(col("rank") <= degree)
      .select(col("qid").as("src"), col("node").as("dst"), col("d_e4"))
}
