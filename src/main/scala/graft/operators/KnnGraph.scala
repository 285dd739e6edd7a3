package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{GraphWalk, TopKAgg, VectorFunctions, WalkSpec}
import graft.sources.VectorStore

/** Batch NN-descent k-NN-graph build (Dong et al., WWW'11) — the
  * Spark-native analog of HNSW's graph layer (hnsw.go:75-524): where
  * HNSW inserts points one at a time into an in-memory multi-layer
  * graph, NN-descent refines a whole at-rest corpus's neighbor lists
  * by the observation that a neighbor of a neighbor is likely a
  * neighbor. Every step is a keyed join/aggregate, so the build is
  * embarrassingly data-parallel — the form a 1000-executor cluster
  * wants.
  *
  * Deterministic by construction (unrolled-CTE-replayable, the
  * kmeansCtes discipline):
  *   - init: the union of (a) a ring over the DENSE id space — node
  *     i seeds (i ± d) mod n for d = 1..k/2, pure map-side
  *     arithmetic from the count(*)-derived n — and (b) LSH-bucket
  *     adjacency: the 8-plane lsh_signature buckets the corpus, and
  *     each node seeds its ±k/2 rank-neighbors WITHIN its bucket
  *     (rank = id order, an equi-join on (bucket, rank±d) — linear,
  *     never a per-bucket cross product). The ring guarantees every
  *     node k candidates; the LSH seeds put genuinely-near vectors
  *     in round 0, which is what lets a FIXED small round count
  *     converge (pure random/ring init needs O(log n) rounds);
  *   - round: candidates(v) = u(v) ∪ (u ∘ u)(v) where u = N ∪ N⁻¹ is
  *     the symmetrized current graph — neighbors and
  *     neighbors-of-neighbors in BOTH directions, the NN-descent
  *     "local join" as two equi-joins;
  *   - keep: top-k per node by (d_e4, id) where d_e4 =
  *     round(l2 · 1e4) as BIGINT — INTEGER ranking end to end, so no
  *     float tie can ever pick different neighbors across engines or
  *     partition orders. TopKPairs folds the cut map-side.
  *
  * Scale shape: per round each node contributes ≤ 2k first-hop and
  * ≤ 4k² second-hop candidates — work is O(n·k²) distances keyed by
  * node, INDEPENDENT of corpus diameter, and every join is on the
  * node id (AQE-sizeable shuffles, no broadcast of anything
  * corpus-sized). localCheckpoint truncates the per-round lineage the
  * way the Lloyd's-iteration operators do.
  *
  * ROUND COUNT is the log-n term and defaults to count(*)-derived:
  * `iters = clamp(ceil(log2 n) - 7, 2, 10)` ([[adaptiveIters]]) — one
  * extra round per corpus doubling, so graph quality no longer decays
  * as the corpus grows (the fixed-round failure mode: at 4 rounds,
  * recall@8 fell 0.635 → 0.265 as n went 500 → 2000). The count is
  * known before the loop unrolls, so the build stays deterministic
  * and unrolled-CTE-replayable. Callers that want high recall should
  * also BUILD WIDE: neighbor lists of 2k cut to k at the end
  * (measured sweep on the isotropic 64-dim corpus: width 2k lifts
  * recall@8 from 0.345 → 0.770 at n=500/2 rounds and 0.265 → 0.798
  * at n=2000/4 rounds — the wider neighbor-of-neighbor pool is worth
  * far more than extra rounds at width k).
  *
  * Requires ids dense in [0, n): the ring init is arithmetic on the
  * id itself. (Re-key with a one-off rank if a corpus isn't dense —
  * cheaper than carrying a rank join through every round.)
  */
object KnnGraph {

  /** Sentinel: derive the round count from count(*) at build time. */
  val Adaptive: Int = -1

  /** ceil(log2 n) for n >= 2 (exact integer arithmetic — no float
    * log whose rounding could disagree with a SQL replay on exact
    * powers of two).
    */
  def ceilLog2(n: Long): Int =
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)

  /** Count-derived NN-descent round count: one round per corpus
    * doubling past 2^7, floored at 2 (small corpora converge in two)
    * and capped (past the cap, per-round cost O(n·k²) is the budget
    * and recall decays gracefully — the honest PERF.md regime note).
    */
  def adaptiveIters(n: Long, cap: Int = 10): Int =
    math.min(cap, math.max(2, ceilLog2(n) - 7))

  private def dE4(a: Column, b: Column): Column =
    round(VectorFunctions.vec_l2(a, b) * 1e4).cast("bigint")

  /** The symmetrized edge set N ∪ N⁻¹ of `edges` (src, dst). */
  private def sym(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Score candidate pairs and keep each node's k best by (d_e4, id).
    * Returns (src, dst, d_e4, rank) with rank 1..k ascending.
    */
  private def topK(cands: DataFrame, vecs: DataFrame, k: Int): DataFrame =
    cands
      .join(vecs.select(col("id").as("src"), col("v").as("sv")), Seq("src"))
      .join(vecs.select(col("id").as("dst"), col("v").as("dv")), Seq("dst"))
      .select(col("src"), col("dst"), dE4(col("sv"), col("dv")).as("d_e4"))
      .groupBy(col("src"))
      .agg(TopKAgg.topk_pairs(col("d_e4").cast("double"), col("dst"), k)
        .as("tk"))
      .select(col("src"), posexplode(col("tk")).as(Seq("pos", "pair")))
      .select(col("src"), col("pair.id").as("dst"),
        col("pair.dist").cast("bigint").as("d_e4"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Everything a caller needs after a build: the per-round graphs,
    * the checkpointed (id, v, bucket) vector frame and the corpus
    * count — exposed so downstream audits (recall vs exact, stats)
    * reuse the cast + count instead of re-scanning the table.
    */
  final case class Build(rounds: Seq[DataFrame], vecs: DataFrame, n: Long)

  /** The graph after EVERY round: element 0 is the scored ring init,
    * element r the state after round r. `df` must expose dense ids in
    * [0, n). Each element is (src, dst, d_e4, rank), rank 1..k.
    * `iters =` [[Adaptive]] (default) derives the round count from
    * count(*) via [[adaptiveIters]].
    */
  def nnDescentRounds(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = Adaptive, initPlanes: Int = 8): Seq[DataFrame] =
    nnDescentBuild(df, idCol, vecCol, k, iters, initPlanes).rounds

  /** [[nnDescentRounds]] plus the reusable vecs frame and count. */
  def nnDescentBuild(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = Adaptive, initPlanes: Int = 8): Build = {
    require(k >= 2 && k % 2 == 0, s"ring init needs even k >= 2, got $k")
    require(iters >= 0 || iters == Adaptive,
      s"iters must be >= 0 or KnnGraph.Adaptive, got $iters")
    // checkpointed once: every round joins vecs twice, and the
    // signature + cast should not be recomputed per stage
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), _.cast("double")).as("v"),
      Ann.lshSignature(col(vecCol), initPlanes).as("bucket"))
      .localCheckpoint(true)
    val n = vecs.count()
    val nRounds = if (iters == Adaptive) adaptiveIters(n) else iters
    val ring = vecs.select(col("id").as("src"),
        explode(sequence(lit(1), lit(k / 2))).as("d"))
      .select(col("src"),
        explode(array(pmod(col("src") + col("d"), lit(n)),
          pmod(col("src") - col("d"), lit(n)))).as("dst"))
      .where(col("src") =!= col("dst"))
    val offs = (1 to k / 2).flatMap(d => Seq(d, -d))
    val br = vecs.select(col("id"), col("bucket"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket")).orderBy(col("id"))))
    val lshAdj = br
      .select(col("bucket"), col("id").as("src"),
        explode(lit(offs.toArray)).as("off"), col("rk"))
      .select(col("bucket"), col("src"), (col("rk") + col("off")).as("rk2"))
      .join(br.select(col("bucket"), col("rk").as("rk2"),
        col("id").as("dst")), Seq("bucket", "rk2"))
      .select(col("src"), col("dst"))
    // the round loop KEEPS its candidate `.distinct()`: the O(n·k²)
    // two-hop frame has a ~4-5x duplicate factor, and topK joins the
    // candidate frame against vecs TWICE (by src, then dst) before
    // the aggregate can dedup — distinct-first shrinks both keyed
    // join exchanges more than its own exchange costs (measured:
    // dropping it moved the sf0.1 build 5.4 -> 7.4 s; the TopKBuffer
    // distinct-id contract makes it semantically optional; the
    // touched-node refine drops it — see refineTouched)
    val init = ring.unionByName(lshAdj).distinct()
    val out = Seq.newBuilder[DataFrame]
    var edges = topK(init, vecs, k).localCheckpoint(true)
    out += edges
    for (_ <- 1 to nRounds) {
      val u = sym(edges)
      val hop = u.as("a")
        .join(u.select(col("src").as("mid"), col("dst").as("far")).as("b"),
          col("a.dst") === col("b.mid"))
        .select(col("a.src").as("src"), col("far").as("dst"))
      val cands = u.unionByName(hop)
        .where(col("src") =!= col("dst")).distinct()
      edges = topK(cands, vecs, k).localCheckpoint(true)
      out += edges
    }
    Build(out.result(), vecs, n)
  }

  /** Final k-NN graph after `iters` NN-descent rounds. */
  def nnDescent(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = Adaptive): DataFrame =
    nnDescentRounds(df, idCol, vecCol, k, iters).last

  /** Count-derived beam-search hop budget: a k-NN graph's diameter is
    * ~log_k n, so `hops = clamp(ceil(log2 n / log2 k), 2, 6)` — enough
    * hops to cross the graph from any seed, capped (past the cap,
    * raise the beam width instead: wider beams re-use the same number
    * of join stages).
    */
  def adaptiveHops(n: Long, k: Int, cap: Int = 6): Int = {
    val logK = math.max(1, 31 - Integer.numberOfLeadingZeros(k))
    math.min(cap, math.max(2, (ceilLog2(n) + logK - 1) / logK))
  }

  /** Count-derived beam width (HNSW's ef): `clamp(3·⌈log₂ n⌉, 16,
    * 64)` — the ef ~ log n scaling the HNSW paper (Malkov &
    * Yashunin) prescribes for stable recall as the corpus grows.
    * Measured on the isotropic 64-dim corpus, degree-16 serving:
    * recall@8 0.978 at n=500 (beam 27) / 0.898 at n=2000 (beam 33),
    * vs 0.923 → 0.720 at a FIXED beam 16 over the same growth.
    */
  def adaptiveBeam(n: Long, cap: Int = 64): Int =
    math.min(cap, math.max(16, 3 * ceilLog2(n)))

  /** Batch greedy beam search over a built k-NN graph — the
    * hnsw.go:439-524 `Search` analog. HNSW walks one query at a time
    * from an entry point in memory; here every query row of the set
    * walks the whole graph inside the task that holds it, through one
    * kernel, `graph_walk` ([[graft.functions.GraphWalk]]).
    *
    * State after each hop is each query's current top-`beam`
    * candidates by (d_e4, id). Hop step: expand every beam node
    * through its out-edges, union the previous beam (greedy
    * best-first with the beam as the priority queue), re-score with
    * EXACT integer e4 distances, keep top-beam. Seeds are the
    * query's LSH-bucket mates (the routed entry point — same planes
    * as the build init) unioned with its id-ring neighbors (the
    * always-nonempty fallback for singleton buckets, mirroring the
    * build's init). Deterministic end to end: integer distances,
    * ties by id, hop count count(*)-derived ([[adaptiveHops]]) so
    * the whole search is unrolled-CTE-replayable.
    *
    * Scale shape: the served graph must fit in a task. Its `vecs` and
    * edge frames are scalar subqueries, each read once per action in
    * one task and parsed once per task; no job runs while the
    * DataFrame is built. Each query does O(hops·beam·degree) distance
    * work in the task of its row, so the query set is never collected
    * or broadcast and may span any number of partitions. One action
    * over a one-partition query frame is 3 jobs (the two blocks and
    * the walk), whatever the hop count.
    *
    * Degenerate input: a null query vector or qid gives no rows, a NaN
    * element raises (Spark's ANSI `CAST_OVERFLOW` of the NaN
    * distance), an empty query frame gives no rows. Query rows sharing
    * a qid each walk on their own.
    *
    * @param graph  (src, dst) edge frame — the built graph, cut to
    *               the serving degree
    * @param vecs   (id, v, bucket) — [[Build.vecs]]
    * @param queries (qid, qv, qbucket) — qid need NOT exist in the
    *               graph (external queries hash to qbucket with the
    *               build's planes); corpus-internal queries are
    *               excluded from their own result set
    * @param n      corpus count ([[Build.n]]) for the ring fallback
    * @return state after every hop: element 0 the scored seeds,
    *         element h the beam after hop h — (qid, node, d_e4,
    *         rank), rank 1..beam; cut the last to rank ≤ k to serve
    */
  def beamSearchRounds(graph: DataFrame, vecs: DataFrame,
      queries: DataFrame, n: Long, beam: Int = Adaptive,
      hops: Int = Adaptive, ringSeeds: Int = 4,
      degree: Int = 8): Seq[DataFrame] = {
    requireBudgets(beam, hops)
    val (bw, nHops) = budgets(n, beam, hops, degree)
    perHop(walk(Some(graph), vecs,
      queries.select(col("qid"), col("qv"), col("qbucket")), n, bw, nHops,
      ringSeeds, None, None, evaluated = false), nHops, "node", "d_e4", "rank")
  }

  /** The coarse-routing level mod: members are ids ≡ 0 (mod
    * 2^⌈⌈log₂n⌉/2⌉), so the level holds ~√n nodes — the two-level
    * optimum (level scan ~√n + beam descent, the IVF-√k/HNSW-upper-
    * layer balance point). Integer-exact from [[ceilLog2]], so the
    * DuckDB replay derives the same mod from count(*).
    */
  def levelMod(n: Long): Long = 1L << ((ceilLog2(n) + 1) / 2)

  /** At-rest edge-shard shift: shard(src) = src >> (⌈log₂n⌉/2), so
    * each shard covers a contiguous power-of-two id range of ~√n ids
    * and the index holds ~√n shards (~30k dirs at n = 10¹⁰).
    * Count-derived and integer-exact, so [[edgeShard]] reproduces the
    * write-time value from the params count alone. Results are
    * unaffected (shard is implied by src); only the layout changes —
    * the Ann.writeIndex partitionBy(cluster) discipline.
    */
  def edgeShardShift(n: Long): Int = ceilLog2(n) / 2

  /** The at-rest shard of node id `id` for a corpus of `n`: the
    * directory of its out-edges, so a reader of a node range reads
    * only that range's directories. Serving reads every shard once
    * per action (the served graph fits in a task).
    */
  def edgeShard(id: Column, n: Long): Column =
    shiftright(id, edgeShardShift(n))

  /** Hierarchical routed entry points — the HNSW upper-LAYER descend
    * (hnsw.go:439's outer loop walks levels down to 0; batch form:
    * ONE coarse level of ~√n nodes, the id-mod sample [[levelMod]],
    * scanned exactly per query). Each query takes its top-`s` level
    * members by exact integer-e4 distance (ties by id) as seeds for
    * the base-graph beam descent — replacing the LSH-bucket entry
    * with a GUARANTEED-near one: the nearest level member is a true
    * distance minimizer over √n anchors, where an LSH bucket is only
    * probably near (and can be empty of close mates on isotropic
    * data). The level scan is `graph_walk`'s routed seed rule, |Q|·√n
    * distances in the tasks of the query rows; the level is
    * corpus-derived (no training step, no stored model beyond the
    * mod). Returns (qid, node).
    */
  def routedSeeds(vecs: DataFrame, q: DataFrame, n: Long,
      s: Int = 8, maxQueries: Long = 65536L): DataFrame = {
    // CONTRACT: the routing scan is |Q|*sqrt(n) distances by design,
    // for micro-batch-sized query sets. Probe the query frame and fail
    // loudly past `maxQueries`; limit(max+1) keeps the guard itself
    // O(maxQueries) — a plain count() would pay one full corpus pass
    // on exactly the corpus-sized-Q case it rejects.
    val nq = q.limit(math.min(maxQueries, Int.MaxValue - 1L).toInt + 1)
      .count()
    require(nq <= maxQueries,
      s"routedSeeds query set has > $maxQueries rows: the " +
        "coarse-level routing scan is |Q|*sqrt(n) by design and only " +
        "contracts for micro-batch-sized query sets — chunk the " +
        "queries or use LSH-seeded beamSearchRounds")
    walk(None, vecs, q.select(col("qid"), col("qv")), n, s, 0, 0, Some(s), None,
      evaluated = false).select(col("qid"), col("node"))
  }

  /** [[beamSearchRounds]] with hierarchical routed entry points
    * ([[routedSeeds]]) instead of LSH-bucket ∪ ring seeds — the full
    * HNSW descend analog: route through the ~√n coarse level, then
    * count-derived greedy beam hops over the base graph. `queries`
    * needs only (qid, qv). The level scan runs per query row inside
    * the walk, so no query-set size guard applies here (routedSeeds
    * keeps its own).
    */
  def layeredSearchRounds(graph: DataFrame, vecs: DataFrame,
      queries: DataFrame, n: Long, beam: Int = Adaptive,
      hops: Int = Adaptive, seedK: Int = 8,
      degree: Int = 8): Seq[DataFrame] = {
    requireBudgets(beam, hops)
    val (bw, nHops) = budgets(n, beam, hops, degree)
    perHop(walk(Some(graph), vecs, queries.select(col("qid"), col("qv")), n, bw,
      nHops, 0, Some(seedK), None, evaluated = false), nHops, "node", "d_e4", "rank")
  }

  private def requireBudgets(beam: Int, hops: Int): Unit = {
    require(beam >= 1 || beam == Adaptive,
      s"beam must be >= 1 or KnnGraph.Adaptive, got $beam")
    require(hops >= 0 || hops == Adaptive,
      s"hops must be >= 0 or KnnGraph.Adaptive, got $hops")
  }

  /** (beam width, hop count) with [[Adaptive]] resolved from `n`. */
  private def budgets(n: Long, beam: Int, hops: Int, degree: Int): (Int, Int) =
    (if (beam == Adaptive) adaptiveBeam(n) else beam,
      if (hops == Adaptive) adaptiveHops(n, degree) else hops)

  /** The `graph_walk` of every row of `queries` ((qid, qv) and, for
    * ring seeds, qbucket) as (qid, hop, node, d_e4[, rank]) rows: the
    * beams, or with `evaluated` every scored candidate, of hops 0 to
    * `hops`. `routed` = the routed seed count (else ring seeds); `adc`
    * = the (node, grp, code) codes and (qid, grp, code, sd) LUT to
    * score with. Each block is one task's scalar subquery (`coalesce(1)`:
    * the served graph fits in a task); the edges are read only when
    * the walk hops.
    */
  private def walk(graph: Option[DataFrame], vecs: DataFrame, queries: DataFrame,
      n: Long, beam: Int, hops: Int, ringSeeds: Int, routed: Option[Int],
      adc: Option[(DataFrame, DataFrame)], evaluated: Boolean): DataFrame = {
    def long(c: String): Column = col(c).cast("long")
    def block(df: DataFrame, fields: Column*): Expression = Shims.expression(
      df.coalesce(1).select(collect_list(struct(fields: _*))).scalar())
    val none = Shims.expression(lit(null))
    val kernel = GraphWalk(
      Shims.expression(long("qid")),
      Shims.expression(col("qv").cast("array<double>")),
      Shims.expression(if (routed.isEmpty) long("qbucket") else lit(null).cast("long")),
      block(vecs, long("id"), col("v").cast("array<double>"),
        if (routed.isEmpty) long("bucket") else lit(null).cast("long")),
      graph.filter(_ => hops > 0).fold(none)(block(_, long("src"), long("dst"))),
      adc.fold(none) { case (codes, _) => block(codes, long("node"), long("grp"), long("code")) },
      adc.fold(none) { case (_, lut) =>
        block(lut, long("qid"), long("grp"), long("code"), long("sd"))
      },
      WalkSpec(n, beam, hops, ringSeeds, routed.isDefined, routed.getOrElse(0), levelMod(n),
        adc.isDefined, evaluated, SQLConf.get.ansiEnabled))
    queries.select(col("qid"), inline(Shims.column(kernel)))
  }

  /** Hops 0 to `hops` of a [[walk]], each as (qid, `cols`…). */
  private def perHop(walked: DataFrame, hops: Int, cols: String*): Seq[DataFrame] =
    (0 to hops).map(h => walked.where(col("hop") === h).select(("qid" +: cols).map(col): _*))

  /** ADC lookup table for PQ-compressed traversal: one integer-e6
    * squared-subdistance row per (query, subspace, code) —
    * |Q|·m·k rows, the textbook asymmetric-distance LUT, shipped to
    * the walk as one block. Integer BEFORE the cross-subspace sum, so
    * the total is an order-free exact integer (no float-accumulation
    * tie risk inside the beam's rank cuts).
    *
    * @param qsv       (qid, grp, qsv double array) query subvectors
    * @param codebooks (grp, code, centroid double array)
    */
  def adcLut(qsv: DataFrame, codebooks: DataFrame): DataFrame =
    qsv.join(codebooks, Seq("grp"))
      .select(col("qid"), col("grp"), col("code"),
        round(aggregate(
          zip_with(col("qsv"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x) * 1e6).cast("bigint").as("sd"))

  /** Batch graph search over PQ-COMPRESSED vectors — the
    * DiskANN-style serving split: the traversal re-scores beam
    * candidates from m-byte PQ codes via the [[adcLut]] (integer-e6
    * ADC, an order-free integer sum of the query's LUT entries over
    * the node's codes), and the full-precision vectors are never
    * touched during the walk. At 100 TB this is the difference
    * between streaming the corpus' float vectors through every hop
    * and streaming 16-byte codes: the walk's working set shrinks ~16×
    * (64-dim float32 → 8 codes). Quality cost is the PQ quantization
    * error — `knn_graph_search_pq` reports recall@k vs exact next to
    * the uncompressed traversal's.
    *
    * Same walk, seeds and count-derived budgets as
    * [[beamSearchRounds]] (d_e4 column = the ADC integer, summed
    * e6-quantized squared subdistances — monotone in l2², so rank
    * cuts are order-identical to ranking by ADC distance). A node
    * whose codes match no LUT entry is not a candidate.
    *
    * @param codes (node, grp, code) — the corpus' PQ assignment,
    *              exploded (Pq.encode posexploded)
    * @param lut   [[adcLut]] output for the query set
    * @param scoredOut when set, receives each hop's full scored
    *              candidate set (qid, node, d_e4), before the beam cut
    */
  def beamSearchRoundsAdc(graph: DataFrame, vecs: DataFrame,
      queries: DataFrame, n: Long, codes: DataFrame, lut: DataFrame,
      beam: Int = Adaptive, hops: Int = Adaptive, ringSeeds: Int = 4,
      degree: Int = 8,
      scoredOut: Option[scala.collection.mutable.Buffer[DataFrame]] =
        None): Seq[DataFrame] = {
    requireBudgets(beam, hops)
    val (bw, nHops) = budgets(n, beam, hops, degree)
    def adcWalk(evaluated: Boolean): DataFrame = walk(Some(graph), vecs,
      queries.select(col("qid"), col("qv"), col("qbucket")), n, bw, nHops,
      ringSeeds, None, Some((codes, lut)), evaluated)
    scoredOut.foreach(_ ++= perHop(adcWalk(evaluated = true), nHops, "node", "d_e4"))
    perHop(adcWalk(evaluated = false), nHops, "node", "d_e4", "rank")
  }

  /** Final top-k per query after a [[beamSearchRounds]] traversal:
    * `k = 0` gives no rows and `k` above the beam width the beam.
    */
  def beamSearch(graph: DataFrame, vecs: DataFrame, queries: DataFrame,
      n: Long, k: Int = 8, beam: Int = Adaptive,
      hops: Int = Adaptive): DataFrame =
    beamSearchRounds(graph, vecs, queries, n, beam, hops, degree = k).last
      .where(col("rank") <= k)

  /** Whether a filtered traversal can plausibly FILL a top-`k` cut
    * under a predicate admitting `allowed` of `n` nodes — the
    * selectivity floor a filtered-search route should check before
    * walking. The admitted pool is the visited set ∩ predicate:
    * expected size ≈ (allowed/n) · evaluated, with evaluated ≤
    * beam·(degree+1)·(hops+1) per query (the count-derived budgets).
    * Below `allowed · evaluated ≥ k · n` the walk starves — it
    * returns fewer than k matches not because none exist but because
    * the visited set holds too few — and the right plan is
    * filter-then-rank: an ultra-selective predicate leaves only
    * ~allowed rows to rank, so the exact path is simultaneously
    * correct AND cheap (IVF-filtered when an IVF index exists,
    * otherwise the filtered exact scan). Measured at n=500 (degree-8
    * basis, evaluated = 972): a 10% predicate admits ~97 ≥ k and
    * fills every query; a 1-node predicate admits ~2 and starves —
    * FilteredGraphSpec pins both readings.
    */
  def filteredViable(n: Long, allowed: Long, k: Int,
      degree: Int = 8): Boolean = {
    val evaluated = adaptiveBeam(n).toLong * (degree + 1L) *
      (adaptiveHops(n, degree) + 1L)
    allowed * evaluated >= k.toLong * n
  }

  /** FILTERED batch graph search — the graph-family twin of
    * `ann_ivf_filtered` (the case real vector stores special-case:
    * a metadata predicate under an ANN query). The predicate is
    * applied INSIDE the traversal, not to the graph: the beam
    * expands UNFILTERED (restricting the beam itself would both
    * starve the result — a beam full of non-matching nodes returns
    * < k matches — and disconnect the walk, since matching regions
    * are often only reachable THROUGH non-matching nodes), while the
    * result admits only nodes present in `allowed`. The admitted
    * top-k accumulates over every candidate the traversal EVALUATED
    * (each hop's full scored set, BEFORE the beam cut — the
    * filtered-DiskANN discipline: a matching node the walk touched
    * counts even if it lost the beam), so it equals
    * filter-then-rescan over the evaluated set BY CONSTRUCTION —
    * the identity FilteredGraphSpec pins — and a selective predicate
    * has ~beam·degree·hops candidates to fill top-k from, not just
    * the final beam.
    *
    * Scale shape: [[beamSearchRounds]]' walk, emitting every scored
    * candidate (≤|Q|·beam·(degree+1)·(hops+1) rows) instead of the
    * beams, plus ONE semi-join of those rows against `allowed` — the
    * predicate frame joins on node id, so a selective predicate at
    * 100 TB is a keyed (broadcastable when small) join, never a corpus
    * re-scan. Deterministic: integer e4 distances, ties by id,
    * count-derived budgets.
    *
    * @param allowed one `id` column — the nodes passing the predicate
    * @param degree  the hop-budget basis (the graph's serving degree,
    *                NOT the result size k — decoupled so asking for
    *                more admitted candidates never silently shortens
    *                the walk; defaults to the same degree-8 basis the
    *                unfiltered serving queries and their shared
    *                oracle CTEs derive)
    * @return (qid, node, d_e4, rank) with rank 1..k ascending over
    *         the admitted evaluated set
    */
  def filteredBeamSearch(graph: DataFrame, vecs: DataFrame,
      queries: DataFrame, n: Long, allowed: DataFrame, k: Int = 8,
      beam: Int = Adaptive, hops: Int = Adaptive, ringSeeds: Int = 4,
      degree: Int = 8): DataFrame = {
    requireBudgets(beam, hops)
    val (bw, nHops) = budgets(n, beam, hops, degree)
    walk(Some(graph), vecs, queries.select(col("qid"), col("qv"), col("qbucket")),
      n, bw, nHops, ringSeeds, None, None, evaluated = true)
      .join(allowed.select(col("id").as("node")), Seq("node"), "left_semi")
      .groupBy(col("qid"))
      .agg(TopKAgg.topk_pairs(col("d_e4").cast("double"), col("node"), k)
        .as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "pair")))
      .select(col("qid"), col("pair.id").as("node"),
        col("pair.dist").cast("bigint").as("d_e4"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Persist a built kNN graph for serving — the at-rest layout every
    * other index family already has (Ann/Pq/Sq/Bq/IvfPq.writeIndex):
    * `path`/edges (src, dst, d_e4, rank — the full-width adjacency
    * [[beamSearchRounds]] walks) written
    * `partitionBy(shard)` where shard = src >> [[edgeShardShift]]
    * (the Ann partitionBy(cluster) discipline: ~√n contiguous-id
    * directories; a serve reads them all once per action, one
    * scalar-subquery block), `path`/vecs (id, v, bucket — the re-scoring frame +
    * routed-seed buckets) and `path`/params (the corpus count the
    * count-derived beam/hop/shard knobs need WITHOUT re-scanning).
    *
    * Maintenance invariant: `shard` derives from `build.n`, so
    * re-persisting a maintained (appended/deleted) graph whose count
    * crossed a power-of-two boundary reshards WHOLESALE — coherently,
    * because `params` carries the same count the mapping derives
    * from. A reader's [[edgeShard]] must therefore always take the
    * PERSISTED count ([[loadIndex]]'s params read, [[Build.n]]),
    * never a fresh count of a corpus that drifted after the persist —
    * a drifted count past the next boundary maps ids to shard ids the
    * layout doesn't have (KnnGraphSpec pins both directions).
    */
  def writeIndex(build: Build, path: String): Unit = {
    build.rounds.last
      .drop("shard") // re-persisting a loaded graph recomputes it
      .withColumn("shard", edgeShard(col("src"), build.n))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/edges")
    build.vecs.write.mode("overwrite").parquet(s"$path/vecs")
    import build.vecs.sparkSession.implicits._
    Seq(build.n).toDF("n").write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a persisted kNN graph. The returned [[Build]] carries only
    * the FINAL graph in `rounds` (per-round intermediates are a build
    * artifact, not a serving one) — everything [[beamSearch]] and
    * [[appendBatch]] consume.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Build = {
    val n = spark.read.parquet(s"$path/params").head().getLong(0)
    Build(Seq(spark.read.parquet(s"$path/edges")),
      spark.read.parquet(s"$path/vecs"), n)
  }

  /** One NN-descent refinement round restricted to `touched` sources:
    * candidates = sym ∪ sym∘sym of `edges` from touched nodes, exact
    * integer-e4 re-score against `vecs` (id, v), top-`degree` cut;
    * rows of `keep` whose src is NOT touched pass through verbatim.
    * The shared repair/link mechanism of [[appendBatch]] and
    * [[deleteBatch]].
    */
  private def refineTouched(edges: DataFrame, keep0: DataFrame,
      touched: DataFrame, vecs: DataFrame, degree: Int): DataFrame = {
    // normalize to the canonical 4 columns: a graph loaded from the
    // sharded at-rest layout carries a `shard` partition column that
    // must not leak into the maintained graph's unionByName
    val keep = keep0.select(col("src"), col("dst"), col("d_e4"),
      col("rank"))
    val touchedSrc = touched.select(col("id").as("src"))
    val u = sym(edges)
    // the touched sources' edges are batch-sized (≤ 2·degree per
    // touched node): both joins broadcast them, so the graph-sized
    // `u` is never shuffled for the refine
    val ut = u.join(broadcast(touchedSrc), Seq("src"), "left_semi")
    val hop = broadcast(ut).as("a")
      .join(u.select(col("src").as("mid"), col("dst").as("far")).as("b"),
        col("a.dst") === col("b.mid"))
      .select(col("a.src").as("src"), col("far").as("dst"))
    // duplicates deduped inside topK (TopKBuffer distinct-id
    // contract) — no candidate-frame exchange. Re-measured r16
    // (same-JVM alternating A/B, 5 reps): adding the build loop's
    // distinct-first here LOSES on delete (min 2.75 -> 3.23 s) and
    // is flat on append — the touched-restricted candidate frame is
    // too small for the exchange to pay for itself, unlike the
    // corpus-wide build round.
    val cands = ut.unionByName(hop)
      .where(col("src") =!= col("dst"))
    val refined = topK(cands, vecs, degree)
    VectorStore.delete(keep, "src", touchedSrc).unionByName(refined)
  }

  /** Everything [[appendBatch]] produces: the appended graph (same
    * (src, dst, d_e4, rank) shape as [[Build.rounds]]), the probe
    * lists the new nodes routed to, the touched node-id frame (new
    * ids ∪ base ids a new node linked to) and the unioned (id, v)
    * vector frame covering base + batch.
    */
  final case class Appended(graph: DataFrame, probe: DataFrame,
      touched: DataFrame, allVecs: DataFrame)

  /** Incremental graph maintenance — the hnsw.go:145 `Add` analog,
    * batch-shaped: instead of inserting points one at a time into an
    * in-memory graph, append a whole ingest batch by
    *
    *   1. PROBE: route every new vector through the existing graph
    *      with [[beamSearchRounds]] (count-derived beam/hops from the
    *      BASE corpus count) and keep its top-`degree` base
    *      neighbors — HNSW's "find the M nearest" step, for the whole
    *      batch in one traversal;
    *   2. LINK: union the probe lists into the edge set. Symmetrized
    *      candidate generation in step 3 sees each probe edge in BOTH
    *      directions, which is HNSW's bidirectional link;
    *   3. RE-REFINE + PRUNE: one NN-descent round restricted to the
    *      TOUCHED nodes (new ids ∪ base ids probed into) — candidates
    *      = sym ∪ sym∘sym from touched sources, exact integer-e4
    *      re-score, top-`degree` cut. This is HNSW's shrink-to-M
    *      prune, plus one neighbor-of-neighbor pass that lets new
    *      nodes discover each OTHER through shared base neighbors
    *      (batch inserts can be mutual nearest neighbors). Untouched
    *      base nodes keep their lists verbatim.
    *
    * Scale shape: the probe is one `graph_walk` per batch row,
    * O(hops·beam·degree) distances in the row's task over the base
    * graph (which must fit in a task); touched is ≤
    * |batch|·(degree+1) ids, so the re-refine round is
    * O(|batch|·degree³) distances keyed by node id — all INDEPENDENT
    * of the base corpus size; base-sized frames (edges, vecs) only
    * ever join on their keyed side, and the touched ids are broadcast,
    * so the batch must be ingest-micro-batch-sized, not corpus-sized —
    * the same contract every other index family's append
    * (Ann.appendToIvf) carries.
    *
    * Deterministic end to end (integer e4 distances, id ties,
    * count-derived budgets) — unrolled-CTE-replayable like the build.
    *
    * @param build  the base-corpus [[Build]] (graph served at full
    *               width: rounds.last, all ranks)
    * @param batch  (qid, qv, qbucket) new vectors; qids must be
    *               disjoint from the base id space (the natural state
    *               when base ids are dense in [0, n) and new ids
    *               continue upward)
    * @param degree neighbor-list width of the maintained graph (the
    *               build width / HNSW's M)
    */
  def appendBatch(build: Build, batch: DataFrame, degree: Int,
      beam: Int = Adaptive, hops: Int = Adaptive): Appended = {
    // LAZY checkpoints (r16): the probe/touched lineage is truncated
    // identically either way (localCheckpoint swaps in a LogicalRDD),
    // but lazy materializes inside the first job that READS them —
    // the caller's audit/materialization job — instead of paying one
    // blocking driver job each here (§5: the driver should do almost
    // no work). Consumers below share the persisted partitions.
    val probe = beamSearchRounds(build.rounds.last, build.vecs, batch,
      build.n, beam, hops).last
      .where(col("rank") <= degree)
      .select(col("qid").as("src"), col("node").as("dst"), col("d_e4"))
      .localCheckpoint(false)
    val allVecs = build.vecs.select(col("id"), col("v"))
      .unionByName(batch.select(col("qid").as("id"), col("qv").as("v")))
    val baseGraph = build.rounds.last
    val ag = baseGraph.select(col("src"), col("dst"))
      .unionByName(probe.select(col("src"), col("dst")))
    val touched = probe.select(col("src").as("id"))
      .unionByName(probe.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    Appended(refineTouched(ag, baseGraph, touched, allVecs, degree),
      probe, touched, allVecs)
  }

  /** What [[deleteBatch]] produces: the repaired graph, the touched
    * node-id frame (survivors whose lists referenced a deleted node)
    * and the surviving (id, v, bucket) vector frame.
    */
  final case class Deleted(graph: DataFrame, touched: DataFrame,
      vecs: DataFrame)

  /** Delete a batch of nodes from a built kNN graph — the other half
    * of the maintenance discipline every index family carries
    * (append/delete, Ann.appendToIvf precedent; HNSW deployments do
    * the same tombstone-then-repair). Three keyed steps:
    *
    *   1. DROP: deleted nodes' own lists go, and every edge INTO a
    *      deleted node goes (the integrity invariant: the final
    *      graph references no deleted id);
    *   2. TOUCHED: survivors that lost a neighbor;
    *   3. REPAIR: one NN-descent round restricted to the touched
    *      nodes over the CLEANED graph — sym ∪ sym∘sym candidates,
    *      exact integer-e4 re-score, top-`degree` cut. The
    *      neighbor-of-neighbor hop is what REFILLS a thinned list:
    *      the deleted neighbor's other neighbors are exactly the
    *      candidates most likely to replace it. Untouched survivors
    *      keep their lists verbatim.
    *
    * A touched node may legitimately end with fewer than `degree`
    * edges when deletion thins its whole reachable neighborhood
    * (sym ∪ sym∘sym smaller than degree) — shorter lists, never
    * dangling ones. Work is O(|touched|·degree²) distances keyed by
    * node id, independent of corpus size; touched is ≤
    * |deleted|·degree by construction. The deleted and touched ids
    * are a batch: every join on them is broadcast (the drops through
    * `VectorStore.delete`), so neither the graph nor `vecs` is
    * shuffled for them. Deterministic and unrolled-CTE-replayable
    * like build/append.
    *
    * @param build     the built graph ([[nnDescentBuild]] or
    *                  [[loadIndex]])
    * @param deleteIds one column `id` — the nodes to remove
    * @param degree    maintained neighbor-list width
    */
  def deleteBatch(build: Build, deleteIds: DataFrame,
      degree: Int): Deleted = {
    val g = build.rounds.last
    // lazy like appendBatch's probe/touched: same lineage truncation,
    // no per-frame blocking job — both materialize inside the first
    // consuming job (the caller's audit/materialization)
    val del = deleteIds.select(col("id")).localCheckpoint(false)
    val delDst = del.select(col("id").as("dst"))
    val keptSrc = VectorStore.delete(g, "src", del.select(col("id").as("src")))
    val touched = keptSrc.join(broadcast(delDst), Seq("dst"), "left_semi")
      .select(col("src").as("id")).distinct().localCheckpoint(false)
    val gClean = VectorStore.delete(keptSrc, "dst", delDst)
    val vecs = VectorStore.delete(build.vecs, "id", del)
    Deleted(refineTouched(gClean, gClean, touched,
      vecs.select(col("id"), col("v")), degree), touched, vecs)
  }
}

/** Process-wide at-rest cache of built kNN graphs — the
  * `ann_pq_static`/`ann_ivf_static` discipline applied to the graph
  * family: ONE NN-descent build per (corpus, degree) is persisted via
  * [[KnnGraph.writeIndex]] and every serving/maintenance audit
  * (search, routed search, append, delete, near-dup CC, streaming
  * serve) consumes [[KnnGraph.loadIndex]] — the hnsw.go:556-653
  * save/load-then-serve lifecycle, where production builds once and
  * serves many times instead of paying the O(n·k²·rounds) build per
  * query. The build is deterministic end to end (integer e4
  * distances, id ties, count-derived rounds), so the loaded graph is
  * bit-identical to an in-query rebuild and every DuckDB oracle —
  * which replays the build chain textually — still matches.
  *
  * Scope: the per-JVM [[AtRest]] store, so a single gate or bench run
  * amortizes the build across all graph consumers while separate runs
  * stay hermetic. Keys embed the canonical data dir, a corpus-variant
  * tag and the build degree, so different SFs / base-subset builds
  * never collide.
  */
object GraphIndexCache {

  /** The at-rest index path for (`key`, `degree`), building and
    * persisting via `corpus` on first use — the streaming serve
    * consumes the PATH (its serving generation reads edges/vecs/params
    * off parquet, never the in-memory build). `idCol`/`vecCol` name
    * the corpus' id and vector columns for non-embeddings-shaped
    * frames (KnnGraphSpec exercises non-default names); the id
    * column must be dense longs in [0, n) — the KnnGraph contract.
    */
  def ensurePath(key: String, degree: Int, idCol: String = "vec_id",
      vecCol: String = "embedding")(corpus: => DataFrame): String =
    AtRest.dir(s"$key#$degree") { dir =>
      KnnGraph.writeIndex(
        KnnGraph.nnDescentBuild(corpus, idCol, vecCol, degree), dir)
    }

  /** The loaded at-rest [[KnnGraph.Build]] for (`key`, `degree`),
    * building once on first use. `rounds` holds only the final graph
    * (per-round intermediates are a build artifact — audits that need
    * them run [[KnnGraph.nnDescentBuild]] directly and [[seed]] the
    * cache).
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, key: String,
      degree: Int, idCol: String = "vec_id",
      vecCol: String = "embedding")(corpus: => DataFrame): KnnGraph.Build =
    KnnGraph.loadIndex(spark, ensurePath(key, degree, idCol, vecCol)(corpus))

  /** Persist an already-run build under (`key`, `degree`) if absent —
    * the build-audit query's hook, so a full run pays the NN-descent
    * cost exactly once no matter which graph query runs first.
    */
  def seed(build: KnnGraph.Build, key: String, degree: Int): Unit =
    AtRest.dir(s"$key#$degree")(KnnGraph.writeIndex(build, _))
}
