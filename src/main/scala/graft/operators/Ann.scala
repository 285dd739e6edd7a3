package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.functions.{TopKAgg, VectorFunctions}
import graft.sources.VectorStore

/** The centroid set of one IVF assignment, flattened for [[IvfKernels]]:
  * centroids sorted by (group, cluster); the slice of group
  * `groups(s)` is [starts(s), starts(s + 1)). Centroid c has cluster id
  * `clusters(c)` and, unless `nulls(c)`, the doubles
  * values[offsets(c), offsets(c + 1)). Centroid-sized by construction.
  */
final class IvfTable(val groups: Array[Int], val starts: Array[Int],
    val clusters: Array[Int], val nulls: Array[Boolean],
    val offsets: Array[Int], val values: Array[Double]) extends Serializable

object IvfTable {
  /** Collect (group, cluster, centroid) rows — one job, the one the
    * old centroid broadcast paid. Groups are ints (`k`, `grp`); with
    * no group column every centroid is in group 0. Rows with a null
    * group never match a vector (as in an inner join on the group) and
    * are left out; a null cluster id is refused.
    */
  def collect(centroids: DataFrame, group: Option[String]): IvfTable =
    of(centroids
      .select(group.fold(lit(0))(col).as("g"), col("cluster"),
        transform(col("centroid"), _.cast("double")))
      .where(col("g").isNotNull)
      .collect()
      .map { r =>
        require(!r.isNullAt(1), "ivf_assign: a centroid has a null cluster id")
        (r.getInt(0), r.getInt(1),
          Option(r.getSeq[Double](2)).map(_.toArray).orNull)
      })

  /** The group-0 table of a centroid block ([[Ann.centroidBlock]]). */
  def ofBlock(block: ArrayData): IvfTable =
    of((0 until (if (block == null) 0 else block.numElements())).map { c =>
      val r = block.getStruct(c, 2)
      require(!r.isNullAt(0), "ivf_probe: a centroid has a null cluster id")
      (0, r.getInt(0), if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray())
    })

  /** The table of (group, cluster, centroid) entries; a null centroid
    * has a null distance to every vector.
    */
  def of(entries: Seq[(Int, Int, Array[Double])]): IvfTable = {
    val sorted = entries.sortBy(e => (e._1, e._2)).toArray
    val vecs = sorted.map(e => Option(e._3).getOrElse(Array.emptyDoubleArray))
    val firsts = sorted.indices.filter(c => c == 0 || sorted(c)._1 != sorted(c - 1)._1)
    new IvfTable(firsts.map(sorted(_)._1).toArray, (firsts :+ sorted.length).toArray,
      sorted.map(_._2), sorted.map(_._3 == null), vecs.scanLeft(0)(_ + _.length),
      vecs.flatten)
  }
}

/** Static kernels for IVF coarse assignment and probing: the clusters
  * of the l2-nearest centroids in the vector's group slice. The
  * distance is vec_l2's, op for op (elements read as doubles, x - c
  * squared and summed from 0.0 in index order, then sqrt), and the
  * ranking is over (distance, cluster) in Spark's ordering — the join
  * + `min_by` / `row_number` formulations the DuckDB oracle replays:
  *   - a null distance (null vector or null centroid) ranks first;
  *   - NaN ranks above every number;
  *   - ties go to the lower cluster;
  *   - a length mismatch raises IllegalArgumentException, as vec_l2.
  * One ranking ([[nearest]]) serves `ivf_assign` (the best one), the
  * `knn_block` probe and `ivf_probe` (the best `nprobe`).
  */
object IvfKernels {
  def assign(vec: ArrayData, isFloat: Boolean, group: Int, t: IvfTable): Int = {
    val s = java.util.Arrays.binarySearch(t.groups, group)
    if (s < 0) throw new IllegalStateException(s"ivf_assign: no centroids in group $group")
    val x = if (vec == null) null else graft.functions.VectorDistance.doubles(vec, isFloat)
    t.clusters(nearest(x, t, s, 1)(0))
  }

  /** The distinct clusters of the `nprobe` best group-0 centroids of
    * `x` (null: a null vector), best first; none for an empty table.
    */
  def probe(x: Array[Double], t: IvfTable, nprobe: Int): Array[Int] =
    if (t.groups.isEmpty) Array.emptyIntArray
    else nearest(x, t, 0, nprobe).map(t.clusters(_)).distinct

  /** Centroid indices of slice `s` (at most `n`), best first, for the
    * vector `x` (null: a null vector).
    */
  def nearest(x: Array[Double], t: IvfTable, s: Int, n: Int): Array[Int] = {
    val lo = t.starts(s); val hi = t.starts(s + 1)
    val m = math.max(0, math.min(n, hi - lo))
    val best = new Array[Int](m)
    val bestD = new Array[Double](m) // a null distance is kept as -Inf
    var kept = 0
    var c = lo
    while (c < hi) {
      var dist = Double.NegativeInfinity
      if (x != null && !t.nulls(c)) {
        val base = t.offsets(c); val len = t.offsets(c + 1) - base
        if (x.length != len) throw new IllegalArgumentException(
          s"vec_l2: dimension mismatch ${x.length} vs $len")
        var sum = 0.0; var i = 0
        while (i < len) { val d = x(i) - t.values(base + i); sum += d * d; i += 1 }
        dist = math.sqrt(sum)
      }
      // insert after every kept entry that is not worse (ties keep
      // the earlier, lower cluster); NaN is worse than every number
      var p = kept
      while (p > 0 && !dist.isNaN && (bestD(p - 1).isNaN || dist < bestD(p - 1))) p -= 1
      if (p < m) {
        val last = math.min(kept, m - 1)
        System.arraycopy(best, p, best, p + 1, last - p)
        System.arraycopy(bestD, p, bestD, p + 1, last - p)
        best(p) = c; bestD(p) = dist
        if (kept < m) kept += 1
      }
      c += 1
    }
    best
  }
}

/** ivf_assign(vec, group): the assigned cluster (int), never null — a
  * codegen'd call into [[IvfKernels.assign]] with the centroid table
  * attached as a referenced object. `group` must be non-null and have
  * centroids; [[Ann]]'s assignment filters the vectors to those groups.
  */
case class IvfAssignExpr(left: Expression, right: Expression, table: IvfTable)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_assign"
  // plans print the table size, not its identity hash
  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right, table.clusters.length)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, int), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def eval(input: InternalRow): Any = {
    val g = right.eval(input)
    if (g == null) throw new IllegalStateException("ivf_assign: null group")
    IvfKernels.assign(left.eval(input).asInstanceOf[ArrayData], isFloat,
      g.asInstanceOf[Int], table)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val g = right.genCode(ctx)
    val tRef = ctx.addReferenceObj("ivfTable", table, "graft.operators.IvfTable")
    ev.copy(code = code"""
      |${v.code}
      |${g.code}
      |if (${g.isNull}) throw new IllegalStateException("ivf_assign: null group");
      |int ${ev.value} = graft.operators.IvfKernels.assign(
      |  ${v.isNull} ? null : ${v.value}, $isFloat, ${g.value}, $tRef);""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ivf_probe(vec, centroids): the clusters a query probes — the
  * `nprobe` l2-nearest of a centroid block ([[Ann.centroidBlock]], a
  * scalar subquery parsed once per task), best first, by
  * [[IvfKernels.probe]], the routing `knn_block` runs. Explode it for
  * (query, cluster) rows.
  */
case class IvfProbeExpr(left: Expression, right: Expression, nprobe: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_probe"
  @transient private lazy val table = IvfTable.ofBlock(right.eval(null).asInstanceOf[ArrayData])
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def eval(input: InternalRow): Any = {
    val v = left.eval(input).asInstanceOf[ArrayData]
    new GenericArrayData(IvfKernels.probe(
      if (v == null) null else graft.functions.VectorDistance.doubles(v, isFloat),
      table, nprobe).map(c => c: Any))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Approximate nearest neighbour — the batch/scale replacement for the
  * reference's HNSW graph (/root/reference/pkg/index/hnsw/hnsw.go).
  *
  * HNSW is a pointer-chasing, sequentially-built in-memory graph:
  * exactly what does NOT map to a 1000-executor cluster. The two
  * Spark-native strategies here keep the same contract (approximate
  * top-k, tunable recall/speed) while staying shuffle-bounded:
  *
  *  - LSH: deterministic random-hyperplane signatures; search touches
  *    only the query's bucket. Signature assign is map-only; at rest
  *    the corpus is written `partitionBy("bucket")` so a bucket probe
  *    is a partition-pruned scan, not a full read.
  *  - IVF: k-means coarse quantizer (Lloyd's over DataFrames, all
  *    reduces map-side-combined), then nprobe-nearest-cluster search.
  *
  * One Lloyd's loop ([[lloyd]]) and one argmin assignment ([[assign]],
  * the map-only `ivf_assign` kernel) serve every quantizer: IVF
  * k-means, multi-k sweeps, compaction, corpus tagging and PQ codebook
  * training (grouped by subspace), so the seed rule, tie-break and
  * 1e-6 centroid snap the DuckDB oracle replays hold for all of them
  * by construction.
  */
object Ann {

  // ---- LSH ---------------------------------------------------------------

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim j): integer arithmetic exact under IEEE double (< 2^53) so
    * any engine reproduces it bit-for-bit (Knuth multiplicative hash).
    */
  private def planeComponent(p: Column, j: Column): Column =
    ((p * 64 + j + 1) * 2654435761L % 4294967296L) / lit(4294967296.0) - 0.5

  /** Signature = `numPlanes`-bit integer, bit p set iff dot(v, plane_p) > 0.
    * Native codegen'd expression; the HOF form below is the executable
    * spec (equality-tested).
    */
  def lshSignature(vec: Column, numPlanes: Int = 8): Column =
    graft.functions.LshExpr.lsh_signature(vec, numPlanes)

  /** HOF composition of the same signature (mirrors the DuckDB oracle). */
  def lshSignatureHof(vec: Column, numPlanes: Int = 8): Column =
    aggregate(
      sequence(lit(0), lit(numPlanes - 1)),
      lit(0L),
      (acc, p) => {
        val dot = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, j) => x.cast("double") * planeComponent(p, j)),
          lit(0.0), (a, x) => a + x)
        acc + when(dot > 0, pow(lit(2.0), p.cast("double")).cast("long")).otherwise(0L)
      })

  /** Bucketed ANN: exact metric, but only within the query's LSH
    * bucket(s). `probeHamming = 1` multi-probes every bucket within
    * hamming distance 1 of the query's signature (numPlanes + 1
    * buckets instead of 1) — recall jumps for one extra partition
    * probe per plane, still never a corpus scan.
    */
  def searchLsh(
      corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, numPlanes: Int = 8, roundTo: Int = 4,
      probeHamming: Int = 0): DataFrame = {
    val bucketed = corpus.withColumn("bucket", lshSignature(col(vecCol), numPlanes))
    val sig = lshSignature(col("qvec"), numPlanes)
    val probes: Column =
      if (probeHamming == 0) array(sig)
      else array(sig +: (0 until numPlanes).map(p =>
        sig.bitwiseXOR(lit(1L << p))): _*)
    Knn.exactTopK(bucketed.join(broadcast(query.withColumn("qbucket", explode(probes))),
      col("bucket") === col("qbucket")), idCol, vecCol, metric, k, roundTo)
  }

  /** OR-amplified multi-table LSH: `numTables` independent
    * `planesPerTable`-bit signatures; a corpus row is a candidate if
    * it shares ANY table's bucket with the query (the classic L-hash-
    * tables construction — match probability 1-(1-(1-θ/π)^b)^L, far
    * higher near-neighbor recall than one b*L-bit table at the same
    * total plane count). All L buckets come from ONE kernel signature
    * over b*L planes (table t = bits [t*b, (t+1)*b)), so the
    * signature cost doesn't grow with L.
    *
    * Shape: explode (table, bucket) on both sides, equi-join, dedupe
    * candidate ids, exact metric, TakeOrdered. This mirrors the
    * at-rest layout (L hash tables = L× bucket-partitioned copies, or
    * one copy partitionBy(tbl, bucket) with L× row duplication) where
    * a probe reads L partitions instead of scanning the corpus —
    * the storage-for-recall trade every multi-table LSH index makes.
    */
  /** (tbl, bucket) array for table t = bits [t*b, (t+1)*b) of a
    * combined b*L-plane signature; extracted with exact arithmetic
    * (sig < 2^52 keeps the fp floor-division exact, mirroring the
    * DuckDB oracle's floor(sig / 2^(t*b)) % 2^b). Shared by the
    * single-query and join forms so they can't diverge.
    */
  private def tableBuckets(
      sig: Column, planesPerTable: Int, numTables: Int): Column = {
    require(planesPerTable * numTables <= 52,
      "combined signature must stay fp-exact (planesPerTable * numTables <= 52)")
    val buckets = 1L << planesPerTable
    transform(sequence(lit(0), lit(numTables - 1)), t =>
      struct(t.as("tbl"),
        pmod(floor(sig / pow(lit(2.0), (t * planesPerTable).cast("double")))
          .cast("long"), lit(buckets)).as("bucket")))
  }

  def searchLshTables(
      corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, planesPerTable: Int = 4, numTables: Int = 4,
      roundTo: Int = 4): DataFrame = {
    def tb(sig: Column): Column = tableBuckets(sig, planesPerTable, numTables)
    val sigAll = lshSignature(col(vecCol), planesPerTable * numTables)
    val qsigAll = lshSignature(col("qvec"), planesPerTable * numTables)
    val bucketed = corpus
      .select(col(idCol), col(vecCol),
        explode(tb(sigAll)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = query
      .select(col("qvec"), explode(tb(qsigAll)).as("tb"))
      .select(col("qvec"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    Knn.exactTopK(bucketed.join(broadcast(q), Seq("tbl", "bucket"))
      .dropDuplicates(idCol), // a pair can match in several tables
      idCol, vecCol, metric, k, roundTo)
  }

  /** Batch APPROXIMATE kNN join — the many-queries scale pattern.
    * Knn.knnJoin ships the query set in every task and scores
    * q×|corpus| distances; here BOTH sides get multi-table LSH buckets
    * and candidates come from a (tbl, bucket) equi join, so the pair
    * stream is only bucket-collisions — neither side needs to fit in a task and
    * corpus-vs-corpus joins (global near-dup, all-pairs ANN) stay
    * shuffle-bounded. Per-query top-k is the TopKPairs bounded-heap
    * aggregate (map-side partial, exchange carries <= q*k*partitions
    * rows). Output (qid, id, dist, rank) matches Knn.knnJoin.
    */
  def annJoinLsh(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, metric: String, k: Int,
      planesPerTable: Int = 4, numTables: Int = 4,
      excludeSelf: Boolean = true, roundTo: Int = 4): DataFrame = {
    val total = planesPerTable * numTables
    val c = corpus
      .select(col(idCol), col(vecCol),
        explode(tableBuckets(lshSignature(col(vecCol), total),
          planesPerTable, numTables)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = queries
      .select(col(qidCol), col(qvecCol),
        explode(tableBuckets(lshSignature(col(qvecCol), total),
          planesPerTable, numTables)).as("tb"))
      .select(col(qidCol), col(qvecCol),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val d = VectorFunctions.forMetric(metric)(col(vecCol), col(qvecCol))
    c.join(q, Seq("tbl", "bucket"))
      .where(if (excludeSelf) col(idCol) =!= col(qidCol) else lit(true))
      .select(col(qidCol), col(idCol), round(d, roundTo).as("dist"))
      // a pair matching in several tables must not occupy two heap
      // slots; the dedup shuffle is bounded by the candidate count
      .dropDuplicates(qidCol, idCol)
      .groupBy(col(qidCol))
      .agg(TopKAgg.topk_pairs(col("dist"), col(idCol), k).as("topk"))
      .select(col(qidCol), posexplode(col("topk")).as(Seq("pos", "pair")))
      .select(col(qidCol), col("pair.id").as(idCol),
        col("pair.dist").as("dist"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col(qidCol), col("rank"))
  }

  // ---- IVF ---------------------------------------------------------------

  /** (_id, _v as array<double>, metaCols…) of `corpus`; with
    * `sampleMod > 1`, only the deterministic `_id % sampleMod == 0`
    * training sample. Centroids need ~100k vectors, so iterating
    * Lloyd's over a full 100 TB corpus is pure waste — train on the
    * sample, then tag/encode the FULL corpus (one map-side pass). The
    * id-mod sample (not `.sample()`) keeps the result reproducible
    * across runs, as the oracle check needs.
    */
  private def vectors(corpus: DataFrame, idCol: String, vecCol: String,
      sampleMod: Long = 1, metaCols: Seq[String] = Nil): DataFrame = {
    val all = corpus.select((col(idCol).as("_id") +:
      transform(col(vecCol), _.cast("double")).as("_v") +:
      metaCols.map(col)): _*)
    if (sampleMod > 1) all.where(col("_id") % sampleMod === 0) else all
  }

  /** Seed centroids (cluster, centroid): the first k vectors in id order. */
  private def firstK(vecs: DataFrame, k: Int): DataFrame =
    vecs.orderBy(col("_id")).limit(k)
      .select(
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_id"))) - 1).as("cluster"),
        col("_v").as("centroid"))

  /** Lloyd's k-means over DataFrames: seeded from the first k vectors
    * in id order; each iteration is one map-only assignment (the
    * collected centroids in the `ivf_assign` kernel) + one
    * partial-aggregated shuffle (recenter). `trainSampleMod > 1`
    * trains on the id-mod sample ([[vectors]]). Returns (cluster: int,
    * centroid: array<double>); `k = 0` returns no centroids.
    */
  def kmeans(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5, trainSampleMod: Long = 1): DataFrame = {
    val vecs = vectors(corpus, idCol, vecCol, trainSampleMod)
    lloyd(vecs, firstK(vecs, k), iters)
  }

  /** Multi-k Lloyd's: train EVERY k in `ks` inside the same jobs — the
    * sample is tagged with each k once and [[lloyd]] runs grouped by
    * k, so per iteration ONE sample scan meets a k-sliced centroid
    * table instead of |ks| sequential training chains. The same
    * loop and seed rule as [[kmeans]], so each k is numerically
    * identical to it — a model-selection sweep (cluster_elbow) trains
    * its whole k grid for the wall-clock of one chain. Returns (k,
    * cluster, centroid).
    */
  def kmeansMulti(
      corpus: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], iters: Int = 5, trainSampleMod: Long = 1): DataFrame = {
    require(ks.nonEmpty, "kmeansMulti needs at least one k")
    import corpus.sparkSession.implicits._
    val vecs = vectors(corpus, idCol, vecCol, trainSampleMod)
    val seed = ks.toDF("k").crossJoin(firstK(vecs, ks.max))
      .where(col("cluster") < col("k"))
      .select(col("k"), col("cluster"), col("centroid"))
      .coalesce(1).localCheckpoint(eager = false)
    lloyd(vecs.withColumn("k", explode(typedLit(ks))), seed, iters, Some("k"))
  }

  /** THE Lloyd's loop — IVF k-means, multi-k sweeps, compaction and
    * PQ codebook training all run it. Vectors are (group…, _id, _v),
    * centroids (group…, cluster, centroid); one independent k-means
    * per value of `groupCols` (`k` for multi-k, `grp` for a PQ
    * subspace, none for one IVF k), all in the same jobs. Each
    * iteration: [[assign]], then recenter; clusters with no members
    * drop out.
    *
    * Centroid means round to 6 dp each iteration: partition-order fp
    * drift in the mean (~1e-13) would otherwise accumulate across
    * iterations and make the result engine-specific; snapped to the
    * 1e-6 grid, any engine computing the same algorithm lands on
    * bit-identical centroids, which is what lets the driver oracle
    * the ITERATIVE ann_ivf/ann_pq queries (unrolled CTE chains in
    * SparkEntry), not just their static-centroid variants. Quantizing
    * a quantizer at 1e-6 costs nothing: centroids are cluster means,
    * not data.
    */
  private[operators] def lloyd(vecs: DataFrame, seed: DataFrame, iters: Int,
      group: Option[String] = None): DataFrame = {
    val g = group.map(col).toSeq
    (0 until iters).foldLeft(seed) { (centroids, _) =>
      assign(vecs, centroids, group)
        .select((g :+ col("cluster") :+ posexplode(col("_v"))): _*)
        .groupBy((g :+ col("cluster") :+ col("pos")): _*)
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy((g :+ col("cluster")): _*)
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        // cut lineage per iteration; the frame is centroid-sized, so
        // collapse to ONE partition first — a 32-partition checkpoint
        // of 8 rows costs 32 scheduled tasks per iteration for nothing
        .coalesce(1).localCheckpoint(eager = false)
    }
  }

  /** THE argmin-centroid assignment: (group?, _id, cluster, _v,
    * metaCols…) for vectors (group?, _id, _v, metaCols…) against
    * centroids (group?, cluster, centroid), one independent argmin per
    * int `group` value. The centroids are collected once into an
    * [[IvfTable]] (one job, where a broadcast used to be) and each
    * vector is tagged by the `ivf_assign` kernel in a projection: map-
    * only, no join, no exchange, one output row per input row.
    * Vectors of a group with no centroids are dropped (decided on the
    * driver: an empty centroid set gives an empty result), as an inner
    * join on the group would.
    *
    * Boundary contract ([[IvfKernels]], pinned in AnnScaleSpec): the
    * distance is vec_l2's, ties break by (distance, cluster)
    * ascending, a null distance ranks first and NaN last, and a vector
    * whose length differs from a centroid's raises
    * IllegalArgumentException.
    */
  private def assign(vecs: DataFrame, centroids: DataFrame,
      group: Option[String], metaCols: Seq[String] = Nil): DataFrame = {
    val t = IvfTable.collect(centroids, group)
    val keep =
      if (t.groups.isEmpty) lit(false)
      else group.fold(lit(true))(g => col(g).isin(t.groups.toSeq: _*))
    val cluster = Shims.column(IvfAssignExpr(Shims.expression(col("_v")),
      Shims.expression(group.fold(lit(0))(col)), t))
    vecs.where(keep)
      .select((group.map(col).toSeq ++ Seq(col("_id"), cluster.as("cluster"),
        col("_v")) ++ metaCols.map(col)): _*)
  }

  /** IVF index: corpus rows tagged with their cluster id. At scale,
    * write this `partitionBy("cluster")` (parquet) so search scans
    * only nprobe partitions.
    */
  def buildIvf(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5, trainSampleMod: Long = 1): (DataFrame, DataFrame) = {
    val centroids = kmeans(corpus, idCol, vecCol, k, iters, trainSampleMod)
    (tagCorpus(corpus, idCol, vecCol, centroids), centroids)
  }

  /** Tag every corpus row with its argmin-l2 centroid. With a FIXED
    * centroid set (no k-means) the whole IVF path is deterministic and
    * SQL-expressible — the oracle-checked `ann_ivf_static` query uses
    * the first k corpus vectors as centroids.
    *
    * `metaCols` names extra corpus columns (labels, timestamps,
    * tenant ids …) to carry through onto the tagged rows, so an
    * at-rest index can serve FILTERED ANN — predicate applied inside
    * the probed clusters — without a join back to the base table.
    * They pass through the same map-only projection.
    *
    * One output row per input row: duplicate ids are tagged
    * independently, not merged. Degenerate rows (pinned in
    * AnnScaleSpec): a null vector is KEPT,
    * tagged cluster-lowest with a null vector — a null distance ranks
    * first in the (distance, cluster) minimum; a vector with a NaN
    * element has NaN distances, which rank above every number, so it
    * too lands in the lowest cluster; a length mismatch raises
    * IllegalArgumentException. Filter/assert non-null, finite,
    * fixed-length vectors first when the corpus is untrusted.
    */
  def tagCorpus(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, metaCols: Seq[String] = Nil): DataFrame = {
    assign(vectors(corpus, idCol, vecCol, metaCols = metaCols), centroids,
      None, metaCols)
      .select(
        (col("_id").as(idCol) +: col("_v").as(vecCol) +:
          col("cluster") +: metaCols.map(col)): _*)
  }

  /** Incremental maintenance: new vectors join an existing IVF index
    * by centroid assignment only (no retrain) — the insert path of a
    * live index (reference storage.go Insert + hnsw.go Add). Map-only:
    * [[tagCorpus]] and a union. An empty centroid set appends nothing.
    */
  def appendToIvf(
      tagged: DataFrame, centroids: DataFrame,
      newRows: DataFrame, idCol: String, vecCol: String): DataFrame =
    tagged.unionByName(tagCorpus(newRows, idCol, vecCol, centroids))

  /** Delete ids from a live IVF index: [[VectorStore.delete]]'s
    * broadcast batch anti-join (reference storage.go Delete; HNSW
    * instead has to unlink graph nodes). No rebuild, no retag —
    * remaining rows keep their cluster, so an at-rest
    * partitionBy("cluster") layout stays valid and only rewritten
    * partitions change.
    */
  def deleteFromIvf(
      tagged: DataFrame, idCol: String, doomed: DataFrame): DataFrame =
    VectorStore.delete(tagged, idCol, doomed)

  /** Per-cluster occupancy: (cluster, n, share). k rows — the input
    * to the retag-when-skewed decision and to at-rest partition-size
    * monitoring (one map-side-combined count per cluster).
    */
  def ivfStats(tagged: DataFrame): DataFrame = {
    val counts = tagged.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(col("cluster"), col("n"),
        round(col("n").cast("double") / col("_t"), 4).as("share"))
  }

  /** Compact / re-balance a live IVF index after churn: when the
    * occupancy is skewed (max cluster share > `maxShare` — inserts
    * and deletes concentrate in hot regions over time), re-run
    * Lloyd's on the CURRENT members seeded from the CURRENT centroids
    * and retag; otherwise return the index unchanged. The skew probe
    * reads k stat rows on the driver — bounded by design.
    *
    * Clusters that lost all members drop out of the recentering
    * (k may shrink); nprobe search semantics are unaffected. At rest,
    * follow with a partitionBy("cluster") rewrite of the changed
    * partitions.
    */
  def compactIvf(
      tagged: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      maxShare: Double = 0.5, iters: Int = 2): (DataFrame, DataFrame) = {
    val statRow = ivfStats(tagged).agg(max(col("share"))).head()
    // empty index -> max(share) is null -> nothing to rebalance
    val worst = if (statRow.isNullAt(0)) 0.0 else statRow.getDouble(0)
    if (worst <= maxShare) (tagged, centroids)
    else {
      val newCents = lloyd(vectors(tagged, idCol, vecCol), centroids, iters)
      (tagCorpus(tagged.drop("cluster"), idCol, vecCol, newCents), newCents)
    }
  }

  /** Persist an IVF index: corpus partitionBy(cluster) — the at-rest
    * layout where a probe is a partition-pruned scan of nprobe
    * directories, not a corpus read — plus the k-row centroid table.
    */
  def writeIndex(tagged: DataFrame, centroids: DataFrame, path: String): Unit = {
    tagged.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/ivf")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted IVF index: (tagged, centroids). */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/ivf"), spark.read.parquet(s"$path/centroids"))

  /** THE single-query IVF probe: `rows` joined on `cluster` with one
    * broadcast, the one-row `query` exploded over its [[probe]]
    * clusters, then `side`; the query's columns ride along. At rest
    * (`partitionBy("cluster")`) dynamic pruning reads only the probed
    * directories when the query row is a filtered file read (from a
    * cached frame it read them all).
    */
  private[operators] def probeJoin(rows: DataFrame, centroids: DataFrame,
      query: DataFrame, nprobe: Int, side: DataFrame => DataFrame): DataFrame =
    rows.join(broadcast(side(query.withColumn("cluster",
      explode(probe(col("qvec"), centroids, nprobe))))), Seq("cluster"))

  /** Search an IVF index: [[Knn.topK]] over the [[probeJoin]] of the
    * `nprobe` nearest clusters only.
    */
  def searchIvf(
      tagged: DataFrame, centroids: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, metric: String, k: Int,
      nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    Knn.exactTopK(probeJoin(tagged, centroids, query, nprobe, identity),
      idCol, vecCol, metric, k, roundTo)

  /** Batch form of [[searchIvf]]: many queries at once, each routed
    * to ITS `nprobe` nearest clusters and ranked independently —
    * `queries` is a (qid, qvec) frame, a micro-batch shipped inside
    * each task (see [[Knn.knnJoin]]). One scan of `tagged` through the
    * `knn_block` kernel: each task routes every query once (the
    * `ivf_assign` ranking: vec_l2 on doubles, null first, NaN last,
    * ties to the lower cluster) and scores a row only against the
    * queries probing its cluster; rows of unprobed clusters are
    * skipped. No join, no window, one single-partition exchange.
    *
    * Output (qid, id in its input type, dist), ordered by (qid, dist,
    * id). Each query's results are [[searchIvf]]'s, under the
    * [[Knn.knnJoin]] contract: one row per distinct id, null vectors
    * and NaN distances skipped, query rows sharing a qid share one
    * top-k. (Before the kernel, a null vector ranked first with a
    * null dist, a NaN row was kept and a duplicate id came back once
    * per copy.)
    */
  def searchIvfBatch(
      tagged: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, metric: String, k: Int,
      nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    Knn.searchBlock(tagged, idCol, vecCol, queries.select(col("qid"), col("qvec")),
      Some((centroids, nprobe)), metric, k, excludeSelf = false, roundTo)
      .select(col("qid"), col("id").cast(tagged.schema(idCol).dataType).as(idCol),
        col("dist"))

  /** A (cluster, centroid) frame as one array<struct<cluster: int,
    * centroid: array<double>>> scalar subquery: computed once per
    * action, no job while the DataFrame is built.
    */
  private[operators] def centroidBlock(centroids: DataFrame): Column =
    Knn.onePartition(centroids, oneFile = true)
      .select(collect_list(struct(col("cluster").cast("int").as("cluster"),
        transform(col("centroid"), _.cast("double")).as("centroid")))).scalar()

  /** The `nprobe` clusters `qvec` probes (array<int>, distinct, best first). */
  private[operators] def probe(qvec: Column, centroids: DataFrame, nprobe: Int): Column =
    Shims.column(IvfProbeExpr(Shims.expression(qvec),
      Shims.expression(centroidBlock(centroids)), nprobe))

  /** The two rankings both LSH audits compare, for each query
    * (`idCol` → qid, `vecCol` → qvec): the exact top-k (qid, id) over
    * the whole corpus and the bucketed top-k (qid, id, rn) within the
    * query's signature bucket, as [[searchLsh]] serves it. Both round
    * to 4 dp and tie-break by id, so the audits are deterministic and
    * engine-portable.
    */
  private def lshRankings(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, numPlanes: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val byQuery = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col(idCol))
    def topK(pairs: DataFrame): DataFrame = pairs
      .select(col("qid"), col(idCol), Knn.dist(vecCol, metric, 4).as("dist"))
      .withColumn("rn", row_number().over(byQuery))
      .where(col("rn") <= k)
      .select(col("qid"), col(idCol), col("rn"))
    val exact = topK(corpus.join(broadcast(q), lit(true)))
      .select(col("qid"), col(idCol))
    val bucketed = corpus.withColumn("bucket", lshSignature(col(vecCol), numPlanes))
    val qb = q.withColumn("qbucket", lshSignature(col("qvec"), numPlanes))
    (exact, topK(bucketed.join(broadcast(qb), col("bucket") === col("qbucket"))))
  }

  /** Recall@k self-report for the LSH index: for each query vector,
    * how many of the exact top-k survive in the LSH-bucketed top-k
    * (`n_hit` of `k`). This is the index-quality audit every ANN
    * deployment runs after (re)build — recall is measured on a SAMPLE
    * of queries, so the exact side's query×corpus scoring is bounded
    * by the sample size, not the corpus; candidates on the LSH side
    * stay bucket-bounded as in [[searchLsh]].
    */
  def lshRecallReport(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, numPlanes: Int = 8): DataFrame = {
    val (exact, approx) =
      lshRankings(corpus, queries, idCol, vecCol, metric, k, numPlanes)
    exact.join(approx.select(col("qid"), col(idCol), lit(1L).as("hit")),
        Seq("qid", idCol), "left_outer")
      .groupBy(col("qid"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .orderBy(col("qid"))
  }

  /** Ranking-quality audit for the LSH index: binary-relevance
    * nDCG@k of the bucketed ranking vs the exact top-k (rel = 1 iff
    * the doc is in the exact top-k; DCG sums 1/log2(pos+1) at each
    * surviving doc's APPROX position; IDCG is the all-relevant
    * prefix). Recall counts the survivors — nDCG also asks how HIGH
    * they rank, which is what a retrieval eval set actually consumes.
    * Same rankings and bounds as [[lshRecallReport]].
    */
  def lshNdcgReport(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      metric: String, k: Int, numPlanes: Int = 8): DataFrame = {
    val (exact, approx) =
      lshRankings(corpus, queries, idCol, vecCol, metric, k, numPlanes)
    // both engines build IDCG from the same ascending fold, so the
    // quotient's operands are op-for-op identical
    val idcg = expr(
      s"aggregate(sequence(1, $k), 0D, (a, i) -> a + 1.0 / log2(i + 1))")
    exact.join(approx, Seq("qid", idCol), "left_outer")
      .groupBy(col("qid"))
      .agg(round(
        coalesce(sum(lit(1.0) / log2(col("rn") + 1)), lit(0.0)) / idcg,
        4).as("ndcg"))
      .orderBy(col("qid"))
  }
}
