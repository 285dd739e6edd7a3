package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.sources.VectorStore

/** Static kernels for PQ encode and ADC scoring over a flat codebook
  * table: entry (g, c) — subspace g, code c — holds subDim doubles
  * starting at (g * k + c) * subDim. Both keep the op order of the SQL
  * formulation the DuckDB oracle replays, so results are bit-identical
  * to it (same ops, same order, IEEE 754):
  *
  *   encode: code_g = argmin_c sqrt(sum_i (x_i - e_gc,i)^2), the sum a
  *           fold from 0.0 in index order (vec_l2's loop, floats read
  *           as doubles); ties go to the lower code and NaN ranks above
  *           every number — Spark's min_by((distance, code)) ordering
  *   adc:    sum_g sum_i (q_i - e_g,code_g,i)^2, each inner sum a fold
  *           from 0.0 in index order, groups added in order 0..m-1
  *           (the oracle's list_sum). Squared: callers take the sqrt.
  */
object PqKernels {
  /** A null vector encodes to m zero codes: every distance is null,
    * so the (distance, code) minimum is the lowest code. */
  def encode(vec: ArrayData, isFloat: Boolean, m: Int, k: Int, subDim: Int,
      table: Array[Double]): ArrayData = {
    val out = new Array[Int](m)
    if (vec != null) {
      val n = vec.numElements()
      if (n != m * subDim) throw new IllegalArgumentException(
        s"pq_encode: dimension mismatch: vector has $n elements, " +
          s"the model expects ${m * subDim} (m=$m x subDim=$subDim)")
      val x = new Array[Double](n)
      var j = 0
      while (j < n) {
        x(j) = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        j += 1
      }
      var g = 0
      while (g < m) {
        val off = g * subDim
        var best = 0; var bestD = 0.0
        var c = 0
        while (c < k) {
          val base = (g * k + c) * subDim
          var s = 0.0; var i = 0
          while (i < subDim) { val d = x(off + i) - table(base + i); s += d * d; i += 1 }
          val dist = math.sqrt(s)
          if (c == 0 || dist < bestD || (bestD.isNaN && !dist.isNaN)) {
            best = c; bestD = dist
          }
          c += 1
        }
        out(g) = best
        g += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def adc(codes: ArrayData, q: ArrayData, qIsFloat: Boolean, m: Int, k: Int,
      subDim: Int, table: Array[Double]): Double = {
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"pq_adc: ${codes.numElements()} codes, the model has m=$m subspaces")
    if (q.numElements() != m * subDim) throw new IllegalArgumentException(
      s"pq_adc: dimension mismatch: query has ${q.numElements()} elements, " +
        s"the model expects ${m * subDim} (m=$m x subDim=$subDim)")
    var total = 0.0; var g = 0
    while (g < m) {
      val c = codes.getInt(g)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"pq_adc: code $c out of range [0, $k) in subspace $g")
      val base = (g * k + c) * subDim; val off = g * subDim
      var s = 0.0; var i = 0
      while (i < subDim) {
        val d = (if (qIsFloat) q.getFloat(off + i).toDouble else q.getDouble(off + i)) -
          table(base + i)
        s += d * d
        i += 1
      }
      total += s
      g += 1
    }
    total
  }
}

/** pq_encode(vec): vector -> m codes (array<int>), never null. Codegen'd
  * call into the static kernel with the codebook table attached as a
  * referenced object (model-sized: m*k*subDim doubles).
  */
case class PqEncodeExpr(child: Expression, m: Int, k: Int, subDim: Int,
    table: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_encode"
  // plans print the model shape, not the table's identity hash
  override protected def stringArgs: Iterator[Any] = Iterator(child, m, k, subDim)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def eval(input: InternalRow): Any =
    PqKernels.encode(child.eval(input).asInstanceOf[ArrayData], isFloat, m, k,
      subDim, table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val tRef = ctx.addReferenceObj("pqTable", table, "double[]")
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.operators.PqKernels.encode(${v.isNull} ? null : ${v.value},
      |    $isFloat, $m, $k, $subDim, $tRef);""".stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pq_adc(codes, qvec): squared ADC distance between a code row and a
  * full-precision query — the PQ serving scan, map-only (no explode,
  * no codebook join, no shuffle before the top-k heap).
  */
case class PqAdcExpr(left: Expression, right: Expression, m: Int, k: Int,
    subDim: Int, table: Array[Double]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override protected def stringArgs: Iterator[Any] = Iterator(left, right, m, k, subDim)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int>, array<float|double>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }
  private def qIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    PqKernels.adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      qIsFloat, m, k, subDim, table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pqTable", table, "double[]")
    defineCodeGen(ctx, ev, (c, q) =>
      s"graft.operators.PqKernels.adc($c, $q, $qIsFloat, $m, $k, $subDim, $tRef)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Product Quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the classic vector-DB
  * compression: split each d-dim vector into `m` subvectors, k-means
  * each subspace to `k` codes, store only the m code ids (d floats ->
  * m small ints; 64 floats -> 8 bytes at k<=256). Search scores a
  * query against the codes via Asymmetric Distance Computation
  * without touching the original vectors.
  *
  * Spark-first shape: all m subspace k-means run as ONE grouped
  * pipeline per iteration — [[Ann.lloyd]] grouped by subspace id, the
  * loop IVF k-means runs — not m sequential loops.
  * Encode and ADC scoring are codegen'd per-row kernels
  * ([[PqKernels]]: `pq_encode`, `pq_adc`) over the flat codebook table
  * the model collects once — map-only, with no explode, no join
  * against the codebooks and no shuffle.
  */
object Pq {

  case class Model(m: Int, k: Int, subDim: Int, codebooks: DataFrame) {
    /** The codebooks as [[PqKernels]]' flat table, collected once per
      * model instance: m*k*subDim doubles, model-sized like Sq.Model's
      * ranges. Every (grp, code) in [0, m) x [0, k) must appear once.
      */
    lazy val table: Array[Double] = {
      val rows = codebooks.select(col("grp"), col("code"), col("centroid")).collect()
      val t = new Array[Double](m * k * subDim)
      val seen = new Array[Boolean](m * k)
      rows.foreach { r =>
        val g = r.getInt(0); val c = r.getInt(1); val e = r.getSeq[Double](2)
        require(g >= 0 && g < m && c >= 0 && c < k && !seen(g * k + c),
          s"pq: codebook entry (grp $g, code $c) is out of range or repeated")
        require(e.length == subDim,
          s"pq: codebook entry (grp $g, code $c) has ${e.length} elements, subDim is $subDim")
        seen(g * k + c) = true
        e.copyToArray(t, (g * k + c) * subDim)
      }
      require(rows.length == m * k,
        s"pq: ${rows.length} codebook entries, expected m*k = ${m * k}")
      t
    }
  }

  /** Rows of (grp, _id, subvector) for every subspace. */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    corpus.select(col(idCol).as("_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), g =>
          struct(g.as("grp"),
            transform(slice(col(vecCol), g * subDim + 1, lit(subDim)),
              _.cast("double")).as("sv")))).as("e"))
      .select(col("e.grp").as("grp"), col("_id"), col("e.sv").as("_v"))

  /** Train codebooks with [[Ann.lloyd]] grouped by subspace — the
    * same loop, assignment and 1e-6 snap as IVF k-means, which is what
    * lets ann_pq be oracled via SparkEntry.pqKmeansCtes. Deterministic:
    * seeded from the first k vectors per subspace in id order; the
    * loop's `cluster` is the code. `trainSampleMod > 1` runs Lloyd's on
    * the deterministic `id % trainSampleMod == 0` sample only —
    * codebooks need ~100k training vectors, so at 100 TB the sample is
    * the difference between a feasible build and a non-starter; the
    * full corpus is still ENCODED in one map-side pass afterwards.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, k: Int = 16, iters: Int = 3,
      trainSampleMod: Long = 1): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sample =
      if (trainSampleMod > 1) corpus.where(col(idCol) % trainSampleMod === 0)
      else corpus
    val vecs = subvectors(sample, idCol, vecCol, m, subDim)
    val seed = vecs
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("_id"))))
      .where(col("_rn") <= k)
      .select(col("grp"), (col("_rn") - 1).as("cluster"), col("_v").as("centroid"))
    val cb = Ann.lloyd(vecs, seed, iters, Some("grp"))
      .select(col("grp"), col("cluster").as("code"), col("centroid"))
    Model(m, k, subDim, cb.coalesce(1).localCheckpoint(eager = false))
  }

  /** Codebooks WITHOUT k-means: entry (g, c) is subvector g of the
    * corpus vector with id c (ids 0..k-1 must exist). Deterministic
    * and SQL-expressible, so the whole encode + ADC path can be
    * DuckDB-oracled (`ann_pq_static`) — the same trick
    * `ann_ivf_static` uses for IVF; only Lloyd's itself stays under
    * the weaker rows-only check.
    */
  /** OPQ-style deterministic dimension permutation (the permutation
    * special case of Ge et al.'s Optimized Product Quantization,
    * CVPR'13): rank dimensions by per-dimension variance and deal
    * them to the m subspaces in a SNAKE draft (rank r → subspace
    * r%m on even passes, m-1-r%m on odd), so every subquantizer sees
    * a comparable share of the cloud's energy instead of whatever
    * contiguous slice the storage order happened to give it. A float
    * rotation matrix would beat it on correlated data but is not
    * integer-oracle-able; the permutation is — variance numerators
    * are EXACT integers over e3-quantized values (n·Σq² − (Σq)²),
    * ranking ties break by dimension index, and the snake is closed
    * form, so an independent engine replays the identical order.
    *
    * One map-side (dim)-keyed aggregate over the corpus (the same
    * shape as the SQ range scan); the returned order is |dims| ints —
    * model-sized by construction. Returns the permuted dimension
    * order: position p of the permuted vector reads original
    * dimension order(p).
    */
  def varianceSnakeOrder(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int): Seq[Int] = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("vn").desc, col("j"))
    // global window is fine: the frame is |dims| rows (vocab_coverage
    // bounded-frame precedent), never corpus-sized
    corpus.select(posexplode(
        transform(col(vecCol), x => round(x.cast("double") * 1000)
          .cast("long"))).as(Seq("j", "q")))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      // DECIMAL(38,0) for the numerator: n·Σq² is ~n²·q² and wraps
      // Long silently past n ≈ 10^7 vectors; at ≤ 2.5e29 for n = 1e12,
      // e3 inputs it fits decimal(38) with exactness intact (DuckDB
      // reaches the same values through HUGEINT)
      .select(col("j"),
        (col("n").cast("decimal(19,0)") * col("sqq").cast("decimal(19,0)")
          - col("sq").cast("decimal(19,0)") * col("sq").cast("decimal(19,0)"))
          .as("vn"))
      .withColumn("r", row_number().over(w) - 1)
      .select(col("j"),
        when(pmod(col("r"), lit(2L * m)) < m, pmod(col("r"), lit(m.toLong)))
          .otherwise(lit(m - 1) - pmod(col("r"), lit(m.toLong))).as("grp"),
        col("r"))
      .orderBy(col("grp"), col("r"))
      .select(col("j"))
      .collect().map(_.getInt(0)).toSeq
  }

  def staticCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, k: Int = 16): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val cb = subvectors(corpus.where(col(idCol) < k), idCol, vecCol, m, subDim)
      .select(col("grp"), col("_id").cast("int").as("code"),
        col("_v").as("centroid"))
    Model(m, k, subDim, cb)
  }

  /** Persist a PQ index to parquet: `path`/codes (the 8-byte-per-
    * vector table — at 100 TB this is the ONLY full-corpus artifact a
    * search scans, 32x smaller than the vectors), `path`/codebooks
    * (m*k tiny rows) and `path`/params. The at-rest serving layout
    * for [[searchAdcJoin]]'s map-only scoring.
    */
  def writeIndex(model: Model, codes: DataFrame, path: String): Unit = {
    codes.write.mode("overwrite").parquet(s"$path/codes")
    writeModel(model, codes.sparkSession, path)
  }

  /** Codebooks + params persistence shared by the plain-PQ and IVF-PQ
    * index layouts (one schema, one loader — they can't drift).
    */
  def writeModel(model: Model, spark: SparkSession, path: String): Unit = {
    model.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    import spark.implicits._
    Seq((model.m, model.k, model.subDim)).toDF("m", "k", "subDim")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  def loadModel(spark: SparkSession, path: String): Model = {
    val p = spark.read.parquet(s"$path/params").head()
    Model(p.getAs[Int]("m"), p.getAs[Int]("k"), p.getAs[Int]("subDim"),
      spark.read.parquet(s"$path/codebooks"))
  }

  /** Load a persisted PQ index: (model, codes). Codebooks stay a
    * DataFrame, collected into [[Model.table]] the first time a
    * kernel needs it.
    */
  def loadIndex(spark: SparkSession, path: String): (Model, DataFrame) =
    (loadModel(spark, path), spark.read.parquet(s"$path/codes"))

  def pq_encode(model: Model, vec: Column): Column =
    Shims.column(PqEncodeExpr(Shims.expression(vec),
      model.m, model.k, model.subDim, model.table))

  /** Squared ADC distance of `codes` to `qvec`; score with sqrt. */
  def pq_adc(model: Model, codes: Column, qvec: Column): Column =
    Shims.column(PqAdcExpr(Shims.expression(codes), Shims.expression(qvec),
      model.m, model.k, model.subDim, model.table))

  /** Map-only encode: (idCol, codes array<int> of length m). */
  def encode(model: Model, corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), pq_encode(model, col(vecCol)).as("codes"))

  /** Live-index insert: encode new rows with the FROZEN codebooks and
    * union — map-only, no retrain (the storage-Insert path; same
    * contract as Ann.appendToIvf / Sq.appendToIndex / Bq.appendToIndex,
    * closing the one family asymmetry). Codebooks fitted on the old
    * distribution still quantize drifted vectors — they just land on
    * farther centroids — so unlike SQ8 there's no clamp cliff, only a
    * gradual recall fade; recall audits (ann_recall_matrix) are the
    * retrain trigger here.
    */
  def appendToIndex(model: Model, codes: DataFrame, newRows: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    codes.unionByName(encode(model, newRows, idCol, vecCol))

  /** Live-index delete: [[VectorStore.delete]]'s
    * broadcast batch anti-join of the doomed ids. */
  def deleteFromIndex(codes: DataFrame, idCol: String,
      doomed: DataFrame): DataFrame =
    VectorStore.delete(codes, idCol, doomed)

  /** ADC top-k: the query stays a (broadcast) one-row DataFrame with
    * column `qvec` — no driver-side action on the query path beyond
    * the model's one-time codebook collect — and each code row is
    * scored by the `pq_adc` kernel, topped by TakeOrderedAndProject.
    * Returns (id, score) ascending: approximate distances, exact
    * ordering by the codes, under [[Knn.cut]]'s contract.
    */
  def searchAdcJoin(model: Model, codes: DataFrame, query: DataFrame,
      idCol: String, topK: Int, roundTo: Int = 4): DataFrame =
    adcTopK(model, codes.crossJoin(broadcast(query)), "qvec", idCol, topK, roundTo)

  /** THE ADC score of `codes` to a query vector. */
  private[operators] def adcScore(model: Model, codes: Column, q: Column,
      roundTo: Int): Column =
    round(sqrt(pq_adc(model, codes, q)), roundTo)

  /** [[Knn.cut]] of `codes` rows paired with query column `qCol`. */
  private[operators] def adcTopK(model: Model, pairs: DataFrame, qCol: String,
      idCol: String, topK: Int, roundTo: Int): DataFrame =
    Knn.cut(pairs, idCol, Seq("codes", qCol),
      adcScore(model, col("codes"), col(qCol), roundTo), "score", topK)

  /** ADC shortlist + exact re-rank: scan the 8-byte codes for
    * `candidates` approximate nearest, then compute true distances
    * for only those rows ([[Knn.rerank]]). The production pattern:
    * the full-precision corpus is touched for C rows, not |corpus| —
    * at 100 TB the codes (32x smaller) are the only full scan. With
    * static codebooks the whole plan is DuckDB-oracled (`ann_pq_rerank`).
    */
  def searchWithRerankJoin(
      model: Model, codes: DataFrame, corpus: DataFrame,
      query: DataFrame, idCol: String, vecCol: String,
      metric: String, topK: Int, candidates: Int = 100): DataFrame =
    Knn.rerank(corpus, searchAdcJoin(model, codes, query, idCol, candidates),
      query, idCol, vecCol, metric, topK, Knn.DefaultRound)
}
