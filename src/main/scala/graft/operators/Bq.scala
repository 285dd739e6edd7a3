package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.sources.VectorStore

/** Static kernel for binary (sign-bit) quantization: one bit per
  * dimension against a per-dimension midrange threshold, packed into a
  * single 64-bit word (dim <= 64). Bit i is set iff x_i > thr_i.
  *
  * The threshold is the MIDRANGE (mn+mx)/2 — min/max are
  * order-insensitive aggregates, so (unlike a mean, whose float
  * summation order varies across partitionings) the learned model is
  * bit-identical on every run and in the DuckDB oracle.
  */
object BqKernels {
  def encode(vec: ArrayData, isFloat: Boolean, thr: Array[Double]): Long = {
    val n = vec.numElements()
    require(n == thr.length, s"bq: dim mismatch $n vs ${thr.length}")
    // one packed word: beyond 64 dims `1L << i` wraps mod 64 and
    // silently folds bits onto earlier positions — wrong hamming
    // distances with no error, so refuse instead
    require(n <= 64, s"bq: dim $n exceeds the 64-bit word (use PQ/SQ8)")
    var w = 0L; var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      if (x > thr(i)) w |= (1L << i)
      i += 1
    }
    w
  }

  /** Multi-word packing for dim > 64: bit i of word i/64 is set iff
    * x_i > thr_i — 384-dim (the reference's MiniLM width) packs into
    * exactly 6 words. */
  def encodeWide(vec: ArrayData, isFloat: Boolean, thr: Array[Double]): Array[Long] = {
    val n = vec.numElements()
    require(n == thr.length, s"bq: dim mismatch $n vs ${thr.length}")
    val words = new Array[Long]((n + 63) >> 6)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      if (x > thr(i)) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** Hamming distance between two packed multi-word codes. */
  def hammingWide(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(), s"bq: word count mismatch $n vs ${b.numElements()}")
    var h = 0; var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1
    }
    h
  }
}

/** bq_encode(vec): float vector -> packed sign-bit word (LongType).
  * Codegen'd call into the static kernel; the dim-bounded threshold
  * array rides along as a referenced object.
  */
case class BqEncodeExpr(child: Expression, thr: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bq_encode"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def nullSafeEval(v: Any): Any =
    BqKernels.encode(v.asInstanceOf[ArrayData], isFloat, thr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thrRef = ctx.addReferenceObj("thr", thr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.BqKernels.encode($c, $isFloat, $thrRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** bq_encode_wide(vec): float vector -> array of packed sign-bit
  * words (ceil(dim/64) longs) — the dim>64 form of [[BqEncodeExpr]].
  */
case class BqEncodeWideExpr(child: Expression, thr: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bq_encode_wide"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      BqKernels.encodeWide(v.asInstanceOf[ArrayData], isFloat, thr))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thrRef = ctx.addReferenceObj("thr", thr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.operators.BqKernels.encodeWide($c, $isFloat, $thrRef))")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** bq_hamming_wide(a, b): xor + popcount across the packed words of
  * two multi-word codes — stays codegen'd (static kernel call, no
  * higher-order array functions in the hot scan).
  */
case class BqHammingWideExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bq_hamming_wide"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> codes, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    BqKernels.hammingWide(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.BqKernels.hammingWide($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Binary-quantization index — the fourth index family next to
  * LSH/IVF+PQ and SQ8 (reference index surface: `pkg/index/flat/
  * flat.go`, `pkg/index/hnsw/hnsw.go`; this is the at-rest compression
  * path a Go single-node engine never needs but a 100 TB corpus
  * does). Each 64-dim float32 vector (256 B) compresses to ONE long
  * (8 B): 32x smaller at rest, and a candidate scan is an
  * xor + popcount per row — `bit_count(code ^ qcode)` stays inside
  * whole-stage codegen with zero object allocation.
  *
  * Train is [[Sq.range]]'s one pass over whole vectors (a dim-bounded
  * buffer per map task, a single collected row — bounded by dim, not
  * data; its degenerate-input rules are BQ's too).
  * Encode is map-only. Search is a map-only scan of the 8-byte codes
  * with a TakeOrderedAndProject heap on (hamming, id); the exact
  * re-rank touches only the C shortlisted full-precision rows via a
  * broadcast semi-join. No shuffle anywhere — the same serving shape
  * as Sq.searchWithRerank, at 1/4 its scan bytes.
  *
  * Everything is deterministic (midrange thresholds, integer hamming,
  * id tiebreaks), so build + search oracle end to end in DuckDB: the
  * oracle computes the same mismatch count WITHOUT packing
  * (sum of sign-bit disagreements == popcount of the packed xor).
  */
object Bq {

  case class Model(dim: Int, thr: Array[Double])

  /** Per-dimension midrange (mn + mx) / 2 of [[Sq.range]]'s one pass. */
  private def midrange(corpus: DataFrame, vecCol: String, dim: Int): Array[Double] = {
    val (mins, maxs) = Sq.range(corpus, vecCol, dim)
    Array.tabulate(dim)(i => (mins(i) + maxs(i)) / 2.0)
  }

  def train(corpus: DataFrame, vecCol: String, dim: Int): Model = {
    require(1 <= dim && dim <= 64,
      s"bq: dim $dim outside [1, 64] — codes pack into one long " +
        "(trainWide packs dim > 64 into ceil(dim/64) words)")
    Model(dim, midrange(corpus, vecCol, dim))
  }

  /** Multi-word BQ for dim > 64 — the reference corpus is 384-dim
    * MiniLM (engine.go:65-95), which packs into exactly 6 words:
    * 1536 B float32 → 48 B at rest. Same midrange thresholds, same
    * one-pass train; codes are `array<bigint>` and the candidate
    * scan is the codegen'd multi-word xor+popcount kernel.
    */
  def trainWide(corpus: DataFrame, vecCol: String, dim: Int): Model = {
    require(dim >= 1, s"bq: dim $dim must be positive")
    Model(dim, midrange(corpus, vecCol, dim))
  }

  def bq_encode_wide(model: Model, vec: Column): Column =
    Shims.column(BqEncodeWideExpr(Shims.expression(vec), model.thr))

  def hammingWide(a: Column, b: Column): Column =
    Shims.column(BqHammingWideExpr(Shims.expression(a), Shims.expression(b)))

  /** Map-only encode: (idCol, code array<bigint> of ceil(dim/64)). */
  def encodeWide(model: Model, corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol), bq_encode_wide(model, col(vecCol)).as("code"))

  /** Top-k by Hamming over multi-word codes — same serving shape as
    * [[search]]: map-only scan, TakeOrderedAndProject on (ham, id). */
  def searchWide(model: Model, codes: DataFrame, query: DataFrame,
      idCol: String, topK: Int): DataFrame =
    hamTopK(codes.crossJoin(broadcast(
        query.select(bq_encode_wide(model, col("qvec")).as("qcode")))),
      idCol, hammingWide(col("code"), col("qcode")), topK)

  /** [[Knn.cut]] of code rows paired with their `qcode` by `ham`. */
  private def hamTopK(pairs: DataFrame, idCol: String, ham: Column,
      topK: Int): DataFrame =
    Knn.cut(pairs, idCol, Seq("code", "qcode"), ham, "ham", topK)

  def bq_encode(model: Model, vec: Column): Column =
    Shims.column(BqEncodeExpr(Shims.expression(vec), model.thr))

  /** Hamming distance between two packed words: xor + popcount,
    * codegen'd by the built-in `bit_count`. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Map-only encode: (idCol, code long). */
  def encode(model: Model, corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), bq_encode(model, col(vecCol)).as("code"))

  /** The query's packed code, `qcode`. */
  private def qcode(model: Model): Column = bq_encode(model, col("qvec")).as("qcode")

  /** Top-k by Hamming distance over the packed codes: scan + xor +
    * popcount per row, TakeOrderedAndProject on (ham, id). `query` is
    * a one-row (qvec) DataFrame — broadcast, never collected. Null
    * codes and queries as in [[Knn.cut]] (a null code used to rank
    * first). */
  def search(model: Model, codes: DataFrame, query: DataFrame,
      idCol: String, topK: Int): DataFrame =
    hamTopK(codes.crossJoin(broadcast(query.select(qcode(model)))), idCol,
      hamming(col("code"), col("qcode")), topK)

  /** Hamming shortlist + exact re-rank — the production serving
    * pattern: the 8-byte code scan picks `candidates` ids, exact
    * distance touches only those full-precision rows ([[Knn.rerank]]). */
  def searchWithRerank(model: Model, codes: DataFrame, corpus: DataFrame,
      query: DataFrame, idCol: String, vecCol: String, metric: String,
      topK: Int, candidates: Int, roundTo: Int = 4): DataFrame =
    Knn.rerank(corpus, search(model, codes, query, idCol, candidates),
      query, idCol, vecCol, metric, topK, roundTo)

  /** Live-index insert: encode new rows with the FROZEN thresholds
    * and union — map-only, no retrain (the storage-Insert path; same
    * contract as Ann.appendToIvf / Sq.appendToIndex). Sign bits have
    * no clamp regime, so staleness here is distributional: a corpus
    * drifting off the trained midranges skews buckets toward all-0s/
    * all-1s words rather than corrupting individual codes. */
  def appendToIndex(model: Model, codes: DataFrame, newRows: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    codes.unionByName(encode(model, newRows, idCol, vecCol))

  /** Live-index delete: [[VectorStore.delete]]'s
    * broadcast batch anti-join of the doomed ids. */
  def deleteFromIndex(codes: DataFrame, idCol: String,
      doomed: DataFrame): DataFrame =
    VectorStore.delete(codes, idCol, doomed)

  /** Composed IVF-BQ: coarse quantizer routes the query to `nprobe`
    * clusters, the hamming scan touches only THEIR 8-byte codes, and
    * exact re-rank touches only the C shortlisted full-precision
    * rows. The deepest funnel in the index family: at rest
    * (partitionBy("cluster")) a query reads nprobe/k of the corpus at
    * 1/32 the bytes, then C rows exactly. `tagged` is
    * Ann.tagCorpus output (id, vec, cluster); codes carry the
    * cluster so serving never joins back for routing. */
  def encodeIvf(model: Model, tagged: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    tagged.select(col(idCol), col("cluster"),
      bq_encode(model, col(vecCol)).as("code"))

  /** Live-index insert for the composed IVF-BQ index: route the new
    * batch through the FROZEN coarse quantizer, sign-encode with the
    * FROZEN thresholds, union — map-only: the centroids ride the
    * `ivf_assign` kernel as a collected table, no broadcast and no
    * shuffle; existing cluster partitions are untouched.
    * Deletes need no composed variant: [[deleteFromIndex]] anti-joins
    * clusterCodes by id and rows keep their cluster.
    */
  def appendToIvfIndex(model: Model, clusterCodes: DataFrame,
      centroids: DataFrame, newRows: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    clusterCodes.unionByName(
      encodeIvf(model, Ann.tagCorpus(newRows, idCol, vecCol, centroids),
        idCol, vecCol))

  /** IVF-BQ serving: the [[searchWithRerank]] funnel over the codes of
    * the query's `nprobe` nearest clusters only ([[Ann.probeJoin]],
    * `qcode` riding along; partition-pruned at rest). */
  def searchIvfBq(model: Model, clusterCodes: DataFrame,
      centroids: DataFrame, corpus: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, metric: String, topK: Int,
      candidates: Int, nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    Knn.rerank(corpus,
      hamTopK(Ann.probeJoin(clusterCodes, centroids,
          query.select(col("qvec"), qcode(model)), nprobe, identity),
        idCol, hamming(col("code"), col("qcode")), candidates),
      query, idCol, vecCol, metric, topK, roundTo)

  /** Persist the index: 8-byte codes table + dim-row threshold table. */
  def writeIndex(model: Model, codes: DataFrame, dir: String): Unit = {
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val spark = codes.sparkSession
    import spark.implicits._
    model.thr.zipWithIndex.map { case (t, i) => (i, t) }.toSeq
      .toDF("dim", "thr")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  def loadIndex(spark: SparkSession, dir: String): (Model, DataFrame) = {
    val params = spark.read.parquet(s"$dir/params").orderBy("dim").collect()
    val model = Model(params.length, params.map(_.getDouble(1)))
    (model, spark.read.parquet(s"$dir/codes"))
  }
}
