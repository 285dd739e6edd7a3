package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.functions.DimRange
import graft.sources.VectorStore

/** Static kernels for SQ8 scalar quantization. The arithmetic is
  * double-exact and ORDER-SENSITIVE on purpose: the DuckDB oracle
  * evaluates the textually identical formula, so both engines produce
  * bit-identical doubles (same ops, same order, IEEE 754).
  *
  *   code_i    = clamp(floor((x_i - mn_i) * 255.0 / (mx_i - mn_i) + 0.5))
  *   dequant_i = mn_i + code_i * (mx_i - mn_i) / 255.0
  */
object SqKernels {
  def encode(vec: ArrayData, isFloat: Boolean,
      mins: Array[Double], maxs: Array[Double]): ArrayData = {
    val n = vec.numElements()
    require(n == mins.length, s"sq8: dim mismatch $n vs ${mins.length}")
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val mn = mins(i); val mx = maxs(i)
      out(i) =
        if (mx == mn) 0
        else {
          val q = math.floor((x - mn) * 255.0 / (mx - mn) + 0.5)
          math.max(0.0, math.min(255.0, q)).toInt
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  def l2(codes: ArrayData, q: ArrayData, qIsFloat: Boolean,
      mins: Array[Double], maxs: Array[Double]): Double = {
    val n = codes.numElements()
    require(n == q.numElements(), s"sq8: dim mismatch $n vs ${q.numElements()}")
    var s = 0.0; var i = 0
    while (i < n) {
      val mn = mins(i); val mx = maxs(i)
      val d = mn + codes.getInt(i) * (mx - mn) / 255.0 -
        (if (qIsFloat) q.getFloat(i).toDouble else q.getDouble(i))
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** SQ4: 16-level quantization, two codes packed per stored int
    * nibble-wise (lo nibble = even dim). Half SQ8's at-rest bytes —
    * the last codec rung before binary. Code arithmetic mirrors SQ8
    * with 15.0 so the oracle's unpacked formula is bit-identical
    * (packing is lossless; distances don't see it). */
  def encode4(vec: ArrayData, isFloat: Boolean,
      mins: Array[Double], maxs: Array[Double]): ArrayData = {
    val n = vec.numElements()
    require(n == mins.length, s"sq4: dim mismatch $n vs ${mins.length}")
    val out = new Array[Int]((n + 1) / 2)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val mn = mins(i); val mx = maxs(i)
      val c =
        if (mx == mn) 0
        else {
          val q = math.floor((x - mn) * 15.0 / (mx - mn) + 0.5)
          math.max(0.0, math.min(15.0, q)).toInt
        }
      out(i >> 1) |= c << ((i & 1) * 4)
      i += 1
    }
    new GenericArrayData(out)
  }

  def l24(codes: ArrayData, q: ArrayData, qIsFloat: Boolean,
      mins: Array[Double], maxs: Array[Double]): Double = {
    val n = mins.length
    require(n == q.numElements(), s"sq4: dim mismatch $n vs ${q.numElements()}")
    require(codes.numElements() == (n + 1) / 2,
      s"sq4: packed length ${codes.numElements()} vs dim $n")
    var s = 0.0; var i = 0
    while (i < n) {
      val c = (codes.getInt(i >> 1) >>> ((i & 1) * 4)) & 15
      val mn = mins(i); val mx = maxs(i)
      val d = mn + c * (mx - mn) / 15.0 -
        (if (qIsFloat) q.getFloat(i).toDouble else q.getDouble(i))
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }
}

/** sq8_encode(vec): float vector -> per-dimension byte codes (stored
  * as array<int> for parquet/oracle portability; 255 values fit).
  * Codegen'd call into the static kernel, model ranges attached as
  * referenced objects (bounded by dim, not data).
  */
case class Sq8EncodeExpr(child: Expression,
    mins: Array[Double], maxs: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq8_encode"
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
    SqKernels.encode(v.asInstanceOf[ArrayData], isFloat, mins, maxs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mins", mins, "double[]")
    val mxRef = ctx.addReferenceObj("maxs", maxs, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.SqKernels.encode($c, $isFloat, $mnRef, $mxRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sq8_l2(codes, qvec): L2 distance between a dequantized code vector
  * and a full-precision query — the SQ8 serving scan (map-only; no
  * join, no shuffle before the top-k heap).
  */
case class Sq8L2Expr(left: Expression, right: Expression,
    mins: Array[Double], maxs: Array[Double]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_l2"
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
    SqKernels.l2(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      qIsFloat, mins, maxs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mins", mins, "double[]")
    val mxRef = ctx.addReferenceObj("maxs", maxs, "double[]")
    defineCodeGen(ctx, ev, (c, q) =>
      s"graft.operators.SqKernels.l2($c, $q, $qIsFloat, $mnRef, $mxRef)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sq4_encode(vec): float vector -> nibble-packed 4-bit codes, two
  * dims per stored int (array length ceil(dim/2)). Same codegen'd
  * static-kernel shape as SQ8. */
case class Sq4EncodeExpr(child: Expression,
    mins: Array[Double], maxs: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq4_encode"
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
    SqKernels.encode4(v.asInstanceOf[ArrayData], isFloat, mins, maxs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mins", mins, "double[]")
    val mxRef = ctx.addReferenceObj("maxs", maxs, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.operators.SqKernels.encode4($c, $isFloat, $mnRef, $mxRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sq4_l2(packed_codes, qvec): L2 between the nibble-unpacked
  * dequantized vector and a full-precision query — map-only SQ4
  * serving scan. */
case class Sq4L2Expr(left: Expression, right: Expression,
    mins: Array[Double], maxs: Array[Double]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq4_l2"
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
    SqKernels.l24(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      qIsFloat, mins, maxs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mins", mins, "double[]")
    val mxRef = ctx.addReferenceObj("maxs", maxs, "double[]")
    defineCodeGen(ctx, ev, (c, q) =>
      s"graft.operators.SqKernels.l24($c, $q, $qIsFloat, $mnRef, $mxRef)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQ8 scalar-quantization index: every float dimension compressed to
  * one byte against per-dimension [min, max] ranges learned in a
  * single pass over whole vectors. The third index family next to
  * LSH/IVF and PQ: 4x smaller than float32 at rest, ~1% distance error
  * on this corpus, and — unlike k-means codebooks — the training
  * statistic (min/max) is DETERMINISTIC, so build + search oracle end
  * to end.
  *
  * 100 TB shape: train is one `dim_range` aggregate ([[range]]): each
  * map task folds its partition into one dim-bounded buffer and the
  * driver collects a single row (bounded by dim, not data — same
  * argument as PQ's m*k codebook literal); encode is map-only;
  * search is a map-only scan of the codes with the distance kernel,
  * topped by TakeOrderedAndProject. No shuffle anywhere.
  */
object Sq {

  case class Model(dim: Int, mins: Array[Double], maxs: Array[Double])

  /** Per-dimension (mins, maxs) of elements 1..dim, read as doubles,
    * in one pass over whole vectors ([[graft.functions.DimRange]]: 2
    * jobs on a cached multi-partition corpus). A null vector or element
    * is skipped and elements past `dim` are ignored; NaN ranks above
    * every number, and -0.0 == 0.0 keeps the value held first. A vector
    * shorter than `dim` raises `INVALID_ARRAY_INDEX_IN_ELEMENT_AT`; a
    * dimension with no value (an empty or all-null corpus) raises
    * `ROW_VALUE_IS_NULL`. The model of [[train]], [[Bq.train]] and
    * [[Bq.trainWide]].
    */
  private[operators] def range(corpus: DataFrame, vecCol: String,
      dim: Int): (Array[Double], Array[Double]) = {
    val row = corpus.agg(DimRange.dim_range(col(vecCol), dim).as("r"))
      .select("r.*").head()
    (Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }

  /** Per-dimension [min, max] ranges, as [[range]]; `dim` < 1 raises
    * `IllegalArgumentException`. */
  def train(corpus: DataFrame, vecCol: String, dim: Int): Model = {
    require(dim >= 1, s"sq: dim $dim must be positive")
    val (mins, maxs) = range(corpus, vecCol, dim)
    Model(dim, mins, maxs)
  }

  def sq8_encode(model: Model, vec: Column): Column =
    Shims.column(Sq8EncodeExpr(Shims.expression(vec), model.mins, model.maxs))

  def sq8_l2(model: Model, codes: Column, qvec: Column): Column =
    Shims.column(Sq8L2Expr(Shims.expression(codes), Shims.expression(qvec),
      model.mins, model.maxs))

  /** Map-only encode: (idCol, codes array<int>). */
  def encode(model: Model, corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), sq8_encode(model, col(vecCol)).as("codes"))

  /** THE SQ8 / SQ4 scores of a `codes` row paired with its `qvec`. */
  private[operators] def dist8(model: Model, roundTo: Int): Column =
    round(sq8_l2(model, col("codes"), col("qvec")), roundTo)
  private[operators] def dist4(model: Model, roundTo: Int): Column =
    round(sq4_l2(model, col("codes"), col("qvec")), roundTo)

  private def codeTopK(pairs: DataFrame, idCol: String, score: Column,
      topK: Int): DataFrame =
    Knn.cut(pairs, idCol, Seq("codes", "qvec"), score, "dist", topK)

  /** Top-k by dequantized L2: scan codes, distance kernel per row,
    * TakeOrderedAndProject. `query` is a one-row (qvec) DataFrame —
    * broadcast, never collected on the driver. Null codes and queries
    * as in [[Knn.cut]] (a null-codes row used to rank first). */
  def search(model: Model, codes: DataFrame, query: DataFrame,
      idCol: String, topK: Int, roundTo: Int = 4): DataFrame =
    codeTopK(codes.crossJoin(broadcast(query)), idCol, dist8(model, roundTo), topK)

  /** SQ8 shortlist + exact re-rank — the production serving pattern:
    * the 1/4-size code scan picks `candidates` ids, exact distance
    * touches only those full-precision rows ([[Knn.rerank]]). */
  def searchWithRerank(model: Model, codes: DataFrame, corpus: DataFrame,
      query: DataFrame, idCol: String, vecCol: String, metric: String,
      topK: Int, candidates: Int, roundTo: Int = 4): DataFrame =
    Knn.rerank(corpus, search(model, codes, query, idCol, candidates, roundTo),
      query, idCol, vecCol, metric, topK, roundTo)

  def sq4_encode(model: Model, vec: Column): Column =
    Shims.column(Sq4EncodeExpr(Shims.expression(vec), model.mins, model.maxs))

  def sq4_l2(model: Model, codes: Column, qvec: Column): Column =
    Shims.column(Sq4L2Expr(Shims.expression(codes), Shims.expression(qvec),
      model.mins, model.maxs))

  /** Map-only SQ4 encode: (idCol, packed codes array<int>, half SQ8's
    * at-rest width — dim/2 nibble-packed ints). Shares [[train]]'s
    * min/max model with SQ8; only the level count differs. */
  def encode4(model: Model, corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), sq4_encode(model, col(vecCol)).as("codes"))

  /** Top-k by dequantized 4-bit L2: identical serving shape to
    * [[search]] — map-only code scan + TakeOrderedAndProject. */
  def search4(model: Model, codes: DataFrame, query: DataFrame,
      idCol: String, topK: Int, roundTo: Int = 4): DataFrame =
    codeTopK(codes.crossJoin(broadcast(query)), idCol, dist4(model, roundTo), topK)

  /** SQ4 shortlist + exact re-rank: the coarse 1/8-size scan picks
    * `candidates`, full-precision distance touches only those rows.
    * SQ4's wider cells make the rerank step MORE load-bearing than
    * SQ8's — the recall matrix quantifies the trade. */
  def search4WithRerank(model: Model, codes: DataFrame, corpus: DataFrame,
      query: DataFrame, idCol: String, vecCol: String, metric: String,
      topK: Int, candidates: Int, roundTo: Int = 4): DataFrame =
    Knn.rerank(corpus, search4(model, codes, query, idCol, candidates, roundTo),
      query, idCol, vecCol, metric, topK, roundTo)

  /** Cluster-tagged encode for the composed IVF-SQ8 index: same
    * map-only kernel, cluster column carried for at-rest
    * partitionBy(cluster) pruning. */
  def encodeIvf(model: Model, tagged: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    tagged.select(col(idCol), col("cluster"),
      sq8_encode(model, col(vecCol)).as("codes"))

  /** Composed IVF-SQ8 serving — completes the composed-family matrix
    * next to IVF-PQ and IVF-BQ: the [[searchWithRerank]] funnel over
    * the codes of the query's nprobe nearest clusters ONLY
    * ([[Ann.probeJoin]], partition-pruned at rest), so the
    * dequantized-L2 scan reads 1/4-size codes of nprobe/k of the
    * corpus and the exact re-rank touches just the `candidates`
    * survivors. */
  def searchIvfSq(model: Model, clusterCodes: DataFrame,
      centroids: DataFrame, corpus: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, metric: String, topK: Int,
      candidates: Int, nprobe: Int = 2, roundTo: Int = 4): DataFrame =
    Knn.rerank(corpus,
      codeTopK(Ann.probeJoin(clusterCodes, centroids, query, nprobe, identity), idCol,
        dist8(model, roundTo), candidates),
      query, idCol, vecCol, metric, topK, roundTo)

  /** Live-index insert: encode new rows with the FROZEN model and
    * union — map-only, no retrain, the storage-Insert path every
    * index family needs (IVF has appendToIvf; same contract here).
    * Values outside the trained [mn,mx] clamp to 0/255 — watch
    * [[stalenessReport]] for when that calls for a retrain. */
  def appendToIndex(model: Model, codes: DataFrame, newRows: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    codes.unionByName(encode(model, newRows, idCol, vecCol))

  /** Live-index delete: [[VectorStore.delete]]'s
    * broadcast batch anti-join of the doomed ids. */
  def deleteFromIndex(codes: DataFrame, idCol: String,
      doomed: DataFrame): DataFrame =
    VectorStore.delete(codes, idCol, doomed)

  /** Retrain trigger: fraction of vector components falling OUTSIDE
    * the frozen per-dim [mn,mx] ranges (those clamp to 0/255 and
    * their distances degrade silently). One map-side-combined
    * aggregate over the candidate rows; returns a single
    * (n_components, n_out_of_range, frac) row. Retrain when frac
    * crosses the caller's tolerance. */
  def stalenessReport(model: Model, rows: DataFrame, vecCol: String): DataFrame = {
    val mns = model.mins; val mxs = model.maxs
    val outs = (1 to model.dim).map { i =>
      val x = element_at(col(vecCol), i).cast("double")
      when(x < mns(i - 1) || x > mxs(i - 1), 1L).otherwise(0L)
    }.reduce(_ + _)
    rows.agg(
      (count(lit(1)) * model.dim).as("n_components"),
      sum(outs).as("n_out_of_range"))
      .select(col("n_components"), col("n_out_of_range"),
        round(col("n_out_of_range").cast("double") / col("n_components"), 6)
          .as("frac"))
  }

  /** Persist codes + ranges: the at-rest form is the 1-byte-per-dim
    * codes table plus a dim-row params table. */
  def writeIndex(model: Model, codes: DataFrame, dir: String): Unit = {
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val spark = codes.sparkSession
    import spark.implicits._
    model.mins.zip(model.maxs).zipWithIndex
      .map { case ((mn, mx), i) => (i, mn, mx) }.toSeq
      .toDF("dim", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  def loadIndex(spark: SparkSession, dir: String): (Model, DataFrame) = {
    val params = spark.read.parquet(s"$dir/params").orderBy("dim").collect()
    val model = Model(params.length,
      params.map(_.getDouble(1)), params.map(_.getDouble(2)))
    (model, spark.read.parquet(s"$dir/codes"))
  }
}
