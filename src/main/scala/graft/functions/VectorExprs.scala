package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** Native Catalyst distance expression with whole-stage codegen.
  *
  * Semantics follow the reference engine's metrics
  * (/root/reference/pkg/core/distance/distance.go:55-150):
  *  - l2:     sqrt(sum((a_i-b_i)^2))
  *  - cosine: 1 - dot/(|a||b|), zero-norm -> 1.0, similarity clamped to [-1,1]
  *  - dot:    -sum(a_i*b_i)  (negated so smaller = more similar)
  *  - l1:     sum(|a_i-b_i|)
  *
  * Accumulation is float64 regardless of input element type (the
  * reference also widens per-element), so results agree with a SQL
  * oracle that casts elements to DOUBLE. Inputs may independently be
  * array<float> or array<double>; no per-row allocation or cast —
  * elements are read straight out of the columnar ArrayData.
  */
case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {

  require(VectorDistance.metrics.contains(metric), s"unknown metric: $metric")

  override def dataType: DataType = DoubleType
  override def prettyName: String = s"vec_$metric"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> args, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorDistance.distance(metric,
      VectorDistance.doubles(l.asInstanceOf[ArrayData], isFloat(left)),
      VectorDistance.doubles(r.asInstanceOf[ArrayData], isFloat(right)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      def ae = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      def be = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val check =
        s"""int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException("$prettyName: dimension mismatch");
           |}""".stripMargin
      metric match {
        case "l2" =>
          val s = ctx.freshName("s"); val d = ctx.freshName("d")
          s"""$check
             |double $s = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $d = $ae - $be;
             |  $s += $d * $d;
             |}
             |${ev.value} = java.lang.Math.sqrt($s);""".stripMargin
        case "l1" =>
          val s = ctx.freshName("s")
          s"""$check
             |double $s = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $s += java.lang.Math.abs($ae - $be);
             |}
             |${ev.value} = $s;""".stripMargin
        case "dot" =>
          val s = ctx.freshName("s")
          s"""$check
             |double $s = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $s += $ae * $be;
             |}
             |${ev.value} = -$s;""".stripMargin
        case "cosine" =>
          val dp = ctx.freshName("dp"); val na = ctx.freshName("na")
          val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
          val y = ctx.freshName("y"); val sim = ctx.freshName("sim")
          s"""$check
             |double $dp = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $x = $ae; double $y = $be;
             |  $dp += $x * $y; $na += $x * $x; $nb += $y * $y;
             |}
             |if ($na == 0.0 || $nb == 0.0) {
             |  ${ev.value} = 1.0;
             |} else {
             |  double $sim = $dp / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
             |  $sim = java.lang.Math.max(-1.0, java.lang.Math.min(1.0, $sim));
             |  ${ev.value} = 1.0 - $sim;
             |}""".stripMargin
      }
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorDistance {
  val metrics: Set[String] = Set("l2", "cosine", "dot", "l1")

  /** The kernel metric of a public metric name: euclidean -> l2,
    * dotproduct -> dot, manhattan -> l1; kernel names pass through.
    */
  def kernelMetric(name: String): String = name match {
    case "euclidean"  => "l2"
    case "dotproduct" => "dot"
    case "manhattan"  => "l1"
    case other        => other
  }

  /** The elements of an array<float|double> as doubles. */
  def doubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) a.toDoubleArray()
    else {
      val n = a.numElements()
      val x = new Array[Double](n)
      var i = 0
      while (i < n) { x(i) = a.getFloat(i).toDouble; i += 1 }
      x
    }

  /** THE four metric loops (the interpreted `vec_<metric>` and the
    * `knn_block` aggregate both call this; the codegen'd form above
    * emits the same ops in the same order). A length mismatch raises
    * IllegalArgumentException naming `vec_<metric>`.
    */
  def distance(metric: String, a: Array[Double], b: Array[Double]): Double = {
    val n = a.length
    if (n != b.length)
      throw new IllegalArgumentException(
        s"vec_$metric: dimension mismatch $n vs ${b.length}")
    metric match {
      case "l2" =>
        var s = 0.0; var i = 0
        while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
        math.sqrt(s)
      case "l1" =>
        var s = 0.0; var i = 0
        while (i < n) { s += math.abs(a(i) - b(i)); i += 1 }
        s
      case "dot" =>
        var s = 0.0; var i = 0
        while (i < n) { s += a(i) * b(i); i += 1 }
        -s
      case "cosine" =>
        var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = a(i); val y = b(i)
          dp += x * y; na += x * x; nb += y * y; i += 1
        }
        if (na == 0.0 || nb == 0.0) 1.0
        else {
          val sim = dp / (math.sqrt(na) * math.sqrt(nb))
          1.0 - math.max(-1.0, math.min(1.0, sim))
        }
    }
  }
}

/** Column API + SQL registration for the vector functions. */
object VectorFunctions {

  private def dist(a: Column, b: Column, metric: String): Column =
    Shims.column(VectorDistance(
      Shims.expression(a), Shims.expression(b), metric))

  /** Euclidean (L2) distance. */
  def vec_l2(a: Column, b: Column): Column = dist(a, b, "l2")
  /** Cosine distance = 1 - cosine similarity (zero vectors -> 1.0). */
  def vec_cosine(a: Column, b: Column): Column = dist(a, b, "cosine")
  /** Negated dot product (smaller = more similar). */
  def vec_dot(a: Column, b: Column): Column = dist(a, b, "dot")
  /** Manhattan (L1) distance. */
  def vec_l1(a: Column, b: Column): Column = dist(a, b, "l1")

  def forMetric(metric: String)(a: Column, b: Column): Column =
    dist(a, b, VectorDistance.kernelMetric(metric))

  /** Registers vec_l2/vec_cosine/vec_dot/vec_l1 for Spark SQL use. */
  def register(spark: SparkSession): Unit = {
    val reg = Shims.functionRegistry(spark)
    VectorDistance.metrics.foreach { m =>
      reg.createOrReplaceTempFunction(
        s"vec_$m", es => VectorDistance(es(0), es(1), m), "built-in")
    }
  }
}
