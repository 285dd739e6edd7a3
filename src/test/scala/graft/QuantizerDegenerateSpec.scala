package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bq, Sq}

/** Degenerate input for SQ/BQ training (`Sq.train`, `Bq.train`,
  * `Bq.trainWide`), whose model is a per-dimension [min, max] over
  * elements 1..dim read as doubles: a null vector or a null element is
  * skipped, elements past `dim` are ignored, a vector shorter than
  * `dim` raises Spark's `INVALID_ARRAY_INDEX_IN_ELEMENT_AT`, a
  * dimension with no value raises `ROW_VALUE_IS_NULL` (never a silent
  * 0.0), and min/max follow Spark's ordering: NaN ranks above every
  * number and -0.0 == 0.0 keeps the value held first.
  */
class QuantizerDegenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def frame(t: DataType, rows: Seq[Seq[Any]], parts: Int = 1): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r)), parts),
      StructType(Seq(StructField("v", ArrayType(t)))))
  private def doubles(rows: Seq[Any]*): DataFrame = frame(DoubleType, rows)

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)
  private def assertBits(got: Array[Double], want: Double*): Unit =
    assert(bits(got) === bits(want.toArray), s"${got.toSeq} vs $want")

  /** SQ's (mins, maxs) and BQ's thresholds from both of its trainers. */
  private def sq(df: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val m = Sq.train(df, "v", dim); (m.mins, m.maxs)
  }
  private def bq(df: DataFrame, dim: Int): Array[Double] = {
    val narrow = Bq.train(df, "v", dim).thr
    assert(bits(Bq.trainWide(df, "v", dim).thr) === bits(narrow))
    narrow
  }

  private val trains: Seq[(String, (DataFrame, Int) => Any)] = Seq(
    "Sq.train" -> ((d, n) => Sq.train(d, "v", n)),
    "Bq.train" -> ((d, n) => Bq.train(d, "v", n)),
    "Bq.trainWide" -> ((d, n) => Bq.trainWide(d, "v", n)))

  /** Every trainer raises Spark's `exception` on `df`, with a message
    * that contains `text`. */
  private def assertRaises(df: DataFrame, dim: Int, exception: String,
      text: String): Unit =
    for ((name, train) <- trains) {
      val e = intercept[Exception](train(df, dim))
      assert(e.getClass.getName == s"org.apache.spark.$exception", s"$name: $e")
      assert(e.getMessage.contains(text), s"$name: ${e.getMessage}")
    }

  test("a null vector is skipped; a null element skips only its dimension") {
    val df = doubles(null, Seq(1.0, null), Seq(3.0, 4.0), Seq(2.0, -1.0))
    val (mins, maxs) = sq(df, 2)
    assertBits(mins, 1.0, -1.0)
    assertBits(maxs, 3.0, 4.0)
    assertBits(bq(df, 2), 2.0, 1.5)
  }

  test("NaN ranks above every number: max is NaN if any element is, min only if all are") {
    val df = frame(DoubleType,
      Seq(Seq(Double.NaN, Double.NaN), Seq(2.0, Double.NaN), Seq(5.0, Double.NaN)), parts = 2)
    val (mins, maxs) = sq(df, 2)
    assertBits(mins, 2.0, Double.NaN)
    assertBits(maxs, Double.NaN, Double.NaN)
    assertBits(bq(df, 2), Double.NaN, Double.NaN)
  }

  test("±Inf are ordinary extremes; a [-Inf, Inf] range has a NaN midrange") {
    val inf = Double.PositiveInfinity
    val df = doubles(Seq(-inf, 1.0), Seq(inf, 2.0), Seq(0.0, inf))
    val (mins, maxs) = sq(df, 2)
    assertBits(mins, -inf, 1.0)
    assertBits(maxs, inf, inf)
    // the NaN of -Inf + Inf carries the sign bit on x86: compare to
    // the same arithmetic, not to the Double.NaN literal
    assertBits(bq(df, 2), (-inf + inf) / 2.0, inf)
  }

  test("-0.0 == 0.0: the value held first is kept, in either order") {
    val negFirst = sq(doubles(Seq(-0.0), Seq(0.0)), 1)
    assertBits(negFirst._1, -0.0)
    assertBits(negFirst._2, -0.0)
    val posFirst = sq(doubles(Seq(0.0), Seq(-0.0)), 1)
    assertBits(posFirst._1, 0.0)
    assertBits(posFirst._2, 0.0)
    assertBits(bq(doubles(Seq(-0.0), Seq(0.0)), 1), -0.0)
    assertBits(bq(doubles(Seq(0.0), Seq(-0.0)), 1), 0.0)
  }

  test("elements past dim are ignored") {
    val df = doubles(Seq(1.0, 2.0, 99.0), Seq(3.0, 4.0, -99.0))
    val (mins, maxs) = sq(df, 2)
    assertBits(mins, 1.0, 2.0)
    assertBits(maxs, 3.0, 4.0)
    assertBits(bq(df, 2), 2.0, 3.0)
  }

  test("a vector shorter than dim raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT") {
    assertRaises(doubles(Seq(1.0, 2.0), Seq(3.0)), 2, "SparkArrayIndexOutOfBoundsException",
      "[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] The index 2 is out of bounds. The array has 1 elements.")
  }

  test("an empty corpus and an all-null dimension raise ROW_VALUE_IS_NULL") {
    assertRaises(doubles(), 2, "SparkRuntimeException", "[ROW_VALUE_IS_NULL]")
    // the first dimension without a value is reported by its min's index
    assertRaises(doubles(Seq(1.0, null), Seq(2.0, null)), 2, "SparkRuntimeException",
      "[ROW_VALUE_IS_NULL] Found NULL in a row at the index 2,")
  }

  test("dim = 1 reads the first element only") {
    val df = doubles(Seq(5.0, 7.0), Seq(3.0, 9.0))
    val (mins, maxs) = sq(df, 1)
    assertBits(mins, 3.0)
    assertBits(maxs, 5.0)
    assertBits(bq(df, 1), 4.0)
  }

  test("float input is widened exactly; double input is read as is") {
    val floats = frame(FloatType, Seq(Seq(0.1f, -2.5f), Seq(0.2f, 1e-3f)))
    val (fmins, fmaxs) = sq(floats, 2)
    assertBits(fmins, 0.1f.toDouble, -2.5)
    assertBits(fmaxs, 0.2f.toDouble, 1e-3f.toDouble)
    assertBits(bq(floats, 2), (0.1f.toDouble + 0.2f.toDouble) / 2.0,
      (-2.5 + 1e-3f.toDouble) / 2.0)
    val (dmins, dmaxs) = sq(doubles(Seq(0.1, -2.5), Seq(0.2, 1e-3)), 2)
    assertBits(dmins, 0.1, -2.5)
    assertBits(dmaxs, 0.2, 1e-3)
  }

  test("dim < 1 is refused with IllegalArgumentException by every trainer") {
    val df = doubles(Seq(1.0))
    for ((name, train) <- trains; dim <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](train(df, dim))
      assert(e.getMessage.contains("dim"), s"$name: ${e.getMessage}")
    }
  }
}
