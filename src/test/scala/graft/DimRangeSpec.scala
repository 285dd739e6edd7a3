package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bq, Sq}

/** The `dim_range` kernel behind `Sq.train`, `Bq.train` and
  * `Bq.trainWide` against [[QuantizerReference]]'s 2·dim scalar
  * aggregates: the same raw bits for every min, max and midrange on
  * seeded vectors with nulls, NaN, ±Inf and ±0.0 sprinkled in, over
  * several partitions (some empty), and no more jobs than the
  * reference's 2.
  */
class DimRangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** `n` seeded vectors of `dim` + 0..2 elements in 6 partitions, two of
    * them empty. Every 5th dimension gets NaNs, every 7th ±Inf, and in
    * every 3rd the values are non-negative with ±0.0 ties at the
    * bottom; a few vectors and elements are null.
    */
  private def corpus(dim: Int, t: DataType, seed: Long, n: Int = 120): DataFrame = {
    val rnd = new Random(seed)
    def element(i: Int): Any = {
      val u = rnd.nextDouble()
      val x =
        if (i % 5 == 0 && u < 0.03) Double.NaN
        else if (i % 7 == 0 && u < 0.03) Double.PositiveInfinity
        else if (i % 7 == 0 && u < 0.06) Double.NegativeInfinity
        else if (i % 3 == 0 && u < 0.15) (if (rnd.nextBoolean()) 0.0 else -0.0)
        else if (i % 3 == 0) math.abs(rnd.nextGaussian())
        else rnd.nextGaussian()
      if (u > 0.99) null else if (t == FloatType) x.toFloat else x
    }
    val rows = (0 until n).map { _ =>
      if (rnd.nextDouble() < 0.03) Row(null)
      else Row(Seq.tabulate(dim + rnd.nextInt(3))(element))
    }
    val rdd = spark.sparkContext.parallelize(rows, 6)
      .mapPartitionsWithIndex((p, it) => if (p == 1 || p == 4) Iterator.empty else it)
    spark.createDataFrame(rdd, StructType(Seq(StructField("v", ArrayType(t)))))
  }

  for (dim <- Seq(1, 2, 64, 65, 384); t <- Seq(FloatType, DoubleType)) {
    test(s"dim $dim, ${t.simpleString}: models are bit-identical to the scalar aggregates") {
      val df = corpus(dim, t, seed = 31L * dim + (if (t == FloatType) 1 else 0))
      val (mins, maxs) = QuantizerReference.range(df, "v", dim)
      val sq = Sq.train(df, "v", dim)
      assert(bits(sq.mins) === bits(mins))
      assert(bits(sq.maxs) === bits(maxs))
      val thr = bits(Array.tabulate(dim)(i => (mins(i) + maxs(i)) / 2.0))
      assert(bits(Bq.trainWide(df, "v", dim).thr) === thr)
      if (dim <= 64) assert(bits(Bq.train(df, "v", dim).thr) === thr)
    }
  }

  test("training submits no more jobs than the scalar aggregates on a cached corpus") {
    val df = corpus(64, FloatType, seed = 7L, n = 2000).cache()
    try {
      df.count()
      val (_, reference) = JobCount.during(spark)(QuantizerReference.range(df, "v", 64))
      val (_, sq) = JobCount.during(spark)(Sq.train(df, "v", 64))
      val (_, bq) = JobCount.during(spark)(Bq.train(df, "v", 64))
      assert(reference == 2)
      assert(sq <= reference && bq <= reference, s"sq $sq, bq $bq")
    } finally df.unpersist()
  }
}
