package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQ/BQ training's former formulation, kept as the executable spec
  * the `dim_range` kernel is tested against: 2·dim scalar aggregates,
  * `min` and `max` of `element_at(vec, i).cast("double")` for every i
  * in 1..dim, collected as one row.
  */
object QuantizerReference {

  /** Per-dimension (mins, maxs) of elements 1..dim. */
  def range(corpus: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val aggs = (1 to dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i).cast("double")).as(s"mn$i"),
      max(element_at(col(vecCol), i).cast("double")).as(s"mx$i")))
    val row = corpus.agg(aggs.head, aggs.tail: _*).head()
    (Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }
}
