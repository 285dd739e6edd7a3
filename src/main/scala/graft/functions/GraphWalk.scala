package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

/** The fixed parameters of one `graph_walk`: corpus count `n`, beam
  * width, hop count, the seed rule (the id ring of `ringSeeds` plus
  * the LSH-bucket mates, or with `routed` the top `routedSeeds` members
  * of the id-mod-`levelMod` level), the score mode (`adc`: the LUT sum
  * over the node's PQ codes; else exact integer-e4 l2), what it emits
  * (`evaluated`: every scored candidate of every hop; else every hop's
  * beam) and `ansi`, the session's cast mode when the walk was planned.
  */
final case class WalkSpec(n: Long, beam: Int, hops: Int, ringSeeds: Int,
    routed: Boolean, routedSeeds: Int, levelMod: Long, adc: Boolean,
    evaluated: Boolean, ansi: Boolean)

/** One task's parse of a served graph: the (id, v, bucket) rows, the
  * out-edges by source and, for the ADC mode, the PQ codes by node and
  * the LUT by qid. Null ids, sources, buckets, groups and codes never
  * match (as in the equi-joins the walk replaces); rows sharing an id
  * are chained through `nextRow`.
  */
private[functions] final class WalkGraph(
    val vecs: Array[Array[Double]],
    val firstRow: java.util.HashMap[java.lang.Long, Integer], val nextRow: Array[Int],
    val mates: java.util.HashMap[java.lang.Long, Array[Long]],
    val out: java.util.HashMap[java.lang.Long, Array[Long]],
    val codes: java.util.HashMap[java.lang.Long, Array[Long]],
    val lut: java.util.HashMap[java.lang.Long, java.util.HashMap[java.lang.Long, Array[Long]]])

private[functions] object WalkGraph {
  private def structs(block: Any, fields: Int): Seq[InternalRow] = {
    val a = block.asInstanceOf[ArrayData]
    (0 until (if (a == null) 0 else a.numElements())).map(a.getStruct(_, fields))
  }

  private def grouped(pairs: Seq[(Long, Long)]): java.util.HashMap[java.lang.Long, Array[Long]] = {
    val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
    pairs.groupMap(_._1)(_._2).foreach { case (k, vs) => m.put(k, vs.toArray) }
    m
  }

  /** (grp, code) as one key. */
  def key(grp: Long, code: Long): Long = (grp << 32) ^ (code & 0xffffffffL)

  def parse(vecs: Any, edges: Any, codes: Any, lut: Any): WalkGraph = {
    val rows = structs(vecs, 3).filterNot(_.isNullAt(0)).toArray
    val ids = rows.map(_.getLong(0))
    val firstRow = new java.util.HashMap[java.lang.Long, Integer]()
    val nextRow = Array.fill(rows.length)(-1)
    for (i <- rows.indices.reverse) {
      val prev = firstRow.put(ids(i), i)
      if (prev != null) nextRow(i) = prev
    }
    val lutCells = new java.util.HashMap[java.lang.Long, java.util.HashMap[java.lang.Long, Array[Long]]]()
    structs(lut, 4).filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)).foreach { r =>
      val cells = lutCells.computeIfAbsent(r.getLong(0), _ => new java.util.HashMap())
      // per (qid, grp, code): matching LUT rows, non-null sds, their sum
      val c = cells.computeIfAbsent(key(r.getLong(1), r.getLong(2)), _ => new Array[Long](3))
      c(0) += 1
      if (!r.isNullAt(3)) { c(1) += 1; c(2) += r.getLong(3) }
    }
    new WalkGraph(
      rows.map(r => if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray()),
      firstRow, nextRow,
      grouped(rows.toSeq.filterNot(_.isNullAt(2)).map(r => (r.getLong(2), r.getLong(0)))),
      grouped(structs(edges, 2).filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getLong(0), r.getLong(1)))),
      grouped(structs(codes, 3).filter(r => (0 to 2).forall(!r.isNullAt(_)))
        .map(r => (r.getLong(0), key(r.getLong(1), r.getLong(2))))),
      lutCells)
  }
}

/** graph_walk(qid, qv, qbucket, vecs, edges, codes, lut): the greedy
  * beam walk of one query over a served kNN graph, run inside the task
  * that holds the query row — the kernel behind every `KnnGraph`
  * serving call. `vecs` (array<struct<id, v, bucket>>), `edges`
  * (array<struct<src, dst>>) and, for the ADC mode, `codes`
  * (array<struct<node, grp, code>>) and `lut` (array<struct<qid, grp,
  * code, sd>>) are scalar subqueries: read once per action and parsed
  * once per task, so the served graph must fit in a task.
  *
  * The walk (`spec`, [[WalkSpec]]): seeds are the query's id ring
  * (`pmod(qid ± d, n)`, d = 1..ringSeeds) plus its LSH-bucket mates, or
  * the `routedSeeds` level members nearest to it; every hop scores the
  * previous beam and its out-edges and keeps the `beam` best by
  * (d_e4, id) over distinct ids ([[TopKBuffer]]). The query's own id
  * is never a candidate. A node is scored as the equi-joins scored it:
  *   - exact: `cast(round(vec_l2(v, qv) * 1e4) as bigint)`, the least
  *     over the rows carrying its id; not scored when no row does;
  *     null for a null vector (a null qv scores every node null, so
  *     its walk is empty); NaN raises as Spark's ANSI cast does;
  *   - ADC: the sum of the query's LUT `sd` over the node's (grp,
  *     code) rows; not scored when none matches the LUT; null when
  *     every match is null.
  * A null score is never kept in a beam. Output, per hop from 0 (the
  * scored seeds): its beam as (hop, node, d_e4, rank) with rank from
  * 1, or with `evaluated` every scored candidate as (hop, node, d_e4).
  * A null qid walks nowhere.
  */
case class GraphWalk(
    qid: Expression, qv: Expression, qbucket: Expression,
    vecs: Expression, edges: Expression, codes: Expression, lut: Expression,
    spec: WalkSpec) extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(qid, qv, qbucket, vecs, edges, codes, lut)
  override def nullable: Boolean = false
  override def prettyName: String = "graph_walk"
  override def dataType: DataType = ArrayType(StructType(
    Seq(StructField("hop", IntegerType, nullable = false),
      StructField("node", LongType, nullable = false),
      StructField("d_e4", LongType, nullable = spec.evaluated)) ++
      (if (spec.evaluated) Nil else Seq(StructField("rank", IntegerType, nullable = false)))),
    containsNull = false)

  @transient private lazy val graph: WalkGraph =
    WalkGraph.parse(vecs.eval(null), edges.eval(null), codes.eval(null), lut.eval(null))

  /** Spark's `cast(round(d * 1e4) as bigint)`. */
  private def dE4(d: Double): Long = {
    val x = d * 1e4
    val r = if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    if (spec.ansi && !(math.floor(r) <= Long.MaxValue.toDouble && math.ceil(r) >= Long.MinValue.toDouble))
      throw Shims.castOverflow(r)
    r.toLong
  }

  // a score is GraphWalk.Unscored (no row to score), null or a d_e4
  import GraphWalk.Unscored

  private def exact(g: WalkGraph, node: Long, q: Array[Double]): AnyRef = {
    val first = g.firstRow.get(node)
    if (first == null) return Unscored
    var best: java.lang.Long = null
    var i: Int = first
    while (i >= 0) {
      val v = g.vecs(i)
      if (v != null && q != null) {
        val d = dE4(VectorDistance.distance("l2", v, q))
        if (best == null || d < best) best = d
      }
      i = g.nextRow(i)
    }
    best
  }

  private def adc(g: WalkGraph, node: Long,
      cells: java.util.HashMap[java.lang.Long, Array[Long]]): AnyRef = {
    val keys = g.codes.get(node)
    if (keys == null || cells == null) return Unscored
    var matched = 0L; var nonNull = 0L; var sum = 0L
    keys.foreach { k =>
      val c = cells.get(k)
      if (c != null) { matched += c(0); nonNull += c(1); sum += c(2) }
    }
    if (matched == 0) Unscored else if (nonNull == 0) null else java.lang.Long.valueOf(sum)
  }

  private def seeds(g: WalkGraph, qid: Long, q: Array[Double],
      qbucket: java.lang.Long): Iterable[Long] =
    if (spec.routed) {
      val level = new TopKBuffer(spec.routedSeeds)
      g.firstRow.keySet.forEach { id =>
        if (Math.floorMod(id.longValue, spec.levelMod) == 0 && id != qid) {
          exact(g, id, q) match {
            case d: java.lang.Long => level.add(d.doubleValue, id)
            case _ =>
          }
        }
      }
      level.sorted.map(_._2)
    } else {
      val ds = if (spec.ringSeeds >= 1) 1 to spec.ringSeeds else 1 to spec.ringSeeds by -1
      val ring = ds.flatMap(d => Seq(Math.floorMod(Math.addExact(qid, d.toLong), spec.n),
        Math.floorMod(Math.subtractExact(qid, d.toLong), spec.n)))
      ring ++ (if (qbucket == null) Nil else Option(g.mates.get(qbucket)).toSeq.flatten)
    }

  override def eval(input: InternalRow): Any = {
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    val qidV = qid.eval(input)
    if (qidV == null) return new GenericArrayData(out.toArray)
    val self = qidV.asInstanceOf[Long]
    val g = graph
    val q = Option(qv.eval(input).asInstanceOf[ArrayData]).map(_.toDoubleArray()).orNull
    val cells = if (spec.adc) g.lut.get(self) else null
    val memo = new java.util.HashMap[java.lang.Long, AnyRef]()
    def score(node: Long): AnyRef =
      if (memo.containsKey(node)) memo.get(node)
      else {
        val s = if (spec.adc) adc(g, node, cells) else exact(g, node, q)
        memo.put(node, s)
        s
      }
    val cands = new java.util.LinkedHashSet[java.lang.Long]()
    seeds(g, self, q, qbucket.eval(input).asInstanceOf[java.lang.Long]).foreach(cands.add(_))
    var hop = 0
    while (hop <= spec.hops && !cands.isEmpty) {
      cands.remove(self)
      val top = new TopKBuffer(spec.beam)
      cands.forEach { node =>
        score(node) match {
          case Unscored =>
          case s =>
            s match { case d: java.lang.Long => top.add(d.doubleValue, node); case _ => }
            if (spec.evaluated) out += InternalRow(hop, node.longValue, s)
        }
      }
      val beam = top.sorted
      if (!spec.evaluated) beam.zipWithIndex.foreach { case ((d, node), r) =>
        out += InternalRow(hop, node, d.toLong, r + 1)
      }
      cands.clear()
      beam.foreach { case (_, node) =>
        cands.add(node)
        Option(g.out.get(node)).foreach(_.foreach(cands.add(_)))
      }
      hop += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(qid = c(0), qv = c(1), qbucket = c(2), vecs = c(3), edges = c(4), codes = c(5),
      lut = c(6))
}

object GraphWalk {
  /** The score of a node no row scores: it is not a candidate at all. */
  private case object Unscored
}
