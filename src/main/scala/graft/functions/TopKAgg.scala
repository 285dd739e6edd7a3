package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims

import graft.operators.{IvfKernels, IvfTable}
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k smallest (dist, id) pairs under
  * lexicographic (dist, id) order over DISTINCT ids — deterministic
  * no matter the arrival order, so partial aggregation across
  * partitions is safe.
  *
  * Id-dedup is part of the contract: a candidate id arriving more
  * than once (graph candidate generation emits the same neighbor via
  * many paths) occupies ONE slot, keeping its smallest dist. This is
  * what lets the candidate pipelines feed raw (duplicated) candidate
  * frames straight into the aggregate instead of paying a full
  * `.distinct()` exchange first — with per-id dists unique per group
  * (every caller scores id deterministically), the result is
  * identical to distinct-then-topk by construction.
  */
final class TopKBuffer(val k: Int) {
  // max-heap on (dist, id): root = current worst of the kept k;
  // kept mirrors the heap as id -> dist for O(1) duplicate checks
  private val heap = new java.util.PriorityQueue[(Double, Long)](
    math.max(k, 1),
    (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    })
  private val kept = new java.util.HashMap[Long, java.lang.Double]()

  def add(dist: Double, id: Long): Unit = {
    // NaN guard (r15 ADVICE): the reject-form comparison below lets an
    // unordered NaN fall through (NaN > x is false) and evict a
    // genuine pair. knn_block and topk_pairs over a NaN-scored column
    // rely on it: a NaN embedding degrades to "rejected". The graph
    // walk never passes one (its integer-e4 cast raises on a NaN
    // distance first, as Spark's ANSI cast does).
    if (dist != dist || k <= 0) return // k <= 0 keeps nothing
    if (heap.size == k) {
      // zero-allocation fast reject (the overwhelmingly common case
      // on big candidate frames): strictly worse than the kept worst
      // can neither enter nor be a kept duplicate needing an update
      // (a kept copy of this id would have an equal-or-better dist)
      val worst = heap.peek()
      if (dist > worst._1 || (dist == worst._1 && id > worst._2)) return
    }
    val cur = kept.get(id)
    if (cur != null) {
      // duplicate id: keep the better dist (equal dists are the
      // common case — same candidate reached via two paths)
      if (dist < cur.doubleValue()) {
        heap.remove((cur.doubleValue(), id)) // O(k), k is small
        heap.add((dist, id))
        kept.put(id, dist)
      }
    } else if (heap.size < k) {
      heap.add((dist, id)); kept.put(id, dist)
    } else {
      val worst = heap.peek()
      heap.poll(); kept.remove(worst._2)
      heap.add((dist, id)); kept.put(id, dist)
    }
  }

  /** True when no distance >= `bound` can enter: the buffer is full
    * and `bound` is strictly worse than its kept worst.
    */
  def rejects(bound: Double): Boolean =
    k <= 0 || (heap.size == k && bound > heap.peek()._1)

  def merge(other: TopKBuffer): Unit = {
    val it = other.heap.iterator()
    while (it.hasNext) { val (d, i) = it.next(); add(d, i) }
  }

  /** Ascending (dist, id). */
  def sorted: Array[(Double, Long)] = {
    val arr = heap.toArray(new Array[(Double, Long)](heap.size))
    scala.util.Sorting.stableSort(arr,
      (a: (Double, Long), b: (Double, Long)) =>
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    arr
  }

  def serialize(): Array[Byte] = {
    val arr = heap.toArray(new Array[(Double, Long)](heap.size))
    val bb = ByteBuffer.allocate(8 + arr.length * 16)
    bb.putInt(k); bb.putInt(arr.length)
    arr.foreach { case (d, i) => bb.putDouble(d); bb.putLong(i) }
    bb.array()
  }
}

object TopKBuffer {
  def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    (0 until n).foreach(_ => buf.add(bb.getDouble, bb.getLong))
    buf
  }
}

/** topk_pairs(dist, id, k): aggregate the k smallest (dist, id) pairs
  * per group into array<struct<dist,id>> (ascending).
  *
  * The point is the partial-aggregation contract: each map task
  * reduces its partition to <= k pairs per group BEFORE the shuffle,
  * so a grouped top-k over candidate rows shuffles k rows per group per
  * partition — a rank window shuffles every candidate pair. (Batch kNN
  * makes no candidate rows at all: see [[KnnBlock]].)
  */
case class TopKPairs(
    dist: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(dist, id)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_pairs"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType), StructField("id", LongType))), false)

  override def checkInputDataTypes(): TypeCheckResult =
    (dist.dataType, id.dataType) match {
      case (DoubleType | FloatType, LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (d, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_pairs expects (double, bigint), got (${d.catalogString}, ${i.catalogString})")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      val dd = d match {
        case f: java.lang.Float => f.doubleValue()
        case x => x.asInstanceOf[Double]
      }
      val ii = i match {
        case n: java.lang.Integer => n.longValue()
        case x => x.asInstanceOf[Long]
      }
      buf.add(dd, ii)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (d, i) =>
      InternalRow(d, i)
    }.toArray[Any])

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKPairs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1))
}

object TopKAgg {
  /** Column form of topk_pairs for groupBy().agg(...). */
  def topk_pairs(dist: Column, id: Column, k: Int): Column =
    Shims.column(TopKPairs(
      Shims.expression(dist), Shims.expression(id), k)
      .toAggregateExpression())

  /** Column form of knn_block for a corpus `agg(...)` with no grouping
    * keys; `probe` is (cluster column, centroid block, nprobe) for the
    * IVF form. See [[KnnBlock]].
    */
  def knn_block(id: Column, vec: Column, queries: Column,
      probe: Option[(Column, Column, Int)], metric: String, k: Int,
      excludeSelf: Boolean, roundTo: Int): Column = {
    val none = org.apache.spark.sql.catalyst.expressions.Literal(null, NullType)
    Shims.column(KnnBlock(Shims.expression(id), Shims.expression(vec),
      Shims.expression(queries),
      probe.fold[Expression](none)(p => Shims.expression(p._1)),
      probe.fold[Expression](none)(p => Shims.expression(p._2)),
      VectorDistance.kernelMetric(metric), k, probe.fold(0)(_._3),
      probe.isDefined, excludeSelf, roundTo).toAggregateExpression())
  }
}

/** The buffer of one `knn_block` partial: a [[TopKBuffer]] per distinct
  * qid (null included), keyed by the qid as a long.
  */
final class KnnBuffer(val k: Int) {
  val byQid = new java.util.HashMap[java.lang.Long, TopKBuffer]()
  /** This task's buffer for each query-block entry (entries sharing a
    * qid share one); set by the first update.
    */
  var slots: Array[TopKBuffer] = null

  def of(qid: java.lang.Long): TopKBuffer = {
    var b = byQid.get(qid)
    if (b == null) { b = new TopKBuffer(k); byQid.put(qid, b) }
    b
  }

  def merge(other: KnnBuffer): Unit =
    other.byQid.forEach((q, b) => of(q).merge(b))

  def serialize(): Array[Byte] = {
    val parts = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(parts)
    out.writeInt(k); out.writeInt(byQid.size)
    byQid.forEach { (q, b) =>
      out.writeBoolean(q == null); out.writeLong(if (q == null) 0L else q)
      val bytes = b.serialize()
      out.writeInt(bytes.length); out.write(bytes)
    }
    out.flush()
    parts.toByteArray
  }
}

object KnnBuffer {
  def deserialize(bytes: Array[Byte]): KnnBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new KnnBuffer(in.readInt())
    (0 until in.readInt()).foreach { _ =>
      val isNull = in.readBoolean(); val q = in.readLong()
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      buf.byQid.put(if (isNull) null else q, TopKBuffer.deserialize(b))
    }
    buf
  }
}

/** knn_block: batch top-k of a whole query block over a corpus scan,
  * with no (query, row) pairs — the kernel behind `Knn.knnJoin` and
  * `Ann.searchIvfBatch`. An aggregate with no grouping keys: each
  * corpus row (`id`, `vec`) is scored against every query of
  * `queries`, an array<struct<qid, qvec>> that is a scalar subquery
  * (one micro-batch, computed once per action and shipped inside each
  * task, parsed once per task). Its result is array<struct<qid, id,
  * dist, rank>>, one entry per kept (qid, id).
  *
  * Per query the kept set is the [[TopKBuffer]] contract: the k
  * smallest (dist, id) over distinct ids, null ids and vectors
  * skipped, NaN dropped; rows sharing a qid share one buffer.
  * `dist` is the metric's `vec_<metric>` value rounded as
  * `round(d, roundTo)` (HALF_UP of the double's decimal form); the
  * rounding is skipped when the raw distance cannot enter: rounding is
  * monotone and moves a value by at most half a unit of `roundTo`, so
  * a `d` with `d - 10^-roundTo` above the full buffer's worst rounds
  * strictly above it. `excludeSelf` skips pairs whose id equals the
  * qid (and, as SQL's `id != qid`, every pair of a null qid).
  *
  * With `ivf`, `cluster` is the row's IVF cluster and `centroids` an
  * array<struct<cluster, centroid>> scalar subquery: each task routes
  * every query once to its `nprobe` nearest clusters
  * ([[IvfKernels.probe]]) and a row is scored only against the queries
  * that probe its cluster; the vectors of rows in clusters no query
  * probes are never read.
  */
case class KnnBlock(
    id: Expression, vec: Expression, queries: Expression,
    cluster: Expression, centroids: Expression,
    metric: String, k: Int, nprobe: Int, ivf: Boolean,
    excludeSelf: Boolean, roundTo: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KnnBuffer] {

  require(VectorDistance.metrics.contains(metric), s"unknown metric: $metric")

  override def children: Seq[Expression] = Seq(id, vec, queries, cluster, centroids)
  override def nullable: Boolean = false
  override def prettyName: String = "knn_block"

  private def entry: StructType = queries.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType]
  private def qidType: DataType = entry("qid").dataType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", qidType, entry("qid").nullable),
    StructField("id", LongType), StructField("dist", DoubleType),
    StructField("rank", IntegerType, nullable = false))), false)

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // the blocks are built by [[TopKAgg.knn_block]]'s callers; the
  // caller-facing columns are checked here
  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, vec.dataType, entry("qid").dataType, entry("qvec").dataType) match {
      case (i, ArrayType(FloatType | DoubleType, _), q, ArrayType(FloatType | DoubleType, _))
          if integral(i) && integral(q) && (!ivf || cluster.dataType == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("knn_block expects an integral id and qid, " +
        "array<float|double> vectors and an int cluster, got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
    }

  /** The parsed query block of this task: qid keys, vectors (null for a
    * null qvec) and, per probed cluster, the queries that probe it.
    */
  private final class Block(val keys: Array[java.lang.Long], val vecs: Array[Array[Double]],
      val all: Array[Int], val probers: java.util.HashMap[Integer, Array[Int]])

  @transient private lazy val block: Block = {
    val arr = queries.eval(null).asInstanceOf[ArrayData]
    val n = if (arr == null) 0 else arr.numElements()
    val qf = isFloat(entry("qvec").dataType)
    val keys = new Array[java.lang.Long](n)
    val vecs = new Array[Array[Double]](n)
    (0 until n).foreach { j =>
      val r = arr.getStruct(j, 2)
      keys(j) = if (r.isNullAt(0)) null
        else r.get(0, qidType).asInstanceOf[Number].longValue()
      vecs(j) = if (r.isNullAt(1)) null else VectorDistance.doubles(r.getArray(1), qf)
    }
    val probers = new java.util.HashMap[Integer, Array[Int]]()
    if (ivf) {
      val t = IvfTable.ofBlock(centroids.eval(null).asInstanceOf[ArrayData])
      (0 until n).filter(vecs(_) != null)
        .flatMap(j => IvfKernels.probe(vecs(j), t, nprobe).map(_ -> j))
        .groupMap(_._1)(_._2)
        .foreach { case (c, js) => probers.put(c, js.toArray) }
    }
    new Block(keys, vecs, (0 until n).toArray, probers)
  }

  private lazy val vecIsFloat = isFloat(vec.dataType)
  private lazy val margin = math.pow(10, -roundTo)

  private def round(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()

  override def createAggregationBuffer(): KnnBuffer = new KnnBuffer(k)

  override def update(buf: KnnBuffer, input: InternalRow): KnnBuffer = {
    val b = block
    if (buf.slots == null) buf.slots = b.keys.map(buf.of)
    val idv = id.eval(input)
    if (idv == null) return buf
    val qs =
      if (!ivf) b.all
      else {
        val c = cluster.eval(input)
        if (c == null) null else b.probers.get(c.asInstanceOf[Int])
      }
    if (qs == null || qs.isEmpty) return buf
    val v = vec.eval(input)
    if (v == null) return buf
    val i = idv.asInstanceOf[Number].longValue()
    val x = VectorDistance.doubles(v.asInstanceOf[ArrayData], vecIsFloat)
    var p = 0
    while (p < qs.length) {
      val j = qs(p)
      val q = b.vecs(j)
      val key = b.keys(j)
      if (q != null && !(excludeSelf && (key == null || key.longValue() == i))) {
        val d = VectorDistance.distance(metric, x, q)
        val top = buf.slots(j)
        // the reject margin: a whole unit of `roundTo` (rounding moves
        // d by at most half) plus a relative slack for fp error
        if (!top.rejects(d - margin - math.abs(d) * 1e-12)) top.add(round(d), i)
      }
      p += 1
    }
    buf
  }

  override def merge(buf: KnnBuffer, other: KnnBuffer): KnnBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: KnnBuffer): Any = {
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    buf.byQid.forEach { (q, top) =>
      val qid: Any = if (q == null) null else qidType match {
        case ByteType => q.toByte
        case ShortType => q.toShort
        case IntegerType => q.toInt
        case _ => q.longValue()
      }
      top.sorted.zipWithIndex.foreach { case ((d, i), r) =>
        out += InternalRow(qid, i, d, r + 1)
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: KnnBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KnnBuffer = KnnBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KnnBlock =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KnnBlock =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(id = c(0), vec = c(1), queries = c(2), cluster = c(3), centroids = c(4))
}
