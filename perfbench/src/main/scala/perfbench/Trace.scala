package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one request share `req`. */
final class Span(val id: Long, val parent: Long, val req: Long,
    val layer: String, val name: String, val start: Long) {
  var end: Long = start
  def dur: Double = (end - start) / 1e9
}

/** Spark work charged to one span: every job submitted while the span
  * was the innermost open span on the client thread, and every task of
  * those jobs' stages.
  */
final class Charge {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runS = 0.0; var gcS = 0.0
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
  var jobWallS = 0.0
  var planS = 0.0
  var joinRows = 0L
  /** Jobs (and their wall time) submitted from graft's table readers:
    * parquet footer reads for schema inference, known by call site.
    */
  var readJobs = 0L; var readS = 0.0
}

/** Spans kept in memory, jobs and tasks attributed through the
  * `perfbench.span` local property. When disabled every call is a
  * plain pass-through, so the untraced run pays nothing but a branch.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var req = 0L

  // listener state, filled on the listener-bus thread
  private val charges = new ConcurrentHashMap[Long, Charge]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (start, end) of every job, for slot-busy and driver-gap shares. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val planEvents = new ConcurrentLinkedQueue[(Double, Long)]()
  @volatile var unattributedJobs = 0L
  private val readJobIds = ConcurrentHashMap.newKeySet[Int]()
  @volatile var hookNanos = 0L

  def charge(spanId: Long): Charge = charges.computeIfAbsent(spanId, _ => new Charge)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      val sid = tag.map(_.toLong).getOrElse(0L)
      if (sid == 0L) unattributedJobs += 1
      // a stage's name is its call site, e.g. "parquet at Tables.scala:23"
      val read = e.stageInfos.exists(s => Trace.ReadSites.exists(s.name.contains))
      if (read) readJobIds.add(e.jobId)
      jobSpan.put(e.jobId, sid)
      jobStart.put(e.jobId, e.time)
      val c = charge(sid)
      c.synchronized {
        c.jobs += 1; c.stages += e.stageInfos.size
        if (read) c.readJobs += 1
      }
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, sid))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val t0 = jobStart.getOrDefault(e.jobId, e.time)
      jobIntervals.add((t0, e.time))
      val c = charge(jobSpan.getOrDefault(e.jobId, 0L))
      c.synchronized {
        c.jobWallS += (e.time - t0) / 1e3
        if (readJobIds.contains(e.jobId)) c.readS += (e.time - t0) / 1e3
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val c = charge(stageSpan.getOrDefault(e.stageId, 0L))
        c.synchronized {
          c.tasks += 1
          c.runS += m.executorRunTime / 1e3
          c.gcS += m.jvmGCTime / 1e3
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Planning time and the rows that reached joins (each joined row is
    * one scored candidate) of every finished query execution. Drained
    * into the open span at each span end.
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = timed {
      val phases = qe.tracker.phases
      val planS = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum
      planEvents.add((planS, Trace.joinRows(qe.executedPlan)))
    }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    hookNanos += System.nanoTime() - t0
  }

  /** Start a new request: later spans carry its id. */
  def request[T](name: String)(body: => T): T = {
    req += 1
    span("request", name)(body)
  }

  /** A timed call into `layer`. Spans that run Spark actions pass
    * `drain`: their end waits for the listener bus, so the planning time
    * and join rows of their query executions are charged to them.
    */
  def span[T](layer: String, name: String, drain: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = new Span(nextId, parent, req, layer, name, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        if (drain) {
          val t0 = System.nanoTime()
          Bus.drain(sc)
          var e = planEvents.poll()
          val c = charge(s.id)
          while (e != null) {
            c.synchronized { c.planS += e._1; c.joinRows += e._2 }
            e = planEvents.poll()
          }
          hookNanos += System.nanoTime() - t0
        }
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait for every listener event, then stop listening. */
  def close(): Unit = if (enabled) {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Charge of one span plus all of its descendants. */
  def inclusive(root: Span): Charge = {
    val kids = spans.groupBy(_.parent)
    val acc = new Charge
    def go(s: Span): Unit = {
      val c = charges.get(s.id)
      if (c != null) {
        acc.jobs += c.jobs; acc.stages += c.stages; acc.tasks += c.tasks
        acc.runS += c.runS; acc.gcS += c.gcS
        acc.shuffleRead += c.shuffleRead; acc.shuffleWrite += c.shuffleWrite
        acc.spill += c.spill; acc.input += c.input; acc.jobWallS += c.jobWallS
        acc.planS += c.planS; acc.joinRows += c.joinRows
        acc.readJobs += c.readJobs; acc.readS += c.readS
      }
      kids.getOrElse(s.id, Nil).foreach(go)
    }
    go(root)
    acc
  }

  def allCharges: Iterable[Charge] = charges.values.asScala

  /** Self time of each layer: a span's wall time minus its children's;
    * time inside Spark jobs charged to the span goes to `spark`.
    */
  def layerSelf: Map[String, Double] = {
    val childDur = spans.groupBy(_.parent).map { case (p, ks) => p -> ks.map(_.dur).sum }
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      val self = s.dur - childDur.getOrElse(s.id, 0.0)
      val jobs = Option(charges.get(s.id)).map(_.jobWallS).getOrElse(0.0)
      val inJobs = math.min(self, jobs)
      out("spark") += inJobs
      out(s.layer) += self - inJobs
    }
    out.toMap
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val ReadSites = Seq("Tables.scala", "VectorStore.scala")

  /** Rows out of every join node, descending into adaptive stages. */
  def joinRows(plan: SparkPlan): Long =
    collect(plan) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
