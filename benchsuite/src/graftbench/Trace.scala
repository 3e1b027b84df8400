package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Spark work attributed to one span: every job submitted while the
  * span's tag was the thread's local property, and every stage of those
  * jobs that ran. */
final class SpanCounts {
  val jobs = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val cpuNs = new AtomicLong
}

/** One timed interval around a call into the program. Children share
  * their root's `opId`; `parent` is -1 for a root. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
                      opClass: String, group: String, startNs: Long, endNs: Long,
                      jobs: Long, stages: Long, shuffleWriteBytes: Long, cpuNs: Long,
                      attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener that attributes jobs and stages to spans by the
  * `graftbench.span` local property the job was submitted under — exact,
  * unlike a snapshot window around the call. A marker job lets the
  * client wait until the asynchronous bus has delivered everything
  * posted before it. */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[String, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, SpanCounts]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  def counts(tag: String): SpanCounts = bySpan.computeIfAbsent(tag, _ => new SpanCounts)

  def expectMarker(tag: String): CountDownLatch = {
    val l = new CountDownLatch(1)
    markers.put(tag, l)
    l
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Tracer.Prop)).orNull
    if (tag != null) {
      jobTag.put(e.jobId, tag)
      if (!tag.startsWith(Tracer.MarkerPrefix)) {
        val c = counts(tag)
        c.jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, c))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = stageSpan.remove(e.stageInfo.stageId)
    if (c != null) {
      c.stages.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.cpuNs.addAndGet(m.executorCpuTime)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.remove(e.jobId)).foreach { tag =>
      if (tag.startsWith(Tracer.MarkerPrefix)) Option(markers.remove(tag)).foreach(_.countDown())
      else counts(tag).jobsEnded.incrementAndGet()
    }
}

/** Records spans around each operation's three calls into the program:
  * `build` (the verb call, up to the returned DataFrame), `plan`
  * (forcing `queryExecution.executedPlan`) and `exec` (the action).
  * Spans stay in memory and are written out by [[writeJsonl]]. With
  * tracing off, [[run]] only times the operation. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val listener = new SpanListener
  if (on) spark.sparkContext.addSparkListener(listener)

  val spans = ArrayBuffer[Span]()
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  /** Nanoseconds the tracer spent on its own bookkeeping (marker waits,
    * plan walks) inside the measured calls' surroundings. */
  var selfNs = 0L

  private def tagged[A](tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Prop, tag)
    try f finally sc.setLocalProperty(Prop, null)
  }

  /** Blocks until the listener has processed every event posted before
    * this call: a one-task marker job is submitted and its end awaited;
    * the bus delivers events to a listener in posting order. */
  def drain(): Unit = if (on) {
    val tag = MarkerPrefix + newId()
    val latch = listener.expectMarker(tag)
    tagged(tag)(spark.sparkContext.parallelize(Seq(0), 1).foreach(_ => ()))
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the marker job")
  }

  /** Runs one operation: `build` returns the DataFrame, `prepare` turns
    * it into the frame the action runs on, `exec` runs the action.
    * Returns the action's result and the operation's latency in
    * seconds (build through action). */
  def run[R](opClass: String, group: String)(build: => DataFrame)(
      prepare: DataFrame => DataFrame)(exec: DataFrame => R)
      (attrs: (DataFrame, R) => Map[String, Double] = (_: DataFrame, _: R) => Map.empty[String, Double])
      : (R, Double) = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = exec(prepare(build))
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val opId = newId()
    val ids = Seq("build", "plan", "exec").map(n => n -> newId()).toMap
    val t0 = System.nanoTime()
    val df = tagged(s"s${ids("build")}")(build)
    val t1 = System.nanoTime()
    val q = prepare(df)
    tagged(s"s${ids("plan")}")(q.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val r = tagged(s"s${ids("exec")}")(exec(q))
    val t3 = System.nanoTime()
    val s0 = System.nanoTime()
    drain()
    val extra = attrs(q, r)
    def child(n: String, a: Long, b: Long, at: Map[String, Double]): Span = {
      val c = listener.counts(s"s${ids(n)}")
      require(c.jobs.get == c.jobsEnded.get,
        s"span $n of $opClass closed with ${c.jobs.get - c.jobsEnded.get} jobs unfinished")
      Span(ids(n), opId, opId, n, opClass, group, a, b, c.jobs.get, c.stages.get,
        c.shuffleWriteBytes.get, c.cpuNs.get, at)
    }
    val kids = Seq(child("build", t0, t1, Map.empty), child("plan", t1, t2, Map.empty),
      child("exec", t2, t3, extra))
    spans += Span(opId, -1, opId, "op", opClass, group, t0, t3,
      kids.map(_.jobs).sum, kids.map(_.stages).sum, kids.map(_.shuffleWriteBytes).sum,
      kids.map(_.cpuNs).sum, Map.empty)
    spans ++= kids
    selfNs += System.nanoTime() - s0
    (r, (t3 - t0) / 1e9)
  }

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val at = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op_id":${s.opId},""" +
        s""""name":"${s.name}","op_class":"${s.opClass}","group":"${s.group}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},""" +
        s""""stages":${s.stages},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""cpu_ns":${s.cpuNs},"attrs":{$at}}""")
    } finally w.close()
  }
}

object Tracer {
  val Prop = "graftbench.span"
  val MarkerPrefix = "marker-"

  /** Every node of the plan that ran: AQE's final plan once the query
    * has executed, descending into query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => out += s; walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}
