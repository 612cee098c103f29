package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the clock Spark
  * stamps task launch and finish times with. */
object Clock {
  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + baseNs) / 1e6
}

/** One timed region: a call into a module, or a whole operation when
  * `parent` is 0. Spans of one operation share `op` (iteration, lookup or
  * micro-batch id). */
final case class Span(id: Long, name: String, parent: Long, op: Long, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final case class TaskRec(span: Long, launchMs: Long, finishMs: Long, runMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)
/** `build`: the job builds a PQ index (a stage's call site runs through PQ.pqBuild). */
final case class JobRec(job: Int, span: Long, batch: Long, submitMs: Long, build: Boolean)
final case class WriteRec(startMs: Double, endMs: Double)

/** Spark-side counters, each job and task tagged with the span that was
  * open on the submitting thread (local property [[Tracer.SpanKey]]) and
  * with the streaming micro-batch id when a stream submitted it. */
final class EngineListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val writeStarts = new ConcurrentHashMap[Long, java.lang.Long]()
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  /** File-writing SQL executions (DataFrameWriter saves), from any session. */
  val writes = ArrayBuffer.empty[WriteRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      writeStarts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      Option(writeStarts.remove(x.executionId)).foreach(st =>
        synchronized { writes += WriteRec(st.toDouble, x.time.toDouble) })
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String): Long =
      props.flatMap(p => Option(p.getProperty(k))).flatMap(_.toLongOption).getOrElse(-1L)
    val span = prop(Tracer.SpanKey)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val build = e.stageInfos.exists(_.details.contains("PQ$.pqBuild"))
    synchronized { jobs += JobRec(e.jobId, span, prop("streaming.sql.batchId"), e.time, build) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val rec = TaskRec(Option(stageSpan.get(e.stageId)).fold(-1L)(_.longValue),
        i.launchTime, i.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized { tasks += rec }
    }
  }
}

/** Micro-batch progress as the engine reports it. */
final class ProgressListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once when the run ends. A disabled tracer runs bodies untouched, so
  * workload code is the same in both runs. */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(1L)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }
  private val recorded = ArrayBuffer.empty[Span]
  val engine = new EngineListener
  val streams = new ProgressListener
  if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
  }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId.getAndIncrement()
      val parent = current.get.longValue
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      current.set(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        current.set(parent)
        synchronized { recorded += Span(id, name, parent, op, t0, t1) }
      }
    }

  /** Records a region observed from outside, e.g. a micro-batch. */
  def record(name: String, op: Long, startMs: Double, endMs: Double): Unit =
    if (enabled) synchronized { recorded += Span(nextId.getAndIncrement(), name, 0L, op, startMs, endMs) }

  /** Stops listening once every queued listener event is delivered. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(streams)
  }

  def spans: Seq[Span] = synchronized(recorded.toList)
  def ops: Seq[Span] = spans.filter(_.parent == 0L).sortBy(_.startMs)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  private def subtree(root: Long): Set[Long] = {
    val children = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] = children.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }
  /** Jobs submitted inside span `s` or its children. */
  def jobsIn(s: Span): Seq[JobRec] = { val ids = subtree(s.id); engine.jobs.filter(j => ids(j.span)).toSeq }
  /** Job count of each span called `name`. */
  def jobsPerSpan(name: String): Seq[Int] = named(name).map(jobsIn(_).size)
  /** Shuffle bytes (written + read) of tasks under spans called `name`. */
  def shuffleBytes(name: String): Long = {
    val ids = named(name).flatMap(s => subtree(s.id)).toSet
    engine.tasks.iterator.filter(t => ids(t.span)).map(t => t.shuffleWrite + t.shuffleRead).sum
  }

  /** Milliseconds of [a, b] during which at least one task ran. */
  def busyMs(a: Double, b: Double): Double = {
    val iv = engine.tasks.iterator.map(t => (math.max(a, t.launchMs.toDouble), math.min(b, t.finishMs.toDouble)))
      .filter { case (s, e) => e > s }.toArray.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) covered += ce - cs
    covered
  }
  def tasksWithin(a: Double, b: Double): Seq[TaskRec] =
    engine.tasks.filter(t => t.launchMs >= a - 1 && t.finishMs <= b + 1).toSeq
  def writeMsWithin(a: Double, b: Double): Double =
    engine.writes.iterator.map(w => math.max(0.0, math.min(b, w.endMs) - math.max(a, w.startMs))).sum

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      // micro-batch spans are observed from outside; their jobs carry the batch id
      val jobs = if (s.name == "stream.batch") engine.jobs.count(_.batch == s.op) else jobsIn(s).size
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        f""""jobs":$jobs}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  def on(spark: SparkSession): Tracer = new Tracer(spark, true)
  def off(spark: SparkSession): Tracer = new Tracer(spark, false)
}
