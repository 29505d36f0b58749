package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer, timed from outside the layer. `run` is the id of
  * the root span the call belongs to (one increment, one curation pass,
  * one micro-batch, one reader operation). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, run: Long, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spark task counters summed over the jobs one span submitted. */
final class Counters {
  var jobs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskNs = 0L
  var inputBytes = 0L
  var recordsWritten = 0L
  /** stage id -> task durations (ms), for the widest-stage skew ratio. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    taskNs += o.taskNs; inputBytes += o.inputBytes
    recordsWritten += o.recordsWritten
    o.stageTasks.foreach { case (k, v) =>
      stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** Slowest ÷ median task duration in the stage with the most tasks. */
  def maxTaskRatio: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val widest = stageTasks.values.maxBy(_.size).sorted
      val med = widest(widest.size / 2).max(1L)
      widest.last.toDouble / med
    }
}

/** Span recorder plus the listeners that attribute Spark and streaming
  * counters to spans. With tracing off every `span` call just runs its
  * body, and no listener is registered.
  *
  * Attribution: a span stores its id in the SparkContext local property
  * [[Tracer.Key]] of the calling thread; every job carries the property of
  * the thread that submitted it, so its stages' task metrics land on the
  * innermost open span. Counters for a scope name are the sum over every
  * span of that name and all of their descendants. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  /** Streaming progress `durationMs` parts, in arrival order. */
  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()

  /** Spans are recorded only while measuring, not during set-up or checks. */
  @volatile var measuring = false

  def span[T](name: String)(body: => T): T =
    if (!on || !measuring) body
    else {
      val stack = open.get()
      val id = ids.incrementAndGet()
      val (parent, run) = stack.headOption.map { case (p, r) => (p, r) }
        .getOrElse((0L, id))
      open.set((id, run) :: stack)
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, run, name, t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(Tracer.Key,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)
      counters(sid).synchronized(counters(sid).jobs += 1)
      e.stageIds.foreach(st => stageSpan.put(st, sid))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sid = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val c = counters(sid)
      val m = e.taskMetrics
      c.synchronized {
        if (m != null) {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskNs += m.executorRunTime * 1000000L
          c.inputBytes += m.inputMetrics.bytesRead
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
        c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring && e.progress.numInputRows > 0)
        progress.add(e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap)
  }

  private def counters(sid: Long): Counters =
    bySpan.computeIfAbsent(sid, _ => new Counters)

  if (on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Stop collecting: drain the listener bus and unregister. */
  def finish(): Unit = if (on) {
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Duration minus the part of it that the span's children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = a max reach
      if (b > from) { covered += b - from; reach = b }
    }
    s.dur - covered
  }

  /** Counters of every span named `scope` and all of their descendants
    * (or of every recorded span for `scope == "run"`). */
  def scoped(scope: String): Counters = {
    val all = spans
    val parentOf = all.map(s => s.id -> s.parent).toMap
    val nameOf = all.map(s => s.id -> s.name).toMap
    def under(id: Long): Boolean =
      id != 0L && (nameOf.get(id).contains(scope) ||
        parentOf.get(id).exists(under))
    val out = new Counters
    bySpan.asScala.foreach { case (sid, c) =>
      if ((scope == "run" && sid != 0L) || under(sid)) c.synchronized(out.add(c))
    }
    out
  }

  /** Spans as JSON lines, written once when the run ends. */
  def write(path: java.nio.file.Path, runTag: String): Unit = if (on) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"run_id":"$runTag-${s.run}","span":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${selfNs(s)}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Key = "perfbench.span"
}
