package graft.perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one scope: a span, or one streaming batch. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; taskMs ++= o.taskMs
  }

  /** Slowest task over the median task (1 when there are no tasks). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/** One timed call into a layer. `parent` is 0 for a request's root span. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counts task metrics per scope. A job belongs to the scope named by its
  * `perfbench.scope` local property, or, for a query in `streams`, to its
  * streaming batch via `streaming.sql.batchId` and `sql.streaming.queryId`
  * (the job group is not used: the engine's ProgressTracker sets and clears
  * it inside the calls being measured).
  */
final class CountingListener(streams: java.util.Set[String]) extends SparkListener {
  private val stageScope = mutable.HashMap.empty[Int, String]
  private val byScope = mutable.HashMap.empty[String, Counts]

  private def scopeOf(p: Properties): Option[String] =
    Option(p).flatMap { p =>
      Option(p.getProperty(Tracer.BatchKey))
        .filter(_ => streams.contains(p.getProperty(Tracer.QueryIdKey)))
        .map(b => s"b${p.getProperty(Tracer.QueryIdKey)}/$b")
        .orElse(Option(p.getProperty(Tracer.ScopeKey)))
    }

  private def counts(s: String) = byScope.getOrElseUpdate(s, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    scopeOf(e.properties).foreach { s =>
      counts(s).jobs += 1
      e.stageInfos.foreach(i => stageScope(i.stageId) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    scopeOf(e.properties).orElse(stageScope.get(e.stageInfo.stageId)).foreach { s =>
      stageScope(e.stageInfo.stageId) = s
      counts(s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageScope.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counts(s)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.taskMs += e.taskInfo.duration
    }
  }

  def of(scope: String): Counts = synchronized {
    val c = new Counts
    byScope.get(scope).foreach(c.add)
    c
  }
}

/** Per-batch durations the streaming engine reports for the queries in
  * `streams`.
  */
final class StreamProgress(streams: java.util.Set[String]) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0 && streams.contains(e.progress.id.toString))
      batches.add(e.progress.batchId -> e.progress.durationMs.asScala.map {
        case (k, v) => k -> v.longValue
      }.toMap)
}

/** Records spans around the benchmark's calls into each layer, and tags the
  * Spark jobs each span starts. Spans stay in memory until the run ends.
  * With tracing off every method is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val active = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private val streams = ConcurrentHashMap.newKeySet[String]()
  val listener = new CountingListener(streams)
  val stream = new StreamProgress(streams)
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(stream)
  }

  /** Runs `body` with spans recorded on this thread when `on` (and tracing). */
  def tracing[T](on: Boolean)(body: => T): T = {
    active.set(enabled && on)
    try body finally active.set(false)
  }

  def span[T](name: String, request: Long)(body: => T): T =
    if (!active.get) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val stack = open.get
      val prev = sc.getLocalProperty(Tracer.ScopeKey)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.ScopeKey, s"s$id")
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, stack.headOption.getOrElse(0L), request, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.ScopeKey, prev)
        open.set(stack)
      }
    }

  /** Attributes the jobs and progress of `query`'s batches to it. */
  def watch(query: StreamingQuery): Unit =
    streams.add(query.id.toString)

  /** Blocks until every listener event so far has been delivered. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(spark.sparkContext)

  def spans: Vector[Span] = done.asScala.toVector.sortBy(_.id)

  /** Work of `s` and every span below it. */
  def inclusive(s: Span, all: Vector[Span]): Counts = {
    val c = listener.of(s"s${s.id}")
    all.filter(_.parent == s.id).foreach(ch => c.add(inclusive(ch, all)))
    c
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(stream)
  }
}

object Tracer {
  val ScopeKey = "perfbench.scope"
  val BatchKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span, all: Vector[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.endNs - s.startNs - covered) / 1e6
  }
}
