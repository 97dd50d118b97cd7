package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A value with its unit. */
final case class M(value: Double, unit: String)

/** Outcome of one measured operation. `items` counts the workload's unit of
  * work (CSV rows, requests, documents); the loop fills in the operation
  * index and whether the operation ran traced.
  */
final case class Step(ns: Long, items: Long, failure: Option[String], index: Int = 0,
    traced: Boolean = false)

/** Names under which the workload's end-to-end figures are also reported:
  * `<op>_p50_<unit>`, `<op>_tail_<unit>`, `rate` in `rateUnit`, and the
  * stored-bytes ratio under `stored`.
  */
final case class Names(op: String, unit: String, rate: String, rateUnit: String,
    stored: Option[String] = None)

/** What a workload hands back to the harness after its measured loop. */
final case class Outcome(
    steps: Vector[Step],
    loopSeconds: Double,
    storedBytes: Long,
    inputBytes: Long,
    names: Names,
    layers: Map[String, M],
    planted: Map[String, Any])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String) {
  val tracer = new Tracer(spark, trace)

  /** The twin states a workload keeps, by `traced`: the untraced one, and in
    * a traced run a traced twin that is fed the same inputs.
    */
  val twins: Vector[Boolean] = if (trace) Vector(false, true) else Vector(false)

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Set-up work after the session start (input generation, store builds,
    * warm-up), in seconds by part; setup_s is the session start plus their sum.
    */
  val setupParts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def setup[T](part: String)(body: => T): T = {
    val (r, ns) = timed(body)
    setupParts(part) = setupParts.getOrElse(part, 0.0) + ns / 1e9
    r
  }

  var loopGcMs = 0L
  var heapAfterGcPeakMb = 0.0

  /** Closed loop: `clients` threads take operation indexes 0, 1, ... from
    * one shared sequence and call `step(client, index, traced)`, until the
    * time a client has measured inside its steps reaches the run length and
    * the sequence is at the end of a block of `block` operations (inputs
    * come in blocks whose mix is the same in every run). In a traced run
    * each index runs twice, traced and on the untraced twin, the traced one
    * first on even indexes: every operation yields layer metrics, and the
    * tracing overhead compares the same input on the same state. Returns the
    * steps and the mean busy time per client, the time throughput is
    * measured against.
    */
  def closedLoop(clients: Int, block: Int = 1)(
      step: (Int, Int, Boolean) => Step): (Vector[Step], Double) = {
    val steps = new ConcurrentLinkedQueue[Step]()
    val busy = new Array[Long](clients)
    val limitNs = (seconds * 1e9).toLong
    var taken = 0
    def take(c: Int): Option[Int] = synchronized {
      if (busy(c) >= limitNs && taken % block == 0) None
      else { taken += 1; Some(taken - 1) }
    }
    val gc0 = Main.gcMs()
    def client(c: Int): Unit = {
      var next = take(c)
      while (next.isDefined) {
        val i = next.get
        (if (i % 2 == 0) twins.reverse else twins).foreach { traced =>
          val s =
            try tracer.tracing(traced)(step(c, i, traced))
            catch { case e: Throwable => Step(0L, 0L, Some(s"op $i threw: $e")) }
          steps.add(s.copy(index = i, traced = traced))
          val heap = Main.heapAfterGcMb()
          synchronized {
            busy(c) += math.max(s.ns, 1000000L)
            heapAfterGcPeakMb = math.max(heapAfterGcPeakMb, heap)
          }
        }
        next = take(c)
      }
    }
    if (clients == 1) client(0)
    else {
      val threads = (0 until clients).map(c => new Thread(() => client(c), s"client-$c"))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    loopGcMs = Main.gcMs() - gc0
    (steps.asScala.toVector, busy.sum / 1e9 / clients)
  }

  /** Times `body` in nanoseconds. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest of the standard percentiles with at least ten samples
    * beyond it, as (percentile, value, samples beyond); None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val idx = math.ceil(p / 100 * s.length).toInt - 1
      (p, idx, s.length - 1 - idx)
    }.collectFirst { case (p, idx, beyond) if idx >= 0 && beyond >= 10 =>
      (p, s(idx), beyond)
    }
  }
}

/** Minimal JSON writer for the report. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case M(value, unit) => apply(Map("value" -> value, "unit" -> unit))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "lab_etl" -> LabEtl.run,
    "dashboard" -> Dashboard.run,
    "neardup_ingest" -> NearDupIngest.run)

  /** Every per-layer metric, so each traced run reports all of them; a
    * layer a workload never calls reads 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.read_ms" -> "ms", "sources.jobs" -> "count", "sources.input_mb" -> "MB",
    "bronze.ingest_ms" -> "ms", "bronze.written_mb" -> "MB", "bronze.files_written" -> "count",
    "bronze.read_ms" -> "ms", "bronze.read_jobs" -> "count",
    "lab.run_ms" -> "ms", "lab.jobs" -> "count", "lab.tasks" -> "count", "lab.cpu_ms" -> "ms",
    "lab.shuffle_mb" -> "MB", "lab.spill_mb" -> "MB", "lab.written_mb" -> "MB",
    "lab.gc_ms" -> "ms",
    "io.write_amp" -> "ratio", "io.store_mb" -> "MB", "io.store_files" -> "count",
    "construct.ms" -> "ms", "construct.self_ms" -> "ms", "construct.jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.cpu_ms" -> "ms", "exec.input_mb" -> "MB",
    "exec.shuffle_mb" -> "MB", "exec.task_skew" -> "ratio",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.wal_ms" -> "ms",
    "curation.jobs" -> "count", "curation.tasks" -> "count", "curation.cpu_ms" -> "ms",
    "curation.shuffle_mb" -> "MB", "curation.written_mb" -> "MB",
    "curation.store_files" -> "count", "curation.store_mb" -> "MB",
    "curation.planted_dup_recall" -> "ratio",
    "geo.run_ms" -> "ms", "geo.jobs" -> "count", "geo.tasks" -> "count", "geo.cpu_ms" -> "ms",
    "geo.shuffle_mb" -> "MB", "geo.task_skew" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) {
      SelfTest.run()
      return
    }
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").get == "1"
    val work = arg(args, "--work").get
    val report = arg(args, "--report").get
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))

    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.create(master = s"local[$nproc]")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, seconds, trace, work)
    val out =
      try body(ctx)
      finally {
        ctx.tracer.stop()
        spark.streams.active.foreach(_.stop())
      }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    val provenance = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "jvm_processors" -> nproc,
      "sql_conf" -> conf)
    spark.stop()

    val ok = out.steps.filter(_.failure.isEmpty)
    val failures = out.steps.flatMap(_.failure)
    // latencies of the untraced operations: every operation of an untraced
    // run, the untraced twins of a traced one
    val latMs = ok.filterNot(_.traced).map(_.ns / 1e6)
    val setupS = sessionS + ctx.setupParts.values.sum
    val attempted = out.steps.size
    val itemsPerS = ok.map(_.items).sum / out.loopSeconds
    val storedRatio = out.storedBytes.toDouble / math.max(1L, out.inputBytes)
    val endToEnd = Map(
      "setup_s" -> M(setupS, "s"),
      "ok_ops_ratio" -> M(ok.size.toDouble / math.max(1, attempted), "ratio"),
      "op_p50_ms" -> M(Stats.median(latMs), "ms"),
      "items_per_s" -> M(itemsPerS, "1/s"),
      "stored_bytes_per_input_byte" -> M(storedRatio, "ratio"))

    val layers: Map[String, M] =
      if (!trace) Map.empty
      else {
        // traced over untraced latency of the same operation index
        val overhead = ok.groupBy(_.index).values.collect {
          case Seq(a, b) if a.traced != b.traced =>
            val (t, u) = if (a.traced) (a, b) else (b, a)
            t.ns.toDouble / math.max(1L, u.ns)
        }.toSeq
        LayerMetrics.map { case (n, u) => n -> M(0.0, u) }.toMap ++ out.layers ++ Map(
          "jvm.gc_ms" -> M(ctx.loopGcMs.toDouble / math.max(1, attempted), "ms"),
          "jvm.heap_after_gc_peak_mb" -> M(ctx.heapAfterGcPeakMb, "MB"),
          "trace.overhead_ratio" -> M(Stats.median(overhead), "ratio"))
      }
    val metrics = if (trace) layers else endToEnd

    val n = out.names
    val lat = latMs.map(_ / (if (n.unit == "s") 1000.0 else 1.0))
    val namedMetrics = Map(
      s"${n.op}_p50_${n.unit}" -> M(Stats.median(lat), n.unit),
      n.rate -> M(itemsPerS, n.rateUnit),
      "setup_s" -> M(setupS, "s"),
      "failed_ops_ratio" -> M(failures.size.toDouble / math.max(1, attempted), "ratio")) ++
      n.stored.map(_ -> M(storedRatio, "ratio")) ++
      Stats.tail(lat).toSeq.flatMap { case (pct, v, beyond) =>
        val name = s"${n.op}_tail_${n.unit}"
        Seq(name -> M(v, n.unit), s"$name.percentile" -> M(pct, "%"),
          s"$name.samples_beyond" -> M(beyond.toDouble, "count"))
      }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metrics,
      "workload" -> workload,
      "trace" -> trace,
      "seconds" -> seconds,
      "end_to_end" -> endToEnd,
      "workload_metrics" -> namedMetrics,
      "setup_s" -> (Map("session" -> sessionS) ++ ctx.setupParts),
      "latencies_ms" -> latMs.map(v => math.rint(v * 10) / 10),
      "planted" -> out.planted,
      "failures" -> failures.take(20),
      "layer_self_ms" -> selfTimes(ctx),
      "provenance" -> provenance)

    Files.write(Paths.get(report), Json(result).getBytes(StandardCharsets.UTF_8))
    if (trace) writeSpans(ctx, Paths.get(report).resolveSibling("spans.jsonl").toString)
    println(s"[perfbench] $workload seed=$seed trace=${if (trace) 1 else 0}: " +
      s"$attempted ops, ${failures.size} failed")
    failures.take(5).foreach(f => println(s"[perfbench] FAILED $f"))
    (namedMetrics.toSeq ++ metrics.toSeq).sortBy(_._1).foreach { case (k, v) =>
      println(f"[perfbench]   $k%-32s ${v.value}%.6g ${v.unit}")
    }
    sys.exit(0)
  }

  private def selfTimes(ctx: Ctx): Map[String, Double] = {
    val all = ctx.tracer.spans
    all.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(Tracer.selfMs(_, all))) }
  }

  private def writeSpans(ctx: Ctx, path: String): Unit = {
    val lines = ctx.tracer.spans.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(Paths.get(path), lines.asJava)
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap occupancy right after the latest collection, summed over pools. */
  def heapAfterGcMb(): Double = {
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
