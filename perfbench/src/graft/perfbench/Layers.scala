package graft.perfbench

/** Per-layer metrics from the spans of a traced run: each value is the
  * median, over the traced operations, of that operation's span.
  */
object Layers {
  val MB = 1048576.0

  def spans(ctx: Ctx, name: String): Vector[(Span, Counts)] = {
    ctx.tracer.drain()
    val all = ctx.tracer.spans
    all.filter(_.name == name).map(s => s -> ctx.tracer.inclusive(s, all))
  }

  def med[T](xs: Seq[T])(f: T => Double): Double = Stats.median(xs.map(f))

  /** The metrics of `name`'s spans, under `prefix`, for the listed fields. */
  def of(ctx: Ctx, name: String, prefix: String, fields: String*): Map[String, M] = {
    val xs = spans(ctx, name)
    val all: Map[String, (Double, String)] = Map(
      "ms" -> (med(xs)(_._1.ms), "ms"),
      "jobs" -> (med(xs)(_._2.jobs.toDouble), "count"),
      "stages" -> (med(xs)(_._2.stages.toDouble), "count"),
      "tasks" -> (med(xs)(_._2.tasks.toDouble), "count"),
      "cpu_ms" -> (med(xs)(_._2.cpuNs / 1e6), "ms"),
      "gc_ms" -> (med(xs)(_._2.gcMs.toDouble), "ms"),
      "input_mb" -> (med(xs)(_._2.inputBytes / MB), "MB"),
      "shuffle_mb" -> (med(xs)(_._2.shuffleWriteBytes / MB), "MB"),
      "spill_mb" -> (med(xs)(_._2.spillBytes / MB), "MB"),
      "written_mb" -> (med(xs)(_._2.outputBytes / MB), "MB"),
      "task_skew" -> (med(xs)(_._2.taskSkew), "ratio"))
    fields.map { f =>
      val (field, metric) = f.split("=") match {
        case Array(a, b) => (a, b)
        case _ => (f, f)
      }
      val (v, u) = all(field)
      s"$prefix.$metric" -> M(v, u)
    }.toMap
  }
}
