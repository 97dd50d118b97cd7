package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.curation.Curation
import graft.io.Compact
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** neardup_ingest: one client appends a parquet micro-batch of seeded
  * documents to the stream's source directory and waits for
  * Curation.nearDupIngestStream to process it against its band store.
  */
object NearDupIngest {

  val Buckets = 8
  /** An append writes up to one file per bucket, so compaction fires about
    * every second batch, several times in a run.
    */
  val CompactFileThreshold = 2 * Buckets + 4

  private final class Stream(ctx: Ctx, name: String) {
    val src: String = ctx.dir(s"$name/src")
    val staging: String = ctx.dir(s"$name/staging")
    val table: String = s"perfbench_${name}_bands"
    private val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val query: StreamingQuery = Curation.nearDupIngestStream(
      ctx.spark.readStream.schema(Gen.docSchema).parquet(src), table,
      buckets = Buckets, checkpoint = Some(ctx.dir(s"$name/checkpoint")),
      compactFileThreshold = CompactFileThreshold) { v =>
      v.collect().foreach(r => sunk.add(r.getLong(0) -> r.getString(1)))
    }
    val verdicts: mutable.Map[Long, String] = mutable.Map.empty
    val batchIds: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
    var accepted = 0L

    /** Writes the batch as one parquet file outside the source directory. */
    def stage(docs: Seq[Gen.Doc], b: Int): java.nio.file.Path = {
      val dir = s"$staging/$b"
      ctx.spark.createDataFrame(docs.map(d => org.apache.spark.sql.Row(d.id, d.text)).asJava,
        Gen.docSchema).coalesce(1).write.parquet(dir)
      Files.list(Paths.get(dir)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }

    /** Moves a staged file into the source and waits for its batch. */
    def ingest(file: java.nio.file.Path, b: Int): Vector[(Long, String)] = {
      sunk.clear()
      Files.move(file, Paths.get(src, f"batch-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      sunk.asScala.toVector
    }

    def storeRows: Long = ctx.spark.table(table).count()
    def location: String = Compact.tableLocation(ctx.spark, table)
  }

  def run(ctx: Ctx): Outcome = {
    ctx.setup("warmup") {
      val s = new Stream(ctx, "warmup")
      val docs = new Gen.DocStream(ctx.seed + 7919)
      (0 until 2).foreach(b => s.ingest(s.stage(docs.batch(b).take(300), b), b))
      s.query.stop()
    }
    val streams = ctx.setup("streams") {
      ctx.twins.map(t => t -> new Stream(ctx, if (t) "traced" else "plain")).toMap
    }
    if (ctx.trace) ctx.tracer.watch(streams(true).query)
    val gen = new Gen.DocStream(ctx.seed)
    val batches = mutable.Map.empty[Int, Vector[Gen.Doc]]

    // five batches per block: compaction fires on the third and the fifth,
    // and a batch after a compaction runs faster; with an even count the
    // median would fall between a fast and a slow batch
    val (steps, loopS) = ctx.closedLoop(1, block = 5) { (_, i, traced) =>
      val docs = batches.getOrElseUpdate(i, gen.batch(i))
      val s = streams(traced)
      val file = s.stage(docs, i)
      val (got, ns) = ctx.timed(ctx.tracer.span("stream.batch", i)(s.ingest(file, i)))
      Option(s.query.lastProgress).foreach(p => s.batchIds += p.batchId)
      s.verdicts ++= got
      s.accepted += got.count(_._2 == "accepted")
      Step(ns, docs.size,
        Checks.first(Checks.verdicts(docs, got), Checks.storeBands(s.storeRows, s.accepted)))
    }

    val all = batches.toSeq.sortBy(_._1).map(_._2)
    val docs = all.flatten
    val edits = docs.filter(_.kind == Gen.Edit)
    def recall(s: Stream) =
      edits.count(d => s.verdicts.get(d.id).contains("dropped_vs_history")).toDouble /
        math.max(1, edits.size)
    def bytes(s: Stream) = Compact.dataBytes(ctx.spark, s.location)

    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else {
        ctx.tracer.drain()
        val s = streams(true)
        val progress = ctx.tracer.stream.batches.asScala.toVector
          .filter { case (id, _) => s.batchIds.contains(id) }.map(_._2)
        def dur(k: String) = Stats.median(progress.map(_.getOrElse(k, 0L).toDouble))
        val counts = s.batchIds.toVector.map(b => ctx.tracer.listener.of(s"b${s.query.id}/$b"))
        def med(f: Counts => Double) = Stats.median(counts.map(f))
        Map(
          "stream.trigger_ms" -> M(dur("triggerExecution"), "ms"),
          "stream.add_batch_ms" -> M(dur("addBatch"), "ms"),
          "stream.planning_ms" -> M(dur("queryPlanning"), "ms"),
          "stream.wal_ms" -> M(dur("walCommit"), "ms"),
          "curation.jobs" -> M(med(_.jobs.toDouble), "count"),
          "curation.tasks" -> M(med(_.tasks.toDouble), "count"),
          "curation.cpu_ms" -> M(med(_.cpuNs / 1e6), "ms"),
          "curation.shuffle_mb" -> M(med(_.shuffleWriteBytes / Layers.MB), "MB"),
          "curation.written_mb" -> M(med(_.outputBytes / Layers.MB), "MB"),
          "curation.store_files" ->
            M(Compact.dataFileCount(ctx.spark, s.location).toDouble, "count"),
          "curation.store_mb" -> M(bytes(s) / Layers.MB, "MB"),
          "curation.planted_dup_recall" -> M(recall(s), "ratio"))
      }

    val plain = streams(false)
    val storeBytes = bytes(plain)
    streams.values.foreach(_.query.stop())
    Outcome(steps, loopS, storeBytes, docs.map(_.text.length.toLong + 8).sum,
      Names("ingest_batch", "s", "ingest_docs_per_s", "docs/s"), layers, Map(
        "batches" -> all.size,
        "docs_per_batch" -> all.map(_.size),
        "edit_share" -> edits.size.toDouble / math.max(1, docs.size),
        "exact_dup_share" -> docs.count(_.kind == Gen.ExactDup).toDouble / math.max(1, docs.size),
        "planted_dup_recall" -> recall(plain),
        "accepted_docs" -> plain.accepted,
        "compact_file_threshold" -> CompactFileThreshold))
  }
}
