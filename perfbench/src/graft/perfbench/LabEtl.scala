package graft.perfbench

import java.nio.file.{Files, Paths}
import graft.api.{Bronze, LabPipeline, ProgressTracker, TableNames}
import graft.io.Compact
import graft.sources.CsvSource

/** lab_etl: one client uploads seeded CSVs, each for one (district, sector,
  * year) slice, through CsvSource.read -> Bronze.ingest ->
  * LabPipeline.run(Bronze.read(slice), append). Set-up seeds the run's
  * district, so every measured upload merges into its silver store and
  * rewrites it.
  */
object LabEtl {

  private final class Store(ctx: Ctx, name: String) {
    val bronze: String = ctx.dir(s"$name/bronze") + "/lab"
    val out: String = ctx.dir(s"$name/lab")
    val uploads: String = ctx.dir(s"$name/uploads")
    private val sliceRows = scala.collection.mutable.Map.empty[(String, String, Int), Long]
    private val silverRows = scala.collection.mutable.Map.empty[String, Long]
    var csvBytes = 0L

    def bytes: Long = Seq(bronze, out).filter(p => Files.exists(Paths.get(p)))
      .map(Compact.dataBytes(ctx.spark, _)).sum
    def files: Long = Seq(bronze, out).filter(p => Files.exists(Paths.get(p)))
      .map(Compact.dataFileCount(ctx.spark, _).toLong).sum
    def bronzeFiles: Long =
      if (Files.exists(Paths.get(bronze))) Compact.dataFileCount(ctx.spark, bronze) else 0L

    /** One upload, timed from the CSV read to the end of the pipeline. */
    def upload(up: Gen.LabUpload, req: Long): (LabPipeline.Result, Long) = {
      val path = Paths.get(uploads, up.fileName)
      Files.write(path, up.bytes)
      csvBytes += up.bytes.length
      val spark = ctx.spark
      val tr = ctx.tracer
      ctx.timed {
        val raw = tr.span("sources", req)(CsvSource.read(spark, path.toString))
        tr.span("bronze.ingest", req)(
          Bronze.ingest(raw, bronze, "lab", up.district, up.sector, up.year))
        val slice = tr.span("bronze.read", req)(Bronze.read(spark, bronze, Some("lab"),
          Some(up.district), Some(up.sector), Seq(up.year)))
        tr.span("lab", req)(LabPipeline.run(spark, slice,
          LabPipeline.Params(years = Seq(up.year), district = Some(up.district),
            updateMode = "append"),
          Some(out), Some(ProgressTracker.createProcess())))
      }
    }

    /** Checks one finished upload against the generator's running counts:
      * bronze holds every upload of the slice, and each request re-delivers
      * the whole slice to silver under fresh ids.
      */
    def check(up: Gen.LabUpload, res: LabPipeline.Result): Option[String] = {
      val key = (up.district, up.sector, up.year)
      sliceRows(key) = sliceRows.getOrElse(key, 0L) + up.validYearRows
      silverRows(up.district) = silverRows.getOrElse(up.district, 0L) + sliceRows(key)
      val d = Some(up.district)
      val silver = ctx.spark.read.parquet(
        s"$out/${TableNames.dynamicTableName("health_center_lab_data", d)}").count()
      val gold = ctx.spark.read.parquet(
        s"$out/${TableNames.dynamicTableName("hc_analytics_total_summary", d)}")
        .select("total_records").head().getLong(0)
      Checks.lab(res.rawRecords, sliceRows(key), gold, silver, silverRows(up.district))
    }
  }

  def run(ctx: Ctx): Outcome = {
    // the set-up uploads also warm up class loading, JIT and code generation
    // of both the initial-write and the merge path
    val stores = ctx.setup("store_seed") {
      ctx.twins.map { traced =>
        val st = new Store(ctx, if (traced) "traced" else "plain")
        (0 until Gen.SeedUploads).foreach { k =>
          val up = Gen.seedUpload(ctx.seed, k)
          val (res, _) = st.upload(up, -1)
          st.check(up, res).foreach(f => sys.error(s"set-up upload failed its check: $f"))
        }
        traced -> st
      }.toMap
    }
    val uploads = scala.collection.mutable.Map.empty[Int, Gen.LabUpload]
    val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
    val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

    val (steps, loopS) = ctx.closedLoop(1, block = 2) { (_, i, traced) =>
      val up = uploads.getOrElseUpdate(i, Gen.labUpload(ctx.seed, i))
      val store = stores(traced)
      val files0 = if (traced) store.bronzeFiles else 0L
      val (res, ns) = store.upload(up, i)
      if (traced) {
        ctx.tracer.drain()
        val all = ctx.tracer.spans
        val written = all.filter(s => s.request == i && s.parent == 0)
          .map(ctx.tracer.inclusive(_, all).outputBytes).sum
        writeAmp += written.toDouble / up.bytes.length
        filesWritten += (store.bronzeFiles - files0).toDouble
      }
      Step(ns, up.rows, store.check(up, res))
    }

    val plain = stores(false)
    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else Layers.of(ctx, "sources", "sources", "ms=read_ms", "jobs", "input_mb") ++
        Layers.of(ctx, "bronze.ingest", "bronze", "ms=ingest_ms", "written_mb") ++
        Layers.of(ctx, "bronze.read", "bronze", "ms=read_ms", "jobs=read_jobs") ++
        Layers.of(ctx, "lab", "lab", "ms=run_ms", "jobs", "tasks", "cpu_ms", "shuffle_mb",
          "spill_mb", "written_mb", "gc_ms") ++ Map(
          "bronze.files_written" -> M(Stats.median(filesWritten.toSeq), "count"),
          "io.write_amp" -> M(Stats.median(writeAmp.toSeq), "ratio"),
          "io.store_mb" -> M(stores(true).bytes / Layers.MB, "MB"),
          "io.store_files" -> M(stores(true).files.toDouble, "count"))

    val measured = uploads.toSeq.sortBy(_._1).map(_._2)
    Outcome(steps, loopS, plain.bytes, plain.csvBytes,
      Names("etl_request", "s", "etl_rows_per_s", "rows/s", Some("store_bytes_per_input_byte")),
      layers, Map(
        "district" -> Gen.LabDistrict,
        "set_up_uploads" -> Gen.SeedUploads,
        "set_up_rows_per_upload" -> Gen.SeedUploadRows,
        "uploads" -> measured.size,
        "bom_share" -> measured.count(_.bom).toDouble / math.max(1, measured.size),
        "rows_per_upload" -> measured.map(_.rows),
        "slices" -> measured.map(u => s"${u.sector}/${u.year}"),
        "invalid_year_share" -> 1.0 / Gen.InvalidYearEvery))
  }
}
