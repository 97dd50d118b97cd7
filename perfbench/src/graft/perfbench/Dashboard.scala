package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import graft.analytics.{HealthAnalytics, LabTransform}
import graft.api.{Bronze, DashboardPipeline, GeoPipeline, MalariaApiPipeline, ProgressTracker,
  WeatherPipeline}
import graft.io.Compact
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** dashboard: two analysts share one session, each waiting for a panel
  * before asking for the next, over a lab store built in set-up. One request
  * in each deck is a GeoPipeline.run zonal merge over a seeded region, which
  * is where the geo layer is measured.
  */
object Dashboard {

  val LabKinds: Vector[String] = Vector("kpi", "gender", "monthly_trend", "location_summary",
    "top_villages", "yearly_status", "total_summary")
  val OtherKinds: Vector[String] =
    Vector("malaria_summary", "malaria_hierarchy", "weather_merge", "bronze_meta", "geo_merge")

  /** One request: a panel over a slice (district None = whole store, years
    * empty = every year).
    */
  final case class Req(kind: String, district: Option[String], years: Seq[Int]) {
    def key: String = s"$kind/${district.getOrElse("*")}/${years.mkString(",")}"
  }

  /** The lab panels of one deck as (kind, slice, district size rank): every
    * kind on a district-year, and the rest spread so that the slices are one
    * district-year in 11 of 16, one district in 3 and the whole store in 2
    * (about 70 / 20 / 10 %).
    */
  private val LabMix: Vector[(String, String, Int)] =
    LabKinds.zipWithIndex.map { case (k, i) => (k, "year", i % 6) } ++ Vector(
      ("kpi", "year", 1), ("gender", "year", 2), ("monthly_trend", "year", 3),
      ("yearly_status", "year", 4), ("location_summary", "district", 5),
      ("top_villages", "district", 0), ("total_summary", "district", 1),
      ("kpi", "store", 0), ("yearly_status", "store", 0))

  /** Requests come in decks of 21: the lab mix above plus one of each other
    * request, with seeded years and districts (`districts` is in seeded size
    * rank order), so every deck asks for the same work. The order within a
    * deck is one fixed shuffle: which requests overlap across the two clients
    * then depends on timing alone, not on the seed.
    */
  val DeckSize: Int = LabMix.size + OtherKinds.size

  def deck(r: java.util.SplittableRandom, districts: Vector[String]): Vector[Req] = {
    val lab = LabMix.map {
      case (kind, "year", k) =>
        Req(kind, Some(districts(k)), Seq(Gen.Years(r.nextInt(Gen.Years.size))))
      case (kind, "district", k) => Req(kind, Some(districts(k)), Nil)
      case (kind, _, _) => Req(kind, None, Nil)
    }
    DeckOrder.map((lab ++ OtherKinds.map(Req(_, None, Nil)))(_))
  }

  private val DeckOrder: Vector[Int] = Gen.shuffled(Gen.rng(0, 51), 0 until DeckSize)

  /** `csvBytes`: the store's rows as CSV text, the form uploads arrive in. */
  final class Store(val root: String, seed: Long, val slices: Vector[Gen.StoreSlice],
      val hmis: Gen.Hmis, val csvBytes: Long) {
    val bronze: String = s"$root/bronze"
    val hmisPath: String = s"$root/hmis"
    val precipPath: String = s"$root/precip"
    val tempPath: String = s"$root/temp"
    val boundaries: String = s"$root/boundaries"
    val points: String = s"$root/points"
    val cells: Vector[Gen.GeoCell] = Gen.geoCells(seed)

    def matching(q: Req): Vector[Gen.StoreSlice] = slices.filter(s =>
      q.district.forall(_ == s.district) && (q.years.isEmpty || q.years.contains(s.year)))

    val other: Map[String, Long] = Map(
      "hmis_long_rows" -> hmis.longRows.toLong,
      "province_districts" -> hmis.provinceDistricts.toLong,
      "weather_rows" -> 12L * Gen.Years.size,
      "store_slices" -> slices.size.toLong) ++
      slices.map(s => s"slice:${s.district.toLowerCase}:${s.year}" -> s.rows.toLong)
  }

  def build(spark: SparkSession, seed: Long, root: String): Store = {
    val slices = Gen.storeSlices(seed)
    val csvBytes = spark.sparkContext.longAccumulator("csv bytes")
    val bronze = s"$root/bronze"
    slices.zipWithIndex.foreach { case (s, idx) =>
      val parts = (s.rows + Gen.StorePartRows - 1) / Gen.StorePartRows
      val rows = spark.sparkContext.parallelize(0 until parts, parts)
        .flatMap(p => Gen.storeRows(seed, idx, s, p).map { r =>
          csvBytes.add(r.toSeq.map(_.toString.length + 1).sum)
          r
        })
      Bronze.ingest(spark.createDataFrame(rows, Gen.labSchema), bronze, "lab",
        s.district, s.sector, s.year)
    }
    val store = new Store(root, seed, slices, Gen.hmis(seed), csvBytes.value)
    spark.createDataFrame(store.hmis.rows.asJava, store.hmis.schema).coalesce(1)
      .write.parquet(store.hmisPath)
    val (precip, temp) = Gen.weather(seed)
    spark.createDataFrame(precip.asJava, Gen.weatherSchemaPrecip).coalesce(1)
      .write.parquet(store.precipPath)
    spark.createDataFrame(temp.asJava, Gen.weatherSchemaTemp).coalesce(1)
      .write.parquet(store.tempPath)
    spark.createDataFrame(store.cells.map(Gen.boundaryRow).asJava, Gen.geoBoundarySchema)
      .coalesce(1).write.parquet(store.boundaries)
    val cells = store.cells
    spark.createDataFrame(spark.sparkContext.parallelize(cells, 4)
      .flatMap(c => Gen.geoPoints(seed, c)), Gen.geoPointSchema).write.parquet(store.points)
    store
  }

  /** The call that returns the panel's frame, and a cached frame the
    * request leaves behind (GeoPipeline.run returns its merge persisted).
    */
  def construct(spark: SparkSession, st: Store, q: Req, tr: Tracer,
      id: Long): (DataFrame, Option[DataFrame]) = {
    def lab = LabTransform.transform(tr.span("bronze.read", id)(
      Bronze.read(spark, st.bronze, Some("lab"), q.district, None, q.years)))
    def malaria = MalariaApiPipeline.calculate(spark.read.parquet(st.hmisPath), "hmis_upload")
    q.kind match {
      case "kpi" => (DashboardPipeline.kpiData(lab), None)
      case "gender" => (DashboardPipeline.genderAnalysis(lab), None)
      case "monthly_trend" =>
        (DashboardPipeline.monthlyTrend(lab, if (q.years.nonEmpty) q.years else Gen.Years), None)
      case "location_summary" => (DashboardPipeline.locationSummary(lab), None)
      case "top_villages" => (DashboardPipeline.topVillages(lab), None)
      case "yearly_status" => (HealthAnalytics.yearlySlideStatus(lab), None)
      case "total_summary" => (HealthAnalytics.totalSummary(lab), None)
      case "malaria_summary" => (MalariaApiPipeline.summary(malaria), None)
      case "malaria_hierarchy" => (MalariaApiPipeline.locationHierarchy(malaria), None)
      case "weather_merge" =>
        // created_at / updated_at stamp the request time; the rest repeats
        (WeatherPipeline.monthlyMerge(spark, spark.read.parquet(st.precipPath),
          spark.read.parquet(st.tempPath), Gen.Years, "Gasabo", "Kacyiru",
          "Kigali Aero", "Kigali Aero").drop("created_at", "updated_at"), None)
      case "bronze_meta" => (Bronze.metaTable(spark, st.bronze), None)
      case "geo_merge" =>
        val (merged, _) = tr.span("geo", id)(GeoPipeline.run(spark,
          spark.read.parquet(st.boundaries), spark.read.parquet(st.points),
          Some(ProgressTracker.createProcess())))
        (merged.select("boundary_id", "slope_points_used"), Some(merged))
    }
  }

  /** Per boundary, the zonal count equals the planted inside points (so no
    * gap point landed in a boundary).
    */
  private def checkGeo(st: Store, rows: Seq[org.apache.spark.sql.Row]): Option[String] = {
    val counts = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
    Checks.geo(st.cells.map(c => c.id -> c.points.toLong).toMap, counts)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val store = ctx.setup("store_build")(build(spark, ctx.seed, ctx.dir("store")))
    // one lab panel, on the largest district so that the warm-up does the
    // same work for every seed, and each other request; shapes first seen in
    // the loop pay their code generation there, which the median absorbs
    val warm = Req("kpi", Some(store.slices.head.district), Seq(Gen.Years(0))) +:
      OtherKinds.map(Req(_, None, Nil))
    ctx.setup("warmup")(warm.foreach { q =>
      val (df, cached) = construct(spark, store, q, ctx.tracer, -1)
      df.collect()
      cached.foreach(_.unpersist())
    })
    val hashes = new ConcurrentHashMap[String, Integer]()
    val phases = new ConcurrentHashMap[Long, Map[String, Double]]()
    val decks = new ConcurrentHashMap[Int, Vector[Req]]()
    def request(i: Int): Req =
      decks.computeIfAbsent(i / DeckSize,
        d => deck(Gen.rng(ctx.seed, 50, d), store.slices.map(_.district).distinct))(i % DeckSize)
    val byKind = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()

    // two decks per block: a one-deck median moves with which requests
    // happen to overlap across the clients
    val (steps, loopS) = ctx.closedLoop(2, block = 2 * DeckSize) { (c, i, traced) =>
      val q = request(i)
      val id = c * 1000000L + i
      val tr = ctx.tracer
      val (rows, ns) = ctx.timed {
        val (df, cached) = tr.span("construct", id)(construct(spark, store, q, tr, id))
        if (traced) tr.span("catalyst", id)(df.queryExecution.executedPlan)
        val rows = tr.span("exec", id)(df.collect())
        if (traced) phases.put(id, df.queryExecution.tracker.phases.map {
          case (k, v) => k -> v.durationMs.toDouble })
        cached.foreach(_.unpersist())
        rows.toSeq
      }
      val slice = store.matching(q)
      val h: Integer = Checks.resultHash(rows)
      val prev = hashes.putIfAbsent(q.key, h)
      val failure = Checks.first(
        if (q.kind == "geo_merge") checkGeo(store, rows)
        else Checks.dashboard(q.kind, rows, slice.map(_.rows.toLong).sum,
          slice.map(s => (s.rows - Gen.invalidYearRows(s.rows)).toLong).sum, store.other),
        Option(prev).filter(_ != h).map(_ => s"repeated request ${q.key} changed its result"))
      val slot = q.kind + (if (q.district.isEmpty) "" else if (q.years.isEmpty) "/district"
        else "/district-year")
      if (!traced) byKind.computeIfAbsent(slot,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(ns / 1e6)
      Step(ns, 1L, failure)
    }

    val storeBytes = Compact.dataBytes(spark, store.bronze)
    val layers =
      if (!ctx.trace) Map.empty[String, M]
      else {
        val all = ctx.tracer.spans
        val ph = phases.values.asScala.toSeq
        Layers.of(ctx, "bronze.read", "bronze", "ms=read_ms", "jobs=read_jobs") ++
          Layers.of(ctx, "geo", "geo", "ms=run_ms", "jobs", "tasks", "cpu_ms", "shuffle_mb",
            "task_skew") ++
          Layers.of(ctx, "construct", "construct", "ms", "jobs") ++
          Layers.of(ctx, "exec", "exec", "ms", "jobs", "stages", "tasks", "cpu_ms", "input_mb",
            "shuffle_mb", "task_skew") ++ Map(
            "construct.self_ms" ->
              M(Stats.median(all.filter(_.name == "construct").map(Tracer.selfMs(_, all))), "ms"),
            "catalyst.analysis_ms" -> M(Stats.median(ph.map(_.getOrElse("analysis", 0.0))), "ms"),
            "catalyst.optimization_ms" ->
              M(Stats.median(ph.map(_.getOrElse("optimization", 0.0))), "ms"),
            "catalyst.planning_ms" -> M(Stats.median(ph.map(_.getOrElse("planning", 0.0))), "ms"))
      }

    Outcome(steps, loopS, storeBytes, store.csvBytes,
      Names("query", "ms", "queries_per_s", "1/s"), layers, Map(
      "store_rows" -> store.slices.map(_.rows.toLong).sum,
      "district_rows" -> store.slices.groupBy(_.district).map { case (d, ss) =>
        d -> ss.map(_.rows).sum },
      "distinct_requests" -> hashes.size,
      "geo_boundaries" -> store.cells.size,
      "geo_points" -> store.cells.map(c => c.points + c.gapPoints).sum,
      "geo_gap_points" -> store.cells.map(_.gapPoints).sum,
      "latency_ms_by_kind" ->
        byKind.asScala.map { case (k, v) => k -> v.asScala.toSeq.map(math.rint) }))
  }
}
