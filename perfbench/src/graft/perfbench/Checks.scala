package graft.perfbench

import org.apache.spark.sql.Row

/** Output checks. Each takes what the engine returned plus what the
  * generator planted, and names the first mismatch; a failed check counts
  * its operation as failed.
  */
object Checks {

  def equal(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def first(checks: Option[String]*): Option[String] = checks.collectFirst { case Some(f) => f }

  /** lab_etl: the pipeline saw every parseable row of the slice, the gold
    * summary covers the whole silver table, and silver holds what the
    * requests of this district delivered.
    */
  def lab(rawRecords: Long, sliceRows: Long, goldTotal: Long, silverRows: Long,
      silverExpected: Long): Option[String] =
    first(
      equal("rawRecords vs generated slice rows", rawRecords, sliceRows),
      equal("totalSummary total_records vs silver rows", goldTotal, silverRows),
      equal("silver rows vs rows delivered to the district", silverRows, silverExpected))

  /** neardup_ingest: one verdict per document; a planted exact duplicate is
    * dropped in the batch, or against history when its original was.
    */
  def verdicts(docs: Seq[Gen.Doc], got: Seq[(Long, String)]): Option[String] = {
    val byId = got.groupBy(_._1)
    val ids = docs.map(_.id).toSet
    val verdict = byId.map { case (id, vs) => id -> vs.head._2 }
    first(
      byId.collectFirst { case (id, vs) if vs.size != 1 => s"doc $id got ${vs.size} verdicts" },
      got.collectFirst { case (id, _) if !ids.contains(id) => s"verdict for unknown doc $id" },
      docs.collectFirst { case d if !verdict.contains(d.id) => s"doc ${d.id} got no verdict" },
      docs.collectFirst {
        case d if d.kind == Gen.ExactDup && {
          val want =
            if (verdict.get(d.source).contains("dropped_vs_history")) "dropped_vs_history"
            else "dropped_in_batch"
          !verdict.get(d.id).contains(want)
        } => s"planted exact duplicate ${d.id} of ${d.source} got ${verdict.get(d.id)}"
      })
  }

  /** The store holds the four LSH band rows of every accepted document. */
  def storeBands(storeRows: Long, accepted: Long): Option[String] =
    equal("store band rows vs 4 x accepted docs", storeRows, 4 * accepted)

  /** Geo merge: per boundary, the zonal count equals the planted inside
    * points; gap points land in no boundary.
    */
  def geo(expected: Map[Long, Long], got: Seq[(Long, Long)]): Option[String] = {
    val m = got.toMap
    first(
      equal("merged boundary rows", got.size, expected.size),
      expected.collectFirst {
        case (id, n) if m.getOrElse(id, -1L) != n => s"boundary $id: ${m.get(id)} points, want $n"
      })
  }

  /** dashboard: totals of a lab request against the generated slice. */
  def dashboard(kind: String, rows: Seq[Row], sliceRows: Long, validYearRows: Long,
      other: Map[String, Long]): Option[String] = {
    def sum(c: String) = rows.map(r => r.getAs[Long](c)).sum
    kind match {
      case "kpi" => equal("kpi total_tests", rows.head.getAs[Long]("total_tests"), sliceRows)
      case "gender" => equal("gender counts", sum("count"), sliceRows)
      case "location_summary" => equal("location total_tests", sum("total_tests"), sliceRows)
      case "total_summary" =>
        equal("summary total_records", rows.head.getAs[Long]("total_records"), sliceRows)
      case "yearly_status" =>
        first(equal("yearly total_tests", sum("total_tests"), validYearRows),
          rows.collectFirst {
            case r if r.getAs[Long]("positive_cases") + r.getAs[Long]("negative_cases") +
                r.getAs[Long]("inconclusive_cases") != r.getAs[Long]("total_tests") =>
              s"yearly status of ${r.get(0)} does not add up"
          })
      case "top_villages" =>
        if (rows.size > 20 || rows.exists(_.getAs[Long]("total_tests") < 10))
          Some(s"top villages: ${rows.size} rows, min tests " +
            rows.map(_.getAs[Long]("total_tests")).minOption)
        else None
      case "monthly_trend" =>
        if (rows.size > 13) Some(s"monthly trend has ${rows.size} rows") else None
      case "malaria_summary" =>
        equal("malaria summary records", rows.head.getAs[Long]("records"), other("hmis_long_rows"))
      case "malaria_hierarchy" =>
        equal("hierarchy rows", rows.size, other("province_districts"))
      case "weather_merge" => equal("weather rows", rows.size, other("weather_rows"))
      case "bronze_meta" =>
        first(equal("meta partitions", rows.size, other("store_slices")),
          rows.collectFirst {
            case r if other.get(s"slice:${r.getAs[String]("_district")}:${r.getAs[Int]("_year")}")
                .forall(_ != r.getAs[Long]("records_count")) =>
              s"meta records_count of ${r.getAs[String]("_district")}/${r.getAs[Int]("_year")}"
          })
      case k => Some(s"unknown request kind $k")
    }
  }

  /** Order-insensitive hash of a result. */
  def resultHash(rows: Seq[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted)
}
