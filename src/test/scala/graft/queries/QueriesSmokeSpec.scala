package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Runs every registered query end-to-end on sf0.001 — catches runtime
  * regressions (analysis errors, bad casts, empty-result surprises) before
  * the driver's sf0.01 oracle gate does. Exact-value checks live in the
  * DuckDB harness (tools/oracle_check.py); here we assert execution +
  * plausible shape.
  */
class QueriesSmokeSpec extends SparkSpec {

  // q72's two-nation pair filter legitimately matches nothing at the
  // smallest scale factor (10 suppliers over 25 nations); the sf0.01
  // oracle gate covers it with rows.
  private val mustBeNonEmpty = SparkEntry.queries.keySet -- Set("q72_nation_volume")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val df = fn(spark, "/root/testdata/sf0.001")
      val n = df.queryExecution.toRdd.count()
      assert(df.columns.nonEmpty)
      if (mustBeNonEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query with an oracle has matching key sets") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("CSV upload fixtures leave no graft_csv* temp dirs behind") {
    // VERDICT r15 #3: q276/q285 used to leak one temp dir per invocation;
    // withTempCsvDir now deletes eagerly (safe — both faces driver-decode).
    // Delta-based so a concurrent JVM's fixtures can't fail this suite.
    // Shared index paths are pinned too (r17): they must allocate under
    // the shutdown-cleaned Scratch root, never as top-level /tmp entries
    // (the old applicationId-suffixed scheme leaked one tree per session).
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val pinned = Seq("graft_csv", "graft_ann_index", "graft_text_index")
    // Files.list must be closed (documented contract) — Using releases the
    // directory handle after the name set is materialized
    def fixtures(): Set[String] =
      scala.util.Using.resource(java.nio.file.Files.list(tmp)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => pinned.exists(n.startsWith)).toSet
      }
    val before = fixtures()
    for (q <- Seq("q276_csv_utf16_ingest", "q285_csv_cjk_ingest",
        "q286_csv_euckr_ingest", "q287_csv_koi8r_ingest",
        "q154_ann_index_query", "q214_inverted_index_query"))
      assert(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count() > 0)
    val residue = fixtures() -- before
    assert(residue.isEmpty, s"leaked fixture dirs: $residue")
  }
}
