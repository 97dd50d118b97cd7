package graft

import java.nio.file.{Files, Paths}

/** Guards the driver contract itself: Verify.main must produce a parquet
  * dir per query plus a parseable oracle_sql.json whose keys match the
  * query registry (the driver's DuckDB gate reads exactly these), and an
  * empty failed_queries.json.
  */
class VerifyContractSpec extends SparkSpec {

  test("Verify.main dumps results + oracle json for the driver") {
    val out = Files.createTempDirectory("verify_contract").toString
    // keep the shared test session alive: Verify.main's final stop() would
    // tear down the context under every concurrently-running suite
    System.setProperty("graft.verify.noStop", "1")
    Verify.main(Array("/root/testdata/sf0.001", out))

    val json = new String(Files.readAllBytes(Paths.get(s"$out/oracle_sql.json")), "UTF-8")
    // keys present and JSON-escaped sanely (driver uses json.load)
    assert(json.startsWith("{") && json.endsWith("}"))
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(json.contains("\"" + k + "\""), s"oracle_sql.json missing $k")
    }
    // every query produced a parquet output directory
    SparkEntry.queries.keys.foreach { name =>
      assert(Files.exists(Paths.get(s"$out/$name")), s"missing output dir for $name")
    }
    // no raw control characters leaked into the JSON (would break json.load)
    assert(!json.exists(c => c < ' '))
    val failed = new String(
      Files.readAllBytes(Paths.get(s"$out/failed_queries.json")), "UTF-8")
    assert(failed == "{}", s"queries failed in Verify: $failed")
  }
}
