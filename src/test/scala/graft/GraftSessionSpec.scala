package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession

/** Every entry point's session is a factory session: the whole
  * [[Natives]] table resolves through plain SQL, and the factory's confs
  * are in force — on `GraftSession.create` and on the shared test session.
  */
class GraftSessionSpec extends SparkSpec {

  private val square =
    "array(array(array(0D,0D), array(4D,0D), array(4D,4D), array(0D,4D), array(0D,0D)))"

  /** Scalar native → (SQL expression calling it, its value as JSON). */
  private val scalarCalls: Map[String, (String, String)] = Map(
    "st_rect_clip_area" -> (s"st_rect_clip_area($square, 1D, 1D, 3D, 3D)", "4.0"),
    "st_contains_point" -> (s"st_contains_point($square, 2D, 2D)", "true"),
    "st_simplify" -> (s"size(st_simplify($square, 0D)[0])", "5"),
    "st_reproject" -> (s"st_reproject($square, 4326) = $square", "true"),
    "vec_dot" -> ("vec_dot(array(1D, 2D, 3D), array(4D, 5D, 6D))", "32.0"),
    "vec_argmax_cell" -> ("vec_argmax_cell(array(0.1D, 2D), 2D, array(" +
      "named_struct('c', 3L, 'v', array(1D, 0D), 'n', 1D), " +
      "named_struct('c', 7L, 'v', array(0D, 1D), 'n', 1D)))", "7"),
    "minhash_sig" -> ("size(minhash_sig('a b c d', 2, array(1L, 2L, 3L)))", "3"),
    "simhash60" -> ("simhash60('a b c') = simhash60('c b a')", "true"),
    "word_shingles" -> ("word_shingles('a b c', 2)", "[\"a b\",\"b c\"]"),
    "shingle_hash_set" -> ("size(shingle_hash_set('a b c', 2))", "2"),
    "sorted_intersect_count" ->
      ("sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L))", "2"),
    "subword_tokenize" ->
      ("subword_tokenize('window', array('win', 'dow')).n_pieces", "2"),
    "graft_bpe_encode" -> ("graft_bpe_encode('ab', array('a'), array('b'))", "\"(ab)\""),
    "nfc_normalize" -> ("nfc_normalize('cafe\u0301') = 'caf\u00e9'", "true"),
    "graft_jl_sketch" ->
      ("graft_jl_sketch(array(1D, 1D), array(1, 1, 1, -1), 2)", "[2097152,0]"))

  private def assertResolvesAll(s: SparkSession): Unit = {
    val scalars = Natives.all.collect { case n: Natives.Scalar => n.name }
    assert(scalarCalls.keySet == scalars.toSet, "every scalar native needs a call")
    scalars.foreach { name =>
      val (call, json) = scalarCalls(name)
      val got = s.sql(s"SELECT to_json(named_struct('v', $call))").head().getString(0)
      assert(got == s"""{"v":$json}""", s"$name: $call")
    }
    // a table-valued native resolves when its builder runs: on a missing
    // input the failure must come from the builder, not from name lookup
    Natives.all.collect { case n: Natives.TableValued => n.name }.foreach { name =>
      val condition =
        try { s.sql(s"SELECT * FROM $name('graft_no_such_input')").schema; None }
        catch {
          case e: SparkThrowable => Option(e.getCondition)
          case _: Exception => None
        }
      assert(!condition.contains("UNRESOLVABLE_TABLE_VALUED_FUNCTION"),
        s"$name does not resolve")
    }
  }

  test("the shared test session is a factory session") {
    // extraOptimizations stays empty only if Natives.ensure never had to
    // patch this session, i.e. the extension alone supplied every native
    assertResolvesAll(spark)
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("GraftSession.create exposes engine functions via SQL") {
    // in-JVM sharp edge: when a session already exists (the shared
    // SparkSpec one), getOrCreate RETURNS it and applies create()'s conf
    // onto it — so save and restore the clobbered conf, or every suite
    // running after this one inherits shufflePartitions = 2
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    val created = GraftSession.create("local[2]", shufflePartitions = 2)
    try {
      assertResolvesAll(created)
      assert(created.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally created.conf.set("spark.sql.shuffle.partitions", prior)
  }
}
