package graft.sql

import graft.SparkSpec
import graft.curation.Curation
import org.apache.spark.sql.functions._

/** The SQL surface contract: every injected table-valued function builds
  * the IDENTICAL plan as its Scala entry point (one code path), argument
  * defaults and overrides work from SQL, and misuse fails loudly at
  * analysis time. q193's oracle row proves DuckDB parity of the
  * SQL-driven report; these pin the equivalence and the error surface.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("graft_chunk_dedup equals the Scala entry point row for row") {
    val d = Seq(
      (1L, words("a", 40), "s1"), (2L, words("a", 40), "s1"),
      (3L, words("b", 25), "s2"))
      .toDF("doc_id", "text", "source")
    d.createOrReplaceTempView("sql_surface_docs")
    val viaSql = spark.sql("SELECT * FROM graft_chunk_dedup('sql_surface_docs')")
      .collect().map(_.toSeq).toSeq
    val viaScala = Curation.chunkDedupReport(d).collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
    // tuning knob reaches the operator: 10-token chunks see more chunks
    val fine = spark.sql(
      "SELECT * FROM graft_chunk_dedup('sql_surface_docs', 10)")
      .agg(sum("total_chunks")).collect()(0).getLong(0)
    val coarse = viaScala.map(_(2).asInstanceOf[Long]).sum
    assert(fine > coarse)
  }

  test("graft_pack_segments equals the Scala entry point row for row") {
    val counted = Seq(("en", 1L, 25L), ("en", 2L, 7L), ("fr", 3L, 13L))
      .toDF("lang", "doc_id", "n")
    counted.createOrReplaceTempView("sql_surface_counted")
    val viaSql = spark.sql(
      "SELECT * FROM graft_pack_segments('sql_surface_counted', 10, 'lang', 'doc_id')")
      .collect().map(_.toSeq).toSeq
    val viaScala = Curation.packSegments(counted, seqTokens = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
  }

  test("graft_bloom_decontaminate equals the Scala entry point row for row") {
    val corpus = Seq(
      (1L, words("x", 12), "s"), (2L, words("y", 12), "s"))
      .toDF("doc_id", "text", "source")
    val bench = Seq(words("x", 12)).toDF("text")
    corpus.createOrReplaceTempView("sql_surface_corpus")
    bench.createOrReplaceTempView("sql_surface_bench")
    val viaSql = spark.sql(
      "SELECT * FROM graft_bloom_decontaminate('sql_surface_corpus', 'sql_surface_bench')")
      .collect().map(_.toSeq).toSeq
    val viaScala = Curation.bloomDecontaminate(corpus, bench)
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
  }

  test("graft_bm25 equals the Scala entry point row for row") {
    val d = Seq(
      (1L, "spark window " + words("x", 20)),
      (2L, "spark spark window hash " + words("y", 10)),
      (3L, words("z", 30)))
      .toDF("doc_id", "text")
    d.createOrReplaceTempView("sql_surface_bm25")
    val viaSql = spark.sql(
      "SELECT * FROM graft_bm25('sql_surface_bm25', 'spark window hash')")
      .collect().map(_.toSeq).toSeq
    val viaScala = Curation.bm25(d, Seq("spark", "window", "hash"))
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
  }

  test("graft_scd2 equals the Scala entry point row for row") {
    val log = Seq(
      (1, "2024-01-01", "A", 1L), (1, "2024-02-01", "A", 2L),
      (1, "2024-03-01", "B", 3L), (2, "2024-01-15", "X", 4L))
      .toDF("k", "ts0", "attr", "seq")
      .withColumn("ts", to_date(col("ts0"))).drop("ts0")
    log.createOrReplaceTempView("sql_surface_scd2")
    val viaSql = spark.sql(
      "SELECT * FROM graft_scd2('sql_surface_scd2', 'k', 'ts', 'attr', 'seq')")
      .orderBy("k", "version").collect().map(_.toSeq).toSeq
    val viaScala = graft.ops.Scd2
      .fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq("seq"))
      .orderBy("k", "version").collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
  }

  test("graft_heavy_hitters equals the Scala entry point row for row") {
    val df = (Seq.fill(300)("hot") ++ (0 until 100).map(i => s"c$i")).toDF("key")
    df.createOrReplaceTempView("sql_surface_hh")
    val viaSql = spark.sql(
      "SELECT * FROM graft_heavy_hitters('sql_surface_hh', 'key', 100)")
      .collect().map(_.toSeq).toSeq
    val viaScala = graft.ops.CountMin
      .heavyHitters(df, "key", threshold = 100L, depth = 4, width = 1024)
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
    assert(viaSql.map(_.head) == Seq("hot"))
  }

  test("graft_pagerank equals the Scala entry point row for row") {
    val e = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    e.createOrReplaceTempView("sql_surface_edges")
    val viaSql = spark.sql(
      "SELECT * FROM graft_pagerank('sql_surface_edges', 2, 1000) ORDER BY node_id")
      .collect().map(_.toSeq).toSeq
    val viaScala = graft.graph.LinkGraph.pagerank(e, 2, 1000L)
      .orderBy("node_id").collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
  }

  test("graft_jaccard_join and graft_pps_sample reach their operators") {
    val d = Seq(
      (1L, "w x y z"), (2L, "w x y q"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    d.createOrReplaceTempView("sql_surface_jj")
    val pairs = spark.sql(
      "SELECT * FROM graft_jaccard_join('sql_surface_jj', 3, 5)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L))) // J = 3/5 exactly at the boundary
    val counted = Seq(("en", 1L, 5L), ("en", 2L, 5L), ("en", 3L, 5L))
      .toDF("lang", "doc_id", "w")
    counted.createOrReplaceTempView("sql_surface_pps")
    val hits = spark.sql(
      "SELECT SUM(hits) FROM graft_pps_sample('sql_surface_pps', 2)")
      .collect()(0).getLong(0)
    assert(hits === 2L)
  }

  test("graft_ann_query equals the Scala batchQuery row for row") {
    val e = sf("embeddings")
    val p = java.nio.file.Files.createTempDirectory("sql_ann_tvf").toString
    graft.ml.AnnIndex.build(spark, e, p)
    e.filter(col("vec_id") % 50 === 7).createOrReplaceTempView("sql_surface_annq")
    val viaSql = spark.sql(
      s"SELECT * FROM graft_ann_query('sql_surface_annq', '$p', 2, 5) " +
        "ORDER BY q_id, adc_dist, vec_id")
      .collect().map(_.toSeq).toSeq
    val viaScala = graft.ml.AnnIndex
      .batchQuery(spark, e.filter(col("vec_id") % 50 === 7), p, nprobe = 2, topK = 5)
      .orderBy("q_id", "adc_dist", "vec_id")
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
  }

  test("graft_text_search equals the Scala index query row for row") {
    val d = sf("documents")
    val p = java.nio.file.Files.createTempDirectory("sql_text_tvf").toString
    graft.text.InvertedIndex.build(spark, d, p)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_text_search('$p', 'spark window hash', 10) " +
        "ORDER BY score DESC, doc_id")
      .collect().map(_.toSeq).toSeq
    val viaScala = graft.text.InvertedIndex
      .query(spark, p, Seq("spark", "window", "hash"), topK = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaSql === viaScala)
    assert(viaSql.nonEmpty)
  }

  test("misuse fails loudly: non-literal args and missing tables") {
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_chunk_dedup(doc_id)").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("literal")
      || ex.getMessage.contains("graft_chunk_dedup"))
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_chunk_dedup('no_such_table_xyz')").collect()
    }
  }
}
