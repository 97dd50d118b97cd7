package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory. Every entry point builds here: users
  * (`create`), the benchmark and correctness mains (`Bench`, `BenchScale`,
  * `Verify`) and the shared test session, each chaining only its role
  * confs (app name, warehouse dir, RPC timeouts) onto [[builder]]. Every
  * session so carries the same SQL confs and the whole [[Natives]] table
  * plus the spatial optimizer rule, through [[geo.GraftExtensions]].
  */
object GraftSession {

  /** Pre-configured builder; caller may override any conf before
    * getOrCreate.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .withExtensions(new geo.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      // align whole-stage-codegen's fallback threshold with HotSpot's
      // actual JIT limit (-XX:DontCompileHugeMethods refuses methods over
      // 8000 bytecodes): Spark's 65535 default lets it keep a generated
      // stage whose method the JVM will NEVER JIT-compile, which then runs
      // as interpreted bytecode — measured 1.7x slower than the per-
      // expression-codegen fallback on the gram/bloom projection. A JVM
      // constant, not a data-scale tunable: identical on any cluster.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Build the session. `getOrCreate` may hand back a session that existed
    * before (built without [[geo.GraftExtensions]]); [[Natives.ensure]]
    * gives that one the SQL surface too.
    */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    Natives.ensure(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
