package graft.geo

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions=graft.geo.GraftExtensions` — the engine's SQL
  * surface for any session: every [[graft.Natives]] entry (scalar and
  * table-valued) plus the [[SpatialFilterRule]] optimizer rule.
  * [[graft.GraftSession.builder]] installs it on every session it builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.Natives.inject(ext)
    ext.injectOptimizerRule(_ => SpatialFilterRule)
  }
}
