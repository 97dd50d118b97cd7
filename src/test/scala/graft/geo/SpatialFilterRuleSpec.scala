package graft.geo

import graft.SparkSpec
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SpatialFilterRuleSpec extends SparkSpec {
  import spark.implicits._

  private val poly = Seq(Seq(
    Seq(2.0, 2.0), Seq(8.0, 2.0), Seq(8.0, 6.0), Seq(2.0, 6.0), Seq(2.0, 2.0)))

  test("constant-polygon containment filter gains parquet-pushed envelope predicates") {
    val dir = Files.createTempDirectory("spatial_rule").toString + "/pts"
    (0 until 100).map(i => (i.toDouble % 10, (i / 10).toDouble, i))
      .toDF("x", "y", "id").write.parquet(dir)

    val pts = spark.read.parquet(dir)
    val filtered = pts.filter(
      ContainsPoint(typedlit(poly), col("x"), col("y")))

    // the rule injected range predicates that reach the parquet scan
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(x,2.0)") &&
      plan.contains("LessThanOrEqual(x,8.0)"),
      s"expected envelope pushdown in:\n$plan")

    // and results are identical to the pure HOF containment
    val expected = pts.filter(
      GeoFunctions.stContainsPoint(typedlit(poly), col("x"), col("y")))
      .select("id").as[Int].collect().sorted.toSeq
    val actual = filtered.select("id").as[Int].collect().sorted.toSeq
    assert(actual == expected)
    assert(actual.nonEmpty)
  }

  test("factory session carries the rule only in the extension's batches") {
    val s = graft.GraftSession.create("local[4]", shufflePartitions = 4)
    assert(s.experimental.extraOptimizations.isEmpty)
    // RuleExecutor.batches is protected; read the batch names reflectively
    val optimizer = s.sessionState.optimizer
    val batches = classOf[RuleExecutor[_]].getMethod("batches").invoke(optimizer)
      .asInstanceOf[Seq[AnyRef]]
    def field(b: AnyRef, name: String) = b.getClass.getMethod(name).invoke(b)
    val carrying = batches.collect {
      case b if field(b, "rules").asInstanceOf[Seq[AnyRef]].contains(SpatialFilterRule) =>
        field(b, "name").asInstanceOf[String]
    }
    assert(carrying.nonEmpty && carrying.forall(_.startsWith("Operator Optimization")),
      s"SpatialFilterRule outside the extension's batches: $carrying")
    assert(optimizer.extendedOperatorOptimizationRules.count(_ == SpatialFilterRule) == 1)
    val pts = Seq((3.0, 3.0, 1), (9.0, 9.0, 2)).toDF("x", "y", "id")
    val r = pts.filter(ContainsPoint(typedlit(poly), col("x"), col("y")))
      .select("id").as[Int].collect().toSeq
    assert(r == Seq(1))
  }
}
