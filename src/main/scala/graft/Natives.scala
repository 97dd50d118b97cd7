package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.reflect.ClassTag

/** Every SQL-named engine native, declared once: the 15 scalar Catalyst
  * expressions (geo containment/clip/simplify/reproject, vector ops,
  * curation sketches, tokenizers) and the table-valued entry points of
  * [[graft.sql.SqlTableFunctions]].
  *
  * Two consumers read this table and nothing else:
  *   - [[graft.geo.GraftExtensions]] injects it at session build
  *     (`spark.sql.extensions=graft.geo.GraftExtensions`, and every
  *     [[GraftSession.builder]] session);
  *   - [[ensure]] registers it on a session that already existed when
  *     [[GraftSession.create]]'s `getOrCreate` ran, i.e. one built without
  *     the extension.
  *
  * Scala column helpers (`VecOps.dot`, `TextSketch.minhashSig`, ...) never
  * go through this table: they build their expression directly
  * ([[org.apache.spark.sql.graft.ColumnBridge]]), so a Scala caller needs
  * no registration on any session. The builders here keep their arity and
  * type checks; they are what rejects malformed SQL input.
  */
object Natives {

  sealed trait Native { def name: String; def info: ExpressionInfo }
  final case class Scalar(name: String, info: ExpressionInfo,
      build: Seq[Expression] => Expression) extends Native
  final case class TableValued(name: String, info: ExpressionInfo,
      build: Seq[Expression] => LogicalPlan) extends Native

  private def scalar[E <: Expression](name: String)(
      build: Seq[Expression] => E)(implicit tag: ClassTag[E]): Native =
    Scalar(name, new ExpressionInfo(tag.runtimeClass.getName, name), build)

  val all: Seq[Native] = Seq(
    scalar("st_rect_clip_area")(geo.RectClipArea(_)),
    scalar("st_contains_point")(geo.ContainsPoint(_)),
    scalar("st_simplify")(geo.StSimplify(_)),
    scalar("st_reproject")(geo.StReproject(_)),
    scalar("vec_dot")(ml.VecDot(_)),
    scalar("vec_argmax_cell")(ml.VecArgmaxCell(_)),
    scalar("minhash_sig")(text.MinHashSig(_)),
    scalar("simhash60")(text.SimHash60(_)),
    scalar("word_shingles")(text.WordShingles(_)),
    scalar("shingle_hash_set")(text.ShingleHashSet(_)),
    scalar("sorted_intersect_count")(text.SortedIntersectCount(_)),
    scalar("subword_tokenize")(text.SubwordTokenize(_)),
    scalar("graft_bpe_encode")(text.BpeEncode(_)),
    scalar("nfc_normalize") { exprs =>
      require(exprs.length == 1, "nfc_normalize expects 1 argument")
      text.NfcNormalize(exprs.head)
    },
    scalar("graft_jl_sketch")(ml.JlSketch(_))
  ) ++ sql.SqlTableFunctions.entries.map { case (name, build) =>
    TableValued(name,
      new ExpressionInfo(sql.SqlTableFunctions.getClass.getName, name), build)
  }

  /** Session-build injection — called from [[graft.geo.GraftExtensions]]. */
  def inject(ext: SparkSessionExtensions): Unit = all.foreach {
    case Scalar(name, info, build) =>
      ext.injectFunction((FunctionIdentifier(name), info, build))
    case TableValued(name, info, build) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, build))
  }

  /** Registers whatever part of the table `spark` lacks. A session built
    * with [[graft.geo.GraftExtensions]] lacks nothing, so this is a no-op
    * there; a session built without it also lacks the extension's
    * [[graft.geo.SpatialFilterRule]], which is installed once alongside.
    * Idempotent.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val functions = spark.sessionState.functionRegistry
    val tableFunctions = spark.sessionState.tableFunctionRegistry
    val missing = all.filterNot {
      case n: Scalar => functions.functionExists(FunctionIdentifier(n.name))
      case n: TableValued => tableFunctions.functionExists(FunctionIdentifier(n.name))
    }
    missing.foreach {
      case Scalar(name, info, build) =>
        functions.registerFunction(FunctionIdentifier(name), info, build)
      case TableValued(name, info, build) =>
        tableFunctions.registerFunction(FunctionIdentifier(name), info, build)
    }
    val extra = spark.experimental.extraOptimizations
    if (missing.nonEmpty && !extra.contains(geo.SpatialFilterRule))
      spark.experimental.extraOptimizations = extra :+ geo.SpatialFilterRule
  }
}
