package graft.plans

import graft.expressions.HashExpressions.{MinHashSignature, PortableMinHashSignature, PortableSimHash64, SimHash64}
import graft.expressions.TokenExpressions.{JaccardSim, Shingles, TokenSetCount}
import graft.expressions.VectorExpressions.{DotProduct, L2Norm, PortableHyperplaneBuckets}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}

/** SQL-surface registration for the library's custom Catalyst expressions
  * (SURVEY.md §4.3's extension seam), so
  * `spark.sql("SELECT graft_simhash64(tokens) ...")` works for pure-SQL
  * consumers.
  *
  * Two installation paths:
  *  - builder-time: `spark.sql.extensions=graft.plans.GraftExtensions`, as
  *    [[graft.LocalSession]] sets it, or `withExtensions(new GraftExtensions)`;
  *  - live session: `GraftExtensions.register(spark)` (temp functions).
  */
object GraftExtensions {

  // args arrive pre-optimization, so array('a','b') is a CreateArray, not
  // yet a folded Literal — accept any foldable expression
  private def intArg(e: Expression, name: String): Int =
    if (e.foldable) e.eval() match {
      case v: Int => v
      case other => throw new IllegalArgumentException(s"$name must be an int, got $other")
    } else throw new IllegalArgumentException(s"$name must be a constant")

  private def stringSeqArg(e: Expression, name: String): Seq[String] =
    if (e.foldable && e.dataType.isInstanceOf[ArrayType]) {
      e.eval().asInstanceOf[ArrayData].toObjectArray(StringType).map(_.toString).toSeq
    } else throw new IllegalArgumentException(s"$name must be an array<string> constant")

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_simhash64" -> ((args: Seq[Expression]) => SimHash64(args.head)),
    "graft_minhash" -> ((args: Seq[Expression]) =>
      MinHashSignature(args.head, intArg(args(1), "k"))),
    "graft_shingles" -> ((args: Seq[Expression]) =>
      Shingles(args.head, intArg(args(1), "n"))),
    "graft_token_set_count" -> ((args: Seq[Expression]) =>
      TokenSetCount(args.head, stringSeqArg(args(1), "set"))),
    "graft_jaccard" -> ((args: Seq[Expression]) => JaccardSim(args.head, args(1))),
    "graft_dot" -> ((args: Seq[Expression]) => DotProduct(args.head, args(1))),
    "graft_l2norm" -> ((args: Seq[Expression]) => L2Norm(args.head)),
    // engine-portable (md5-derived) twins — any md5-capable engine replays
    // their outputs bit-for-bit (see the q45/q46/q49 oracles)
    "graft_minhash_portable" -> ((args: Seq[Expression]) =>
      PortableMinHashSignature(args.head, intArg(args(1), "k"))),
    "graft_simhash64_portable" -> ((args: Seq[Expression]) =>
      PortableSimHash64(args.head)),
    "graft_hyperplane_buckets_portable" -> ((args: Seq[Expression]) =>
      PortableHyperplaneBuckets(args.head, intArg(args(1), "bitsPerTable"),
        intArg(args(2), "tables"), intArg(args(3), "dim"))),
  )

  /** Register into an already-running session as temp functions. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => JaccardPrefilter)
  }
}
