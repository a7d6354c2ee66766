package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CosineSimilarity, MinHashSignature, SimHash, ZOrderCode}

/** Session extensions registering graft's native expressions for SQL.
  *
  * Two entry points, both supported Spark extension mechanisms:
  *  - config-time: `SparkSession.builder().withExtensions(new
  *    GraftExtensions)` or `spark.sql.extensions=graft.GraftExtensions`
  *  - runtime: `GraftExtensions.register(spark)` on an existing session
  *    (what Verify/Bench use, since the driver owns the builder).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def intLit(name: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: $what must be an integer literal, got $other")
  }

  /** (SQL name, arity, the Column function it calls on the call's
    * argument expressions).
    */
  private val sqlFunctions: Seq[(String, Int, Seq[Expression] => Column)] = {
    def c(e: Expression): Column = ColumnBridge.column(e)
    Seq(
      ("cosine_similarity", 2, a => CosineSimilarity(c(a(0)), c(a(1)))),
      ("minhash_signature", 3, a => MinHashSignature(c(a(0)),
        intLit("minhash_signature", "n", a(1)), intLit("minhash_signature", "k", a(2)))),
      ("simhash", 2, a => SimHash(c(a(0)), intLit("simhash", "bits", a(1)))),
      ("zorder_code", 3, a => ZOrderCode(c(a(0)), c(a(1)), intLit("zorder_code", "bits", a(2)))))
  }

  /** The one registration list both entry points read. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    sqlFunctions.map { case (name, arity, build) =>
      val builder: Seq[Expression] => Expression = { exprs =>
        require(exprs.length == arity, s"$name takes $arity arguments")
        ColumnBridge.sqlExpression(build(exprs))
      }
      (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name), builder)
    }

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
}
