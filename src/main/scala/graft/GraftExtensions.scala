package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  BitwiseCount, BitwiseXor, Cast, Divide, EvalMode, Expression, ExpressionInfo,
  Multiply, Sqrt}

import org.apache.spark.sql.types.LongType

import graft.expressions.{DotProductD, MinHashSigExpr, ShingleHashesExpr}
import graft.operators.Dedup

/** SQL surface for the engine's custom expressions.
  *
  * Two registration paths with identical function sets:
  *  - `spark.sql.extensions=graft.GraftExtensions` (cluster config /
  *    builder.withExtensions, which `GraftSession.builder` does) — the
  *    SparkSessionExtensions route, which also installs the CosineTopK
  *    planner strategy;
  *  - `GraftFunctions.register(spark)` — imperative, for an already
  *    running session.
  *
  * After either, plain SQL can call the codegen'd engine primitives:
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT graft_minhash_sig(text) FROM documents
  * The family is wide enough that a SQL-only user can run a full
  * k-NN (v_sql_surface2 drives one end-to-end, oracle-checked) or a
  * Hamming rescore over binary codes without touching the Scala API.
  */
object GraftFunctions {
  private def dotE(a: Expression, b: Expression): Expression = DotProductD(a, b)
  private def normE(v: Expression): Expression = Sqrt(DotProductD(v, v))

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> ((es: Seq[Expression]) => dotE(es(0), es(1))),
    // dot/(|a|·|b|) as a TRY division — the same expression VectorFns.cosine
    // builds, so SQL results (NULL for a zero norm) are the Scala API's
    "graft_norm" -> ((es: Seq[Expression]) => normE(es.head)),
    "graft_cosine" -> ((es: Seq[Expression]) =>
      Divide(dotE(es(0), es(1)), Multiply(normE(es(0)), normE(es(1))), EvalMode.TRY)),
    // popcount(a XOR b) over sign-code words (the BQ tier's rescore
    // primitive); long output so SQL sums don't overflow
    "graft_hamming" -> ((es: Seq[Expression]) =>
      Cast(BitwiseCount(BitwiseXor(es(0), es(1))), LongType)),
    "graft_minhash_sig" -> ((es: Seq[Expression]) => MinHashSigExpr(es.head, Dedup.ShingleK)),
    "graft_shingle_hashes" -> ((es: Seq[Expression]) => ShingleHashesExpr(es.head, Dedup.ShingleK)))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (es: Seq[Expression]) => builder(es)))
    }
    // whole-operator planner rule (CosineTopK → CosineTopKExec)
    ext.injectPlannerStrategy(_ => graft.plans.CosineTopKStrategy)
  }
}
