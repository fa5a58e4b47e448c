package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY.md §2.11 custom-op row /
  * build-brief preference (c)): installs the engine's native expressions
  * into every session built with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *   // or: .withExtensions(new GraftExtensions)
  * }}}
  *
  * so every native function of the one table below resolves in plain SQL
  * text on a cluster where the user never calls
  * [[GraftExtensions.register]] (e.g. thrift-server / SQL-only
  * deployments). The per-session `register` path stays for the driver
  * contract's local sessions.
  *
  * The native functions:
  *  - `graft_dot(a, b)` ([[DotProduct]]): dot product of two double arrays;
  *  - `graft_shingles5(toks)` ([[Shingles5]]): distinct word 5-grams;
  *  - `graft_shingle_hashes(toks)` ([[ShingleHashes]]): md5 hex of each
  *    distinct 5-gram;
  *  - `graft_minhash(hs)` ([[MinHash]]): the 8 MinHash minima of a hash
  *    array;
  *  - `graft_punct_count(text)` ([[PunctCount]]): code points outside
  *    `[a-z0-9 ]`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  /** Every native function: SQL name, expression class, builder. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], exprs => DotProduct(exprs.head, exprs(1))),
    ("graft_shingles5", classOf[Shingles5], exprs => Shingles5(exprs.head)),
    ("graft_shingle_hashes", classOf[ShingleHashes], exprs => ShingleHashes(exprs.head)),
    ("graft_minhash", classOf[MinHash], exprs => MinHash(exprs.head)),
    ("graft_punct_count", classOf[PunctCount], exprs => PunctCount(exprs.head)))

  /** Register every native function the session's function registry lacks
    * (Spark 4's Column API no longer exposes raw Expressions, so the
    * registry + call_function is the supported bridge). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      if (!registry.functionExists(new FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
