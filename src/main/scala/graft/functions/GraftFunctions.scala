package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface of graft's native expressions: in a session built with
  * [[graft.GraftExtensions]], `graft_dot(a, b)` and
  * `graft_l2norm(v)` are callable from `spark.sql` / `expr()` — the
  * same codegen'd kernels the Column API uses, exposed to the SQL
  * surface (README.md:251-266 is a SQL-first spec, so the engine's SQL
  * entry point carries the full function surface too). */
object GraftFunctions {

  /** Single source of truth for the SQL function surface, injected by
    * [[graft.GraftExtensions]]. */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_l2norm" -> (es => L2Norm(es.head)),
    "graft_rolling_minhash" -> (es => {
      val k = intLit(es, 1, "graft_rolling_minhash", 2)
      RollingMinHash(es(0), k)
    }),
    "graft_word_shingles" -> (es => {
      val w = intLit(es, 1, "graft_word_shingles", 2)
      WordShingleStrings(es(0), w)
    }),
    "graft_top_shingle_stats" -> (es => {
      val w = intLit(es, 1, "graft_top_shingle_stats", 2)
      TopShingleStats(es(0), w)
    }),
  )

  /** Shared (text, INT literal) arg validation for width-taking
    * kernels — proper analysis errors beat raw CCE/IndexOutOfBounds
    * from blind indexing. Called BEFORE es(0) is touched so a
    * zero-argument call gets the arity message, not an index error. */
  private def intLit(es: Seq[Expression], i: Int, fn: String, arity: Int): Int = {
    if (es.length != arity)
      throw new IllegalArgumentException(
        s"$fn expects $arity arguments, got ${es.length}")
    es(i) match {
      case Literal(w: Int, IntegerType) => w
      case other => throw new IllegalArgumentException(
        s"$fn width must be an INT literal, got ${other.sql}")
    }
  }
}
