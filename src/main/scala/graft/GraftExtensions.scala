package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.BinaryType

import graft.functions.{DeflateLen, DotProductD, HeavyHittersAgg, Md5Prefix64,
  MinKAgg, Shingles, SimhashSig}

/** Session extensions: registers the engine's native expressions for SQL use
  * (`SELECT md5_prefix64(col) ...`, `SELECT dot_d(x, y) ...`,
  * `SELECT shingles(words) ...`). Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` at session
  * build; the Column API (`Md5Prefix64(col)`, `DotProductD(x, y)`) works
  * without registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** Every SQL function as an `injectFunction` triple: name, expression
    * class, and a builder that checks the arity first.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("md5_prefix64", classOf[Md5Prefix64], 1)(
      c => Md5Prefix64(Cast(c.head, BinaryType))),
    fn("dot_d", classOf[DotProductD], 2)(c => DotProductD(c.head, c(1))),
    fn("shingles", classOf[Shingles], 1)(c => Shingles(c.head)),
    fn("simhash_sig", classOf[SimhashSig], 1)(c => SimhashSig(c.head)),
    fn("heavy_hitters", classOf[HeavyHittersAgg], 2)(
      c => HeavyHittersAgg(c.head, k("heavy_hitters", c(1)))),
    fn("deflate_len", classOf[DeflateLen], 1)(
      c => DeflateLen(Cast(c.head, BinaryType))),
    fn("min_k", classOf[MinKAgg], 2)(c => MinKAgg(c.head, k("min_k", c(1)))))

  private def fn(name: String, cls: Class[_], arity: Int)(build: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      children => {
        require(children.length == arity, s"$name takes $arity argument(s)")
        build(children)
      })

  private def k(name: String, e: Expression): Int = e match {
    case Literal(v, _) if v != null => v.toString.toInt
    case _ => throw new IllegalArgumentException(
      s"$name: k must be an integer literal")
  }
}
