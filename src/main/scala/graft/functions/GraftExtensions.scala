package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration of graft's native expressions, so a
  * cluster can enable them declaratively:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * Equivalent to calling [[GraftFunctions.register]] per session, but wired
  * through the Catalyst injection point (survives session cloning, visible
  * to pure-SQL users).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (
        FunctionIdentifier("graft_simhash64"),
        info("graft_simhash64", "graft_simhash64(text) - 64-bit SimHash near-dup fingerprint"),
        (exprs: Seq[Expression]) => SimHash64(exprs.head)
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("graft_minhash"),
        info("graft_minhash", "graft_minhash(text, k, n) - MinHash signature over k-gram shingles"),
        (exprs: Seq[Expression]) =>
          MinHashSig(
            exprs(0),
            exprs(1).eval().asInstanceOf[Number].intValue(),
            exprs(2).eval().asInstanceOf[Number].intValue()
          )
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("graft_winnow"),
        info("graft_winnow", "graft_winnow(text[, k, w]) - winnowing fingerprints (MOSS)"),
        (exprs: Seq[Expression]) =>
          exprs match {
            case Seq(c) => Winnow(c, 7, 8)
            case Seq(c, k, w) =>
              Winnow(
                c,
                k.eval().asInstanceOf[Number].intValue(),
                w.eval().asInstanceOf[Number].intValue()
              )
            case other =>
              throw new IllegalArgumentException(
                s"graft_winnow expects 1 or 3 args, got ${other.size}"
              )
          }
      )
    )
    e.injectFunction(
      (
        FunctionIdentifier("graft_quality_counts"),
        info("graft_quality_counts", "graft_quality_counts(text) - one-pass text-feature counts"),
        (exprs: Seq[Expression]) => QualityCounts(exprs.head)
      )
    )
  }
}
