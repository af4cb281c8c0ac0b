package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one route by which the engine's custom Catalyst expressions and
  * its optimizer rule reach a session: a `SparkSessionExtensions` entry
  * point, applied at session BUILD time. `Sessions.builder` installs it
  * in every engine session (and `newSession()` inherits it); any other
  * deployment gets the same session surface without code changes:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * The functions are visible to SQL and, via `call_function`, to the
  * Column API, so plain `spark.sql("SELECT md5_base60(...)")` works in
  * thriftserver/notebook sessions that never touch the Scala API.
  * [[graft.plans.BandedLevenshteinRule]] runs in the operator
  * optimization batch and bands `levenshtein(a, b) <= k` predicates in
  * every query of the session, ad-hoc SQL included.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_],
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    fn("simhash64", classOf[SimHash64], e => SimHash64(e.head))
    fn("decimal_dot", classOf[DecimalDotProduct],
      e => DecimalDotProduct(e(0), e(1)))
    fn("double_dot", classOf[DoubleDotProduct],
      e => DoubleDotProduct(e(0), e(1)))
    fn("md5_base60", classOf[Md5Base60], e => Md5Base60(e.head))
    fn("cell_survivors", classOf[CellSurvivors],
      e => CellSurvivors(e(0), e(1), e(2)))
    // thresholded edit-distance predicates → banded Levenshtein
    ext.injectOptimizerRule(_ => graft.plans.BandedLevenshteinRule)
  }
}
