package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extensions: registers SQL names for graft's native expressions.
  * Enable with .config("spark.sql.extensions", "graft.functions.GraftExtensions").
  *
  * Only SQL users need this. Library calls construct the expressions
  * directly, and the as-of layer installs its planner strategy on the
  * DataFrame's own session ([[graft.plans.CoPartitionedUnion.union]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.sqlFunctions.foreach { f =>
      ext.injectFunction((
        new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => f.build(args)))
    }
}

object GraftExtensions {

  /** One SQL function: `params` names the arguments (arity = params.size;
    * the usage message is `name(params)`), `make` builds the expression.
    */
  private[graft] final case class SqlFunction(name: String, cls: Class[_ <: Expression],
                               params: Seq[String], make: Args => Expression) {
    def build(args: Seq[Expression]): Expression = {
      require(args.length == params.length, s"$name(${params.mkString(", ")})")
      make(new Args(params, args))
    }
  }

  /** Positional argument view handed to `make`. */
  private[graft] final class Args(params: Seq[String], args: Seq[Expression]) {
    def apply(i: Int): Expression = args(i)

    def int(i: Int): Int = args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"${params(i)} must be an int literal, got $other")
    }
  }

  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("vec_dot", classOf[VecDot], Seq("a", "b"), a => VecDot(a(0), a(1))),
    SqlFunction("simhash", classOf[SimhashExpr], Seq("text", "bits"),
      a => SimhashExpr(a(0), a.int(1))),
    SqlFunction("minhash_signature", classOf[MinhashSig], Seq("text", "numHashes", "n"),
      a => MinhashSig(a(0), a.int(1), a.int(2))),
    SqlFunction("word_ngrams", classOf[WordNgrams], Seq("text", "n"),
      a => WordNgrams(a(0), a.int(1))),
    SqlFunction("winnow", classOf[WinnowExpr], Seq("text", "k", "w"),
      a => WinnowExpr(a(0), a.int(1), a.int(2))),
    SqlFunction("dup_line_ratio", classOf[DupLineRatio], Seq("text"), a => DupLineRatio(a(0))),
    SqlFunction("top_word_ratio", classOf[TopWordRatio], Seq("text"), a => TopWordRatio(a(0))),
    SqlFunction("quality_score", classOf[QualityScoreExpr], Seq("text"),
      a => QualityScoreExpr(a(0))),
    SqlFunction("char_ngrams", classOf[CharNgrams], Seq("text", "n"),
      a => CharNgrams(a(0), a.int(1))),
    SqlFunction("langid_heuristic", classOf[LangIdHeuristicExpr], Seq("text"),
      a => LangIdHeuristicExpr(a(0))))
}
