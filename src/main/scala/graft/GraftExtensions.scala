package graft

import graft.functions.{AlnumSpaceCount, AlphaTokenCount, ArrayDotProduct, AsciiClean, BpeishCount, CharNGrams, CjkCharCount, NonWsCharCount, WsTokenCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — registers the library's native
  * Catalyst expressions as SQL functions, so `spark.sql` users get
  * them without touching the Scala API:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT array_dot(a, b) FROM embeddings_pairs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "array_dot takes exactly 2 arguments")
        ArrayDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNGrams].getName, "char_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "char_ngrams takes exactly 2 arguments")
        CharNGrams(children.head, children(1))
      }))
    // the round-5 text-scan kernels: unary string expressions
    def unary(name: String, cls: Class[_], mk: Expression => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1, s"$name takes exactly 1 argument")
          mk(children.head)
        }))
    unary("ascii_clean", classOf[AsciiClean], AsciiClean(_))
    unary("ws_token_count", classOf[WsTokenCount], WsTokenCount(_))
    unary("alpha_token_count", classOf[AlphaTokenCount], AlphaTokenCount(_))
    unary("non_ws_char_count", classOf[NonWsCharCount], NonWsCharCount(_))
    unary("alnum_space_count", classOf[AlnumSpaceCount], AlnumSpaceCount(_))
    unary("bpeish_count", classOf[BpeishCount], BpeishCount(_))
    unary("cjk_char_count", classOf[CjkCharCount], CjkCharCount(_))
    ext.injectFunction((
      new FunctionIdentifier("word_set_hits"),
      new ExpressionInfo(classOf[graft.functions.WordSetHits].getName, "word_set_hits"),
      (children: Seq[Expression]) => {
        require(children.length >= 2, "word_set_hits(text, word, ...)")
        val pats = children.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(
              s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"word_set_hits patterns must be string literals, got $other")
        }
        graft.functions.WordSetHits(children.head, pats)
      }))
  }
}