package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.functions._

/** The timed action of every operation: it consumes every output column
  * and returns the row count plus an order-insensitive digest.
  *
  * A bare `count()` is not enough: ColumnPruning drops every column the
  * count does not need, so `f_benford_correlation` plans as
  * `Aggregate[user_id] <- scan` and the feature is never computed. Here
  * each row hashes all of its columns with `xxhash64`, and the digest is
  * the sum of the row hashes, kept as two sums of 32-bit halves so it
  * never overflows (ANSI sums throw on overflow). */
object Digest {
  private def ref(name: String) = col("`" + name.replace("`", "``") + "`")

  def action(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(ref): _*).as("h"))
      .agg(
        count(lit(1)).as("rows"),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))

  /** Runs the action: "rows:lo:hi". */
  def value(action: DataFrame): String = {
    val r = action.collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Pruning guard: the columns of `op` that the optimized plan of
    * `action` no longer feeds into a row hash. Empty when the action
    * still computes every column; a `count()` misses them all. */
  def missingColumns(op: DataFrame, action: DataFrame): Seq[String] = {
    val fields = op.schema.fields.toSeq
    val hashed = action.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case h: XxHash64 => h.children }))
      .find(_.size == fields.size)
    hashed match {
      case None => fields.map(_.name)
      case Some(children) =>
        fields.zip(children).collect {
          case (f, c) if c.dataType != f.dataType => f.name
        }
    }
  }
}
