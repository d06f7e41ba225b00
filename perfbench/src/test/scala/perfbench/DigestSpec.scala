package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "b", -0.0, Seq(3)), (3L, null, 2.25, Seq.empty[Int]),
      (3L, "c", 2.25, Seq(4, 5))).toDF("id", "s", "x", "arr")
  }
  private def digest(df: org.apache.spark.sql.DataFrame) = Digest.value(Digest.action(df))

  test("the digest ignores row order and partitioning") {
    val base = digest(frame)
    assert(digest(frame.orderBy(desc("id"), desc("x"))) == base)
    assert(digest(frame.repartition(3, col("s"))) == base)
    assert(base.startsWith("4:"))
  }

  test("the digest changes when any one column of one row changes") {
    val base = digest(frame)
    val edits = Seq(
      "id" -> when(col("id") === 2L, lit(20L)).otherwise(col("id")),
      "s" -> when(col("id") === 1L, lit("z")).otherwise(col("s")),
      "x" -> when(col("id") === 3L && col("s").isNull, lit(2.2500000000000004)).otherwise(col("x")),
      "arr" -> when(col("id") === 1L, array(lit(2), lit(1))).otherwise(col("arr")))
    edits.foreach { case (c, e) =>
      assert(digest(frame.withColumn(c, e)) != base, s"edit of column $c went unseen")
    }
  }

  test("the digest does not see the sign of zero (Spark's hash normalizes -0.0)") {
    // the per-run digest inherits this; the bitwise oracle check does not
    val flipped = frame.withColumn("x", when(col("id") === 2L, lit(0.0)).otherwise(col("x")))
    assert(digest(flipped) == digest(frame))
  }

  test("the pruning guard passes the digest action and catches a count()") {
    val feature = frame.groupBy("id").agg(sum("x").as("sx"), max("s").as("ms"))
    assert(Digest.missingColumns(feature, Digest.action(feature)).isEmpty)
    // count() lets ColumnPruning drop the aggregates: nothing is hashed
    val counted = feature.groupBy().count()
    assert(Digest.missingColumns(feature, counted).toSet == Set("id", "sx", "ms"))
    // an action over a projection misses the dropped columns
    val partial = Digest.action(feature.select("id", "sx"))
    assert(Digest.missingColumns(feature, partial).toSet == Set("id", "sx", "ms"))
  }
}
