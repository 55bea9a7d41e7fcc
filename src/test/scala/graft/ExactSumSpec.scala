package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Money sums that both engines must reproduce are exact: a double sum
  * rounded to cents depends on the order of addition, which follows the
  * file layout and the engine's parallelism.
  */
class ExactSumSpec extends SparkSpecBase {
  import spark.implicits._

  test("q3_join revenue is the exact decimal sum, whatever the lineitem file layout") {
    val dir = Files.createTempDirectory("graft-q3").toString
    Seq((1L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 1L)).toDF("o_orderkey", "o_custkey")
      .select(col("*"), to_timestamp(lit("1997-06-01")).as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
    // order 1: 100.10 * (1 - 0.05) is 95.095 exactly, but 95.09499999999998
    // in doubles; order 2's double sum reads .86 added first to last and
    // .87 last to first, and .87 exactly
    val lines = Seq((1L, 100.10, 0.05),
      (2L, 10363.07, 0.06), (2L, 691.49, 0.0), (2L, 11692.35, 0.0), (2L, 74982.02, 0.04))
    def lineitem(rows: Seq[(Long, Double, Double)], files: Int) =
      spark.sparkContext.parallelize(rows, files).toDF("l_orderkey", "l_extendedprice", "l_discount")
        .withColumn("l_shipdate", to_timestamp(lit("1998-06-01")))
    val want = Seq(Row(2L, "1-URGENT", 94107.87), Row(1L, "1-URGENT", 95.10))
    for ((rows, files) <- Seq((lines, 1), (lines.reverse, lines.size))) {
      lineitem(rows, files).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = SparkEntry.queries("q3_join")(spark, dir)
      assert(got.schema.map(_.dataType.sql) == Seq("BIGINT", "STRING", "DOUBLE"))
      assert(got.collect().toSeq == want, s"$files file(s)")
    }
  }
}
