package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set comparison / merge operators (reference: src/sssom_pydantic/
  * compare.py:338-354 `VennSets`, cli.py:269-288 multi-set merge,
  * process.py:156-189 exclude-set anti join).
  */
object SetOps {

  /** Venn counts between two keyed sets: (left_only, intersection,
    * right_only) as one row. Implemented as a single full-outer join on
    * the distinct keys — one shuffle, no repeated except/intersect scans.
    */
  def vennCounts(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val l = a.select(col(keyCol).as("k")).distinct().withColumn("in_l", lit(1))
    val r = b.select(col(keyCol).as("k")).distinct().withColumn("in_r", lit(1))
    l.join(r, Seq("k"), "full_outer")
      .agg(
        sum(when(col("in_l").isNotNull && col("in_r").isNull, 1L).otherwise(0L)).as("left_only"),
        sum(when(col("in_l").isNotNull && col("in_r").isNotNull, 1L).otherwise(0L)).as("intersection"),
        sum(when(col("in_l").isNull && col("in_r").isNotNull, 1L).otherwise(0L)).as("right_only"))
  }

  /** Venn row sets (compare.py classification full-outer pattern). */
  def vennSplit(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val l = a.select(col(keyCol).as("k")).distinct().withColumn("in_l", lit(1))
    val r = b.select(col(keyCol).as("k")).distinct().withColumn("in_r", lit(1))
    l.join(r, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("in_l").isNotNull && col("in_r").isNotNull, "both")
          .when(col("in_l").isNotNull, "left_only")
          .otherwise("right_only").as("side"))
  }

  /** Multi-set union with schema reconciliation (cli.py:269-288 merge:
    * `itt.chain` over files with differing columns).
    */
  def merge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** remove_redundant_external (process.py:156-189): drop rows whose key
    * appears in any exclude set — bag semantics preserved (left_anti),
    * with the distinct exclude keys broadcast.
    */
  def excludeByKey(df: DataFrame, exclude: DataFrame, key: Column): DataFrame =
    df.join(broadcast(exclude.select(key.as("__xk")).distinct()), key === col("__xk"), "left_anti")
}
