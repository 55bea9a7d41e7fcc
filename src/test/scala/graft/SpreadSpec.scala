package graft

import org.apache.spark.sql.functions._

/** Guards for the unsplittable-input spread (graft.io.Scan.spread,
  * optimization guide §2.5): the mitigation must be value-invisible,
  * must fire only when the scan under-parallelizes, and must be a
  * strict no-op at scale (enough splits).
  */
class SpreadSpec extends SparkSpecBase {

  val sfDir = "/root/testdata/sf0.001"

  test("spread is the identity when input partitions already match parallelism") {
    val df = spark.range(0, 1000)
      .repartition(spark.sparkContext.defaultParallelism).toDF("id")
    assert(graft.io.Scan.spread(df) eq df,
      "spread must return the input object untouched when splits >= cores")
  }

  test("spread widens a one-split scan to the session parallelism") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assume(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    assert(graft.io.Scan.spread(docs).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("spread queries are value-identical to their unspread plans") {
    // the three spread families: codegen signature (minhash), token-HOF
    // (langid), canonical record hash (digest_record), each over the
    // one-file tables (the spread fires) and over the same rows split a
    // file per core (the spread is the identity)
    for (name <- Seq("sim_minhash_sig", "t_langid", "digest_record")) {
      val spreadDf = SparkEntry.queries(name)(spark, sfDir)
      val plainDf = SparkEntry.queries(name)(spark, SparkSpecBase.splitCopy(sfDir))
      def spreads(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
      assert(spreads(spreadDf) && !spreads(plainDf), s"$name: the spread must fire only over one file")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
      assert(rows(spreadDf) == rows(plainDf), s"$name rows changed under spread")
    }
  }

  test("spread rows survive intact (count + key set) on the multimodal generate+decode path") {
    val out = SparkEntry.queries("mm_decode")(spark, sfDir)
    assert(out.count() == 500)
    assert(out.select(countDistinct(col("doc_id"))).head().getLong(0) == 500)
  }
}
