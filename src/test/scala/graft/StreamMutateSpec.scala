package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.constraints.Constraints
import graft.gen.Derive
import graft.mutate.Mutations
import graft.streaming.StreamingValidation

class StreamMutateSpec extends SparkSpecBase {
  import spark.implicits._

  test("the same compiled suite runs as a stream; violations match batch") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val pages = Derive.webPages(spark, "/root/testdata/sf0.001")
    pages.write.mode("overwrite").parquet(dir)
    val batch = graft.runner.Runner
      .violations(pages, Constraints.webtextSuite, Seq("doc_id"))
      .collect().map(_.mkString("|")).sorted

    val stream = graft.runner.Runner.violations(spark.readStream.schema(pages.schema).parquet(dir),
      Constraints.webtextSuite, Seq("doc_id"))
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("viol_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("viol_stream").collect().map(_.mkString("|")).sorted
    assert(got.sameElements(batch))
  }

  test("windowed event counts with watermark produce per-window totals") {
    val dir = Files.createTempDirectory("graft-events").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(dir)
    val s = StreamingValidation.windowedEventCounts(
      spark.readStream.schema(events.schema).parquet(dir))
    val q = s.writeStream.format("memory").queryName("ev_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ev_counts")
    assert(got.count() > 0)
    val total = got.agg(sum("n")).head().getLong(0)
    assert(total == events.count())
  }

  test("windowed + null-ts violation feeds together cover every violation") {
    val dir = Files.createTempDirectory("graft-nullts").toString
    val pages = Derive.webPages(spark, "/root/testdata/sf0.001")
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
    pages.write.mode("overwrite").parquet(dir)
    val batchTotal = graft.runner.Runner
      .violations(pages, Constraints.webtextSuite, Seq("warc_ts")).count()
    val src = spark.readStream.schema(pages.schema).parquet(dir)
    val qw = StreamingValidation.windowedViolationCounts(src, Constraints.webtextSuite)
      .writeStream.format("memory").queryName("viol_windowed")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    val qn = StreamingValidation.nullTsViolationCounts(src, Constraints.webtextSuite)
      .writeStream.format("memory").queryName("viol_nullts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    qw.awaitTermination(60000); qn.awaitTermination(60000)
    val windowed = spark.table("viol_windowed")
      .agg(coalesce(sum("violation_count"), lit(0L))).head().getLong(0)
    val nullTs = spark.table("viol_nullts")
      .agg(coalesce(sum("violation_count"), lit(0L))).head().getLong(0)
    assert(nullTs > 0, "warc_ts_required violations must flow through the null-ts feed")
    assert(windowed + nullTs == batchTotal,
      s"windowed ($windowed) + null-ts ($nullTs) must equal batch total ($batchTotal)")
  }

  test("streaming url dedup: first arrival wins across batches, state keyed by url") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1767225600000L
    val mem = MemoryStream[(Long, String, Long)]
    val pages = mem.toDF.toDF("doc_id", "url", "ts_ms")
      .withColumn("warc_ts", (col("ts_ms") / 1000).cast("timestamp"))
      .drop("ts_ms")
    val q = StreamingValidation.dedupStream(pages)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((1L, "https://a.org/1", t0), (2L, "https://a.org/2", t0 + 1000))
    q.processAllAvailable()
    // url/1 re-arrives in a later batch with a newer ts: streaming
    // first-wins keeps doc 1, unlike the batch latest-wins arg-max
    mem.addData((3L, "https://a.org/1", t0 + 2000), (4L, "https://a.org/3", t0 + 3000))
    q.processAllAvailable()
    val got = spark.table("dedup_stream")
      .select("doc_id", "url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(got === Set(
      (1L, "https://a.org/1"), (2L, "https://a.org/2"), (4L, "https://a.org/3")))
  }

  test("dedup feed + null-ts complement lose no input row (count reconciliation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1767225600000L
    val mem = MemoryStream[(Long, String, java.lang.Long)]
    val pages = mem.toDF.toDF("doc_id", "url", "ts_ms")
      .withColumn("warc_ts", (col("ts_ms") / 1000).cast("timestamp"))
      .drop("ts_ms")
    val qd = StreamingValidation.dedupStream(pages)
      .writeStream.format("memory").queryName("rec_dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val qn = StreamingValidation.dedupStreamNullTs(pages)
      .writeStream.format("memory").queryName("rec_nullts")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(
      (1L, "https://a.org/1", java.lang.Long.valueOf(t0)),
      (2L, "https://a.org/1", java.lang.Long.valueOf(t0 + 1000)), // dup, dropped
      (3L, "https://a.org/2", null))                              // null ts: complement
    qd.processAllAvailable(); qn.processAllAvailable()
    val deduped = spark.table("rec_dedup").count()
    val nullts = spark.table("rec_nullts").count()
    qd.stop(); qn.stop()
    assert(deduped == 1L && nullts == 1L,
      s"3 rows in -> 1 deduped + 1 dup dropped + 1 null-ts complement (got $deduped/$nullts)")
  }

  test("streaming drift per closed window equals the batch klPsi over that window's rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1767225600L // divisible by 600 -> windows align on t0, t0+600
    val baseline = Map("en" -> 50L, "de" -> 30L, "fr" -> 20L)
    // window 1: en-heavy (+ one out-of-domain "zz" row that must drop);
    // window 2: de-heavy
    val w1 = Seq(("en", 0L), ("en", 10L), ("en", 20L), ("de", 30L), ("zz", 40L))
    val w2 = Seq(("en", 600L), ("de", 610L), ("de", 620L), ("de", 630L), ("fr", 640L))
    val mem = MemoryStream[(String, Long)]
    val pages = mem.toDF.toDF("lang", "ts_s")
      .withColumn("warc_ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val q = graft.streaming.StreamingValidation.driftStream(pages, baseline,
        watermark = "1 minute", windowDur = "10 minutes")
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((w1 ++ w2).map { case (l, off) => (l, t0 + off) }: _*)
    q.processAllAvailable()
    mem.addData(("en", t0 + 86400L)) // sentinel: watermark passes both windows
    q.processAllAvailable()
    val got = spark.table("drift_stream")
      .select(col("w.start").cast("long"), col("kl"), col("psi"), col("total"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    q.stop()
    assert(got.keySet == Set(t0, t0 + 600L))
    val bHist = baseline.toSeq.toDF("key", "n")
    def batchKlPsi(rows: Seq[(String, Long)]): (Double, Double) = {
      val cur = rows.filter(_._1 != "zz").toDF("lang", "off")
      val r = graft.drift.Drift.klPsi(
        graft.drift.Drift.histogram(cur, col("lang")), bHist, smoothing = 0.5).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (k1, p1) = batchKlPsi(w1); val (k2, p2) = batchKlPsi(w2)
    assert(got(t0)._3 == 4L && got(t0 + 600L)._3 == 5L)
    assert(math.abs(got(t0)._1 - k1) <= 2e-6 && math.abs(got(t0)._2 - p1) <= 2e-6)
    assert(math.abs(got(t0 + 600L)._1 - k2) <= 2e-6 && math.abs(got(t0 + 600L)._2 - p2) <= 2e-6)
  }

  test("curate pass channel runs unchanged over a stream (stateless projection)") {
    val dir = Files.createTempDirectory("graft-curate-stream").toString
    val m = Derive.mappings(spark, "/root/testdata/sf0.001")
    m.write.mode("overwrite").parquet(dir)
    val mark = org.apache.spark.sql.functions.element_at(
      array(Seq("correct", "incorrect", "BROAD", "NARROW", "CLOSE", "RELATED", "unsure")
        .map(lit): _*), (col("mapping_id") % 7).cast("int") + 1)
    def curatePass(df: org.apache.spark.sql.DataFrame) =
      graft.mutate.Curate.curate(df, mark, lit("orcid:x"),
        lit(null).cast("double"), lit("2026-08-16"))._1
    val batch = curatePass(m).collect().map(_.mkString("|")).sorted
    val stream = curatePass(spark.readStream.schema(m.schema).parquet(dir))
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("curate_stream").collect().map(_.mkString("|")).sorted
    assert(got.sameElements(batch))
  }

  test("conditionalUpdate applies assignments only where cond holds") {
    val df = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "k", "v")
    val got = Mutations.conditionalUpdate(df, col("k") === "a",
      Map("v" -> lit(0.0), "k" -> lit("curated")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "curated", 0.0), (2, "b", 20.0)))
  }

  test("setWithPolicy: overwrite / keep / error-channel semantics") {
    val df = Seq((1, Some("old")), (2, None)).toDF("id", "v")
    val (ow, c1) = Mutations.setWithPolicy(df, "v", lit("new"), Mutations.Overwrite)
    assert(ow.collect().map(_.getString(1)).toSet == Set("new") && c1.isEmpty)
    val (kp, c2) = Mutations.setWithPolicy(df, "v", lit("new"), Mutations.Keep)
    assert(kp.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("old", "new") && c2.isEmpty)
    val (er, c3) = Mutations.setWithPolicy(df, "v", lit("new"), Mutations.ErrorIfExists)
    assert(er.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((2, "new")))
    assert(c3.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("swapColumns, rewriteViaMap, toggleFlag, attachLabels") {
    val df = Seq((1, "s", "o", "x")).toDF("id", "subj", "obj", "flag")
    val sw = Mutations.swapColumns(df, Seq(("subj", "obj"))).head()
    assert(sw.getString(1) == "o" && sw.getString(2) == "s")
    val rw = Mutations.rewriteViaMap(Seq("a", "z").toDF("v"), "v", Map("a" -> "A"))
      .collect().map(_.getString(0)).toSet
    assert(rw == Set("A", "z"))
    val tg = Mutations.toggleFlag(Seq((1, "Not"), (2, null)).toDF("id", "m"), "m", "Not")
      .orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(tg.toSeq == Seq(None, Some("Not")))
    val lbl = Mutations.attachLabels(Seq(Tuple1("k1")).toDF("k"),
      Seq(("k1", "Label")).toDF("k", "name"), "k", "name").head()
    assert(lbl.getString(1) == "Label")
  }
}
