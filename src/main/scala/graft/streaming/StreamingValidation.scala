package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.constraints.Constraint
import graft.runner.Runner

/** Streaming execution of the SAME compiled constraint suite.
  *
  * The reference exposes every read as both a materializing call and a
  * one-pass generator (`read` vs `read_iterable`, io.py:668-755). The
  * Spark twin: [[Runner.violations]] is a pure narrow projection, so the
  * identical suite runs unchanged over a streaming DataFrame —
  * micro-batch violations append incrementally, while verdict counts
  * aggregate per event-time window + partition.
  *
  * Scale notes: the violation stream is shuffle-free (projection +
  * explode); the windowed verdict aggregate is a streaming stateful agg
  * whose state is keyed by (window, part) — bounded by the watermark, so
  * state size is |parts| × windows-in-flight, independent of row volume.
  */
object StreamingValidation {

  /** Per-(event-time window, part) violation counts with a watermark —
    * the streaming verdict feed. Late pages beyond the watermark are
    * dropped (the reference has no late-data semantics to mirror;
    * SURVEY §2.11).
    *
    * COVERAGE GAP, by construction: rows with a NULL event time — exactly
    * the `warc_ts_required` check's output — cannot be placed in an
    * event-time window and are EXCLUDED here (the filter makes that
    * explicit rather than letting the window silently drop them). Run
    * [[nullTsViolationCounts]] alongside to keep those violations counted.
    */
  def windowedViolationCounts(pages: DataFrame, suite: Seq[Constraint],
                              tsCol: String = "warc_ts",
                              watermark: String = "1 hour",
                              window: String = "1 day"): DataFrame =
    Runner.violations(pages.withWatermark(tsCol, watermark), suite, Seq(tsCol))
      .filter(col(tsCol).isNotNull)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window).as("w"),
        col("part"), col("check_name"))
      .agg(count(lit(1)).as("violation_count"))

  /** The non-windowed twin for NULL-event-time rows: a running
    * per-(part, check) count with no watermark (state is bounded by
    * |parts| × |checks|, so the missing watermark costs nothing). Emit in
    * update/complete mode next to [[windowedViolationCounts]]'s feed.
    */
  def nullTsViolationCounts(pages: DataFrame, suite: Seq[Constraint],
                            tsCol: String = "warc_ts"): DataFrame =
    Runner.violations(pages, suite, Seq(tsCol))
      .filter(col(tsCol).isNull)
      .groupBy(col("part"), col("check_name"))
      .agg(count(lit(1)).as("violation_count"))

  /** Streaming distribution drift: per closed event-time window, KL and
    * PSI of the window's categorical histogram against a STATIC baseline
    * distribution — the streaming twin of [[graft.drift.Drift.klPsi]]
    * with the same additive smoothing over the same key domain, so a
    * window's (kl, psi) here equals the batch computation over that
    * window's rows.
    *
    * Shape: two chained stateful aggregates (per-(window, key) counts,
    * then per-window re-aggregation via `window_time` — the blessed
    * multiple-stateful-operator pattern), then a STATELESS projection
    * computing the divergences with higher-order functions over the
    * baseline keys, which ride along as literal map/array expressions
    * (the baseline is a driver-sized histogram — |langs|-ish — never a
    * stream-side join). State is |keys| × windows-in-flight, bounded by
    * the watermark; emission is append-mode on window close.
    *
    * Rows whose key is outside the baseline domain are excluded (the
    * batch drift queries filter to the enum the same way); smoothing
    * must be positive because a key CAN be absent from a window.
    */
  def driftStream(pages: DataFrame, baseline: Map[String, Long],
                  keyCol: String = "lang", tsCol: String = "warc_ts",
                  watermark: String = "1 hour", windowDur: String = "1 day",
                  smoothing: Double = 0.5): DataFrame = {
    require(smoothing > 0.0,
      "streaming drift needs additive smoothing (a key can be absent in a window)")
    val keys = baseline.keys.toSeq.sorted
    val sK = smoothing * keys.size
    val bTotal = baseline.values.sum + sK
    // baseline probabilities pre-normalized with the SAME smoothing the
    // batch twin applies over the union of keys
    val qLit = map(keys.flatMap(k =>
      Seq(lit(k), lit((baseline(k) + smoothing) / bTotal))): _*)
    val keysLit = array(keys.map(lit): _*)
    val hist = pages
      .filter(col(keyCol).isin(keys: _*))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val perWindow = hist
      .groupBy(window(window_time(col("w")), windowDur).as("w"))
      .agg(map_from_entries(collect_list(struct(col("key"), col("n"))))
        .as("hist"), sum(col("n")).as("total"))
    val terms = transform(keysLit, k => {
      val p = (coalesce(element_at(col("hist"), k), lit(0L)) + lit(smoothing)) /
        (col("total") + lit(sK))
      val q = element_at(qLit, k)
      struct((p * log(p / q)).as("kl"), ((p - q) * log(p / q)).as("psi"))
    })
    perWindow.select(
      col("w"),
      (round(aggregate(terms, lit(0.0), (acc, t) => acc + t.getField("kl")), 6) + 0.0).as("kl"),
      (round(aggregate(terms, lit(0.0), (acc, t) => acc + t.getField("psi")), 6) + 0.0).as("psi"),
      col("total"))
  }

  /** Streaming url dedup: keep the FIRST arrival per url within the
    * watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    * twin of the batch arg-max dedup. A stream cannot retro-replace a
    * row it already emitted, so the streaming contract is first-wins
    * ingest dedup; the batch pass downstream owns global latest-wins
    * semantics. State holds one entry per url seen inside the horizon
    * and the watermark evicts older keys, so state size is bounded by
    * url arrival rate × horizon, independent of total stream length —
    * the property that lets this run forever at crawl scale.
    *
    * COVERAGE GAP, by construction (the same NULL-event-time gap
    * [[windowedViolationCounts]] documents): rows with a NULL `tsCol`
    * cannot sit under a watermark and are EXCLUDED here — run
    * [[dedupStreamNullTs]] alongside so they flow on (un-deduped, as
    * the `warc_ts_required` violation channel's input) instead of
    * silently vanishing from the feed.
    */
  def dedupStream(pages: DataFrame, tsCol: String = "warc_ts",
                  watermark: String = "1 hour"): DataFrame =
    pages.filter(col(tsCol).isNotNull)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("url")

  /** The NULL-event-time complement of [[dedupStream]]: pass-through of
    * rows the dedup feed must exclude (no watermark ⇒ no dedup state),
    * so `dedupStream ∪ dedupStreamNullTs` loses no input row and a
    * streaming-vs-batch row-count reconciliation balances.
    */
  def dedupStreamNullTs(pages: DataFrame, tsCol: String = "warc_ts"): DataFrame =
    pages.filter(col(tsCol).isNull)

  /** Windowed event aggregation (events table shape): watermark +
    * tumbling window + per-type counts — the standard streaming agg.
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
                          window: String = "1 hour"): DataFrame =
    events
      // parquet event times may arrive as TIMESTAMP_NTZ; watermarks
      // require TIMESTAMP (session UTC makes the cast a no-op rebase)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
}
