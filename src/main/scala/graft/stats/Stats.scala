package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-partition column statistics — the generalization of the reference's
  * condensation / column-presence passes (reference: src/sssom_pydantic/
  * io.py:484-545: per-column distinct Counter + "any data" scan).
  *
  * Scale design: ONE aggregate pass per call, keyed by the low-cardinality
  * table partition column, so partial aggregation collapses everything
  * map-side; the shuffle moves |parts| × (a few counters) rows. Distinct
  * counts use HLL++ (`approx_count_distinct`) by default — exact
  * `countDistinct` over many columns triggers Catalyst's Expand (row
  * multiplication by #distinct-aggs), which is wrong at 100 TB. `exact =
  * true` exists for small-scale oracle testing only.
  */
object Stats {

  /** The per-part aggregate every stats and verdict pass is built on:
    * ONE `groupBy(part)` over `aggs` plus the shared `row_count`.
    * [[columnStats]], [[columnStatsChecked]] and
    * [[graft.runner.Profile]]'s fused aggregates all build it here, so a
    * stand-alone pass and a fused one group and count rows the same way.
    */
  private[graft] def perPart(df: DataFrame, aggs: Seq[Column]): DataFrame = {
    val all = aggs :+ count(lit(1)).as("row_count")
    df.groupBy(col("part")).agg(all.head, all.tail: _*)
  }

  /** The per-column aggregate cells (null count, min, max + the
    * variant's extra cells), WITHOUT the shared `row_count` — exposed so
    * [[graft.runner.Profile]] can fuse these into the verdict aggregate's
    * single pass without duplicating the expressions.
    */
  private[graft] def statAggs(columns: Seq[String],
                              extraAgg: String => Seq[Column]): Seq[Column] =
    columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull || col(c).cast("string") === "", 1L).otherwise(0L)).as(s"nulls_$c"),
        min(col(c).cast("string")).as(s"min_$c"),
        max(col(c).cast("string")).as(s"max_$c")) ++ extraAgg(c)
    }

  /** Explode a [[perPart]] aggregate frame carrying the [[statAggs]]
    * columns into the long (part, column, null_rate, <cell>, min, max,
    * row_count) shape — one row per column, shared with the fused pass.
    * The two public variants differ only in the extra cell (distinct
    * count vs sketch-bound boolean) and the column-name field, so a fix
    * here (null-or-empty definition, null_rate rounding) lands in both.
    */
  private[graft] def statRowsFromAgg(g: DataFrame, columns: Seq[String],
                                     cellOf: String => Column, cellName: String,
                                     colField: String): DataFrame = {
    val entries = array(columns.map(c => struct(
      lit(c).as("column"),
      col(s"nulls_$c").as("null_count"),
      cellOf(c).as("cell"),
      coalesce(col(s"min_$c"), lit("NULL")).as("min"),
      coalesce(col(s"max_$c"), lit("NULL")).as("max"))): _*)
    g.select(col("part"), col("row_count"), explode(entries).as("e"))
      .select(
        col("part"),
        col("e.column").as(colField),
        round(col("e.null_count").cast("double") / col("row_count"), 6).as("null_rate"),
        col("e.cell").as(cellName),
        col("e.min").as("min"),
        col("e.max").as("max"),
        col("row_count"))
  }

  /** The two distinct-count flavors and their cells, named once so the
    * stand-alone stats pass and the fused validate+profile pass cannot
    * drift: production = HLL++ only; checked = HLL++ + exact twin with
    * the 3·rsd bound emitted as an oracle-comparable boolean.
    */
  private[graft] def distinctAgg(exact: Boolean)(c: String): Seq[Column] =
    Seq((if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
      .as(s"distinct_$c"))
  private[graft] def distinctCell(c: String): Column =
    col(s"distinct_$c").cast("long")
  private[graft] def checkedAgg(rsd: Double)(c: String): Seq[Column] = Seq(
    approx_count_distinct(col(c), rsd).as(s"hll_$c"),
    countDistinct(col(c)).as(s"exact_$c"))
  private[graft] def checkedCell(rsd: Double)(c: String): Column =
    abs(col(s"hll_$c") - col(s"exact_$c")).cast("double") <=
      lit(3 * rsd) * greatest(col(s"exact_$c"), lit(1L)).cast("double")

  /** Long-format stats: one row per (part, column) with null_rate,
    * distinct count, min/max (as strings).
    */
  def columnStats(df: DataFrame, columns: Seq[String], exact: Boolean = false): DataFrame =
    statRowsFromAgg(perPart(df, statAggs(columns, distinctAgg(exact))), columns,
      distinctCell, cellName = "distinct_count", colField = "column")

  /** HLL++ accuracy verification: per (part, column), the exact stats
    * (null_rate, min, max, row_count) PLUS `distinct_ok` — whether the
    * HLL++ estimate (`approx_count_distinct` at the given rsd) is within
    * 3·rsd of the exact distinct count. Emitting the bound check as a
    * boolean makes the sketch oracle-checkable with exact comparisons:
    * the DuckDB oracle computes the same exact stats and a constant TRUE,
    * so a sketch drifting past its documented error bound turns the row
    * red in the correctness gate.
    *
    * VERIFICATION-ONLY at scale: this computes exact `countDistinct`
    * alongside the sketch (the multi-distinct Expand), because grading a
    * sketch needs the truth. The production entry point is
    * [[columnStats]] with its `exact = false` default.
    */
  def columnStatsChecked(df: DataFrame, columns: Seq[String],
                         rsd: Double = 0.05): DataFrame =
    statRowsFromAgg(perPart(df, statAggs(columns, checkedAgg(rsd))), columns,
      checkedCell(rsd), cellName = "distinct_ok", colField = "col_name")

  /** Production quantile path: per-partition GK sketch
    * (`approx_percentile`, rank error <= 1/accuracy) over a numeric
    * column — ONE partial+final aggregate, sketch state O(accuracy) per
    * partition regardless of row count. The quantile twin of
    * [[columnStats]]'s HLL++ default; verified by [[quantilesChecked]].
    */
  def approxQuantiles(df: DataFrame, value: Column,
                      qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                      accuracy: Int = 10000): DataFrame =
    df.select(col("part"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("part"))
      .agg(percentile_approx(col("v"), array(qs.map(lit): _*), lit(accuracy))
        .as("quantiles"), count(lit(1)).as("n"))

  /** GK-sketch accuracy verification — the quantile twin of
    * [[columnStatsChecked]]: per (part, probe quantile q), the sketch
    * value must lie between the EXACT order statistics at ranks
    * (q ∓ 3ε)·n, ε = 1/accuracy (3× the GK guarantee, mirroring the
    * HLL check's 3σ margin). The emitted columns are all
    * engine-deterministic — the integer rank-bound values lo/hi, the
    * containment boolean, never the sketch value itself — so the DuckDB
    * oracle (same order statistics + constant TRUE) exact-compares them:
    * a sketch drifting past its documented rank error turns the row red
    * in the correctness gate.
    *
    * VERIFICATION-ONLY at scale: grading the sketch needs the truth, so
    * each group's values are materialized sorted (`collect_list`). The
    * production entry point is [[approxQuantiles]].
    */
  def quantilesChecked(df: DataFrame, value: Column,
                       qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                       accuracy: Int = 100): DataFrame = {
    val eps = 3.0 / accuracy
    val g = df.select(col("part"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("part"))
      .agg(
        sort_array(collect_list(col("v"))).as("sorted"),
        percentile_approx(col("v"), array(qs.map(lit): _*), lit(accuracy))
          .as("approx"),
        count(lit(1)).as("n"))
    // probe quantiles with their 1-based index into the approx array
    val probes = array(qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"), lit(i + 1).as("i")) }: _*)
    g.select(col("part"), col("n"), col("sorted"), col("approx"),
        explode(probes).as("p"))
      .select(
        col("part"),
        col("p.q").as("q"),
        element_at(col("sorted"),
          greatest(lit(1), floor((col("p.q") - lit(eps)) * col("n")).cast("int")))
          .as("lo"),
        element_at(col("sorted"),
          least(col("n").cast("int"),
            greatest(lit(1), ceil((col("p.q") + lit(eps)) * col("n")).cast("int"))))
          .as("hi"),
        element_at(col("approx"), col("p.i")).as("approx_v"),
        col("n"))
      .select(col("part"), col("q"), col("lo"), col("hi"),
        (col("approx_v") >= col("lo") && col("approx_v") <= col("hi")).as("ok"),
        col("n"))
  }

  /** Per-partition log2 length histogram over a string column:
    * bucket = floor(log2(max(length, 1))). Reference analogue: the
    * distribution counters of query.py:274-291; at scale this is one
    * partial+final aggregate, no window.
    *
    * Computed as `length(bin(x)) - 1` — pure integer arithmetic — because
    * floating `log` can land on either side of an integer for exact powers
    * of two, which would make buckets engine-dependent.
    */
  def lengthHistogram(df: DataFrame, column: String): DataFrame =
    df.groupBy(col("part"), log2Bucket(length(col(column))).as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** The buckets [[log2Bucket]] gives a string length: `length` is an
    * `Int`, so 0..30.
    */
  private val LengthBins = 0 to 30

  /** [[lengthHistogram]] as per-part aggregate columns, one conditional
    * count per bin of the precomputed `bucket` — the half that rides in
    * [[graft.runner.Profile.batchAggregate]].
    */
  private[graft] def lengthBinAggs(bucket: Column): Seq[Column] =
    LengthBins.map(b => count(when(bucket === b, true)).as(s"len_$b"))

  /** The (part, bucket, n) rows of a [[lengthBinAggs]] frame, keeping the
    * bins with n > 0 — row-identical to [[lengthHistogram]] over the
    * same input.
    */
  private[graft] def lengthHistRowsFromAgg(g: DataFrame): DataFrame =
    g.select(col("part"), explode(array(LengthBins.map(b => struct(
        lit(b.toLong).as("bucket"), col(s"len_$b").as("n"))): _*)).as("e"))
      .filter(col("e.n") > 0L)
      .select(col("part"), col("e.bucket").as("bucket"), col("e.n").as("n"))

  /** floor(log2(max(x, 1))) via binary-string length: exact for all x. */
  def log2Bucket(x: Column): Column =
    (length(bin(greatest(x, lit(1)).cast("long"))) - 1).cast("long")
}
