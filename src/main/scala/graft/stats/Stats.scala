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
  * counts use HLL++ (`approx_count_distinct`, [[Distinct.Sketch]]) by
  * default — exact `countDistinct` over many columns triggers Catalyst's
  * Expand (row multiplication by #distinct-aggs), which is wrong at
  * 100 TB. [[Distinct.Exact]] and [[Distinct.Checked]] exist for
  * small-scale oracle testing only.
  */
object Stats {

  /** The per-part aggregate every stats and verdict pass is built on:
    * ONE `groupBy(part)` over `aggs` plus the shared `row_count`.
    * [[columnStats]] and [[graft.runner.Profile]]'s fused aggregates all
    * build it here, so a stand-alone pass and a fused one group and count
    * rows the same way.
    */
  private[graft] def perPart(df: DataFrame, aggs: Seq[Column]): DataFrame = {
    val all = aggs :+ count(lit(1)).as("row_count")
    df.groupBy(col("part")).agg(all.head, all.tail: _*)
  }

  /** The distinct-count flavour of a stats pass: its per-column aggregate
    * cells, the row cell folded from them and the names of that cell and
    * of the column-name field. Named once, so the stand-alone stats pass
    * and the fused validate+profile pass cannot drift.
    */
  sealed abstract class Distinct(val cellName: String, val colField: String) {
    private[graft] def aggs(c: String): Seq[Column]
    private[graft] def cell(c: String): Column
  }
  object Distinct {

    /** A plain distinct count per column, `distinct_count`. */
    sealed abstract class Count(f: Column => Column) extends Distinct("distinct_count", "column") {
      private[graft] def aggs(c: String) = Seq(f(col(c)).as(s"distinct_$c"))
      private[graft] def cell(c: String) = col(s"distinct_$c").cast("long")
    }

    /** HLL++ only, the production flavour: no exact `countDistinct`,
      * hence no Catalyst Expand (PlanSpec guards the fused pass's shape).
      */
    case object Sketch extends Count(approx_count_distinct(_))

    /** Exact `countDistinct`: the oracle-comparable count. */
    case object Exact extends Count(countDistinct(_))

    /** HLL++ accuracy verification: `distinct_ok` says whether the HLL++
      * estimate (at rsd 0.05) is within 3·rsd of the exact distinct
      * count. Emitting the bound check as a boolean makes the sketch
      * oracle-checkable with exact comparisons: the DuckDB oracle computes
      * the same exact stats and a constant TRUE, so a sketch drifting past
      * its documented error bound turns the row red in the correctness
      * gate. VERIFICATION-ONLY at scale: grading a sketch needs the truth,
      * so this pays the multi-distinct Expand of the exact twin.
      */
    case object Checked extends Distinct("distinct_ok", "col_name") {
      private val Rsd = 0.05
      private[graft] def aggs(c: String) = Seq(
        approx_count_distinct(col(c), Rsd).as(s"hll_$c"),
        countDistinct(col(c)).as(s"exact_$c"))
      private[graft] def cell(c: String) =
        abs(col(s"hll_$c") - col(s"exact_$c")).cast("double") <=
          lit(3 * Rsd) * greatest(col(s"exact_$c"), lit(1L)).cast("double")
    }
  }

  /** The per-column aggregate cells (null count, min, max + the
    * flavour's distinct cells), WITHOUT the shared `row_count` — exposed
    * so [[graft.runner.Profile]] can fuse these into the verdict
    * aggregate's single pass without duplicating the expressions.
    */
  private[graft] def statAggs(columns: Seq[String], distinct: Distinct): Seq[Column] =
    columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull || col(c).cast("string") === "", 1L).otherwise(0L)).as(s"nulls_$c"),
        min(col(c).cast("string")).as(s"min_$c"),
        max(col(c).cast("string")).as(s"max_$c")) ++ distinct.aggs(c)
    }

  /** Explode a [[perPart]] aggregate frame carrying the [[statAggs]]
    * columns of `distinct` into the long (part, <colField>, null_rate,
    * <cellName>, min, max, row_count) shape — one row per column, shared
    * by the stand-alone and the fused pass, so a fix here (null-or-empty
    * definition, null_rate rounding) lands in every flavour.
    */
  def statRows(g: DataFrame, columns: Seq[String], distinct: Distinct): DataFrame = {
    val entries = array(columns.map(c => struct(
      lit(c).as("column"),
      col(s"nulls_$c").as("null_count"),
      distinct.cell(c).as("cell"),
      coalesce(col(s"min_$c"), lit("NULL")).as("min"),
      coalesce(col(s"max_$c"), lit("NULL")).as("max"))): _*)
    g.select(col("part"), col("row_count"), explode(entries).as("e"))
      .select(
        col("part"),
        col("e.column").as(distinct.colField),
        round(col("e.null_count").cast("double") / col("row_count"), 6).as("null_rate"),
        col("e.cell").as(distinct.cellName),
        col("e.min").as("min"),
        col("e.max").as("max"),
        col("row_count"))
  }

  /** Long-format stats: one row per (part, column) with null_rate, the
    * `distinct` flavour's cell and min/max (as strings).
    */
  def columnStats(df: DataFrame, columns: Seq[String],
                  distinct: Distinct = Distinct.Sketch): DataFrame =
    statRows(perPart(df, statAggs(columns, distinct)), columns, distinct)

  /** The probe quantiles of [[approxQuantiles]] and [[quantilesChecked]]. */
  private val Probes = Seq(0.5, 0.9, 0.99)

  /** Production quantile path: per-partition GK sketch
    * (`approx_percentile`, rank error <= 1/accuracy) over a numeric
    * column — ONE partial+final aggregate, sketch state O(accuracy) per
    * partition regardless of row count. The quantile twin of
    * [[columnStats]]'s HLL++ default; verified by [[quantilesChecked]].
    */
  def approxQuantiles(df: DataFrame, value: Column): DataFrame =
    df.select(col("part"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("part"))
      .agg(percentile_approx(col("v"), array(Probes.map(lit): _*), lit(10000))
        .as("quantiles"), count(lit(1)).as("n"))

  /** GK-sketch accuracy verification — the quantile twin of
    * [[Distinct.Checked]]: per (part, probe quantile q), the sketch
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
  def quantilesChecked(df: DataFrame, value: Column): DataFrame = {
    val accuracy = 100
    val eps = 3.0 / accuracy
    val g = df.select(col("part"), value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("part"))
      .agg(
        sort_array(collect_list(col("v"))).as("sorted"),
        percentile_approx(col("v"), array(Probes.map(lit): _*), lit(accuracy))
          .as("approx"),
        count(lit(1)).as("n"))
    // probe quantiles with their 1-based index into the approx array
    val probes = array(Probes.zipWithIndex.map { case (q, i) =>
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
