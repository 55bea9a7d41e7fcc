package graft.runner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.constraints.{Constraint, Constraints}
import graft.stats.Stats

/** One-pass validate-and-profile: the constraint verdict grid AND the
  * per-partition column statistics from a SINGLE aggregate over a SINGLE
  * scan of the input.
  *
  * The reference computes both in one read pass — each parsed line is
  * validated AND folded into the condensation counters as it streams by
  * (reference: src/sssom_pydantic/io.py:894-907 validation inside the
  * same loop whose results feed the io.py:484-545 column Counters).
  * Running [[Runner.verdicts]] and [[Stats.columnStats]] as separate
  * queries re-reads the table; at the 100 TB design point the second
  * (column-pruned) scan still re-decodes every url/lang value and pays a
  * second scheduling round. Fusing the two aggregate families into one
  * `groupBy(part)` keeps the single partial+final hash-aggregate shape
  * of each half (map-side combine reduces each task to |parts| counter
  * rows), adds zero exchanges, and — measured by the round-5 per-component
  * suite trace (BENCH/BASELINE.md) — removes the worst-scaling component
  * of the validation suite entirely (the stand-alone pruned stats scan is
  * latency- not throughput-bound, so it scales worst of all sub-plans).
  *
  * The aggregate and derivation expressions are THE SAME code the
  * stand-alone operators run ([[Runner.verdictAggs]] /
  * [[Runner.verdictRowsFromAgg]], [[Stats.statAggs]] /
  * [[Stats.statRowsFromAgg]] with [[Stats.distinctAgg]] or
  * [[Stats.checkedAgg]] cells), so fused output is row-identical to the
  * unfused operators by construction — ProfileSpec asserts it, and the
  * driver gate checks `fused_verdicts` / `fused_stats` against the
  * SAME DuckDB oracles as `verdicts` / `m_stats`.
  */
object Profile {

  /** The fused per-part aggregate frame: [[Runner.verdictAggs]] columns
    * + [[Stats.statAggs]] columns + the shared `row_count`, in one
    * partial+final pass.
    *
    * `checked = false` (production): distinct counts are HLL++ only —
    * no exact `countDistinct`, hence no Catalyst Expand; the whole
    * aggregate is one codegen'd pass (PlanSpec guards one scan, one
    * exchange, no Expand). `checked = true` (verification): each column
    * also carries the exact-distinct twin so the sketch bound can be
    * emitted as an oracle-comparable boolean — this variant pays the
    * multi-distinct Expand and exists for the gate, same as
    * [[Stats.columnStatsChecked]].
    */
  def fusedAggregate(pages: DataFrame, suite: Seq[Constraint],
                     columns: Seq[String], checked: Boolean = false,
                     rsd: Double = 0.05): DataFrame = {
    val compiled = Constraints.compile(suite)
    val extra: String => Seq[Column] =
      if (checked) Stats.checkedAgg(rsd) else Stats.distinctAgg(exact = false)
    Stats.perPart(pages, Runner.verdictAggs(compiled) ++ Stats.statAggs(columns, extra))
  }

  /** The per-part aggregate of one [[ValidationRun]] batch: the
    * production [[fusedAggregate]] columns, the batch's valid-url count
    * per part ([[ValidUrls]], the row count of the url checks' verdict
    * grid) and the [[Stats.log2Bucket]] histogram of `lengthOf` as one
    * conditional count per bin — every output of the pass that is a
    * per-part fold, in ONE aggregate over ONE scan. The bucket is
    * projected once below the aggregate, not per bin.
    */
  def batchAggregate(pages: DataFrame, suite: Seq[Constraint], columns: Seq[String],
                     lengthOf: String): DataFrame = {
    val bucket = "__len_bucket"
    Stats.perPart(pages.withColumn(bucket, Stats.log2Bucket(length(col(lengthOf)))),
      Runner.verdictAggs(Constraints.compile(suite)) ++
        Stats.statAggs(columns, Stats.distinctAgg(exact = false)) ++
        Stats.lengthBinAggs(col(bucket)) :+
        sum(when(Constraints.validUrl, 1L).otherwise(0L)).as(ValidUrls))
  }

  /** Column of [[batchAggregate]] counting the rows whose url is valid. */
  val ValidUrls = "valid_urls"

  /** The verdict-grid half, row-identical to `Runner.verdicts(pages,
    * suite)` when `agg` came from [[fusedAggregate]] over the same input.
    */
  def verdictRows(agg: DataFrame, suite: Seq[Constraint]): DataFrame =
    Runner.verdictRowsFromAgg(agg, suite.map(_.name))

  /** The stats half, row-identical to `Stats.columnStats(pages,
    * columns)`; requires `agg` built with `checked = false`.
    */
  def statRows(agg: DataFrame, columns: Seq[String]): DataFrame =
    Stats.statRowsFromAgg(agg, columns, Stats.distinctCell,
      cellName = "distinct_count", colField = "column")

  /** The bound-checked stats half, row-identical to
    * `Stats.columnStatsChecked(pages, columns, rsd)`; requires `agg`
    * built with `checked = true` at the same rsd.
    */
  def statRowsChecked(agg: DataFrame, columns: Seq[String],
                      rsd: Double = 0.05): DataFrame =
    Stats.statRowsFromAgg(agg, columns, Stats.checkedCell(rsd),
      cellName = "distinct_ok", colField = "col_name")
}
