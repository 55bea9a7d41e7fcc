package graft.runner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.constraints.{Constraint, Constraints, RowConstraint}

/** Executes a compiled constraint suite over a partitioned input table,
  * producing the two core outputs of the engine:
  *
  *   - violations: one row per (input row, failed constraint) — the
  *     reference's collected `ParseError` channel (io.py:86-102): errors are
  *     data, processing never stops.
  *   - verdicts: one row per (table partition, constraint) with pass/fail +
  *     counts — the per-partition analogue of the reference's
  *     pass-vs-errors read result (io.py:691-701).
  *
  * Scale notes (100 TB design point):
  *   - Both outputs are computed in a single narrow projection over the
  *     scan — every constraint is a codegen'd `Column`, evaluated once per
  *     row; no shuffle for violations (they stream out partition-local),
  *     one partial+final hash aggregate keyed by the low-cardinality table
  *     partition column for verdicts (map-side combine reduces each task's
  *     output to |parts|×|constraints| counters, so the shuffle is bytes,
  *     not rows).
  *   - Verdicts are keyed by the TABLE partition column, never by Spark
  *     task partition, so results are bit-identical across parallelism
  *     levels (the N-vs-4N verdict-parity requirement).
  */
object Runner {

  /** Null-safe violation struct for one constraint, or NULL when the row
    * passes. Array-of-structs + filter keeps the whole suite in one
    * whole-stage-codegen projection.
    */
  private def failStruct(c: RowConstraint): Column =
    when(c.violated, struct(
      lit(c.name).as("check_name"),
      coalesce(c.detail.cast("string"), lit("NULL")).as("detail"),
      lit(c.stage).as("stage")))

  /** Row-level violations. `keyCols` are carried through for provenance —
    * the line-number analogue (io.py:899: `ParseError(line_number, ...)`).
    */
  def violations(pages: DataFrame, suite: Seq[Constraint], keyCols: Seq[String]): DataFrame = {
    val compiled = Constraints.compile(suite)
    val fails = filter(
      array(compiled.map(failStruct): _*),
      x => x.isNotNull)
    // explode_outer, NOT explode: plain explode triggers
    // InferFiltersFromGenerate, which duplicates the ENTIRE compiled
    // suite (interpreted — ArrayFilter is CodegenFallback) into a
    // pushed Filter below the Generate, evaluating every constraint
    // twice per input row on the engine's hottest path (the same trap
    // Sim/Ann document); the outer-generate's null row for passing
    // input is dropped by the isNotNull filter, so results are
    // identical.
    pages
      .select((col("part") +: keyCols.map(col)) :+ explode_outer(fails).as("f"): _*)
      .filter(col("f").isNotNull)
      .select(
        (col("part") +: keyCols.map(col)) ++ Seq(
          col("f.check_name"), col("f.detail"), col("f.stage")): _*)
  }

  /** Per-constraint violation-count aggregate columns — the map-side
    * half of [[verdicts]]; [[Profile]] folds them into its per-part
    * aggregates, so every verdict grid runs the same expressions.
    */
  private[graft] def verdictAggs(compiled: Seq[RowConstraint]): Seq[Column] =
    compiled.map(c =>
      sum(when(c.violated, 1L).otherwise(0L)).as(s"v_${c.name}"))

  /** Explode a per-part aggregate frame (carrying a `v_<check>`
    * violation count per check name, as [[verdictAggs]] names them, plus
    * `row_count`) into the dense verdict grid shape.
    */
  private[graft] def verdictRowsFromAgg(g: DataFrame, checks: Seq[String]): DataFrame = {
    val entries = array(checks.map(c => struct(
      lit(c).as("check_name"),
      col(s"v_$c").as("violation_count"))): _*)
    g.select(col("part"), col("row_count"), explode(entries).as("e"))
      .select(
        col("part"),
        col("e.check_name").as("check_name"),
        (col("e.violation_count") === 0L).as("passed"),
        col("e.violation_count").as("violation_count"),
        col("row_count"))
  }

  /** Per-(partition, constraint) verdict grid: one aggregate pass with
    * map-side combine ([[Profile.fusedAggregate]] without stats
    * columns); the grid is dense (every constraint appears for every
    * partition, passing or not).
    */
  def verdicts(pages: DataFrame, suite: Seq[Constraint]): DataFrame =
    Profile.verdictRows(Profile.fusedAggregate(pages, suite, Nil), suite)
}
