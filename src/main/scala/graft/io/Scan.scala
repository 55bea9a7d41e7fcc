package graft.io

import org.apache.spark.sql.DataFrame

/** Unsplittable-input mitigation (optimization guide §2.5: "one huge
  * unsplittable file … repartition immediately after the read").
  *
  * The driver's parquet inputs are written as ONE row group per file, so
  * a parquet scan cannot split below one task per file no matter what
  * `spark.sql.files.maxPartitionBytes` says — and every expression fused
  * into the scan stage (shingling, MinHash, SimHash, LSH bucket
  * assignment, record canonicalization, media decode) runs on a single
  * core while the rest of the machine idles. `spread` re-distributes the
  * scanned rows round-robin across the session's parallelism BEFORE the
  * expensive row-local compute, paying one slim shuffle of the raw input
  * rows for full-width execution of everything above it.
  *
  * SCALE-ADAPTIVE BY CONSTRUCTION: the repartition fires ONLY when the
  * scan yields fewer partitions than `defaultParallelism`. A production
  * table (thousands of 128 MB–1 GB splits for the 100 TB design point)
  * always clears the threshold, so at scale `spread` is the identity and
  * the plan is byte-identical to the unspread design — no exchange is
  * added where the scan already feeds every core (PlanSpec asserts both
  * regimes). This is NOT a local-mode constant: the trigger condition is
  * derived from the input's actual split count vs the cluster's actual
  * parallelism, exactly the guide's "derive from input size" rule.
  *
  * Determinism: round-robin repartition sorts before redistributing
  * (`spark.sql.execution.sortBeforeRepartition`, default on) so task
  * retries reproduce the same row→partition assignment; every operator
  * above a spread is either row-local or an aggregation whose result is
  * partitioning-independent (the repo-wide determinism rules — fixed
  * float rounding, unique-column tiebreaks — already guarantee identical
  * results across parallelism levels, which the driver's CPUS=8 Verify
  * vs CPUS=32 Bench has exercised since round 1).
  *
  * Never for storage whose layout must be preserved: a round-robin would
  * destroy the co-partitioning that the zero-exchange plans of bucketed
  * tables rely on, and no bucketed-path caller uses spread.
  */
object Scan {

  def spread(df: DataFrame): DataFrame =
    spread(df, df.sparkSession.sparkContext.defaultParallelism)

  /** Bounded-width variant for multi-consumer pipelines: a spread at
    * full parallelism fans every downstream stage that reads it into
    * cores-many tasks, which for the LSH pair pipelines (many small
    * stages over one small input) costs more in task waves than the
    * wider compute saves. `target` caps the spread width; the
    * under-parallelized-scan trigger condition is unchanged.
    */
  def spread(df: DataFrame, target: Int): DataFrame =
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
}
