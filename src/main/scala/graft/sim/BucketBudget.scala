package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-bucket candidate budget for the LSH family.
  *
  * The band/bucket self-joins (Sim.minhashLshPairs, Sim.simhashPairs,
  * Ann.lshNearDupPairsMulti) are equi-joins — no all-pairs SHAPE — but
  * their cardinality is quadratic WITHIN a key: a boilerplate-dominated
  * crawl where millions of near-identical pages share every band
  * produces O(b²) candidate rows inside that one key. This is the
  * skew-join analogue of the hot domain that Dedup handles with salting,
  * except salting cannot help here (every member must meet every other
  * member, so splitting the key loses pairs by construction). The only
  * sound budget is membership truncation: keep a bounded, deterministic
  * subset of each oversized bucket and make the truncation LOUD.
  *
  * Semantics: within each group, the `cap` smallest ids participate in
  * candidate generation; the rest are dropped FROM THAT GROUP ONLY (a
  * doc truncated out of one band can still surface via its other
  * bands/probes, so recall degrades gracefully). The rule is pure and
  * engine-portable — the DuckDB oracles mirror it as
  * `QUALIFY row_number() OVER (PARTITION BY group ORDER BY id) <= cap` —
  * so the cap itself is oracle-checked (the `sim_lsh_budget` /
  * `sim_lsh_truncation` gate entries run it with a cap low enough to
  * actually truncate).
  *
  * Scale shape: `row_number <= cap` over the band key is recognized by
  * Spark as a WindowGroupLimit, which inserts a PARTIAL group-limit
  * before the exchange — each map task forwards at most `cap` rows per
  * key, so a pathological bucket collapses map-side, before it moves
  * (PlanSpec asserts the `WindowGroupLimit ... Partial` node). The
  * rewrite only fires when the rank limit is at most
  * `spark.sql.optimizer.windowGroupLimitThreshold` (Spark default
  * 1000), so every graft session builder raises that threshold to
  * [[DefaultCap]]; without it the filter still bounds the JOIN input
  * but the degenerate bucket's rows would all funnel into one window
  * task first. The window's required hash(group) distribution is
  * exactly the candidate join's key, so capping adds NO extra exchange
  * to the pair pipeline.
  *
  * Default cap: 100k members ⇒ ≤ 5·10⁹ candidate rows per degenerate
  * bucket per band — bounded work for one join key spread across AQE
  * skew splits, while a genuine (non-adversarial) near-dup cluster at
  * web scale stays far below it. At the gate/bench scales every bucket
  * is orders of magnitude under the cap, so default-cap results are
  * value-identical to the uncapped semantics.
  */
object BucketBudget {

  /** Inactive-by-accident guard: callers pass cap <= 0 to disable. */
  val DefaultCap: Int = 100000

  /** The production form: gate the membership truncation behind an EXACT
    * oversized-bucket count pre-pass, so a healthy corpus (no bucket over
    * `capN` — every gate/bench scale, and every non-adversarial crawl)
    * pays a slim hash aggregate instead of the window's two full sorts of
    * the banded table.
    *
    * Why gate at all: round-5 TimeCap attribution (BENCH/BASELINE.md,
    * "TimeCap attribution" sections) measured the always-on
    * `row_number <= cap` window costing +7% to +44% (min-of-reps) across
    * the four pair pipelines at sf0.1 even though no bucket was ever
    * oversized — the WindowGroupLimit itself collapses
    * degenerate buckets map-side, but its sort by (group, id) runs on
    * BOTH sides of the band self-join regardless. The pre-pass is
    * [[truncationReport]].isEmpty — a count aggregate with map-side
    * partial combine whose shuffle carries one row per distinct bucket
    * key, strictly cheaper than one sort of the same input. When it finds
    * nothing, the caller gets its input back UNCHANGED and the pair plan
    * is byte-identical to the ungated design; when it finds a hot bucket,
    * the capped plan runs and the pre-pass cost is noise against an
    * actually-truncating job.
    *
    * The decision is EXACT, not sampled (contrast Dedup.hotKeys): the
    * active-cap oracle twins (`sim_lsh_budget`) require the same
    * truncation decision on every engine and every run — a sampled gate
    * could flip between value-identical and truncated results.
    *
    * Eagerness: this runs one Spark job at PLAN CONSTRUCTION time. All
    * three call sites sit above a persisted upstream frame (the minhash
    * sig base, the simhash banded frame, the embedding bucketed index),
    * so the pre-pass also materializes the cache the main job's join
    * sides reuse — the extra pass costs one cache write the pipeline
    * needed anyway. Not usable on streaming frames (none of the LSH pair
    * pipelines are streaming surfaces).
    */
  def capIfNeeded(keys: DataFrame, groupCols: Seq[String], idCol: String, capN: Int): DataFrame =
    if (capN <= 0) keys
    // persist the slim banded-key table on the INACTIVE path (round-5
    // verdict finding #2, adjusted by r06 measurement): uncached, the
    // pair self-join re-derived the banding on each side. The persist
    // comes AFTER the pre-pass count, so the pre-pass does not fill the
    // cache: the first join side fills it and the second reads it
    // (measured −0.15–0.3 s on each of sim_minhash_lsh / emb_neardup /
    // emb_neardup_multi at sf0.1). The ACTIVE path deliberately stays
    // unpersisted: the capped window feeds both join sides through ONE
    // ReusedExchange already (a single window evaluation), so caching
    // the pre-window keys only adds the cache build — measured +0.2 s
    // on sim_lsh_budget when persisted. Lifetime: this cache is created
    // here, and callers that keep only their own frames have no handle
    // to unpersist it — only `spark.catalog.clearCache()` releases it.
    else if (truncationReport(keys, groupCols, capN).isEmpty) {
      // no-op when the caller already persisted this exact frame
      // (simhashPairs hands its persisted banded base straight in)
      if (keys.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        keys.persist()
      else keys
    }
    else cap(keys, groupCols, idCol, capN)

  /** Keep the `cap` smallest `idCol` members of every `groupCols` group
    * (ids must be unique for determinism — they are row keys here).
    * Unconditional form — [[capIfNeeded]] is the production entry point;
    * this stays public for tests that assert the window plan shape.
    */
  def cap(keys: DataFrame, groupCols: Seq[String], idCol: String, cap: Int): DataFrame =
    if (cap <= 0) keys
    else {
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(idCol).asc)
      keys.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= cap)
        .drop("__rn")
    }

  /** The loud channel: one row per oversized group — (group, n, dropped).
    * A count aggregate (map-side partial combine, slim shuffle), same
    * shape as Dedup.hotKeys; run it alongside any capped pair job so
    * truncation is observable, never silent.
    */
  def truncationReport(keys: DataFrame, groupCols: Seq[String], capN: Int): DataFrame =
    keys.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > capN)
      .select(groupCols.map(col) :+ col("n") :+ (col("n") - capN).as("dropped"): _*)
}
