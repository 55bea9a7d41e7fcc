package graft.sim

import org.apache.spark.sql.DataFrame
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
  * task first. When the candidate join is a sort-merge join (the
  * at-scale shape), the window's required hash(group) distribution is
  * exactly the join's key, so capping adds no exchange; when a join side
  * is small enough to broadcast, the window adds one hash exchange.
  *
  * Default cap: 100k members ⇒ ≤ 5·10⁹ candidate rows per degenerate
  * bucket per band — bounded work for one join key spread across AQE
  * skew splits, while a genuine (non-adversarial) near-dup cluster at
  * web scale stays far below it. At the gate/bench scales every bucket
  * is orders of magnitude under the cap, so default-cap results are
  * value-identical to the uncapped semantics.
  *
  * One path: the three pair pipelines take their candidates from
  * [[candidatePairs]], which calls [[cap]] unconditionally, and
  * when no group is oversized the window keeps every row. The
  * alternative — an exact oversized-group count run first, so a healthy
  * corpus skips the window — starts Spark jobs while the plan is built,
  * and it measured differently on two hosts (sf0.1, the four default-cap
  * pair entries, the cap never active):
  *  - 32 cores (BENCH/BASELINE.md, "TimeCap attribution, run 2"): the
  *    window cost +14–18 % over no cap, the gated form +4–15 %;
  *  - 4 vCPUs: the window alone was no slower than the gated form —
  *    summed medians 5.44 s gated, 5.19 s window over 12 interleaved
  *    reps, the window ahead in 9 — because the pre-pass jobs' fixed
  *    cost is about the window's sort at this size.
  * The sort grows with the data and the pre-pass is one slim aggregate,
  * so measure again before reintroducing a pre-pass for larger corpora.
  */
object BucketBudget {

  /** Inactive-by-accident guard: callers pass cap <= 0 to disable. */
  val DefaultCap: Int = 100000

  /** Keep the `cap` smallest `idCol` members of every `groupCols` group
    * (ids must be unique for determinism — they are row keys here).
    * `cap <= 0` disables the budget and returns `keys` unchanged.
    */
  def cap(keys: DataFrame, groupCols: Seq[String], idCol: String, cap: Int): DataFrame =
    if (cap <= 0) keys
    else {
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(idCol).asc)
      keys.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= cap)
        .drop("__rn")
    }

  /** LSH candidate pairs: [[cap]] `keys` (an `id` column plus `groupCols`),
    * self-join them on `groupCols` with `a.id < b.id`, and return each
    * (id_1, id_2) pair once, however many groups it met in. Every other
    * column of `keys` rides through the join as `<c>_1` and `<c>_2`,
    * taken from one of the pair's groups, so it must be a function of
    * the id (the SimHash pipeline carries its 60-bit hash this way).
    */
  def candidatePairs(keys: DataFrame, groupCols: Seq[String], capN: Int): DataFrame = {
    val capped = cap(keys, groupCols, "id", capN)
    val carried = "id" +: keys.columns.filterNot(c => c == "id" || groupCols.contains(c)).toSeq
    capped.as("a").join(capped.as("b"),
        groupCols.map(g => col(s"a.$g") === col(s"b.$g")).reduce(_ && _) &&
          col("a.id") < col("b.id"))
      .select(carried.flatMap(c => Seq(col(s"a.$c").as(s"${c}_1"), col(s"b.$c").as(s"${c}_2"))): _*)
      .dropDuplicates("id_1", "id_2")
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
