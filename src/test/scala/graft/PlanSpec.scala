package graft

/** Physical-plan regression guards: the properties that make the engine
  * scale are asserted on the plan itself, so a refactor that silently
  * loses pushdown / adds a shuffle / drops a broadcast fails CI.
  */
class PlanSpec extends SparkSpecBase {

  val sfDir = "/root/testdata/sf0.001"
  def planOf(name: String, dir: String = sfDir): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  /** The plan of `name` over the same tables split a file per core. */
  def atScalePlanOf(name: String): String = planOf(name, SparkSpecBase.splitCopy(sfDir))

  test("violations channel is shuffle-free (pure projection + generate)") {
    val p = planOf("violations")
    assert(!p.contains("Exchange"), s"violations must not shuffle:\n$p")
  }

  test("verdict grid is one partial+final aggregate (exactly one shuffle)") {
    val p = planOf("verdicts")
    assert("Exchange".r.findAllIn(p).size == 1, s"verdicts must shuffle once:\n$p")
    assert(p.contains("partial_"), "map-side partial aggregation missing")
  }

  test("group-merge is one partial+final aggregate (min=max uniformity, no distinct-agg rewrite)") {
    // countDistinct mixed into a non-distinct aggregate triggers
    // Catalyst's double aggregation: a SECOND exchange keyed
    // (group, distinct-col). status_if_uniform uses min=max instead,
    // which stays a plain partial aggregate.
    val p = planOf("agg_merge")
    assert("Exchange".r.findAllIn(p).size == 1, s"agg_merge must shuffle once:\n$p")
    assert(p.contains("partial_"), "map-side partial aggregation missing")
  }

  test("fused validate+profile: ONE scan, one partial+final aggregate, no Expand") {
    // the whole point of the fused pass is one pass: a second parquet
    // scan, a second exchange, or a multi-distinct Expand (which
    // re-processes the scanned rows once per distinct group) would
    // silently give back everything the fusion bought
    val p = planOf("fused_verdicts")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"fused pass must scan once:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"fused pass must shuffle once:\n$p")
    assert(p.contains("partial_"), "map-side partial aggregation missing")
    assert(!p.contains("Expand"), s"production fused pass must not Expand:\n$p")
  }

  test("hot-key pre-pass samples before its aggregate (filter under the scan side, one shuffle)") {
    val p = planOf("m_hot_domains")
    assert("Exchange".r.findAllIn(p).size == 1, s"hotKeys must shuffle once:\n$p")
    // the 1/mod systematic sample must run BELOW the partial aggregate
    // (deeper = later in the printed tree), so only sampled rows reach
    // the shuffle
    assert(p.indexOf("% 4") > p.indexOf("partial_count"), s"sample filter not below the agg:\n$p")
  }

  test("dedup arg-max partially aggregates before its shuffle") {
    val p = planOf("dedup_url")
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_max_by")
    assert(partialIdx >= 0, s"partial max_by missing:\n$p")
    assert(exchangeIdx >= 0 && p.indexOf("max_by", exchangeIdx) >= 0)
  }

  test("referential-integrity anti join broadcasts the parent keys") {
    val p = planOf("ri_dangling")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("verdicts_full folds its url checks without a cross join; RI broadcasts") {
    // the url-check grid is the per-part counts left-joined to the
    // valid-row counts: no nested-loop or cartesian grid build
    val p = planOf("verdicts_full")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("""BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], LeftAnti""".r.findFirstIn(p).nonEmpty, p)
  }

  test("non-broadcast RI path pins a shuffled sort-merge anti join (the 100 TB shape)") {
    // broadcastParent=false is the fact-fact path: the plan must be a
    // SortMergeJoin LeftAnti with NO broadcast anywhere — a size
    // misestimate must not flip a 100 TB parent key set onto executors.
    // AQE skew-join (enabled in prod sessions) splits hot partitions of
    // exactly this shape at runtime; SkewBench measures it on a key
    // holding ~10% of all child rows.
    import org.apache.spark.sql.functions._
    val pages = graft.gen.Derive.webPages(spark, sfDir).filter(col("url").isNotNull)
    val lineage = graft.gen.Derive.lineage(spark, sfDir)
    val d = graft.dedup.Dedup.danglingRows(
      pages.select("part", "doc_id", "url"), lineage, "url", broadcastParent = false)
    val p = d.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      s"non-broadcast RI must never broadcast:\n$p")
    // identical findings on both paths
    val bc = graft.dedup.Dedup.danglingRows(
      pages.select("part", "doc_id", "url"), lineage, "url", broadcastParent = true)
    assert(d.collect().map(_.mkString("|")).sorted.toSeq ==
      bc.collect().map(_.mkString("|")).sorted.toSeq)
  }

  test("bucketed validation pass: ALL url-keyed checks in one plan, ZERO exchanges") {
    // the write-once-shuffle layout (Tables.writeBucketed = Iceberg
    // bucket(N, url) twin): uniqueness groupBy + keeper re-attach join,
    // lineage RI anti join, digest-invariant compare join — composed
    // into the single url-violations plan ValidationRun.runBucketed
    // executes — contain not one Exchange node of any kind: the url
    // shuffle was paid once at table-write time.
    import org.apache.spark.sql.functions._
    import graft.checks.{DatasetChecks, Invariants}
    import graft.io.Tables
    val wh = java.nio.file.Files.createTempDirectory("graft-bktplan").toString
    Seq("plan_pages_b", "plan_lineage_b", "plan_digests_b")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val gen = graft.gen.WebGen.pages(spark, 5000, parts = 8)
    Tables.writeBucketed(gen, "plan_pages_b", s"$wh/pages", "url", 8)
    val genValid = gen.filter(col("url").isNotNull && length(col("url")) > 0 &&
      col("url").rlike(graft.constraints.Constraints.UrlPattern))
    Tables.writeBucketed(
      genValid.filter(pmod(xxhash64(col("url")), lit(6)) =!= 5).select("url"),
      "plan_lineage_b", s"$wh/lineage", "url", 8)
    val pages = spark.table("plan_pages_b")
    Tables.writeBucketed(
      Invariants.canonicalDigests(pages).withColumn("run_id", lit("r0")),
      "plan_digests_b", s"$wh/digests", "url", 8)

    val valid = pages.filter(col("url").isNotNull && length(col("url")) > 0 &&
      col("url").rlike(graft.constraints.Constraints.UrlPattern))
    val urlChecks = DatasetChecks.urlViolations(
      valid, spark.table("plan_lineage_b"), mergeJoins = true)
    val prev = spark.table("plan_digests_b")
      .select(col("url"), col("digest").as("digest_prev")).hint("merge")
    val dig = Invariants
      .digestViolationsAgainst(Invariants.canonicalDigests(pages).hint("merge"), prev)
      .select(col("part"), lit(null).cast("long").as("doc_id"), col("url"),
        col("check_name"), col("detail"), col("stage"))
    val pass = urlChecks.unionByName(dig)
    val p = pass.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed validation pass must have ZERO exchanges end-to-end:\n$p")
    assert(p.contains("SortMergeJoin"), s"joins must keep the sort-merge shape:\n$p")
    // zero digest violations against an unmutated store; RI + uniqueness findings exist
    assert(pass.filter(col("check_name") === "text_digest").count() == 0)
    assert(pass.filter(col("check_name") === "url_lineage").count() > 0)
    assert(pass.filter(col("check_name") === "url_unique").count() > 0)
    Seq("plan_pages_b", "plan_lineage_b", "plan_digests_b")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("filters and projection reach the parquet scan (q1)") {
    val p = planOf("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("l_tax"), "unused columns must be pruned from the scan")
  }

  test("brute-force knn broadcasts the query side") {
    val p = planOf("emb_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("top-k collapses to TakeOrderedAndProject (no global sort)") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("emb_neardup is bucket-joined — no cartesian / nested-loop join anywhere") {
    val p = planOf("emb_neardup")
    assert(!p.contains("CartesianProduct"), s"cartesian in near-dup plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in near-dup plan:\n$p")
  }

  test("every suite near-dup/LSH query stays equi-join-only (no all-pairs shapes)") {
    // the default suite contains no all-pairs operator: the exact
    // baselines (ngramJaccardPairs, cosineNearDupPairsExact) are test
    // oracles, and every candidate join here must be a band/bucket-keyed
    // equi join
    for (name <- Seq("sim_minhash_lsh", "sim_simhash_pairs", "emb_neardup",
        "emb_neardup_multi", "emb_ivf_topk", "sim_lsh_budget")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in $name:\n$p")
    }
    assert(!SparkEntry.queries.contains("sim_ngram_pairs"),
      "all-pairs ngram baseline must stay demoted to a test oracle")
  }

  test("every LSH pair plan caps map-side: partial WindowGroupLimit below the exchange") {
    // BucketBudget.cap's row_number<=cap must rewrite to the two-phase
    // WindowGroupLimit (needs windowGroupLimitThreshold >= the cap, set
    // in every session builder): the PARTIAL node runs before the
    // window's exchange, so each map task forwards at most cap rows per
    // (band,bkey) — a degenerate bucket is truncated before it moves,
    // not after it funnels into one window task. sim_lsh_budget's planted
    // boilerplate corpus truncates at cap=2; the other four run at
    // DefaultCap on a corpus with no oversized bucket.
    for (name <- Seq("sim_lsh_budget", "sim_minhash_lsh", "sim_simhash_pairs",
        "emb_neardup", "emb_neardup_multi")) {
      val p = planOf(name)
      assert(p.contains("WindowGroupLimit"), s"$name lost the cap rewrite:\n$p")
      assert(p.contains(", Partial"), s"$name has no MAP-SIDE partial group limit:\n$p")
      // tree prints parent-first: Final above the Exchange above Partial
      val exch = p.indexOf("Exchange")
      assert(exch >= 0 && p.indexOf(", Partial", exch) > exch,
        s"$name: partial group limit must sit BELOW the exchange:\n$p")
    }
    // and the rewrite still fires at DefaultCap (the production cap must
    // stay <= windowGroupLimitThreshold, which session builders raise).
    // Note: the input must have UNKNOWN maxRows (a parquet scan) — on a
    // bounded Range smaller than the cap Spark skips the rewrite as
    // provably useless.
    import org.apache.spark.sql.functions.col
    val toy = graft.sim.BucketBudget.cap(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").as("id"), (col("doc_id") % 2).as("g")),
      Seq("g"), "id", graft.sim.BucketBudget.DefaultCap)
    val tp = toy.queryExecution.executedPlan.toString
    assert(tp.contains("WindowGroupLimit") && tp.contains(", Partial") &&
      tp.contains(graft.sim.BucketBudget.DefaultCap.toString),
      s"group-limit rewrite must fire at DefaultCap:\n$tp")
  }

  test("truncation report partially aggregates before its single key shuffle") {
    // r06: the banded input may carry the unsplittable-input spread (a
    // round-robin exchange below the signature pass); the COUNT
    // aggregate itself must still be one partial+final pair over one
    // hash exchange — and over a scan with a split per core, where the
    // spread is the identity, the whole plan is exactly one exchange
    val p = planOf("sim_lsh_truncation")
    assert(p.contains("partial_count"), s"truncation count must map-side combine:\n$p")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"truncation report is one count aggregate — one key shuffle:\n$p")
    val p0 = atScalePlanOf("sim_lsh_truncation")
    assert("Exchange".r.findAllIn(p0).size == 1,
      s"at-scale truncation report must have exactly one exchange:\n$p0")
  }

  test("drift scans each input side ONCE (no duplicated totals subtree, no cross join)") {
    // the totals used to come from a second reference to the joined
    // frame (agg + crossJoin), which re-planned BOTH histogram pipelines
    // including the parquet scans — a 2x input read at scale; totals are
    // now a window over the tiny post-aggregate frame
    for (name <- Seq("drift_len", "drift_lang")) {
      val p = planOf(name)
      assert("Scan parquet".r.findAllIn(p).size == 2,
        s"$name must scan each histogram side exactly once:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name totals must not cross-join:\n$p")
    }
  }

  test("IVF search broadcasts the probe side; the corpus is never exchanged pre-join") {
    val p = planOf("emb_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), s"IVF probe join must broadcast:\n$p")
    // the only Exchange allowed is the window's shuffle of the SLIM
    // scored rows (query_id, id, cos) after the join — the corpus
    // (id, vector, cell) must reach the join without an exchange
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val corpusSide = p.substring(joinIdx)
    assert(!corpusSide.replaceFirst("BroadcastExchange[\\s\\S]*", "")
      .contains("Exchange "),
      s"corpus side shuffled before the IVF probe join:\n$p")
  }

  test("digest_record is scan-side (no key shuffle, no UDF); only the unsplittable-input spread may exchange") {
    // r06: the one-row-group bench parquet cannot split, so the heavy
    // canonicalization projection is allowed ONE round-robin spread
    // (graft.io.Scan.spread, guide §2.5) — never a key shuffle
    val p = planOf("digest_record")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
    assert(!p.contains("hashpartitioning"), s"record hashing must not key-shuffle:\n$p")
    // at scale (scan splits >= parallelism) the spread is the identity and
    // the plan is a pure scan-side projection
    val p0 = atScalePlanOf("digest_record")
    assert(!p0.contains("Exchange"), s"at-scale record hashing must not shuffle:\n$p0")
  }

  test("signature-only queries spread the unsplittable scan round-robin; at scale they are shuffle-free") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assume(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    for (name <- Seq("sim_minhash_sig", "sim_simhash")) {
      val p = planOf(name)
      assert(p.contains("RoundRobinPartitioning"), s"$name must spread the one-split scan:\n$p")
      assert(!p.contains("hashpartitioning"), s"$name must not key-shuffle:\n$p")
      val p0 = atScalePlanOf(name)
      assert(!p0.contains("Exchange"), s"at-scale $name must be a pure scan-side projection:\n$p0")
    }
  }

  test("curate/invert are single-stage codegen projections (no shuffle)") {
    for (name <- Seq("mut_invert", "mut_curate")) {
      val p = planOf(name)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
    }
  }

  test("s_compare aligns sides with ONE join (pre-aggregated, no per-stratum loop)") {
    val p = planOf("s_compare")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size == 1,
      s"compare must align the two sides with a single join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("every sort-DSL branch collapses to TakeOrderedAndProject (no global sort)") {
    val p = planOf("q_sort_dsl")
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 7, p)
  }
}
