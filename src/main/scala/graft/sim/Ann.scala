package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path (probe only same-bucket candidates).
  *
  * Scale design: the dot product is a row-local `zip_with` + `aggregate`
  * fold — codegen'd, no UDF. Brute force broadcasts the (small) query
  * set against the corpus: one pass, no shuffle of the corpus. The LSH
  * variant turns top-k into a bucket-keyed equi-join, so the corpus
  * shuffles once by bucket instead of cross-joining.
  */
object Ann {

  /** Cosine similarity of two double arrays — a native codegen Catalyst
    * expression ([[graft.expr.CosineSim]]): one fused loop instead of
    * three interpreted `aggregate` folds (the HOF version is
    * CodegenFallback and was the bench bottleneck). Same summation order,
    * so oracle parity at round(·, 6) is preserved.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expr.VectorExprs.cosineSim(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Rounded cosine with NaN (zero-norm vector) mapped to NULL: a NaN
    * similarity carries no information, but under Spark's ordering NaN
    * is GREATER than every value — an all-zeros embedding would rank
    * first in every top-k and pass every `cos >= threshold` filter.
    * NULL instead ranks last under `desc` (desc_nulls_last default) and
    * three-valued `>=` drops it from threshold filters. Same policy as
    * [[graft.expr.IvfCells]]' NaN-ranks-last probe ordering.
    */
  private def cosScore(a: Column, b: Column): Column = {
    val c = round(cosine(a, b), 6)
    when(!isnan(c), c)
  }

  /** Top-k per query over (query_id, qv, id, cv) candidate rows: the
    * query itself is skipped, every candidate is scored with
    * [[cosScore]], and ranking uses the ROUNDED cosine + id tiebreak so
    * results are stable across engines and runs. The one ranking of
    * [[bruteForceTopK]], [[ivfTopK]] and [[lshTopK]].
    */
  private def topK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    candidates.filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosScore(col("qv"), col("cv")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Brute-force cosine top-k: for each query vector, rank the whole
    * corpus.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("cv"))
    topK(c.crossJoin(broadcast(q)), k)
  }

  /** All near-duplicate pairs with cosine ≥ threshold (exact, all-pairs).
    *
    * TEST ORACLE ONLY: this is a genuine cartesian product — O(n²) rows
    * through the join, the canonical scale-killer. It exists to measure
    * [[lshNearDupPairsMulti]]' recall at tiny scale (AnnRecallSpec); the
    * engine's near-dup entry point is the LSH multi-probe variant.
    */
  def cosineNearDupPairsExact(corpus: DataFrame, idCol: String, vecCol: String,
                              threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    c.as("a").join(c.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        cosScore(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Near-duplicate pairs via MULTI-PROBE random-hyperplane LSH — the
    * scale path. Candidates are pairs whose bucket ids differ in at most
    * ONE plane bit: each row emits `nPlanes` keys, key_j = bucket with
    * bit j masked off, so identical buckets collide on every key and
    * buckets at Hamming distance 1 collide on exactly the masked bit's
    * key. The candidate self-join shuffles only slim (id, probe, key)
    * rows; vectors are re-attached by two id-keyed joins and cosine is
    * verified row-locally. No cartesian anywhere (asserted by PlanSpec).
    *
    * Recall is probabilistic (pairs whose buckets differ in ≥2 planes are
    * missed); the 1-bit probe ring multiplies candidate coverage ~nPlanes×
    * over single-bucket probing at nPlanes× slim-row cost — the standard
    * multi-probe trade. AnnRecallSpec measures recall against the exact
    * baseline.
    *
    * `nTables` OR-composes INDEPENDENT plane sets (table t uses planes
    * t·nPlanes … t·nPlanes+nPlanes−1 via the plane index in
    * [[hyperplaneWeight]]), each probed with the 1-bit Hamming ring; a
    * pair is a candidate if ANY table surfaces it. Misses multiply across
    * tables (p_miss^nTables), which is what buys a recall FLOOR
    * (AnnRecallSpec asserts it) at nTables× slim-row cost — the candidate
    * join stays a (probe, key) equi join, no all-pairs shape anywhere
    * (PlanSpec). `bucketCap` is the hot-bucket candidate budget
    * ([[BucketBudget]]): a degenerate corpus (millions of identical or
    * near-zero vectors in one bucket) cannot go quadratic inside a key.
    */
  def lshNearDupPairsMulti(corpus: DataFrame, idCol: String, vecCol: String,
                           dim: Int, threshold: Double, nPlanes: Int = 8,
                           nTables: Int = 3,
                           bucketCap: Int = BucketBudget.DefaultCap): DataFrame = {
    val c = bucketedIndex(corpus, idCol, vecCol, dim, nPlanes, nTables)
    Sim.verifyPairs(
      BucketBudget.candidatePairs(probeKeys(c, nPlanes, nTables), Seq("probe", "key"), bucketCap),
      c, "v", cosScore, "cos", threshold)
  }

  /** Bucketed index shared by the pair pipeline and its truncation twin:
    * (id, v, bucket_0 … bucket_{nTables-1}), one LshBuckets expression
    * evaluation per row.
    */
  private def bucketedIndex(corpus: DataFrame, idCol: String, vecCol: String,
                            dim: Int, nPlanes: Int, nTables: Int): DataFrame =
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__buckets",
        graft.expr.LshBuckets.lshBuckets(col("v"), dim, nPlanes, nTables))
      .withColumns(Map((0 until nTables).map(t =>
        s"bucket_$t" -> element_at(col("__buckets"), t + 1)): _*))

  /** Multi-probe (probe, key) rows from the bucketed index.
    * explode_outer: plain explode triggers InferFiltersFromGenerate,
    * which inlines the generator (and the lshBucket expression under it)
    * into a pre-Project Filter — the 3×-evaluation trap.
    * probe id = t*nPlanes + j, so keys from different tables never meet.
    */
  private def probeKeys(c: DataFrame, nPlanes: Int, nTables: Int): DataFrame =
    c.select(col("id"),
        explode_outer(array((for (t <- 0 until nTables; j <- 0 until nPlanes) yield {
          struct(lit(t * nPlanes + j).as("probe"),
            col(s"bucket_$t").bitwiseAND(lit(~(1L << j))).as("key"))
        }): _*)).as("pk"))
      .filter(col("pk").isNotNull)
      .select(col("id"), col("pk.probe"), col("pk.key"))

  /** The loud truncation channel for [[lshNearDupPairsMulti]] (same
    * contract as Sim.minhashLshTruncation/simhashTruncation): one row
    * per (probe, key) bucket larger than `bucketCap` — (probe, key, n,
    * dropped). Empty output = the cap was inactive and the pair result
    * equals the uncapped semantics exactly.
    */
  def lshTruncationReport(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nPlanes: Int = 8, nTables: Int = 3,
                          bucketCap: Int = BucketBudget.DefaultCap): DataFrame =
    BucketBudget.truncationReport(
      probeKeys(bucketedIndex(corpus, idCol, vecCol, dim, nPlanes, nTables),
        nPlanes, nTables),
      Seq("probe", "key"), bucketCap)

  /** Deterministic pseudo-random hyperplane weight w(j, d) ∈ [-0.5, 0.5):
    * pure integer arithmetic (no transcendental functions, so every
    * engine computes identical planes).
    */
  def hyperplaneWeight(j: Column, d: Column): Column =
    ((j * 2654435761L + d * 40503L) % 1000003L).cast("double") / 1000003.0 - 0.5

  /** Random-hyperplane LSH bucket id over `nPlanes` planes: bit j set
    * when dot(v, w_j) > 0. Row-local. The dot is rounded before the sign
    * test so a ±1-ulp summation difference can't flip a bucket bit.
    * `planeOffset` selects an independent plane set (multi-table LSH:
    * table t passes t·nPlanes).
    */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 8, planeOffset: Int = 0): Column =
    element_at(graft.expr.LshBuckets.lshBuckets(vec, dim, nPlanes, 1, planeOffset), 1)

  /** The original relational form of [[lshBucket]] (nPlanes interpreted
    * transform/zip_with/aggregate pipelines per row — CodegenFallback) —
    * TEST ORACLE for the [[graft.expr.LshBuckets]] codegen expression,
    * which reproduces its doubles bit-for-bit (same d=1..dim
    * accumulation order, same BigDecimal HALF_UP scale-9 sign test,
    * same null/length-mismatch propagation).
    */
  def lshBucketRelational(vec: Column, dim: Int, nPlanes: Int = 8,
                          planeOffset: Int = 0): Column = {
    val bits = (0 until nPlanes).map { j =>
      val w = transform(sequence(lit(1), lit(dim)),
        d => hyperplaneWeight(lit(planeOffset + j), d))
      val dot = aggregate(zip_with(vec, w, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      when(round(dot, 9) > 0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  // ---------- IVF: the coarse-quantizer cell scale path ----------

  /** Upper bound on the IVF centroid count: the collect below is
    * driver-sized BY CONTRACT (C ≪ n), and this is where the contract
    * fails loud instead of as a driver OOM — 65,536 centroids × a few
    * hundred bytes is comfortably driver/broadcast-sized, while any
    * realistic coarse quantizer sits far below it.
    */
  val MaxCentroids = 65536

  /** Driver-sized centroid set for IVF, taken deterministically from the
    * corpus (`id % stride == 0`). The IVF contract is C ≪ n — centroids
    * are a driver/broadcast-sized object by construction (at production
    * scale they come from a sampled k-means; the engine only needs the
    * final centroid list, however trained). Returned sorted by id so the
    * unrolled expression tree below is deterministic.
    *
    * Misuse guard (same class as Drift's round-4 cardinality guard): the
    * collect is COUNT-LIMITED to [[MaxCentroids]] + 1, so an over-dense
    * stride on a huge corpus costs one bounded fetch and an
    * IllegalArgumentException naming the contract — never a driver OOM.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   stride: Long): Seq[(Long, Array[Double])] = {
    val rows = corpus.filter(col(idCol) % stride === 0)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .limit(MaxCentroids + 1)
      .collect()
    require(rows.length <= MaxCentroids,
      s"IVF centroid contract violated: stride=$stride selects more than " +
        s"$MaxCentroids centroids — centroids must be a driver-sized " +
        "coarse quantizer (C ≪ n); raise the stride or pass a trained " +
        "centroid list")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
  }

  /** IVF cell of a vector: argmax-cosine centroid id (row-local), via
    * the one-pass [[graft.expr.IvfCells]] codegen expression. Cosine is
    * rounded to 6 before any comparison (same discipline as the LSH sign
    * test) so a ±1-ulp summation difference can't flip an argmax, and
    * ties break toward the smaller centroid id.
    */
  def ivfCell(v: Column, centroids: Seq[(Long, Array[Double])]): Column =
    get(graft.expr.IvfCells.ivfCells(v, centroids, 1), lit(0)).as("cell")

  /** The `nprobe` nearest centroid ids of a query vector, best first
    * (row-local one-pass expression). Multi-probe is what recovers
    * recall lost at cell boundaries (the standard IVF trade: candidates
    * scale with nprobe/C, recall approaches exhaustive as nprobe → C).
    */
  def ivfProbeCells(v: Column, centroids: Seq[(Long, Array[Double])],
                    nprobe: Int): Column =
    graft.expr.IvfCells.ivfCells(v, centroids, nprobe)

  /** Unrolled-expression-tree form of [[ivfCell]] (C separate native
    * cosine subtrees through `greatest` — recomputes |v| per centroid
    * and its generated code grows with C) — TEST ORACLE for the
    * [[graft.expr.IvfCells]] one-pass expression, which reproduces its
    * cosines bit-for-bit.
    */
  def ivfCellRelational(v: Column, centroids: Seq[(Long, Array[Double])]): Column = {
    val scored = centroids.map { case (cid, cv) =>
      struct(round(cosine(v, typedLit(cv)), 6).as("cos"), lit(-cid).as("neg_cid"))
    }
    (greatest(scored: _*).getField("neg_cid") * -1).as("cell")
  }

  /** Relational twin of [[ivfProbeCells]] — TEST ORACLE. */
  def ivfProbeCellsRelational(v: Column, centroids: Seq[(Long, Array[Double])],
                              nprobe: Int): Column = {
    val scored = centroids.map { case (cid, cv) =>
      struct((round(cosine(v, typedLit(cv)), 6) * -1).as("neg_cos"), lit(cid).as("cid"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe), s => s.getField("cid"))
  }

  /** IVF top-k: assign the corpus to cells once (row-local argmax), probe
    * each query's `nprobe` nearest cells, brute-force only within probed
    * cells. The probe side is broadcast (queries × nprobe slim rows); the
    * corpus never shuffles — the join is a broadcast hash join on cell,
    * and each corpus row joins at most the queries probing its cell. A
    * corpus vector lives in exactly ONE cell, so no candidate dedup is
    * needed even with nprobe > 1.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              centroids: Seq[(Long, Array[Double])], k: Int, nprobe: Int = 2): DataFrame = {
    require(centroids.size >= 2, "IVF needs at least 2 centroids")
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", ivfCell(col("cv"), centroids))
    val probes = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(ivfProbeCells(col("qv"), centroids, nprobe)))
    topK(c.join(broadcast(probes), Seq("cell")), k)
  }

  /** ANN via LSH buckets: score only candidates in the query's bucket.
    * Returns top-k per query among same-bucket candidates.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, nPlanes: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), dim, nPlanes))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), dim, nPlanes))
    topK(c.join(broadcast(q), Seq("bucket")), k)
  }
}
