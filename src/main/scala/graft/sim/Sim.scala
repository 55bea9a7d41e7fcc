package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Near-duplicate detection and similarity search over documents and
  * embeddings: word-shingle Jaccard, MinHash+LSH, SimHash, brute-force
  * cosine top-k, and random-hyperplane LSH bucketing for ANN.
  *
  * Scale design notes per operator:
  *  - Signatures (minhash, simhash bit-sums, LSH buckets) are ROW-LOCAL
  *    array expressions — no explode, no shuffle, pure codegen.
  *  - Candidate generation is a self-equi-join on a band/bucket key (the
  *    LSH trick): the shuffle is keyed by the band, so only plausible
  *    pairs ever meet — the all-pairs cross join never materializes.
  *  - Verification (true Jaccard / cosine) is again row-local on the
  *    joined pair (array_intersect on carried shingle arrays / dot on
  *    carried vectors).
  *  - `ngramJaccardPairs` (inverted-index all-candidate join) is the
  *    exact baseline: it shuffles one row per (doc, shingle) and is the
  *    thing MinHash LSH replaces at 100 TB.
  */
object Sim {

  // ===== shingling =====

  /** Distinct word n-gram shingles from a pre-materialized token array.
    * Guarded for short texts: Spark's `sequence(1, 0)` counts DOWN, so
    * the < n case must short-circuit to an empty array.
    *
    * PERF: `ws` MUST be a plain column attribute, not the tokenization
    * expression — higher-order functions are interpreted (CodegenFallback,
    * no common-subexpression elimination), so an inlined `split+filter`
    * here re-tokenizes the whole text once per `element_at` call,
    * turning shingling from O(len) into O(shingles × len) per row
    * (measured 15s → 0.4s on 5k docs). Use [[shingled]].
    */
  def shinglesOfTokens(ws: Column, n: Int = 3): Column =
    when(size(ws) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** One-expression variant for tests/ad-hoc use (slow path, see above). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(TextOps.tokens(text), n)

  /** (id, shs) projection via the one-pass [[graft.expr.WordShingles]]
    * codegen expression (byte-scan tokenizer + slice-built shingles +
    * first-occurrence dedup — value-identical to the relational
    * tokenize→transform→array_distinct pipeline, which [[shingledRelational]]
    * keeps as the semantic oracle in TextSimSpec).
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // coalesce: the expression is null-intolerant (NULL in -> NULL out),
    // but the relational twin yields an EMPTY array for NULL text
    // (size(null) >= n is null -> otherwise branch) — shingle("") = []
    // keeps the two value-identical on null-text corpora.
    // NOT spread here: callers choose the width — the LSH pair
    // pipelines spread to a quarter of the cores in [[minhashSigBase]],
    // the signature-only queries at their own entry (TrainingQueries)
    docs.select(col(idCol).as("id"),
      graft.expr.WordShingles.wordShingles(coalesce(col(textCol), lit("")), n).as("shs"))

  /** Relational form of [[shingled]] (interpreted HOF lambdas; tokens
    * materialized as an attribute in their own projection step — the
    * multi-referenced alias blocks CollapseProject from inlining
    * tokenization into the shingle lambdas) — TEST ORACLE only.
    */
  def shingledRelational(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ws"))
      .select(col("id"), shinglesOfTokens(col("__ws"), n).as("shs"))

  /** Jaccard of two pre-deduped shingle arrays (row-local). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** 60-bit integer shingle id (first 15 hex digits of md5): the inverted
    * index joins/aggregates on longs instead of strings — same counts,
    * engine-portable (DuckDB mirrors it with positional hex arithmetic),
    * collision odds ~N²/2⁶¹.
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Exact n-gram Jaccard near-dup pairs via a shingle inverted index:
    * explode hashed shingles, self-join on the 64-bit shingle id, count
    * shared shingles per pair, compute jaccard from the counts.
    *
    * TEST ORACLE ONLY (the `cosineNearDupPairsExact` precedent): every
    * co-occurring pair meets in the shingle join — O(pairs) through the
    * shuffle, quadratic on near-duplicate-heavy corpora — so this is NOT
    * a suite entry. It exists to grade [[minhashLshPairs]]' recall at
    * tiny scale (TextSimSpec); the engine's n-gram near-dup entry point
    * is MinHash LSH.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.2): DataFrame = {
    // no cache: an operator owns no cache its caller cannot release, and
    // at a test oracle's tiny scale re-evaluating the shingle pipeline
    // for each join side is affordable
    val sh = shingled(docs, idCol, textCol, n)
      .select(col("id"), array_distinct(transform(col("shs"), shingleHash(_))).as("shs"))
    val sizes = sh.select(col("id"), size(col("shs")).as("sz"))
    // explode_outer: plain explode triggers InferFiltersFromGenerate,
    // which duplicates the (expensive) shingle expression into a pushed
    // Filter — measured 5x the whole stage. Outer + isNotNull keeps the
    // generator evaluated exactly once per row.
    val inv = sh.select(col("id"), explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val inter = inv.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_1").withColumnRenamed("sz", "sz_1"), "id_1")
      .join(sizes.withColumnRenamed("id", "id_2").withColumnRenamed("sz", "sz_2"), "id_2")
      .select(col("id_1"), col("id_2"),
        round(col("inter").cast("double") /
          (col("sz_1") + col("sz_2") - col("inter")).cast("double"), 6).as("jac"))
      .filter(col("jac") >= threshold)
  }

  // ===== MinHash + LSH =====

  /** MinHash signature: k independent hash functions hᵢ(s) = md5("i:"+s),
    * signature element = lexicographic min over the shingle set — a valid
    * uniform minhash, chosen because its min is engine-portable (plain
    * string ordering of hex digests). Row-local; no shuffle.
    *
    * Computed by the one-pass [[graft.expr.MinHashHex]] codegen
    * expression (thread-local digest, no interpreted `transform`
    * lambdas, no k intermediate arrays); the original relational form
    * is kept as the semantic oracle in TextSimSpec. Callers should
    * materialize [[minhashArray]] ONCE in a projection and extract from
    * it — extracting k times from a fresh expression would re-run the
    * pass k times if the optimizer collapsed projections.
    */
  def minhashArray(shs: Column, k: Int = 8): Column =
    graft.expr.MinHashHex.minhashHex(shs, k)

  /** The reference relational form of [[minhashArray]] (k interpreted
    * transform+md5+array_min pipelines) — TEST ORACLE for the codegen
    * expression; not used by the suite.
    */
  def minhashSignatureRelational(shs: Column, k: Int = 8): Seq[Column] =
    (1 to k).map(i =>
      array_min(transform(shs, s => md5(concat(lit(s"$i:"), s)))).as(s"mh_$i"))

  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 8): DataFrame =
    shingled(docs, idCol, textCol, n)
      .select(col("id"), minhashArray(col("shs"), k).as("__mh"))
      .select(col("id") +:
        (1 to k).map(i => element_at(col("__mh"), i).as(s"mh_$i")): _*)

  /** (id, shs, sig) base for the MinHash LSH pipeline: docs with zero
    * shingles (< n tokens) carry NO similarity signal and must not band —
    * their all-null signatures would collapse onto ONE md5("") key per
    * band (concat_ws skips nulls), every such doc pairing with every
    * other, m(m-1)/2 candidates with jaccard 0/0 = NaN, and
    * NaN >= threshold is TRUE under Spark's NaN ordering. The DuckDB
    * oracle's `||` null-propagates its band keys, so dropping them is
    * also what keeps the two engines identical.
    */
  private def minhashSigBase(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, k: Int): DataFrame =
    shingled(graft.io.Scan.spread(docs, math.max(2,
        docs.sparkSession.sparkContext.defaultParallelism / 4)),
      idCol, textCol, n)
      .filter(size(col("shs")) > 0)
      .select(col("id"), col("shs"), minhashArray(col("shs"), k).as("__mh"))
      .select(col("id"), col("shs"), struct(
        (1 to k).map(i => element_at(col("__mh"), i).as(s"mh_$i")): _*).as("sig"))

  /** Slim (id, band, bkey) band table from the sig base: the candidate
    * join + distinct shuffle only these rows — shingle arrays are
    * re-attached afterwards by id-keyed joins, never shuffled through
    * the band join.
    */
  private def minhashBanded(base: DataFrame, k: Int, rows: Int): DataFrame = {
    val nBands = k / rows
    base.select(col("id"),
      explode_outer(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|", (1 to rows).map(r => col(s"sig.mh_${b * rows + r}")): _*)).as("bkey"))
      }: _*)).as("bd"))
      .select(col("id"), col("bd.band"), col("bd.bkey"))
  }

  /** LSH candidate pairs + exact-jaccard verification. Bands of `rows`
    * signature elements; band key = md5 of the concatenation. Pairs
    * agreeing on ≥1 band meet in the band-keyed self-join; the carried
    * shingle arrays verify true Jaccard row-locally.
    *
    * `bucketCap` is the hot-bucket candidate budget ([[BucketBudget]]):
    * at most `cap` members per (band, bkey) enter the self-join, so a
    * boilerplate-degenerate bucket cannot go quadratic. Run
    * [[minhashLshTruncation]] alongside to observe what (if anything)
    * was truncated.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 8, rows: Int = 2,
                      threshold: Double = 0.2,
                      bucketCap: Int = BucketBudget.DefaultCap): DataFrame = {
    require(rows >= 1 && k % rows == 0,
      s"rows ($rows) must divide k ($k): a remainder silently drops " +
        "trailing signature elements, and rows > k bands NOTHING (empty result)")
    val base = minhashSigBase(docs, idCol, textCol, n, k)
    verifyPairs(
      BucketBudget.candidatePairs(minhashBanded(base, k, rows), Seq("band", "bkey"), bucketCap),
      base, "shs", (a, b) => round(jaccard(a, b), 6), "jac", threshold)
  }

  /** The verification step of the slim-key LSH pipelines
    * ([[minhashLshPairs]], Ann.lshNearDupPairsMulti): re-attach
    * `payloadCol` of `payload` to each side of the (id_1, id_2)
    * candidates by two id-keyed joins, score the pair row-locally as
    * `scoreCol` and keep scores >= `threshold`. Callers do not cache
    * `payload`: the two joins already share one exchange of it (AQE
    * plans the second as a ReusedExchange), and a persist inside a
    * single query only adds its own materialization jobs on top.
    */
  private[sim] def verifyPairs(candidates: DataFrame, payload: DataFrame, payloadCol: String,
                               score: (Column, Column) => Column, scoreCol: String,
                               threshold: Double): DataFrame = {
    def side(i: Int) = payload.select(col("id").as(s"id_$i"), col(payloadCol).as(s"${payloadCol}_$i"))
    candidates.join(side(1), "id_1").join(side(2), "id_2")
      .select(col("id_1"), col("id_2"),
        score(col(s"${payloadCol}_1"), col(s"${payloadCol}_2")).as(scoreCol))
      .filter(col(scoreCol) >= threshold)
  }

  /** The loud truncation channel for [[minhashLshPairs]]: one row per
    * (band, bkey) bucket larger than `bucketCap` — (band, bkey, n,
    * dropped). Empty output = the cap was inactive and the pair result
    * equals the uncapped semantics exactly.
    */
  def minhashLshTruncation(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, k: Int = 8, rows: Int = 2,
                           bucketCap: Int = BucketBudget.DefaultCap): DataFrame = {
    require(rows >= 1 && k % rows == 0, s"rows ($rows) must divide k ($k)")
    BucketBudget.truncationReport(
      minhashBanded(minhashSigBase(docs, idCol, textCol, n, k), k, rows),
      Seq("band", "bkey"), bucketCap)
  }

  // ===== SimHash =====

  /** SimHash width and banding: 60-bit hash (15 hex digits of md5 — the
    * widest that stays exact in a signed 64-bit int on BOTH engines and
    * in DuckDB's positional hex arithmetic), 4 bands × 15 bits. By
    * pigeonhole, any pair within Hamming distance 3 agrees on at least
    * one full band — the recall GUARANTEE for hamming ≤ 3 (vs the old
    * 8-bit bands, whose 256 buckets/band made within-bucket candidates
    * grow ~n²/1024: a quadratic scale-killer at 100×).
    */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 15 → 32768 buckets/band

  /** 60-bit token value: first 15 hex digits of md5 as an integer. */
  def simhashTokenValue(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash per document: per bit, sum(+1/-1) over tokens (with
    * repeats), bit set when the sum is positive. Computed by the
    * row-local codegen expression [[graft.expr.SimHash60]] — no explode,
    * no 60-buffer aggregate, no shuffle (measured ~4× on the bench vs
    * the relational form below). Docs with zero tokens are excluded,
    * matching the relational/oracle form where they produce no group.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("id"), graft.expr.SimHash60.simhash60(col("__ws")).as("simhash"))

  /** The relational formulation (explode → 60 per-bit sums → recombine)
    * — kept as the cross-check twin for the expression (TextSimSpec
    * asserts expression ≡ aggregate) and as the shape the DuckDB oracle
    * mirrors.
    */
  def simhashAgg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tv = docs.select(col(idCol).as("id"),
        explode_outer(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("id"), simhashTokenValue(col("tok")).as("v"))
    val sums = (0 until SimhashBits).map(b =>
      sum(shiftright(col("v"), b).bitwiseAND(1) * 2 - 1).as(s"s_$b"))
    val bits = (0 until SimhashBits).map(b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L))
    tv.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by Hamming distance ≤ `maxHamming`, candidates via
    * 15-bit band LSH on the 60-bit simhash: pairs must agree on one of
    * the 4 bands, which pigeonhole-guarantees every pair with
    * hamming ≤ 3 is a candidate (SimhashBands - 1). `bucketCap` bounds
    * candidates per (band, bkey) bucket ([[BucketBudget]]).
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int = SimhashBands - 1,
                   bucketCap: Int = BucketBudget.DefaultCap): DataFrame = {
    // (A spread here would sit ABOVE the SimHash60 projection in `sims`
    // and parallelize nothing — callers wanting the unsplittable-scan
    // mitigation spread their docs BELOW Sim.simhash, as the
    // sim_simhash_pairs entry does.)
    // the 8-byte simhash rides through the candidate join: re-attaching
    // it by id would re-run the SimHash pass
    BucketBudget.candidatePairs(simhashBanded(sims), Seq("band", "bkey"), bucketCap)
      .select(col("id_1"), col("id_2"),
        bit_count(col("simhash_1").bitwiseXOR(col("simhash_2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Shared band-key generation for [[simhashPairs]] and its truncation
    * twin: one (id, simhash, band, bkey) row per band.
    */
  private def simhashBanded(sims: DataFrame): DataFrame = {
    val mask = (1L << SimhashBandBits) - 1
    sims.select(col("id"), col("simhash"),
        explode(array((0 until SimhashBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(mask).as("bkey"))): _*)).as("bd"))
      .select(col("id"), col("simhash"), col("bd.band"), col("bd.bkey"))
  }

  /** The loud truncation channel for [[simhashPairs]]: one row per
    * (band, bkey) bucket larger than `bucketCap` — (band, bkey, n,
    * dropped). Empty output = the cap was inactive and the pair result
    * equals the uncapped semantics exactly.
    */
  def simhashTruncation(sims: DataFrame,
                        bucketCap: Int = BucketBudget.DefaultCap): DataFrame =
    BucketBudget.truncationReport(
      simhashBanded(sims), Seq("band", "bkey"), bucketCap)
}
