package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.Fnv64

/** Cross-run row invariants — the per-row identity contract.
  *
  * The reference's invariant is the content-addressed record hash: any
  * mutation changes identity and is detected on re-hash (reference:
  * src/sssom_pydantic/database/repo.py:204-218 `_mutate` re-hashes, and
  * api.py:883-936 `hash_mapping`). Ours (BASELINE.json::input_hint) is
  * byte-identical extracted `text` per `url`: a digest column stored per
  * run and re-verified against the previous run.
  *
  * Scale design: digests are computed scan-side (codegen'd FNV-64 /
  * built-in hash expressions, no UDF); the comparison is an equi-join on
  * the key — sort-merge at scale, with only (key, 8-byte digest) columns
  * shuffled, never the text itself.
  */
object Invariants {

  /** Reference-faithful digest: FNV-1a 64 over UTF-8 bytes, uppercase hex
    * of little-endian bytes (api.py:926-936).
    */
  def textDigest(c: Column): Column = Fnv64.fnv64Hex(c)

  /** Rows whose digest of `valueCol` differs between two runs, keyed by
    * `keyCols`. Emits key columns + both digests.
    */
  def digestChanged(current: DataFrame, baseline: DataFrame,
                    keyCols: Seq[String], digest: Column): DataFrame = {
    val cur = current.select(keyCols.map(col) :+ digest.as("digest_current"): _*)
    val base = baseline.select(keyCols.map(col) :+ digest.as("digest_baseline"): _*)
    cur.join(base, keyCols, "inner")
      .filter(col("digest_current") =!= col("digest_baseline"))
  }

  /** The cross-run invariant pass: compute FNV-64 digests for the batch,
    * compare against the stored FIRST-SEEN digest per url (a url's digest
    * must NEVER change, so the original is the contract), append the
    * violation rows in the standard shape, and append digests for urls
    * not seen before.
    *
    * Only (url, 16-char digest, part) ever moves through the comparison
    * join — never the text.
    *
    * BOUNDED STORE: the digests table holds exactly ONE row per url —
    * maintained inductively (the initial write is one canonical row per
    * url; every later run appends only urls absent from the store, via a
    * left-anti join that reuses the comparison join's shuffle key). Table
    * size is |distinct urls|, independent of run count; on Iceberg this
    * append-if-absent is `MERGE ... WHEN NOT MATCHED INSERT`. (Round 1
    * appended every run's digests and compared against a distinct() over
    * all history — unbounded growth.)
    *
    * RESUME CORRECTNESS REQUIRES URL-CO-PARTITIONED INPUT (north rule:
    * partition by url-hash, as WebGen does): resumed runs process
    * disjoint table partitions, and the canonical min-digest per url is
    * computed per batch — a url spanning partitions would store
    * conflicting canonical digests across batches and report spurious
    * changes (SURVEY §7.4 "partition must mean the table's partition
    * column" hazard, observable with the doc_id-partitioned Derive table).
    */
  /** One CANONICAL digest row per url (min over duplicates,
    * deterministic): divergent duplicate urls are the uniqueness check's
    * finding, not a digest-invariant break — the invariant is about the
    * url's canonical text changing across runs. Over a url-bucketed scan
    * the groupBy inherits the storage distribution: no exchange.
    */
  def canonicalDigests(batch: DataFrame): DataFrame =
    batch.filter(col("url").isNotNull)
      .select(col("part"), col("url"), textDigest(col("text")).as("digest"))
      .groupBy(col("url"))
      .agg(min(col("part")).as("part"), min(col("digest")).as("digest"))
      .select(col("part"), col("url"), col("digest"))

  /** Digest-invariant violation rows of `cur` against a stored
    * one-row-per-url baseline (standard violation shape, sans run_id).
    */
  def digestViolationsAgainst(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.join(prev, Seq("url"))
      .filter(col("digest") =!= col("digest_prev"))
      .select(col("part"), col("url"),
        lit("text_digest").as("check_name"),
        concat(col("digest_prev"), lit("->"), col("digest")).as("detail"),
        lit("processing").as("stage"))

  /** Compare `batch` against the digest `store`, append the violation
    * rows to the `violations` table, then append the urls the store has
    * not seen. The violations are written BEFORE the new urls: the write
    * itself computes the compare against the store as it was, so
    * nothing has to be cached. A store that does not exist yet is
    * created from the batch, and nothing is appended to `violations` —
    * there is nothing to contradict.
    *
    * The store is either kind of [[graft.io.Tables.Table]]: a bucketed
    * store read by a url-bucketed batch runs the compare join AND the
    * append-if-absent anti join with zero exchanges (both merge-hinted
    * through [[graft.io.Tables.keyJoinSide]]), so the cross-run
    * invariant never re-shuffles the fact table.
    */
  def checkAndStoreDigests(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                           store: graft.io.Tables.Table, violations: graft.io.Tables.Table,
                           runId: String): Unit = {
    import graft.io.Tables
    val cur = canonicalDigests(batch)
    if (!Tables.exists(spark, store)) {
      Tables.append(spark, cur.withColumn("run_id", lit(runId)), store)
      return
    }
    // one row per url by construction — no distinct() over history needed
    val curSide = Tables.keyJoinSide(store, cur)
    val prev = Tables.keyJoinSide(store, Tables.read(spark, store)
      .select(col("url"), col("digest").as("digest_prev")))
    Tables.append(spark, digestViolationsAgainst(curSide, prev)
      .withColumn("run_id", lit(runId)), violations)
    val newUrls = curSide
      .join(Tables.keyJoinSide(store, prev.select(col("url"))), Seq("url"), "left_anti")
    Tables.append(spark,
      newUrls.select(col("part"), col("url"), col("digest"))
        .withColumn("run_id", lit(runId)), store)
  }
}
