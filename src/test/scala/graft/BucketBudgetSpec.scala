package graft

import org.apache.spark.sql.functions._

import graft.sim.{Ann, BucketBudget, Sim}

/** The LSH hot-bucket candidate budget (VERDICT r3 "What's wrong" #1):
  * band/bucket self-joins are equi-joins with no all-pairs SHAPE, but a
  * boilerplate-degenerate corpus (thousands of identical texts in one
  * bucket) is quadratic WITHIN a key. BucketBudget truncates each
  * oversized bucket to its `cap` smallest ids — deterministic,
  * oracle-mirrorable (QUALIFY row_number), loud via truncationReport.
  * This spec plants exactly that pathological corpus and asserts the
  * bound, the loud channel, the deterministic survivor rule, and that
  * an inactive cap is a value-level no-op on normal data.
  */
class BucketBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // 4000 copies of ONE text: every MinHash band has a single bucket
  // holding all 4000 docs -> uncapped candidate cardinality would be
  // 4 bands x C(4000,2) ~ 32M rows. cap=8 bounds it to C(8,2) pairs.
  private lazy val identicalDocs =
    (0 until 4000).map(i => (i.toLong, "the same boilerplate navigation footer text repeated on every single page"))
      .toDF("doc_id", "text")

  test("pathological corpus: capped MinHash LSH emits exactly the C(cap,2) smallest-id pairs") {
    val cap = 8
    val pairs = pairSet(Sim.minhashLshPairs(identicalDocs, "doc_id", "text",
      n = 3, k = 8, rows = 2, threshold = 0.2, bucketCap = cap))
    // every band keeps the SAME 8 smallest ids (ORDER BY id is global),
    // so the distinct pair set is precisely all pairs over ids 0..7
    val want = (for (a <- 0 until cap; b <- a + 1 until cap) yield (a.toLong, b.toLong)).toSet
    assert(pairs === want, s"capped survivors must be the $cap smallest ids")
  }

  test("pathological corpus: truncation channel is loud — one row per oversized bucket") {
    val cap = 8
    val rep = Sim.minhashLshTruncation(identicalDocs, "doc_id", "text",
      n = 3, k = 8, rows = 2, bucketCap = cap)
      .collect().map(r => (r.getAs[Int]("band"), r.getAs[Long]("n"), r.getAs[Long]("dropped")))
    // 4 bands x 1 bucket each, all 4000 members, 3992 dropped
    assert(rep.length == 4, s"expected 4 oversized buckets, got ${rep.toSeq}")
    assert(rep.forall { case (_, n, d) => n == 4000L && d == 4000L - cap },
      s"truncation counts wrong: ${rep.toSeq}")
    assert(rep.map(_._1).sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("inactive cap (default and disabled) is a value-level no-op on normal data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val uncapped = pairSet(Sim.minhashLshPairs(docs, "doc_id", "text",
      3, 8, 2, 0.2, bucketCap = 0)) // <=0 disables entirely
    val default = pairSet(Sim.minhashLshPairs(docs, "doc_id", "text", 3, 8, 2, 0.2))
    assert(default === uncapped,
      "DefaultCap must not change results on non-degenerate data")
    // and the loud channel is empty: nothing was truncated
    assert(Sim.minhashLshTruncation(docs, "doc_id", "text", 3, 8, 2).count() == 0)
  }

  test("simhash pairs: identical texts collapse to bounded pairs under the cap") {
    val sims = Sim.simhash(identicalDocs.limit(1000), "doc_id", "text")
    val cap = 5
    val pairs = pairSet(Sim.simhashPairs(sims, maxHamming = 3, bucketCap = cap))
    // identical simhash -> hamming 0 -> all surviving pairs qualify; every
    // band keeps ids 0..4, so the distinct pair set is C(5,2) = 10
    val want = (for (a <- 0 until cap; b <- a + 1 until cap) yield (a.toLong, b.toLong)).toSet
    assert(pairs === want)
    // uncapped on the same corpus would be C(1000,2) = 499500 — assert the
    // budget actually cut the quadratic blow-up, not just reordered it
    assert(pairs.size == 10)
  }

  test("embedding multi-probe LSH: identical vectors bounded by the cap") {
    val dim = 16
    val v = Array.tabulate(dim)(i => math.sin(i * 0.9 + 0.1).toFloat)
    val e = (0 until 2000).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    val cap = 6
    val pairs = pairSet(Ann.lshNearDupPairsMulti(e, "vec_id", "embedding",
      dim, threshold = 0.99, nPlanes = 8, nTables = 3, bucketCap = cap))
    // identical vectors share every (probe, key); each keeps ids 0..5
    val want = (for (a <- 0 until cap; b <- a + 1 until cap) yield (a.toLong, b.toLong)).toSet
    assert(pairs === want)
  }

  test("recall floor unchanged by the default cap (planted corpus, cap far above bucket sizes)") {
    // the AnnRecallSpec planted corpus shape at reduced size: the default
    // cap must not touch a non-degenerate corpus' recall
    val dim = 64
    def gauss(seed: Long): Array[Float] = {
      val rnd = new java.util.Random(seed)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val rows = (0 until 40).flatMap { k =>
      val b = gauss(k); val nz = gauss(k + 100000)
      Seq((2L * k, b), (2L * k + 1, Array.tabulate(dim)(d => b(d) + 0.25f * nz(d))))
    }
    val e = rows.toDF("vec_id", "embedding")
    val capped = pairSet(Ann.lshNearDupPairsMulti(e, "vec_id", "embedding", dim, 0.85))
    val uncapped = pairSet(Ann.lshNearDupPairsMulti(e, "vec_id", "embedding", dim, 0.85,
      bucketCap = 0))
    assert(capped === uncapped, "default cap must be invisible on normal corpora")
  }

  test("BucketBudget.cap keeps the cap smallest ids per group; truncationReport counts the rest") {
    val df = Seq(
      ("g1", 5L), ("g1", 1L), ("g1", 9L), ("g1", 3L),
      ("g2", 7L), ("g2", 2L),
      ("g3", 4L)).toDF("k", "id")
    val kept = BucketBudget.cap(df, Seq("k"), "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept === Set(("g1", 1L), ("g1", 3L), ("g2", 7L), ("g2", 2L), ("g3", 4L)))
    val rep = BucketBudget.truncationReport(df, Seq("k"), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rep.toSeq == Seq(("g1", 4L, 2L)))
    // no group over the cap: the unconditional window keeps every row
    val healthy = Seq(("g1", 5L), ("g1", 1L), ("g2", 7L)).toDF("k", "id")
    assert(BucketBudget.cap(healthy, Seq("k"), "id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("g1", 5L), ("g1", 1L), ("g2", 7L)))
    // candidatePairs self-joins the capped groups: ids 1 and 3 also share
    // g4 (listed 3 first), and g2 lists 7 before 2 — each pair comes out
    // once, always with id_1 < id_2, and the payload rides as p_1 / p_2
    val keys = df.union(Seq(("g4", 3L), ("g4", 1L)).toDF("k", "id"))
      .withColumn("p", col("id") * 10)
    val pairs = BucketBudget.candidatePairs(keys, Seq("k"), 2)
    assert(pairs.columns.toSeq == Seq("id_1", "id_2", "p_1", "p_2"))
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq == Seq((1L, 3L, 10L, 30L), (2L, 7L, 20L, 70L)))
  }
}
