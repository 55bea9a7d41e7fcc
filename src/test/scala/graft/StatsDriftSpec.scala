package graft

import org.apache.spark.sql.functions._
import graft.stats.Stats
import graft.drift.Drift

class StatsDriftSpec extends SparkSpecBase {
  import spark.implicits._

  test("log2Bucket is exact at powers of two") {
    val df = Seq(0, 1, 2, 3, 4, 127, 128, 129, 255, 256, 1024).toDF("x")
    val got = df.select(col("x"), Stats.log2Bucket(col("x")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 0L, 1 -> 0L, 2 -> 1L, 3 -> 1L, 4 -> 2L,
      127 -> 6L, 128 -> 7L, 129 -> 7L, 255 -> 7L, 256 -> 8L, 1024 -> 10L))
  }

  test("columnStats: null rate, distinct, min/max per partition") {
    val df = Seq(
      (0, Some("b")), (0, Some("a")), (0, None), (0, Some("a")),
      (1, Some("z"))).toDF("part", "v")
    val got = Stats.columnStats(df, Seq("v"), Stats.Distinct.Exact)
      .collect().map(r => r.getInt(0) ->
        ((r.getDouble(2), r.getLong(3), r.getString(4), r.getString(5), r.getLong(6)))).toMap
    assert(got(0) == ((0.25, 2L, "a", "b", 4L)))
    assert(got(1) == ((0.0, 1L, "z", "z", 1L)))
  }

  test("quantilesChecked: sketch value sits inside the exact rank window (known data)") {
    // part 0: 1..100 — exact quantiles are trivially v = rank
    val df = (1 to 100).map(v => (0, v)).toDF("part", "len")
    val rows = Stats.quantilesChecked(df, col("len"))
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5)))).toMap
    // ranks (q ∓ 0.03)·100, clamped: windows [47,53], [87,93], [96,100]
    assert(rows(0.5) == ((47L, 53L, true, 100L)))
    assert(rows(0.9) == ((87L, 93L, true, 100L)))
    assert(rows(0.99) == ((96L, 100L, true, 100L)))
  }

  test("quantilesChecked passes on the generated corpus; approxQuantiles agrees in count") {
    val wp = graft.gen.Derive.webPages(spark, "/root/testdata/sf0.001")
    val checked = Stats.quantilesChecked(wp, length(col("text"))).collect()
    assert(checked.nonEmpty)
    assert(checked.forall(_.getBoolean(4)), "a sketch value escaped its rank window")
    // production path: one row per part, sketch only
    val prod = Stats.approxQuantiles(wp, length(col("text"))).collect()
    assert(prod.length == checked.length / 3) // 3 probe quantiles per part
  }

  test("KL and PSI are zero for identical distributions") {
    val h = Seq(("en", 10L), ("de", 5L)).toDF("key", "n")
    val r = Drift.klPsi(h, h).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("PSI is symmetric-positive for shifted distributions and smoothing covers missing keys") {
    val p = Seq(("en", 90L), ("de", 10L)).toDF("key", "n")
    val q = Seq(("en", 50L), ("de", 40L), ("fr", 10L)).toDF("key", "n")
    val r = Drift.klPsi(p, q, smoothing = 0.5).head()
    assert(r.getDouble(0) > 0.0 && r.getDouble(1) > 0.0)
    val v = Drift.verdict(p, q, "lang_drift", psiThreshold = 0.01, smoothing = 0.5).head()
    assert(v.getString(0) == "lang_drift" && !v.getBoolean(1))
  }

  test("klPsi matches the per-row-normalized definition (algebraic totals are exact)") {
    // asymmetric supports so smoothing's key union is exercised
    val pCounts = (1 to 40).map(i => s"k$i" -> (i % 7 + 1).toLong).toMap
    val qCounts = (11 to 50).map(i => s"k$i" -> (i % 5 + 3).toLong).toMap
    val got = Drift.klPsi(
      pCounts.toSeq.toDF("key", "n"), qCounts.toSeq.toDF("key", "n"),
      smoothing = 0.5).head()
    // driver-side brute force of the textbook definition
    val keys = pCounts.keySet ++ qCounts.keySet
    val cp = keys.toSeq.map(k => pCounts.getOrElse(k, 0L) + 0.5)
    val cq = keys.toSeq.map(k => qCounts.getOrElse(k, 0L) + 0.5)
    val (tp, tq) = (cp.sum, cq.sum)
    val kl = (cp, cq).zipped.map((a, b) => a / tp * math.log((a / tp) / (b / tq))).sum
    val psi = (cp, cq).zipped.map((a, b) =>
      (a / tp - b / tq) * math.log((a / tp) / (b / tq))).sum
    assert(math.abs(got.getDouble(0) - kl) < 2e-6, s"kl ${got.getDouble(0)} vs $kl")
    assert(math.abs(got.getDouble(1) - psi) < 2e-6, s"psi ${got.getDouble(1)} vs $psi")
  }

  test("klPsi plans with no window stage — unbounded key domains are one ordinary aggregate") {
    // 5000 distinct keys: far beyond the old tiny-cardinality contract
    // that justified a single-partition totals window (round-4 verdict
    // flagged it as the classic scale-killer on an unbounded key domain)
    val p = (1 to 5000).map(i => s"u$i" -> (i % 7 + 1).toLong).toDF("key", "n")
    val q = (1 to 4500).map(i => s"u$i" -> (i % 5 + 1).toLong).toDF("key", "n")
    val res = Drift.klPsi(p, q, smoothing = 0.5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"single-partition totals window reappeared in klPsi:\n$plan")
    val r = res.head()
    assert(r.getDouble(0) > 0.0 && !r.getDouble(1).isNaN)
  }
}
