package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Driver-contract invariants: the correctness gate compares every
  * `queries` entry against its `oracleSql` twin, and the three query
  * maps merge with `++`, which would SILENTLY shadow a duplicated name —
  * both failure modes are zero-signal at verify time (a missing oracle
  * degrades to rows-only; a shadowed query runs the wrong code under the
  * right name). Building a query's plan starts no Spark job but one
  * bounded IVF centroid collect (`graft.Bench` times construction) and
  * registers no cache.
  */
class ContractSpec extends SparkSpecBase {

  test("every driver query has a DuckDB oracle (no rows-only degradation)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without a query: $orphaned")
  }

  test("contributing query maps are internally consistent and disjoint") {
    val overlap = TrainingQueries.queries.keySet
      .intersect(MappingQueries.queries.keySet)
    assert(overlap.isEmpty,
      s"TrainingQueries and MappingQueries both define: $overlap")
    // each sub-map ships its own oracles — a drifted key pair here would
    // be silently reshuffled by the ++ merge
    assert(TrainingQueries.queries.keySet == TrainingQueries.oracleSql.keySet)
    assert(MappingQueries.queries.keySet == MappingQueries.oracleSql.keySet)
  }

  test("every BucketBudget.cap call site has a truncation channel (no silent caps)") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala/graft")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
    // a capped call is the cap itself or the LSH candidate function,
    // which caps every pair pipeline's keys
    val capRe = "BucketBudget\\.(cap|candidatePairs)\\(".r
    val capSites = sources.filter { case (p, s) =>
      capRe.findFirstIn(s).isDefined &&
        !p.toString.endsWith("BucketBudget.scala")
    }
    assert(capSites.nonEmpty, "expected at least one capped BucketBudget call site")
    // a future capped path must ship its own loud channel: every FILE
    // that caps must also expose a truncationReport-backed surface, and
    // the number of capped calls in it must not exceed the number of
    // truncation surfaces it defines (one twin per capped pipeline)
    capSites.foreach { case (p, s) =>
      val caps = capRe.findAllIn(s).size
      val reports = "BucketBudget\\.truncationReport\\(".r.findAllIn(s).size
      assert(reports >= caps,
        s"$p has $caps capped BucketBudget call(s) but only $reports " +
          "truncationReport surface(s) — a capped pipeline without its " +
          "loud twin truncates silently")
    }
    // and the driver gate keeps at least one ACTIVE-cap budget +
    // truncation oracle pair, so the cap semantics stay engine-checked
    assert(SparkEntry.queries.contains("sim_lsh_budget"))
    assert(SparkEntry.queries.contains("sim_lsh_truncation"))
  }

  test("building every query starts no Spark job and caches nothing") {
    // building a plan starts no Spark job at all: no schema-less
    // spark.read.parquet (Tables.read reads one footer instead) and no
    // eager pre-pass. Every job counts, whatever its name: an AQE stage
    // job is named for CompletableFuture, not for the graft call site.
    // The one job allowed is emb_ivf_topk's IVF centroid collect: the
    // centroids are literals of the cell-assign expression, so they
    // must be on the driver before the plan exists, and the collect is
    // count-limited (Ann.MaxCentroids).
    // Nor does it register a cache: persist() registers with the cache
    // manager when it is called, before any job, and an operator's cache
    // is one that a caller holding only the result cannot release
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.isEmpty, "the session holds a cache before any plan is built")
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(_.name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val caching = try {
      val names = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
        build(spark, "perfbench/data/sf0.001")
        // cleared only on a failure, so that the next offender is named
        // too and no later suite inherits the blocks
        if (cacheManager.isEmpty) None else { cacheManager.clearCache(); Some(name) }
      }
      org.apache.spark.graft.Bus.drain(sc)
      names
    } finally sc.removeSparkListener(listener)
    assert(caching.isEmpty, s"building these entries registered a cache: ${caching.mkString(", ")}")
    val (ivf, other) = jobs.asScala.toSeq
      .partition(_.exists(_.startsWith("collect at Ann.scala")))
    assert(other.isEmpty, s"${other.size} job(s) started while building plans: " +
      other.map(_.mkString(" / ")).mkString(", "))
    assert(ivf.size <= 1, s"${ivf.size} IVF centroid collects, expected at most 1")
  }
}
