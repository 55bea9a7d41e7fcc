package graft

import org.apache.spark.sql.DataFrame

import graft.constraints.Constraints
import graft.gen.Derive
import graft.runner.{Profile, Runner}
import graft.stats.Stats

/** The fused validate+profile pass must be ROW-IDENTICAL to the
  * stand-alone operators it fuses — not approximately equal: the HLL++
  * sketch is merge-order-insensitive (register-max), so even the
  * approximate distinct counts must agree bit-for-bit on the same data.
  * This is the relational-twin guarantee that lets `fused_verdicts` /
  * `fused_stats` share the `verdicts` / `m_stats` DuckDB oracles.
  */
class ProfileSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private val cols = Seq("url", "lang")

  private def dump(df: DataFrame): (String, Seq[String]) =
    (df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
      df.collect().map(_.mkString("|")).sorted.toSeq)

  test("fused verdict half ≡ Runner.verdicts (schema + rows)") {
    val wp = Derive.webPages(spark, dir)
    val agg = Profile.fusedAggregate(wp, Constraints.webtextSuite, cols)
    val fused = dump(Runner.verdictRowsFromAgg(agg, Constraints.webtextSuite.map(_.name)))
    val solo = dump(Runner.verdicts(wp, Constraints.webtextSuite))
    assert(fused._1 == solo._1, "schema drift between fused and solo verdicts")
    assert(fused._2 == solo._2, "row drift between fused and solo verdicts")
    assert(fused._2.nonEmpty)
  }

  test("fused stats half ≡ Stats.columnStats (schema + rows, HLL++ included)") {
    val wp = Derive.webPages(spark, dir)
    val agg = Profile.fusedAggregate(wp, Constraints.webtextSuite, cols)
    val fused = dump(Stats.statRows(agg, cols, Stats.Distinct.Sketch))
    val solo = dump(Stats.columnStats(wp, cols))
    assert(fused._1 == solo._1, "schema drift between fused and solo stats")
    assert(fused._2 == solo._2, "row drift between fused and solo stats")
    assert(fused._2.nonEmpty)
  }

  test("fused checked stats half ≡ Stats.columnStats with Distinct.Checked") {
    val wp = Derive.webPages(spark, dir)
    val agg = Profile.fusedAggregate(wp, Constraints.webtextSuite, cols, Stats.Distinct.Checked)
    val fused = dump(Stats.statRows(agg, cols, Stats.Distinct.Checked))
    val solo = dump(Stats.columnStats(wp, cols, Stats.Distinct.Checked))
    assert(fused._1 == solo._1, "schema drift between fused and solo checked stats")
    assert(fused._2 == solo._2, "row drift between fused and solo checked stats")
    assert(fused._2.nonEmpty)
  }
}
