package graft

import org.apache.spark.sql.functions._

/** Smoke + invariant checks over every registered query at sf0.001. The
  * exact-value gate is the DuckDB differential (graft.Verify +
  * tools/verify_local.py); these tests pin cheap invariants so `sbt test`
  * catches regressions without the oracle. */
class QueriesSpec extends SparkSpec {

  test("every registered query runs and returns rows at sf0.001") {
    QueryPass.outcomes(spark, sfDir).foreach { o =>
      val n = o.rows.get
      assert(n > 0, s"${o.name} returned 0 rows")
    }
  }

  test("every query has an oracle (or is explicitly rows-only)") {
    // rows-only: DuckDB has no xxhash64, so LSH signatures can't be
    // mirrored in SQL; correctness is pinned by TextVectorSpec instead.
    val rowsOnly = Set("q_ann_lsh")
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("histogram percentages sum to ~100") {
    val pctSum = operators.Checks.categoryHistogram(spark, sfDir)
      .agg(sum("pct")).head.getDouble(0)
    assert(math.abs(pctSum - 100.0) < 0.1)
  }

  test("geoCube: ROLLUP subtotals reconcile level by level") {
    val rows = operators.Checks.geoCube(spark, sfDir).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet == Set(0L, 1L, 3L)) // detail, region, grand
    def totals(gid: Long) =
      byGid(gid).map(_.getAs[Long]("n_customers")).sum
    // every level covers the same population; the grand row is one row
    assert(totals(0L) == totals(1L) && totals(1L) == totals(3L))
    assert(byGid(3L).length == 1)
    assert(totals(3L) == Tables.customer(spark, sfDir).count())
    // each region subtotal equals the sum of its detail rows
    val detailByRegion = byGid(0L).groupBy(_.getAs[String]("r_name"))
    byGid(1L).foreach { r =>
      val region = r.getAs[String]("r_name")
      assert(r.getAs[Long]("n_customers") ==
        detailByRegion(region).map(_.getAs[Long]("n_customers")).sum, region)
    }
  }

  test("recent_activity arms are monotonically inclusive") {
    val rows = operators.GoldViews.recentActivity(spark, sfDir)
      .orderBy("period_order").collect()
    assert(rows.length == 3)
    val counts = rows.map(_.getAs[Long]("n_events"))
    assert(counts(0) <= counts(1) && counts(1) <= counts(2))
  }

  test("provider_performance median is an actual element (discrete)") {
    val df = operators.GoldViews.providerPerformance(spark, sfDir)
    val medians = df.select("median_amount").collect().map(_.getDouble(0))
    val li = Tables.lineitem(spark, sfDir)
      .select("l_extendedprice").collect().map(_.getDouble(0)).toSet
    medians.foreach(m => assert(li.contains(m), s"median $m not in data"))
  }

  test("top_members is deterministic top-5") {
    val got = operators.Checks.topMembers(spark, sfDir).collect()
    assert(got.length == 5)
    val ns = got.map(_.getAs[Long]("n_claims"))
    assert(ns.sameElements(ns.sorted.reverse))
  }
}
