package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.operators.GeoQueries
import graft.sources.{Footprints, Pages}
import graft.testutil.SparkTestBase

class SparkEntrySpec extends SparkTestBase {

  test("entry: flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has runnable plan and rows on sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracleSql keys are a subset of queries keys, single-line") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    for ((k, sql) <- SparkEntry.oracleSql) {
      assert(!sql.contains('\n') && !sql.contains('\t'), s"$k sql not single-line")
    }
  }

  test("byte-identical invariant: extract_text(html) == text on derived pages") {
    GraftFunctions.register(spark)
    val pages = Pages.fromDocuments(spark, sf001)
    val bad = pages.filter(extract_text(col("html")) =!= col("text")).count()
    assert(bad === 0)
  }

  test("byte-identical invariant holds on the synthetic generator too") {
    GraftFunctions.register(spark)
    val pages = Pages.synthetic(spark, 2000, 4)
    val bad = pages.filter(extract_text(col("html")) =!= col("text")).count()
    assert(bad === 0)
  }

  test("kNN ring expansion == brute force (sf0.001 and sf0.01)") {
    for (sf <- Seq(sf0001, sf001)) {
      val ring = GeoQueries.knnJoin(spark, sf).collect().map(_.toSeq).toSeq
      val brute = GeoQueries.knnBruteForce(spark, sf).collect().map(_.toSeq).toSeq
      assert(ring === brute, s"at $sf")
    }
  }

  test("salted join result == unsalted result") {
    val salted = GeoQueries.saltedPipJoin(spark, sf001).collect().map(_.toSeq).toSeq
    val plain = GeoQueries.pipJoin(spark, sf001)
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("fp_id")).collect().map(_.toSeq).toSeq
    assert(salted === plain)

    // timeless (widenTime) path over the synthetic frame: every distribution
    // agrees per footprint, and with a brute count over the box rule alone.
    // 10% of the rows sit at (405, -740), on fp0's inclusive ilon1 edge.
    val pages = Pages.synthetic(spark, 20000, 4)
    def perFp(df: DataFrame) = df.select("fp_id", "n_pages").orderBy("fp_id")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val broadcastJoin = perFp(GeoQueries.pipJoinTimelessOn(spark, pages)
      .groupBy(col("fp_id")).agg(count(lit(1)).as("n_pages")))
    val points = pages.select("ilat", "ilon").collect().map(r => (r.getInt(0), r.getInt(1)))
    val brute = Footprints.boxes.map { b =>
      b.fpId -> points.count { case (lat, lon) =>
        b.ilat0 <= lat && lat <= b.ilat1 && b.ilon0 <= lon && lon <= b.ilon1 }.toLong
    }.filter(_._2 > 0).sortBy(_._1)
    assert(brute.toMap.getOrElse(0, 0L) >= 2000, "hot-cell rows missing from fp0")
    assert(broadcastJoin === brute)
    assert(perFp(GeoQueries.partitionedPipOn(spark, pages, widenTime = true)) === brute)
    assert(perFp(GeoQueries.saltedPipJoinOn(spark, pages, widenTime = true)) === brute)
  }

  test("plan shape: q01 uses BroadcastHashJoin (no pages-side shuffle join)") {
    val plan = GeoQueries.pipInventory(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("plan shape: q03 uses SortMergeJoin on the cell key") {
    val plan = GeoQueries.partitionedPip(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("plan shape: q04 keeps the salted join a SortMergeJoin") {
    // without the shuffle_merge hint the 16x-replicated footprint side is
    // small enough to broadcast, which would silently turn q04 into q01
    val plan = GeoQueries.saltedPipJoin(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("plan shape: pages scan prunes columns (no html in q01 scan)") {
    val plan = GeoQueries.pipInventory(spark, sf0001).queryExecution.executedPlan.toString
    // html is only materialized by extraction queries; inventory must not read it
    assert(!plan.contains("html"), "q01 plan reads html column")
  }
}
