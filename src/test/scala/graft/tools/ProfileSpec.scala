package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry
import graft.jobs.JobCounts
import graft.testutil.SparkTestBase
import graft.util.CacheBag

/** `graft.tools.Profile`: bad input fails before a session starts, and
  * the per-query routine's counts agree with independent recounts. */
class ProfileSpec extends SparkTestBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  test("Profile settings reject unknown query ids and non-positive or non-integer reps") {
    def rejected(args: Seq[String], env: Map[String, String]): String =
      intercept[IllegalArgumentException](Profile.settings(args, env)).getMessage
    assert(rejected(Seq("q01_pip_inventory", "q999_nope"), Map.empty).contains("q999_nope"))
    assert(rejected(Seq.empty, Map.empty).contains("usage"))
    for (bad <- Seq("0", "-1", "x", "1.5"))
      assert(rejected(Seq("q01_pip_inventory"), Map("SPARK_GRAFT_REPS" -> bad)).contains(s"'$bad'"))
    val s = Profile.settings(Seq("q01_pip_inventory"), Map.empty)
    assert((s.reps, s.sf, s.dump("q01_pip_inventory")) ===
      (3, "/root/testdata/sf0.1", "target/qprof/q01_pip_inventory.txt"))
    val tagged = Profile.settings(Seq("q01_pip_inventory"), Map("SPARK_GRAFT_PLAN_TAG" -> "after"))
    assert(tagged.dump("q01_pip_inventory") === "plans/r06/q01_pip_inventory_after.txt")
  }

  test("Profile at sf0.001, 1 rep: exchanges, jobs and rows match independent recounts") {
    val q = "q01_pip_inventory"
    val s = Profile.settings(Seq(q),
      Map("SPARK_GRAFT_REPS" -> "1", "SPARK_GRAFT_SF_DIR" -> sf0001))
    val dump = Paths.get(s"target/qprof/$q.txt")
    Files.deleteIfExists(dump)
    val r = Profile.profile(spark, s, q)

    val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
    val nodes = Aqe.collectWithSubqueries(plan) { case e: Exchange => e.canonicalized }.distinct
    assert(r.exchanges === nodes.size && r.exchanges > 0)
    // the formatted dump names each node twice (tree line + detail header):
    // a text match would double the count
    val text = new String(Files.readAllBytes(dump), "UTF-8")
    assert(text.startsWith("== Physical Plan =="))
    assert("Exchange".r.findAllIn(text).size === 2 * r.exchanges)

    val (df, built) = JobCounts.during(spark)(SparkEntry.queries(q)(spark, sf0001))
    val (rows, one) = JobCounts.during(spark)(df.count())
    CacheBag.release()
    assert(r.constructJobs === Seq(built.jobs) && built.jobs === 0)
    assert(r.counts.map(_.jobs) === Seq(one.jobs))
    assert(r.rows === rows && r.runs.size === 1)
    assert(r.line.matches(s"PROFILE $q construct=\\S+ med=\\S+ runs=\\S+ cjobs=\\d+ jobs=\\d+ stages=\\d+ " +
      "jobSecs=\\S+ rows=\\d+ exchanges=\\d+ hashExchanges=\\d+ nestedLoop=(true|false) codegen=\\d+"),
      r.line)
  }

  test("Profile walks a filled cache's plan: q46's cached ANN result reports its exchanges") {
    // q46 materializes its result at construction, so the plan Profile
    // dumps is an InMemoryTableScan over the cache; the shuffles that
    // filled it live in the cached plan
    val q = "q46_ann_ivf"
    val s = Profile.settings(Seq(q),
      Map("SPARK_GRAFT_REPS" -> "1", "SPARK_GRAFT_SF_DIR" -> sf0001))
    val r = Profile.profile(spark, s, q)
    assert(r.exchanges > 0 && r.hashExchanges > 0, r.line)
    assert(r.constructJobs.forall(_ > 0), r.line)
  }
}
