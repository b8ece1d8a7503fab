package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract sanity: the queries/oracle maps must stay consistent —
  * a typo'd oracle key would silently orphan the oracle and weaken the
  * correctness gate.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle key names an existing query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle SQL strings are non-trivial") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.toUpperCase.startsWith("SELECT") || sql.trim.toUpperCase.startsWith("WITH"),
        s"$k oracle does not look like SQL")
      assert(sql.length > 30, s"$k oracle suspiciously short")
    }
  }

  test("query names are stable kebab/snake identifiers") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("[a-z0-9_]+"), s"query name '$k' not snake_case")
    }
  }

  test("split-countDistinct rewrites keep a NULL l_returnflag group, with no Expand and a broadcast join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullflag").toString
    Seq[(String, Long, Long)](
      ("A", 1L, 10L), ("A", 2L, 10L), ("N", 1L, 11L), ("R", 3L, 12L),
      (null, 4L, 13L), (null, 4L, 14L), (null, 5L, 13L))
      .toDF("l_returnflag", "l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val plans = new AdaptiveSparkPlanHelper {}
    Seq("q_distinct_count" -> Seq("n_orders", "n_parts"),
        "q_approx_distinct_gate" -> Seq("exact_orders", "exact_parts")).foreach {
      case (q, Seq(orders, parts)) =>
        val df = SparkEntry.queries(q)(spark, dir)
        val rows = df.collect().map(r =>
          Option(r.getAs[String]("l_returnflag")) ->
            (r.getAs[Long](orders), r.getAs[Long](parts))).toMap
        assert(rows == Map(
          Some("A") -> (2L, 1L), Some("N") -> (1L, 1L), Some("R") -> (1L, 1L),
          None -> (2L, 2L)), s"$q: $rows")
        val plan = df.queryExecution.executedPlan
        assert(plans.collect(plan) { case e: ExpandExec => e }.isEmpty, s"$q:\n$plan")
        assert(plans.collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty, s"$q:\n$plan")
      case _ => ()
    }
  }

  test("non-oracled queries are the documented hash/approximate set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val expected = Set(
      "q_extract_pipeline", "q_extract_summary", // pipeline itself: golden fixtures gate it
      "q_garbled_signal", "q_postprocess_chain", // kernel dumps: unit suites gate them
      "q_ann_lsh", "q_ann_ivf", // approximate search
      "q_approx_distinct" // sketch estimates engine-specific
    )
    assert(rowsOnly == expected, s"unexpected rows-only set: ${rowsOnly -- expected} / missing: ${expected -- rowsOnly}")
  }
}
