package graft

import java.nio.file.{Files, Paths}

/** Bench's output contracts: the board's stdout line and the `plans` mode. */
class BenchSpec extends SparkSpec {

  test("bench line: run-order keys, a failed query's escaped error, sf from the last path match") {
    val line = Bench.benchLine(
      Seq("b_query" -> 1.5, "a_query" -> 0.25, "c_broken" -> -1.0),
      scala.collection.mutable.LinkedHashMap(
        "c_broken" -> "bad \"quote\"\nsecond line \\ end"),
      "/x/sf1/sf0.1")
    assert(line ==
      """{"metric":"total","value":1.75,"unit":"sec","timing":"min_of_2",""" +
      """"queries":{"b_query":1.5,"a_query":0.25,"c_broken":-1.0},""" +
      """"errors":{"c_broken":"bad \"quote\" second line \\ end"},""" +
      """"total_s":1.75,"n_queries":3,"n_failed":1,"sf":0.1,"sf_dir":"/x/sf1/sf0.1"}""")
  }

  test("plans mode writes one explain file per selected query and skips one that throws") {
    val src = Paths.get("/root/testdata/sf0.001")
    // the fixture without its events table: a query over events throws
    // while its plan is built
    val sf = Files.createTempDirectory("bench_plans_sf")
    Files.list(src).forEach { p =>
      if (p.getFileName.toString != "events.parquet")
        Files.createSymbolicLink(sf.resolve(p.getFileName), p)
    }
    val out = Files.createTempDirectory("bench_plans").resolve("out")
    Bench.writePlans(spark, sf.toString, out.toString, "_after",
      Some(Set("tpch_q21_waiting", "event_dow_profile", "tpch_q1_pricing")))
    val written = Files.list(out).map(_.getFileName.toString).toArray.toSet
    assert(written == Set("tpch_q21_waiting_after.txt", "tpch_q1_pricing_after.txt"))
    val plan = Files.readString(out.resolve("tpch_q21_waiting_after.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
  }
}
