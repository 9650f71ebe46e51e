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

  test("plans mode writes run-stable text: two runs give byte-identical files") {
    // rows whose plans carry every run-dependent name: exchange plan ids
    // and expression ids (all), an Observation (j1_enrich_receipts), a
    // temp dir made while the frame is built (k6_manifest_prune,
    // k7_bloom_point_lookup), the part files a manifest lists and pinned
    // scans (graph_pagerank)
    val rows = Set("j1_enrich_receipts", "k6_manifest_prune", "k7_bloom_point_lookup",
      "graph_pagerank")
    val root = Files.createTempDirectory("bench_stable")
    def run(name: String): Map[String, String] = {
      Bench.writePlans(spark, "/root/testdata/sf0.001", root.resolve(name).toString,
        "", Some(rows))
      Files.list(root.resolve(name)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.getFileName.toString -> Files.readString(p)).toMap
    }
    val (a, b) = (run("a"), run("b"))
    assert(a.keySet == rows.map(_ + ".txt"))
    assert(a == b)
    val all = a.values.mkString
    Seq("#0", "plan_id=0", "uuid-0", "tmp-0", "part-", "RDD[0]")
      .foreach(t => assert(all.contains(t), t))
  }

  test("stablePlan renumbers each run-dependent name in first-appearance order") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")).toString
    val plan =
      s"""x#17L, y#4, x#17L [plan_id=905] [plan_id=3] MapPartitionsRDD[5502] at localCheckpoint
         |Location: [file:$tmp/graft_pipe5k8231911123401239912/block, $tmp/keep/00000000-00000999]
         |part-00001-0b5e7c1a-3a9d-4d0e-9d4c-5f1e2a3b4c5d-c000.snappy.parquet
         |CollectMetrics 9f1c2d3e-1a2b-4c3d-8e4f-0a1b2c3d4e5f, 0b5e7c1a-3a9d-4d0e-9d4c-5f1e2a3b4c5d""".stripMargin +
      "\nMapElements graft.llm.Multimodal$$$Lambda$7596/0x00007fc5bdb53478@2e19d196, " +
      "graft.queries.LlmQueries$$$Lambda/0x00007fc5bdb4dcb0@1403b7b4, " +
      "graft.llm.Multimodal$$$Lambda$7596/0x00007fc5bdb53478@2e19d196"
    assert(Bench.stablePlan(plan) ==
      s"""x#0L, y#1, x#0L [plan_id=0] [plan_id=1] MapPartitionsRDD[0] at localCheckpoint
         |Location: [file:$tmp/graft_pipe5ktmp-0/block, $tmp/keep/00000000-00000999]
         |part-00001-uuid-0-c000.snappy.parquet
         |CollectMetrics uuid-1, uuid-0""".stripMargin +
      "\nMapElements graft.llm.Multimodal$$$Lambda-0, " +
      "graft.queries.LlmQueries$$$Lambda-1, graft.llm.Multimodal$$$Lambda-0")
  }
}
