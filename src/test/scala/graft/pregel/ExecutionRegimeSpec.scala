package graft.pregel

import org.apache.spark.graftx.ExecutionCapture
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.RefOracle
import graft.algos.{ConnectedComponents, TriangleCount}
import graft.graph.LinkGraph

/** Layout and regime facts of the engine scope, checked on the plans and
 * jobs Spark actually ran: on a 4-partition session with an edge target
 * that gives p = 2, setup and supersteps run AQE-off at width 2, the
 * packed adjacency and the first state checkpoint have exactly 2 RDD
 * partitions, and the triangle plan's every exchange has width 2 (its
 * target is the engine default, so its input is sized for p = 2). */
class ExecutionRegimeSpec extends graft.SparkTestBase {

  private val p = 2
  private val (vids, directed) = RefOracle.randomGraph(40, 120, 5L)
  private val sym = (directed ++ directed.map(_.swap)).distinct

  test("kernel setup and supersteps run AQE-off at width p; packed adjacency and first state have p partitions") {
    // a lazy derivation with an exchange: the staging count plans it
    // under the caller's regime (adaptive), everything after in the scope
    val edges = edgeDF(sym ++ sym).distinct()
    val cfg = PregelConfig(numPartitions = 4, targetEdgesPerPartition = (sym.size + 1L) / 2)
    val ((_, metrics), execs) = ExecutionCapture.capture(spark.sparkContext) {
      new Pregel(spark, cfg).run(new ConnectedComponents(6), vertDF(vids.size.toLong), edges)
    }
    assert(metrics.nonEmpty)
    val staging = execs.head
    assert(staging.plan.contains("InMemoryRelation") && staging.nodeNames.head == "AdaptiveSparkPlan",
      s"first execution is not the caller-regime staging:\n${staging.plan}")
    val scoped = execs.tail
    assert(scoped.nonEmpty)
    for (e <- scoped)
      assert(!e.nodeNames.contains("AdaptiveSparkPlan"), s"execution ${e.id} planned adaptively:\n${e.plan}")
    val packing = scoped.filter(_.plan.contains("collect_list"))
    assert(packing.size == 1, s"expected one packing execution, got ${packing.size}")
    assert(packing.head.resultTasks.lastOption.contains(p),
      s"packed adjacency has ${packing.head.resultTasks} partitions, not $p")
    val firstState = scoped.find(_.plan.contains("CollectMetrics"))
    assert(firstState.isDefined, "no superstep checkpoint execution captured")
    assert(firstState.get.resultTasks.lastOption.contains(p),
      s"first state checkpoint has ${firstState.get.resultTasks} partitions, not $p")
  }

  test("perVertexAll plans AQE-off with every exchange at width p") {
    // a triangle strip, (i, i+1) and (i, i+2): 40000 canonical rows give
    // p = ceil(40000 / 32768) = 2 under the session's width 4, and each
    // triple {i, i+1, i+2} with i < n - 1 is a triangle
    val n = 20000L
    val strip = spark.range(n).selectExpr("id AS src", "id + 1 AS dst")
      .union(spark.range(n).selectExpr("id AS src", "id + 2 AS dst"))
    val canonical = LinkGraph.canonical(strip).cache()
    try {
      assert(canonical.count() == 2 * n)
      val tri = TriangleCount.perVertexAll(canonical, spark.range(n + 2).toDF("vid"))
      val plan = tri.queryExecution.executedPlan
      // collect stays in this plan's tree: a cached input's own (caller-
      // regime) plan sits behind its InMemoryTableScan, not in it
      assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, plan.toString)
      val widths = plan.collect { case s: ShuffleExchangeExec => s.numPartitions }
      assert(widths.nonEmpty && widths.forall(_ == p), s"exchange widths $widths, expected all $p:\n$plan")
      val total = tri.agg(org.apache.spark.sql.functions.sum("triangles")).head().getLong(0)
      assert(total == 3 * (n - 1))
    } finally canonical.unpersist(blocking = true)
  }
}
