package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.EngineScope

/**
 * Triangle counting — north-rule addition (absent from the reference,
 * whose algorithm library is PR/SSSP/CC/LPA/MIS/MM/SA:
 * /root/reference/src/examples/hybridgraph/examples/driver/
 * ExampleDriver.java:26-62). Pure DataFrame two-join plan.
 *
 * Scale design: edges are ORIENTED from the lower (degree, vid) endpoint
 * to the higher ("compact-forward" / degree ordering). Every vertex's
 * oriented out-degree is O(sqrt(m)) amortized, so the wedge join output
 * is bounded by O(m^1.5) with no single hot key even when the underlying
 * graph has high-degree hubs (our tool hubs). The joins are plain
 * equi-joins, so Catalyst picks sort-merge/shuffle-hash and pushes the
 * dedup upstream.
 *
 * Regime: the plan is built in an [[EngineScope]] — AQE off, every
 * exchange at the adaptive width p = min(caller's shuffle width,
 * ceil(|canonical| / EngineScope.DefaultRowsPerPartition)). The degree
 * orientation already removes the hot keys AQE's skew join would split,
 * and under AQE a small graph's plan fanned out into 18-21 concurrent
 * stage jobs where the fixed-width plan runs 5 (7.8k vertices, 20k edges,
 * 4 cores: 5.3 s vs 1.1-1.8 s). The result is a lazy DataFrame of that
 * scope.
 */
object TriangleCount {

  /** The scope a triangle plan over `canonical` runs in (counts
   * `canonical`; a cached relation makes that a cache scan). */
  private[algos] def scopeOf(canonical: DataFrame): EngineScope = {
    val cap = canonical.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    EngineScope(canonical.sparkSession,
      EngineScope.width(canonical.count(), cap, EngineScope.DefaultRowsPerPartition))
  }

  /** Per-vertex triangle counts over `canonical` already bound to its scope. */
  private[algos] def counts(canonical: DataFrame): DataFrame = {
    val deg = canonical.select(col("src").as("v"))
      .unionByName(canonical.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

    // rank-orient: (u,v) with (deg_u, u) < (deg_v, v)
    val e = canonical
      .join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "dsrc"), "src")
      .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "ddst"), "dst")
      .select(
        when(col("dsrc") < col("ddst") || (col("dsrc") === col("ddst") && col("src") < col("dst")), col("src"))
          .otherwise(col("dst")).as("u"),
        when(col("dsrc") < col("ddst") || (col("dsrc") === col("ddst") && col("src") < col("dst")), col("dst"))
          .otherwise(col("src")).as("w"))

    // wedges centered at a: (a->b, a->c) with b<c so each unordered pair
    // appears once; every triangle has exactly one center (its min-rank
    // vertex), so no post-dedup is needed. Closure = undirected edge {b,c}
    // exists: b < c, so it is the canonical row (src = b, dst = c).
    val e1 = e.select(col("u").as("a"), col("w").as("b"))
    val e2 = e.select(col("u").as("a"), col("w").as("c"))
    e1.join(e2, "a").filter(col("b") < col("c"))
      .join(canonical, col("b") === col("src") && col("c") === col("dst"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("triangles"))
  }

  /** @param canonical distinct undirected edges with src < dst */
  def perVertex(canonical: DataFrame): DataFrame = counts(scopeOf(canonical)(canonical))

  /** Global triangle count (one row). */
  def global(canonical: DataFrame): DataFrame =
    perVertex(canonical).agg((sum(col("triangles")) / 3).cast("long").as("triangles"))

  /** Per-vertex count over all vertices (0 for triangle-free vertices). */
  def perVertexAll(canonical: DataFrame, vertices: DataFrame): DataFrame = {
    val scope = scopeOf(canonical)
    scope(vertices).select("vid").join(counts(scope(canonical)), Seq("vid"), "left_outer")
      .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** DuckDB oracle CTEs: naive 3-way join on canonical edges (same result
   * set as the oriented plan). Require a preceding `cedges` CTE. */
  val trisCteSql: String =
    """tris AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM cedges e1
      |  JOIN cedges e2 ON e1.dst = e2.src
      |  JOIN cedges e3 ON e3.src = e1.src AND e3.dst = e2.dst
      |)""".stripMargin

  val tcountsCteSql: String =
    """tcounts AS (
      |  SELECT vid, CAST(count(*) AS BIGINT) AS triangles FROM (
      |    SELECT a AS vid FROM tris UNION ALL
      |    SELECT b AS vid FROM tris UNION ALL
      |    SELECT c AS vid FROM tris
      |  ) GROUP BY vid
      |)""".stripMargin
}
