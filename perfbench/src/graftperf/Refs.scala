package graftperf

import org.apache.spark.sql.DataFrame

/** Output checks in plain Scala over collected edge lists: nothing here
 * calls `graft.pregel` or plans a Spark query beyond the collect. Vertex
 * ids of the transcript graph are dense (0 until |V|), so vertex state
 * lives in arrays indexed by vid. Each check returns the number of
 * violations (0 = correct). */
object Refs {

  final class Edges(val src: Array[Int], val dst: Array[Int], val weight: Array[Double]) {
    def size: Int = src.length
  }

  /** What the session's checks compare against. */
  final case class Session(pageRank: Array[Double], components: Array[Long],
                           labels: Array[Long], triangles: Array[Long])

  /** Collects (src, dst[, weight]) with every endpoint checked < n. */
  def edges(df: DataFrame, n: Long): Edges = {
    val hasW = df.columns.contains("weight")
    val rows = (if (hasW) df.select("src", "dst", "weight") else df.select("src", "dst")).collect()
    def vid(x: Long): Int = {
      require(x >= 0 && x < n, s"vid $x outside the dense range 0 until $n")
      x.toInt
    }
    new Edges(rows.map(r => vid(r.getLong(0))), rows.map(r => vid(r.getLong(1))),
      if (hasW) rows.map(_.getDouble(2)) else Array.emptyDoubleArray)
  }

  /** (vid, value) rows of an output; None on duplicate or out-of-range ids. */
  private def byVid[T](rows: Array[(Long, T)], n: Long): Option[Map[Long, T]] = {
    val m = rows.toMap
    if (m.size != rows.length || rows.exists { case (v, _) => v < 0 || v >= n }) None
    else Some(m)
  }

  /** Fixed-K PageRank with the engine's semantics: superstep 1 gives every
   * vertex 0.15/N; superstep t > 1 gives 0.15/N + 0.85 * the sum of
   * rank/outdeg over in-edges. Returns rank * N per vid. */
  def pageRank(n: Int, e: Edges, k: Int): Array[Double] = {
    val base = 0.15 / n
    val outdeg = new Array[Int](n)
    e.src.foreach(s => outdeg(s) += 1)
    var value = Array.fill(n)(base)
    for (_ <- 2 to k) {
      val acc = new Array[Double](n)
      var i = 0
      while (i < e.size) { acc(e.dst(i)) += value(e.src(i)) / outdeg(e.src(i)); i += 1 }
      value = acc.map(base + 0.85 * _)
    }
    value.map(_ * n)
  }

  /** Fixed-K synchronous label propagation: superstep 1 labels every
   * vertex with its vid; superstep t > 1 adopts the most frequent label
   * among in-neighbours (ties to the larger label) and keeps its own
   * without messages. */
  def labelPropagation(n: Int, e: Edges, k: Int): Array[Long] = {
    val order = (0 until e.size).sortBy(e.dst(_)).toArray
    var label = Array.tabulate(n)(_.toLong)
    for (_ <- 2 to k) {
      val next = label.clone()
      var i = 0
      while (i < order.length) {
        val d = e.dst(order(i))
        var j = i
        while (j < order.length && e.dst(order(j)) == d) j += 1
        val msgs = (i until j).map(x => label(e.src(order(x)))).sorted
        var best = (0, Long.MinValue)
        var a = 0
        while (a < msgs.length) {
          var b = a
          while (b < msgs.length && msgs(b) == msgs(a)) b += 1
          if (b - a > best._1 || (b - a == best._1 && msgs(a) > best._2)) best = (b - a, msgs(a))
          a = b
        }
        next(d) = best._2
        i = j
      }
      label = next
    }
    label
  }

  /** Per-vertex triangle counts over canonical (src < dst) edges. */
  def triangles(n: Int, canonical: Edges): Array[Long] = {
    val adj = Array.fill(n)(new java.util.HashSet[Int]())
    (0 until canonical.size).foreach { i => adj(canonical.src(i)).add(canonical.dst(i)); adj(canonical.dst(i)).add(canonical.src(i)) }
    val count = new Array[Long](n)
    (0 until canonical.size).foreach { i =>
      val (u, v) = (canonical.src(i), canonical.dst(i))
      val (small, large) = if (adj(u).size <= adj(v).size) (adj(u), adj(v)) else (adj(v), adj(u))
      small.forEach { w =>
        if (w > v && large.contains(w)) { count(u) += 1; count(v) += 1; count(w) += 1 }
      }
    }
    count
  }

  /** Rows whose value differs from `want(vid)`, plus vids missing on
   * either side. Doubles compare as allclose(rtol = atol = tol). */
  def mismatches(got: DataFrame, value: String, want: Array[Double], tol: Double): Long =
    byVid(got.select("vid", value).collect().map(r => r.getLong(0) -> r.getDouble(1)), want.length) match {
      case None => 1L
      case Some(m) => want.indices.count { v =>
        m.get(v.toLong).forall(g => math.abs(g - want(v)) > tol + tol * math.abs(want(v))) }.toLong
    }

  def mismatchesExact(got: DataFrame, value: String, want: Array[Long]): Long =
    byVid(got.select("vid", value).collect().map(r => r.getLong(0) -> r.getLong(1)), want.length) match {
      case None => 1L
      case Some(m) => want.indices.count(v => !m.get(v.toLong).contains(want(v))).toLong
    }

  /** Reached vertices whose distance differs from `want(vid)` exactly,
   * plus output rows for vertices `want` leaves unreached (+Inf). */
  def mismatchesReached(got: DataFrame, value: String, want: Array[Double]): Long =
    byVid(got.select("vid", value).collect().map(r => r.getLong(0) -> r.getDouble(1)), want.length) match {
      case None => 1L
      case Some(m) => want.indices.count { v =>
        if (want(v).isInfinite) m.contains(v.toLong) else !m.get(v.toLong).contains(want(v)) }.toLong
    }

  /** Connected components after K supersteps: superstep 1 labels every
   * vertex with its vid, each later one takes the minimum over itself and
   * its neighbours' labels. Equals the engine's delta propagation, where
   * only changed vertices send, and the fixpoint once K is large enough. */
  def minLabels(n: Int, e: Edges, k: Int): Array[Long] = {
    var label = Array.tabulate(n)(_.toLong)
    for (_ <- 2 to k) {
      val next = label.clone()
      var i = 0
      while (i < e.size) { if (label(e.src(i)) < next(e.dst(i))) next(e.dst(i)) = label(e.src(i)); i += 1 }
      label = next
    }
    label
  }

  /** SSSP after K supersteps, as synchronous Bellman-Ford: superstep 1
   * puts the source at 0, each later one relaxes every edge once with the
   * same double arithmetic as the engine (dist + weight, min). Unreached
   * vertices stay at +Inf. */
  def shortestPaths(n: Int, e: Edges, source: Int, k: Int): Array[Double] = {
    var dist = Array.fill(n)(Double.PositiveInfinity)
    dist(source) = 0.0
    for (_ <- 2 to k) {
      val next = dist.clone()
      var i = 0
      while (i < e.size) {
        val via = dist(e.src(i)) + e.weight(i)
        if (via < next(e.dst(i))) next(e.dst(i)) = via
        i += 1
      }
      dist = next
    }
    dist
  }
}
