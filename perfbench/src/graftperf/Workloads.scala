package graftperf

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, SSSP, TriangleCount}
import graft.graph.{LinkGraph, Transcripts}
import graft.pregel.{Pregel, PregelConfig, SuperstepMetrics, VertexProgram}

/** One Pregel.run call as the benchmark saw it. */
final case class CallRecord(seconds: Double, steps: Seq[SuperstepMetrics], tasks: Option[TaskAgg])

/** Everything one operation (one workload run) recorded. */
final class OpRecord(val traced: Boolean, val run: Int) {
  var seconds = 0.0
  var edgeSteps = 0L
  var retainedMb = 0.0
  val calls = ArrayBuffer[CallRecord]()
  val scoped = mutable.Map[String, TaskAgg]()
  val gauges = mutable.Map[String, Double]()
}

/** Shared machinery: the session, the tracer and the task listener, plus
 * the bookkeeping of what the current operation holds in storage. */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  val tasks = new ScopedTaskStats(spark.sparkContext)
  private val held = ArrayBuffer[DataFrame]()

  /** Block-manager bytes (memory + disk) of every persisted RDD, in MB. */
  def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Registers a relation the current operation pinned (a cache or a
   * result holding local checkpoints); [[releaseAll]] drops it. */
  def hold(df: DataFrame): DataFrame = { held += df; df }

  def releaseAll(): Unit = {
    held.foreach { df =>
      df.unpersist(blocking = true)
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
        case _ => ()
      }
    }
    held.clear()
  }

  /** Runs `body` under the scoped task listener when `rec` is traced. */
  def scoped[T](rec: OpRecord)(body: => T): (T, Option[TaskAgg]) =
    if (rec.traced) { val (v, a) = tasks.scoped(body); (v, Some(a)) } else (body, None)

  /** One kernel call: times it, keeps its superstep metrics and (traced)
   * its task totals, and counts input edges x supersteps. */
  def pregel(rec: OpRecord, cfg: PregelConfig, program: VertexProgram,
             verts: DataFrame, edges: DataFrame, edgeCount: Long): DataFrame = {
    val t0 = System.nanoTime()
    val ((state, steps), agg) = scoped(rec) {
      tracer("pregel.run")(new Pregel(spark, cfg).run(program, verts, edges))
    }
    rec.calls += CallRecord((System.nanoTime() - t0) / 1e9, steps, agg)
    rec.edgeSteps += edgeCount * steps.size
    hold(state)
  }

  /** Forces every row of `df` through its full plan without collecting. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Mechanism thresholds of the engine's defaults, mirrored here so the
 * fingerprint reads the same whatever a later change does to them. */
object Fingerprint {
  val FusionFloor: Long = 1L << 20
  val SaltMinDeg: Long = 1L << 16
  val TargetEdgesPerPartition: Long = 32768L
  val Width = 32

  def apply(name: String, verts: Long, edges: Refs.Edges): Obj = {
    val e = edges.size.toLong
    val outdeg = new Array[Int](verts.toInt)
    edges.src.foreach(s => outdeg(s) += 1)
    val maxOut = if (outdeg.isEmpty) 0L else outdeg.max.toLong
    val p = math.min(Width.toLong, math.max(1L, (e + TargetEdgesPerPartition - 1) / TargetEdgesPerPartition))
    val hubCut = math.max(SaltMinDeg, 2L * e / p)
    Obj("graph" -> name, "vertices" -> verts, "edges" -> e, "max_out_degree" -> maxOut,
      "partitions" -> p, "fusion_floor" -> FusionFloor, "crosses_fusion_floor" -> (e >= FusionFloor),
      "hub_cut" -> hubCut, "crosses_hub_cut" -> (maxOut >= hubCut))
  }
}

/** Synthetic input size: conversations and turns per conversation. */
final case class Size(convs: Long, turns: Int)

/** A workload: inputs made once from the seed, then a closed loop of
 * operations, each checked against a reference outside its timing. */
trait Workload {
  /** Generates the inputs from the seed and writes them under `dir`. */
  def prepare(dir: String): Unit
  /** |V|, |E|, max out-degree and the mechanisms they cross, per graph;
   * known once the references are built. */
  def fingerprints: Seq[Obj]
  /** Builds whatever the checks compare against, before the first run. */
  def buildReferences(): Unit
  /** The timed operation; returns the outputs to check. */
  def run(rec: OpRecord): Map[String, DataFrame]
  /** Violations found in one operation's outputs (0 = correct). */
  def check(out: Map[String, DataFrame]): Long
}

object Workload {
  /** Every kernel call runs a fixed number of supersteps, so a run's
   * work does not depend on the seed: the caps on CC and SSSP bind below
   * their convergence depth on these graphs (15-25 supersteps, varying
   * with the seed), and the checks compare against the same fixed-K
   * iteration. The session's queries are short. */
  val PrIters = 5
  val CcIters = 10
  val LpaIters = 3
  val SsspCap = 10
  val SsspSource = 0L
  val PrTol = 1e-6
  /** Parquet files per input table: a small table is a few files. */
  val InputFiles = 4

  /** The engine's default width, 32 partitions. */
  def kernelConfig: PregelConfig = PregelConfig(numPartitions = 32)
  /** SparkEntry's query configuration: hybrid exchange, fuse 4. */
  def entryConfig: PregelConfig = PregelConfig(numPartitions = 32, fusedSupersteps = 4)

  def apply(name: String, h: Harness, size: Size, seed: Long): Workload = name match {
    case "traversal" => new TraversalWorkload(h, size, seed)
    case "session" => new SessionWorkload(h, size, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def transcripts(spark: SparkSession, size: Size, seed: Long): DataFrame =
    Transcripts.synthetic(spark, size.convs, size.turns, seed)
}

/** SSSP from vertex 0 with the engine's deterministic weights over the
 * symmetrized graph, capped at 10 supersteps. The weighted edges are
 * written to parquet at set-up; each run is one kernel call on them. */
final class TraversalWorkload(h: Harness, size: Size, seed: Long) extends Workload {
  private val spark = h.spark
  private var vertsPath = ""
  private var edgesPath = ""
  private var nVerts = 0L
  private var nEdges = 0L
  private var edges: Refs.Edges = _
  private var reference: Array[Double] = _

  def prepare(dir: String): Unit = {
    val verts = LinkGraph.vertices(Workload.transcripts(spark, size, seed)).cache()
    vertsPath = s"$dir/vertices"
    edgesPath = s"$dir/edges"
    verts.select("vid").coalesce(Workload.InputFiles).write.parquet(vertsPath)
    LinkGraph.symmetrize(LinkGraph.directedEdges(verts)).select(col("src"), col("dst"), SSSP.weightCol)
      .coalesce(Workload.InputFiles).write.parquet(edgesPath)
    verts.unpersist(blocking = true)
    nVerts = spark.read.parquet(vertsPath).count()
    nEdges = spark.read.parquet(edgesPath).count()
  }

  def buildReferences(): Unit = {
    edges = Refs.edges(spark.read.parquet(edgesPath), nVerts)
    reference = Refs.shortestPaths(nVerts.toInt, edges, Workload.SsspSource.toInt, Workload.SsspCap)
  }

  def fingerprints: Seq[Obj] = Seq(Fingerprint("weighted_undirected", nVerts, edges))

  def run(rec: OpRecord): Map[String, DataFrame] = {
    val (verts, weighted) = h.tracer("graph.load") {
      rec.gauges("graph.vertices") = nVerts.toDouble
      rec.gauges("graph.edges") = nEdges.toDouble
      rec.gauges("graph.cached_mb") = 0.0
      (spark.read.parquet(vertsPath), spark.read.parquet(edgesPath))
    }
    h.tracer("algos.sssp") {
      val state = h.pregel(rec, Workload.kernelConfig,
        new SSSP(Workload.SsspSource, Workload.SsspCap), verts, weighted, nEdges)
      val out = state.filter(col("dist") < 1e299).select(col("vid"), col("dist"))
      h.materialize(out)
      Map("sssp" -> out)
    }
  }

  def check(out: Map[String, DataFrame]): Long =
    Refs.mismatchesReached(out("sssp"), "dist", reference)
}

/** An analyst session over transcript parquet: derive the graph the way
 * SparkEntry.graphOf does, then PageRank, CC, LPA and triangle count on
 * the shared relations, releasing every cache at the end. */
final class SessionWorkload(h: Harness, size: Size, seed: Long) extends Workload {
  private val spark = h.spark
  private var transcriptsPath = ""
  private var refs: Refs.Session = _
  private var graph: SparkEntry.G = _
  private var prints: Seq[Obj] = Nil

  def prepare(dir: String): Unit = {
    transcriptsPath = s"$dir/transcripts"
    Workload.transcripts(spark, size, seed).coalesce(Workload.InputFiles).write.parquet(transcriptsPath)
    spark.read.parquet(transcriptsPath).count()
  }

  /** Built by the first check, from that run's derived edge relations
   * (still cached then): the session derives its graph inside the run. */
  def buildReferences(): Unit = ()

  private def references(g: SparkEntry.G): Refs.Session = {
    val n = g.n.toInt
    val (pr, und, can) = (Refs.edges(g.prEdges, n), Refs.edges(g.undirected, n), Refs.edges(g.canonical, n))
    prints = Seq(Fingerprint("pr_edges", n, pr), Fingerprint("undirected", n, und))
    Refs.Session(Refs.pageRank(n, pr, Workload.PrIters), Refs.minLabels(n, und, Workload.CcIters),
      Refs.labelPropagation(n, und, Workload.LpaIters), Refs.triangles(n, can))
  }

  def fingerprints: Seq[Obj] = prints

  def run(rec: OpRecord): Map[String, DataFrame] = {
    val before = h.storageMb
    val (g, nPr, nU) = h.tracer("graph.derive") {
      val verts = h.hold(LinkGraph.vertices(spark.read.parquet(transcriptsPath)).cache())
      val dedges = h.hold(LinkGraph.directedEdges(verts).cache())
      val g = SparkEntry.G(verts, dedges, verts.count())
      rec.gauges("graph.vertices") = g.n.toDouble
      rec.gauges("graph.edges") = dedges.count().toDouble
      val Seq(nPr, nU, _) = Seq(g.prEdges, g.undirected, g.canonical).map(r => h.hold(r).count())
      (g, nPr, nU)
    }
    rec.gauges("graph.cached_mb") = h.storageMb - before
    graph = g
    val cfg = Workload.entryConfig
    val vids = g.verts.select("vid")
    val pr = h.tracer("algos.pagerank") {
      val out = h.pregel(rec, cfg, new PageRank(g.n, Workload.PrIters), vids, g.prEdges, nPr)
        .select(col("vid"), round(col("value") * lit(g.n.toDouble), 6).as("pr_scaled"))
      h.materialize(out); out
    }
    val cc = h.tracer("algos.cc") {
      val out = h.pregel(rec, cfg, new ConnectedComponents(Workload.CcIters), vids, g.undirected, nU)
        .select(col("vid"), col("label").as("component"))
      h.materialize(out); out
    }
    val lpa = h.tracer("algos.lpa") {
      val out = h.pregel(rec, cfg, new LabelPropagation(Workload.LpaIters), vids, g.undirected, nU)
        .select(col("vid"), col("label"))
      h.materialize(out); out
    }
    val (tri, agg) = h.scoped(rec) {
      h.tracer("algos.triangles") {
        val out = h.hold(TriangleCount.perVertexAll(g.canonical, g.verts).cache())
        h.materialize(out); out
      }
    }
    agg.foreach(rec.scoped("algos.triangles") = _)
    Map("pagerank" -> pr, "cc" -> cc, "lpa" -> lpa, "triangles" -> tri)
  }

  def check(out: Map[String, DataFrame]): Long = {
    if (refs == null) refs = references(graph)
    Refs.mismatches(out("pagerank"), "pr_scaled", refs.pageRank, Workload.PrTol) +
      Refs.mismatchesExact(out("cc"), "component", refs.components) +
      Refs.mismatchesExact(out("lpa"), "label", refs.labels) +
      Refs.mismatchesExact(out("triangles"), "triangles", refs.triangles)
  }
}
