package graft.pregel

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import graft.algos.ConnectedComponents

/** The kernel runs its supersteps with AQE off at its own shuffle width,
 * but never by writing the caller's session conf: a query planned on the
 * caller's session while a run is in flight, or after any exit path
 * (normal, crash, failed resume, empty input), sees the conf it set. The
 * probe reads the caller's conf from inside update(), which the kernel
 * calls on the driver every superstep. */
class ConfIsolationSpec extends graft.SparkTestBase {

  private val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
  private def callerConf(): Seq[Option[String]] = keys.map(spark.conf.getOption)

  private def recording(supersteps: Int) =
    new RecordingProgram(new ConnectedComponents(supersteps), () => callerConf())

  // a path: 8 supersteps to converge, delta steps in its tail
  private val path = (0L until 7L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
  // numPartitions 4 with the default edges-per-partition target: p = 1,
  // unlike the session's width 4
  private val cfg = PregelConfig(numPartitions = 4)

  /** Runs `body` and asserts that every observation and the conf after
   * the call (however it exits) equal the conf before it. */
  private def assertIsolated(prog: RecordingProgram[Seq[Option[String]]])(body: => Unit): Unit = {
    val before = callerConf()
    try body
    finally {
      assert(callerConf() == before, "caller conf changed by the call")
      prog.seen.zipWithIndex.foreach { case (seen, i) =>
        assert(seen == before, s"update() #${i + 1} saw the caller conf as $seen, not $before")
      }
    }
  }

  test("normal run: the caller's conf is untouched during and after") {
    val prog = recording(20)
    assertIsolated(prog) {
      val (state, metrics) = new Pregel(spark, cfg).run(prog, vertDF(8), edgeDF(path))
      assert(state.filter("label = 0").count() == 8L)
      assert(metrics.exists(_.delta), "the run should include delta supersteps")
    }
    assert(prog.seen.nonEmpty)
  }

  test("failAtSuperstep crash: the caller's conf is untouched during and after") {
    val prog = recording(20)
    assertIsolated(prog) {
      intercept[RuntimeException] {
        new Pregel(spark, cfg.copy(failAtSuperstep = Some(4))).run(prog, vertDF(8), edgeDF(path))
      }
    }
    assert(prog.seen.size == 3)
  }

  test("resume from an unreadable snapshot: the failure leaves the caller's conf as found") {
    val dir = Files.createTempDirectory("graft-unreadable").toString
    val step = Paths.get(dir, "cc", "step=2")
    Files.createDirectories(step.resolve("state"))
    Files.writeString(step.resolve("state").resolve("part-00000.parquet"), "not a parquet file")
    Files.writeString(step.resolve("state").resolve("_SUCCESS"), "")
    Files.writeString(step.resolve("meta.json"), """{"algo":"cc","superstep":2,"jobAgg":0.0,"metrics":[]}""")
    val prog = recording(20)
    assertIsolated(prog) {
      intercept[Exception] {
        new Pregel(spark, cfg.copy(checkpointDir = Some(dir), resume = true))
          .run(prog, vertDF(8), edgeDF(path))
      }
    }
    assert(prog.seen.isEmpty)
  }

  test("empty vertex table: the early return leaves the caller's conf as found") {
    val prog = recording(20)
    assertIsolated(prog) {
      val (state, metrics) = new Pregel(spark, cfg).run(prog, vertDF(0), edgeDF(path))
      assert(state.count() == 0L && metrics.isEmpty)
    }
  }
}

/** Delegates every call to `inner`, and runs `probe` on the driver each
 * time the kernel calls update() (every superstep, delta steps included),
 * keeping what it returns. */
private final class RecordingProgram[T](inner: VertexProgram, probe: () => T) extends VertexProgram {
  val seen: ArrayBuffer[T] = ArrayBuffer[T]()
  def name: String = inner.name
  def initState(vertices: DataFrame): DataFrame = inner.initState(vertices)
  def msgExpr: Column = inner.msgExpr
  def aggregate(msgs: DataFrame): DataFrame = inner.aggregate(msgs)
  def update(joined: DataFrame, superstep: Int, jobAgg: Double): DataFrame = {
    seen += probe()
    inner.update(joined, superstep, jobAgg)
  }
  override def vertexAggCol: Column = inner.vertexAggCol
  def emptyInboxCols: Seq[(String, Column)] = inner.emptyInboxCols
  override def usesPriorState: Boolean = inner.usesPriorState
  def updateRule: UpdateRule = inner.updateRule
  def maxSupersteps: Int = inner.maxSupersteps
  override def deltaFilter: Option[Column] = inner.deltaFilter
  override def activeCol: Column = inner.activeCol
  override def halted(jobAgg: Double, superstep: Int): Boolean = inner.halted(jobAgg, superstep)
}
