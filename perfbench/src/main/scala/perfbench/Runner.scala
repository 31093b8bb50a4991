package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One op: a catalog call, a SQL query or a write transaction. `run` is
  * timed; `check` is not, and returns why the result is wrong, if it is.
  * `endsBatch` marks the last op of the workload's fixed batch. */
final case class Op(kind: String, run: () => Any, check: Any => Option[String],
    endsBatch: Boolean = false)

/** A closed-loop workload driven by one client. `next` returns the op to
  * run now; a workload that keeps a model of the program's state updates
  * it in `check`, which runs right after the op. */
trait Workload {
  def setup(): Unit
  def next(): Op
  /** Seconds of whole batches run before measuring. */
  def warmupSeconds: Double
  /** Per-layer metrics only the workload can measure, from its traced ops. */
  def layerMetrics: Map[String, Double] = Map.empty
}

final case class Sample(op: Long, kind: String, ms: Double, traced: Boolean)

object Stats {
  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Over whole batches of a fixed op mix it
    * falls in the same op kind whatever the number of batches. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.max(0, math.ceil(p / 100.0 * xs.size).toInt - 1))
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Runs a workload's ops in a closed loop and keeps one sample per op. */
final class Runner(spark: SparkSession, w: Workload) {
  val samples = ArrayBuffer.empty[Sample]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var opId = 0L

  private def runOne(traced: Boolean, keep: Boolean): Boolean = {
    opId += 1
    Trace.op = opId
    Trace.enabled = traced
    val op = w.next()
    spark.sparkContext.setJobGroup(s"op-$opId", op.kind, interruptOnCancel = false)
    val errorsBefore = TimedBackend.errors.get
    val t0 = System.nanoTime()
    val out = try Right(Trace.span("op", op.kind)(op.run()))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.enabled = false
    spark.sparkContext.clearJobGroup()
    val problem = out match {
      case Left(e) => Some(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try op.check(v).map(r => s"${op.kind}: $r")
        catch { case e: Throwable => Some(s"${op.kind}: check failed: $e") }
    }
    // a backend failure the program swallowed still fails the op
    val swallowed = TimedBackend.errors.get - errorsBefore
    val why = problem.orElse(
      if (swallowed > 0) Some(s"${op.kind}: $swallowed backend error(s), " +
        s"last ${TimedBackend.lastError}") else None)
    attempted += 1
    why.foreach { r => failed += 1; if (failures.size < 20) failures += r.take(400) }
    if (keep) samples += Sample(opId, op.kind, ms, traced)
    op.endsBatch
  }

  /** Run whole batches until `seconds` have passed. With `alternate`, one
    * batch of each pair is traced, the second in even pairs and the first
    * in odd ones (untraced, traced, traced, untraced, ...), so a drift in
    * speed through the run does not favour the traced batches; it then
    * runs at least one pair. With `keep`, every op leaves a sample. */
  private def batches(seconds: Double, alternate: Boolean, keep: Boolean): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var batch = 0
    var done = false
    while (!done) {
      if (runOne(traced = alternate && (batch + batch / 2) % 2 == 1, keep)) {
        batch += 1
        done = System.nanoTime() >= end && (!alternate || batch >= 2)
      }
    }
  }

  /** Untimed (but checked) ops, so caches fill and code is compiled. */
  def warmup(seconds: Double): Unit = batches(seconds, alternate = false, keep = false)

  def measure(seconds: Double, alternate: Boolean): Unit = batches(seconds, alternate, keep = true)
}
