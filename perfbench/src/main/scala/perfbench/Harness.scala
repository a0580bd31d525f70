package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One request of the closed loop. `run` is the timed part; `check`
  * compares what it served with the oracle, untimed, and returns a
  * mismatch description. `kind` groups ops for metrics ("read", "write",
  * "query"). */
final case class Op(kind: String, name: String, run: () => Unit,
                    check: () => Option[String] = () => None)

final case class OpRecord(id: Long, kind: String, name: String, seconds: Double,
                          error: Option[String])

/** Single-client closed loop: the next op starts only when the previous one
  * has returned (and been checked). */
final class Harness(spark: SparkSession, val tracer: Tracer) {
  private var nextId = 0L
  /** Id of the op being run or checked. */
  var currentId = -1L
  val records = ArrayBuffer[OpRecord]()

  def runOp(op: Op): OpRecord = {
    val id = nextId
    nextId += 1
    currentId = id
    val sc = spark.sparkContext
    sc.setLocalProperty(Harness.OpProperty, id.toString)
    val t0 = System.nanoTime()
    val err = try { tracer.op(id, op.name)(op.run()); None }
    catch { case NonFatal(e) => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val seconds = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(Harness.OpProperty, null)
    val mismatch = err.orElse(
      try op.check().map(m => s"${op.name}: $m")
      catch { case NonFatal(e) => Some(s"${op.name}: check failed: $e") })
    val rec = OpRecord(id, op.kind, op.name, seconds, mismatch)
    System.err.println(f"[perfbench] op $id ${op.kind} ${op.name} $seconds%.3f s${mismatch.fold("")(" FAILED " + _)}")
    records += rec
    rec
  }

  /** Run whole cycles until the timed seconds reach `seconds`, so every run
    * carries the same op mix. Returns the records of this phase. */
  def measure(seconds: Double)(cycle: Int => Seq[Op]): Seq[OpRecord] = {
    val from = records.size
    var timed = 0.0
    var i = 0
    while (timed < seconds) {
      cycle(i).foreach(op => timed += runOp(op).seconds)
      i += 1
    }
    records.drop(from).toSeq
  }
}

object Harness {
  val OpProperty = "perfbench.op"

  /** Percentile, interpolated linearly between the closest ranks (the
    * median for p = 0.5): with few samples from queries of distinct cost, a
    * nearest rank jumps between them from run to run. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (r - lo) * (s(hi) - s(lo))
  }

  /** The JVM's peak resident set (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
