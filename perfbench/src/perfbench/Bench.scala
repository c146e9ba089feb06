package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. `records` counts the
  * input records it consumed; `cpuMs` is the process CPU time (every
  * driver, executor, GC and JIT thread) it took; `ok` is false when it
  * threw or its output failed a check.
  */
final case class Op(kind: String, ms: Double, cpuMs: Double, records: Long, ok: Boolean)

/** A workload bound to one session and one generated input set. */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {

  /** The op kind whose latency is the workload's `op_ms`. */
  def primary: String

  /** Digest of the generated input files. */
  def inputDigest: String

  /** One untimed pass over every op kind, after set-up. */
  def warmUp(): Unit

  /** One unit of the closed loop: the next operation(s), timed, then
    * checked (checks are outside the timing).
    */
  def step(tr: Tracer): Seq[Op]

  /** Output bytes per input byte over the run. */
  def outBytesPerInByte: Double

  /** Layer ratios from the traced run, by name (see [[Main.Ratios]]). */
  def ratios(tr: Tracer): Map[String, Double]

  /** Run `body` as one operation: its result, wall ms and process CPU ms. */
  protected def timed[A](body: => A): (A, Double, Double) = {
    val c0 = Workload.cpuNs()
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6, (Workload.cpuNs() - c0) / 1e6)
  }

  /** A check that must hold; a violation is reported on stderr. */
  protected def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) System.err.println(s"[perfbench] check failed: $what")
    cond
  }

  protected def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected def bytesUnder(path: String): Long =
    fs(path).getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength

  protected def delete(path: String): Unit =
    fs(path).delete(new org.apache.hadoop.fs.Path(path), true)
}

object Workload {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime
}
