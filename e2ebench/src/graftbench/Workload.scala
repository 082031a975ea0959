package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop operation's outcome: its wall time, the named parts
  * of that time, and how many of its operations were attempted and
  * failed (threw, or produced output that failed its check). A
  * measured operation's parts include `cpu_s`, the process CPU time
  * over its wall time. */
final case class Op(wall: Double, parts: Map[String, Double], attempted: Int, failed: Int)

/** Wall and process CPU time from one start point. */
final class Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
  def wall: Double = (System.nanoTime() - w0) / 1e9
  def cpu: Double = (os.getProcessCpuTime - c0) / 1e9
}

trait Workload {
  /** Generates the inputs and anything the checks need. Failed
    * operations during set-up (e.g. a check pass) are returned. */
  def setup(): Op
  /** One untraced operation, outputs checked outside the timer. */
  def run(): Op
  /** One traced operation and the per-layer metrics it measured. Its
    * calls run [[Workload.interleaved]] with the same calls untraced;
    * the op's wall is the traced calls' time and its part
    * `untraced_s` the untraced calls' time. */
  def traced(l: Ledger): (Op, Map[String, Double])
  /** Input records one operation processes. */
  def records: Long
  /** Untraced operations run after set-up, before the measured ones,
    * and counted in set-up time. */
  def warmupOps: Int
  /** Layers this workload never calls. */
  def notRun: Seq[String]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs each unit's untraced and traced call back to back, in the
    * order UT, TU, UT, ..., so that on average neither is the warmer;
    * returns the untraced and the traced calls' summed times. */
  def interleaved(units: Seq[(() => Unit, () => Unit)]): (Double, Double) = {
    var u, t = 0.0
    units.zipWithIndex.foreach { case ((fu, ft), i) =>
      def runU(): Unit = u += timed(fu())._2
      def runT(): Unit = t += timed(ft())._2
      if (i % 2 == 0) { runU(); runT() } else { runT(); runU() }
    }
    (u, t)
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Logs a failure to stderr and returns 1 (a failed operation). */
  def fail(what: String, e: Throwable): Int = {
    System.err.println(s"[graftbench] $what failed: $e")
    1
  }
  def fail(what: String, msg: String): Int = {
    System.err.println(s"[graftbench] $what failed: $msg")
    1
  }

  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "adtech_e2e" => new Adtech(spark, a)
    case "query_suite" => new QuerySuite(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
