package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(kv: Map[String, String]) {
  private def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def mode: String = kv.getOrElse("mode", "run")
  def workload: String = need("workload")
  def seed: Long = need("seed").toLong
  def seconds: Double = need("seconds").toDouble
  def trace: Boolean = kv.get("trace").contains("1")
  def work: String = need("work")
  def golden: String = need("golden")
  def tables: String = need("tables")
  def expect: String = need("expect")
  def cores: Int = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
  def preSetup: Double = kv.getOrElse("pre-setup", "0").toDouble
  def head: String = kv.getOrElse("head", "unknown")
  def ledger: String = need("ledger")
}

object Args {
  def parse(a: Array[String]): Args = Args(a.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap)
}

/** Peak heap in use right after a full collection, over a window.
  * Young collections are skipped: what they leave includes old-gen
  * garbage no collection has looked at yet. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peak = 0L }
  /** Runs a full collection and takes what it leaves as a sample. */
  def collect(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }
  def mb: Double = synchronized { peak / 1048576.0 }
}

/** The benchmark's JVM side. Modes:
  *  - `run`: one run of `--workload`: set-up, the workload's fixed
  *    warm-up operations, then `--seconds` of closed-loop operations,
  *    untraced, or with `--trace 1` traced;
  *    the last stdout line is the result JSON;
  *  - `selftest`: the corpus generator's checks ([[Selftest]]);
  *  - `dump`: the bench queries' oracle SQL and result schemas, the
  *    input `derive_expect.py` needs. */
object Main {

  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "unknown" }

  /** The one session config of every workload: the shipped `Jobs.main`
    * settings (`local[nproc]`, shuffle partitions = nproc); scratch
    * space under the run's work directory. */
  def session(a: Args, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code = try {
      a.mode match {
        case "run" => run(a)
        case "selftest" => Selftest.run(a)
        case "dump" => Dump.run(a)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] ${a.mode} aborted: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private val (mainStartMs, mainStartNs) = (System.currentTimeMillis(), System.nanoTime())

  private def run(a: Args): Unit = {
    val loadBefore = loadAvg()
    val spark = session(a, s"graftbench-${a.workload}")
    val heap = new HeapPeak
    val w = Workload(a.workload, spark, a)
    var attempted = 0
    var failed = 0
    def tally(o: Op): Op = { attempted += o.attempted; failed += o.failed; o }

    tally(w.setup())
    val warm = Seq.fill(w.warmupOps)(tally(w.run()).wall)
    val setupS = (mainStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 +
      (System.nanoTime() - mainStartNs) / 1e9 + a.preSetup

    // Untraced: closed-loop operations for `--seconds`, the end-to-end
    // metrics. Traced: closed-loop traced operations, the per-layer
    // metrics; each traced operation runs its calls interleaved with the
    // same calls untraced (Workload.interleaved), and the tracing
    // overhead is the traced time minus that untraced time.
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var e2e = Map.empty[String, Double]
    var layers = Map.empty[String, Double]
    var ledgerJson = Seq.empty[String]
    val t0 = System.nanoTime()
    def more = ops.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds
    if (!a.trace) {
      heap.reset()
      while (more) ops += tally(w.run())
      heap.collect() // a full collection at the window's end: at least one sample
      val wall = Stats.median(ops.map(_.wall))
      val parts = ops.flatMap(_.parts.keys).distinct
        .map(k => k -> Stats.median(ops.flatMap(_.parts.get(k)))).toMap
      e2e = Map("wall_s" -> wall, "setup_s" -> setupS, "peak_heap_mb" -> heap.mb,
        "records_per_s" -> w.records / wall) ++ parts
    } else {
      val l = new Ledger(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      val per = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      while (more) { val (o, m) = w.traced(l); ops += tally(o); per += m }
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      layers = per.flatMap(_.keys).distinct
        .map(k => k -> Stats.median(per.flatMap(_.get(k)))).toMap ++ Map(
          "trace.wall_s" -> Stats.median(ops.map(_.wall)),
          "trace.overhead_s" -> Stats.median(ops.map(o => o.wall - o.parts("untraced_s"))))
      ledgerJson = l.json
    }
    val loadAfter = loadAvg()
    val errorRate = failed.toDouble / math.max(1, attempted)

    val host = Json.obj(Seq(
      "nproc" -> a.cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "load_before" -> Json.str(loadBefore), "load_after" -> Json.str(loadAfter),
      "git_head" -> Json.str(a.head), "spark" -> Json.str(spark.version),
      "setup_s" -> Json.num(setupS),
      "warmup_s" -> warm.map(Json.num).mkString("[", ",", "]"),
      "measured_s" -> ops.map(o => Json.num(o.wall)).mkString("[", ",", "]")))
    def metricsJson(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val notRun = w.notRun.map(Json.str).mkString("[", ",", "]")
    val f = new File(a.ledger)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "host" -> host, "samples" -> ops.size.toString,
      "error_rate" -> Json.num(errorRate),
      "end_to_end" -> metricsJson(e2e),
      "layers_not_run" -> notRun,
      "per_layer" -> metricsJson(layers),
      "spans" -> ledgerJson.mkString("[", ",\n", "]"))).getBytes("UTF-8"))

    spark.stop()
    println(s"""{"host":$host}""")
    if (a.trace) {
      println(s"""{"per_layer":${metricsJson(layers)},"layers_not_run":$notRun,"samples":${ops.size}}""")
      println(s"""{"ledger":${Json.str(a.ledger)}}""")
    } else
      println(s"""{"end_to_end":${metricsJson(e2e + ("error_rate" -> errorRate))},"samples":${ops.size}}""")
    val shown = if (a.trace) layers else e2e
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(shown.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(Units.of(k))}}"""
      }))))
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Units {
  def of(k: String): String =
    if (k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio") || k.endsWith("_util") || k == "error_rate") "ratio"
    else "count"
}
