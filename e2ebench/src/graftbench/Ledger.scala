package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted per span. */
final class Counts {
  val jobs, stages, tasks, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, scanBytes, spillBytes, written = new AtomicLong
  private def all = Seq(jobs, stages, tasks, cpuNs, gcMs,
    shuffleWrite, shuffleRead, scanBytes, spillBytes, written)
  def add(o: Counts): Unit = all.zip(o.all).foreach { case (a, b) => a.addAndGet(b.get) }
}

/** A timed call into one layer; `parent` is the enclosing span's id
  * (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's ledger: spans opened by the benchmark around each
  * call into a module's public functions, plus a listener the
  * benchmark registers that charges every job, stage and task to the
  * span that submitted it (the span id rides in a thread-local Spark
  * property, which jobs inherit). Nothing inside the program is
  * instrumented. */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val Key = "graftbench.span"
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[Int, Counts]
  private val stageSpan = new ConcurrentHashMap[Int, Int]
  private var open = List.empty[Span]
  private val t0 = System.nanoTime()

  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, id))
    countsOf(id).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Runs `f` inside a new span named `name`, child of the open span. */
  def span[A](name: String)(f: => A): A = {
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      s
    }
    val prev = sc.getLocalProperty(Key)
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  def drain(): Unit = org.apache.spark.graftbench.BusBridge.flush(sc, 60000L)

  def all: Seq[Span] = spans.toSeq
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part its (sequential) children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Counts charged to the span itself or to any span below it. */
  def inclusive(s: Span): Counts = {
    val c = new Counts
    def walk(id: Int): Unit = {
      Option(counts.get(id)).foreach(c.add)
      children(id).foreach(ch => walk(ch.id))
    }
    walk(s.id)
    c
  }

  def selfCounts(s: Span): Counts = Option(counts.get(s.id)).getOrElse(new Counts)

  /** The spans as JSON rows (times relative to the ledger's start). */
  def json: Seq[String] = spans.toSeq.map { s =>
    val inc = inclusive(s)
    val self = selfCounts(s)
    def cnt(c: Counts): String =
      s"""{"jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get},""" +
        s""""task_cpu_s":${c.cpuNs.get / 1e9},"gc_s":${c.gcMs.get / 1e3},""" +
        s""""shuffle_write_mb":${c.shuffleWrite.get / 1048576.0},""" +
        s""""shuffle_read_mb":${c.shuffleRead.get / 1048576.0},""" +
        s""""scan_mb":${c.scanBytes.get / 1048576.0},"spill_mb":${c.spillBytes.get / 1048576.0},""" +
        s""""written_mb":${c.written.get / 1048576.0}}"""
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
      s""""self_s":${selfSeconds(s)},"counts":${cnt(inc)},"self_counts":${cnt(self)}}"""
  }
}

object Engine {
  /** The Spark engine metrics of a set of sequential spans (inclusive
    * of their children); CPU utilization is over their summed wall time
    * times `cores`. */
  def metrics(l: Ledger, spans: Seq[Span], cores: Int): Map[String, Double] = {
    val c = new Counts
    spans.foreach(s => c.add(l.inclusive(s)))
    val wall = spans.map(_.seconds).sum
    Map(
      "spark.jobs" -> c.jobs.get.toDouble,
      "spark.stages" -> c.stages.get.toDouble,
      "spark.tasks" -> c.tasks.get.toDouble,
      "spark.task_cpu_s" -> c.cpuNs.get / 1e9,
      "spark.cpu_util" -> c.cpuNs.get / 1e9 / (wall * cores),
      "spark.gc_s" -> c.gcMs.get / 1e3,
      "spark.shuffle_write_mb" -> c.shuffleWrite.get / 1048576.0,
      "spark.shuffle_read_mb" -> c.shuffleRead.get / 1048576.0,
      "spark.scan_mb" -> c.scanBytes.get / 1048576.0,
      "spark.spill_mb" -> c.spillBytes.get / 1048576.0,
      "io.bytes_written_mb" -> c.written.get / 1048576.0)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
