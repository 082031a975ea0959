package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PartitionedLayout

/** PartitionedLayout: static partition pruning measured by FILES READ
  * (not just the plan string), dynamic partition overwrite leaving
  * sibling partitions byte-untouched, day-zero totality, and the
  * clustered overwrite's file count without an exchange. */
class PartitionPruneSpec extends AnyFunSuite with SparkSpec {

  private def layoutDf = {
    val s = spark
    import s.implicits._
    Seq(
      ("2024-01-01", "click", 1.0), ("2024-01-01", "view", 2.0),
      ("2024-01-02", "click", 3.0), ("2024-01-02", "buy", 4.0),
      ("2024-01-03", "view", 5.0))
      .toDF("dt", "event_type", "value")
      .withColumn("dt", to_date($"dt"))
  }

  private def partFiles(dir: String, dt: String): Seq[java.io.File] = {
    val d = new java.io.File(s"$dir/dt=$dt")
    if (!d.isDirectory) Nil
    else d.listFiles().filter(f => f.getName.startsWith("part-")).toSeq
  }

  test("a literal dt filter prunes other partitions' files out of the scan") {
    val out = Files.createTempDirectory("ppl-prune").toString
    PartitionedLayout.writePartitioned(layoutDf, out, Seq("dt"))
    val day = PartitionedLayout.read(spark, out, layoutDf.schema)
      .filter(col("dt") === lit("2024-01-02").cast("date"))
    val rows = day.collect() // execute so scan metrics are populated
    assert(rows.map(_.getAs[Double]("value")).sorted.toSeq === Seq(3.0, 4.0))
    val scans = day.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no FileSourceScanExec in the executed plan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "dt predicate did not reach the file index as a partition filter")
    val expected = partFiles(out, "2024-01-02").size
    val total = Seq("2024-01-01", "2024-01-02", "2024-01-03")
      .map(partFiles(out, _).size).sum
    val read = scan.metrics("numFiles").value
    assert(read === expected.toLong,
      s"scan read $read files; the dt=2024-01-02 partition holds $expected")
    assert(expected < total, "fixture degenerate: only one partition materialized")
  }

  test("dynamic overwrite replaces exactly the incoming partitions") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("ppl-dyn").toString
    PartitionedLayout.writePartitioned(layoutDf, out, Seq("dt"))
    val day1Before = partFiles(out, "2024-01-01")
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    // backfill re-run of day 2 only
    val day2New = Seq(("2024-01-02", "click", 30.0))
      .toDF("dt", "event_type", "value").withColumn("dt", to_date($"dt"))
    PartitionedLayout.overwritePartitions(day2New, out, Seq("dt"))
    val day1After = partFiles(out, "2024-01-01")
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    assert(day1After === day1Before, "untouched partition was rewritten")
    val back = PartitionedLayout.read(spark, out, layoutDf.schema)
    assert(back.filter($"dt" === lit("2024-01-02").cast("date"))
      .select($"value").as[Double].collect().toSeq === Seq(30.0))
    assert(back.count() === 4L) // 2 (day1) + 1 (new day2) + 1 (day3)
    // static overwrite for contrast: the whole layout is replaced
    PartitionedLayout.writePartitioned(day2New, out, Seq("dt"))
    assert(PartitionedLayout.read(spark, out, layoutDf.schema).count() === 1L)
  }

  test("day-zero: an empty write yields a readable empty layout") {
    val out = Files.createTempDirectory("ppl-empty").toString
    PartitionedLayout.writePartitioned(layoutDf.limit(0), out, Seq("dt"))
    assert(PartitionedLayout.read(spark, out, layoutDf.schema).count() === 0L)
  }

  /** 8 map tasks × 4 `dt` values: an unclustered write commits up to
    * 32 files. */
  private def eightTaskDf =
    spark.range(0, 2000, 1, 8).withColumn("dt",
      concat(lit("2024-01-0"), (col("id") % 4 + 1).cast("string")))

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Shuffle exchanges in the physical plans of the writes `body` runs
    * (descending into AQE stages). */
  private def exchangesOfWrites(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.graft.ListenerBridge.flush(spark.sparkContext, 30000L)
    } finally spark.listenerManager.unregister(l)
    assert(!plans.isEmpty, "no write plan captured")
    plans.asScala.toSeq.flatMap(p =>
      Aqe.collect(p) { case e: ShuffleExchangeLike => e: SparkPlan })
  }

  test("clustered overwrite: one file per partition value, no exchange in the write plan") {
    val days = (1 to 4).map(i => s"2024-01-0$i")
    val out = Files.createTempDirectory("ppl-clustered").toString
    val ex = exchangesOfWrites {
      PartitionedLayout.overwriteClustered(eightTaskDf, out, Seq("dt"))
    }
    assert(ex.isEmpty, s"clustered write planned an exchange:\n${ex.mkString("\n")}")
    // ~16 KB against the 64 MB advisory size: one task, one file per dt
    assert(days.map(partFiles(out, _).size) === Seq(1, 1, 1, 1))
    assert(spark.read.parquet(out).count() === 2000L)
    // the detector is not vacuous: the REBALANCE shape it replaced
    // is a full-data exchange
    val rebalanced = Files.createTempDirectory("ppl-rebalanced").toString
    assert(exchangesOfWrites {
      PartitionedLayout.overwritePartitions(
        eightTaskDf.hint("rebalance", col("dt")), rebalanced, Seq("dt"))
    }.nonEmpty, "the exchange detector missed a REBALANCE write")
  }

  test("clustered overwrite keeps every scan task when the data exceeds the advisory size") {
    // the 100 TB/day shape in miniature: the estimate over the
    // advisory size exceeds the scan's 8 tasks, so the coalesce is a
    // no-op and each task writes its own file per dt
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    val out = Files.createTempDirectory("ppl-clustered-big").toString
    try PartitionedLayout.overwriteClustered(eightTaskDf, out, Seq("dt"))
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert((1 to 4).map(i => partFiles(out, s"2024-01-0$i").size) ===
      Seq(8, 8, 8, 8))
  }
}
