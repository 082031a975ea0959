package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, IvfStore}

/** [[IvfStore]] — the day-over-day IVF index: frozen centroids,
  * marker-committed day partitions, probes that read only committed
  * days' probed cells (file-index pruned on BOTH partition dims),
  * idempotent re-appends, invisible crash debris, and the sig-less
  * pass-through for unusable vectors. */
class IvfStoreSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 4
  private val rnd = new scala.util.Random(31)
  private def around(cx: Double*): Array[Double] =
    cx.toArray.map(_ + rnd.nextGaussian() * 0.3)
  private val centers =
    Seq(Seq(10.0, 0, 0, 0), Seq(0.0, 10, 0, 0), Seq(0.0, 0, 10, 0))

  private def vecs(rows: (Long, Array[Double])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }
  private def mkRows(ids: Range): Seq[(Long, Array[Double])] =
    ids.map(i => i.toLong -> around(centers(i % 3): _*))

  private def l2d2(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scansOf(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }

  test("frozen-centroid appends: exact full-probe results, day+cell file pruning, crash day invisible, idempotent re-append") {
    val root = Files.createTempDirectory("ivfst").toString
    val day1 = mkRows(0 until 30)
    val day2 = mkRows(100 until 130)
    val day3 = mkRows(200 until 220)

    IvfStore.init(vecs(day1: _*), "vec_id", "embedding", root, k = 3, iters = 4)
    IvfStore.append(vecs(day1: _*), root, "2024-07-01")
    IvfStore.append(vecs(day2: _*), root, "2024-07-02")
    assert(IvfStore.committedDays(spark, root) === Seq("2024-07-01", "2024-07-02"))

    // full probe (nprobe >= k) = EXACT global top-k over the
    // committed union, independent of training quality
    val all = day1 ++ day2
    val queries = Seq(1000L -> centers(0).toArray, 1001L -> centers(2).toArray)
    def globalTopK(qv: Array[Double], k: Int): Seq[(Long, Double)] =
      all.map { case (id, v) => (id, l2d2(v, qv)) }
        .sortBy { case (id, d2) => (d2, id) }.take(k)
    val full = IvfStore.probe(spark, root, "vec_id", "embedding",
      queries, nprobe = 99, topK = 4)
    val got = full.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    for ((qid, qv) <- queries) {
      val expect = globalTopK(qv, 4).zipWithIndex
        .map { case ((id, d2), i) => (qid, id, d2, i + 1) }
      assert(got(qid).sortBy(_._4).toSeq === expect, s"query $qid")
    }

    // nprobe=1 prunes at the file index on BOTH partition dims: only
    // the probed cell's dirs under the two COMMITTED days are read
    val cents = IvfIndex.open(spark, root)
    def cellOf(v: Array[Double]): Int =
      cents.indices.minBy(i => (l2d2(cents(i), v), i))
    val one = IvfStore.probe(spark, root, "vec_id", "embedding",
      queries.take(1), nprobe = 1, topK = 3)
    one.collect()
    val probedCell = cellOf(queries.head._2)
    def filesIn(day: String, c: Int): Int = {
      val d = new java.io.File(s"$root/cells/dt=$day/cell=$c")
      if (!d.isDirectory) 0 else d.listFiles().count(_.getName.startsWith("part-"))
    }
    val expectFiles = Seq("2024-07-01", "2024-07-02").map(filesIn(_, probedCell)).sum
    val scan = scansOf(one.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty, "dt/cell filters missed the file index")
    assert(scan.metrics("numFiles").value === expectFiles.toLong,
      s"scan read ${scan.metrics("numFiles").value}, probed day-cells hold $expectFiles")

    // crash image: day 3 written but its marker deleted — invisible
    IvfStore.append(vecs(day3: _*), root, "2024-07-03")
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new Path(s"$root/_committed/2024-07-03"), false))
    val afterCrash = IvfStore.probe(spark, root, "vec_id", "embedding",
      queries, nprobe = 99, topK = 4).collect().map(_.getLong(1)).toSet
    assert(afterCrash === full.collect().map(_.getLong(1)).toSet,
      "uncommitted day's vectors must be invisible to probes")

    // re-append heals: the day's rows appear exactly once
    IvfStore.append(vecs(day3: _*), root, "2024-07-03")
    IvfStore.append(vecs(day3: _*), root, "2024-07-03") // idempotent re-run
    val s = spark
    import s.implicits._
    val stored = spark.read.parquet(s"$root/cells")
      .select($"vec_id").as[Long].collect().toSeq
    assert(stored.size === stored.distinct.size &&
      stored.toSet === (day1 ++ day2 ++ day3).map(_._1).toSet,
      "re-appended day must hold each vector exactly once")

    // CORRECTED replay whose rows vacate cells: the day's prior
    // partitions must be cleared, not merely overlaid — dynamic
    // overwrite alone would leave the vacated cells' stale vectors
    // committed under the re-published marker
    val day3small = day3.take(3)
    IvfStore.append(vecs(day3small: _*), root, "2024-07-03")
    val day3stored = spark.read.parquet(s"$root/cells/dt=2024-07-03")
      .select($"vec_id").as[Long].collect().toSet
    assert(day3stored === day3small.map(_._1).toSet,
      s"corrected replay left stale cell partitions standing: $day3stored")

    // re-init of a live root refuses (frozen-centroid contract): the
    // stored cell assignments would be silently invalidated
    val e = intercept[IllegalArgumentException] {
      IvfStore.init(vecs(day1: _*), "vec_id", "embedding", root, k = 2)
    }
    assert(e.getMessage.contains("FRESH root"), e.getMessage)
  }

  test("a crashed RE-APPEND leaves the day uncommitted — never a live marker over an empty day") {
    val root = Files.createTempDirectory("ivfst-rc").toString
    val day1 = mkRows(0 until 12)
    val day2 = mkRows(100 until 112)
    IvfStore.init(vecs(day1: _*), "vec_id", "embedding", root, k = 2, iters = 3)
    IvfStore.append(vecs(day1: _*), root, "2024-07-01")
    IvfStore.append(vecs(day2: _*), root, "2024-07-02")
    assert(IvfStore.committedDays(spark, root) ===
      Seq("2024-07-01", "2024-07-02"))

    // re-append of the COMMITTED day 2 dies mid-write (a udf that
    // throws at evaluation — the crash lands between the day's
    // pre-delete and the marker re-publish)
    val s = spark
    import s.implicits._
    val boom = org.apache.spark.sql.functions.udf((id: Long) =>
      if (id >= Long.MinValue) throw new RuntimeException("simulated crash")
      else id)
    intercept[Exception] {
      IvfStore.append(
        vecs(day2: _*).withColumn("vec_id", boom($"vec_id")),
        root, "2024-07-02")
    }
    // the round-12 discipline: the marker was retracted BEFORE the
    // partitions were touched, so the crash leaves day 2 UNCOMMITTED
    // (loud — committedDays names the gap) instead of a live marker
    // over an empty subtree (probes silently omitting its vectors)
    assert(IvfStore.committedDays(spark, root) === Seq("2024-07-01"),
      "crashed re-append must leave the day uncommitted")
    val visible = IvfStore.probe(spark, root, "vec_id", "embedding",
      Seq(1000L -> centers(0).toArray), nprobe = 99, topK = 50)
      .collect().map(_.getLong(1)).toSet
    assert(visible.subsetOf(day1.map(_._1).toSet),
      "no vector of the crashed day may be probe-visible")

    // recovery is the documented one: re-append the day
    IvfStore.append(vecs(day2: _*), root, "2024-07-02")
    assert(IvfStore.committedDays(spark, root) ===
      Seq("2024-07-01", "2024-07-02"))
    val healed = IvfStore.probe(spark, root, "vec_id", "embedding",
      Seq(1000L -> centers(0).toArray), nprobe = 99, topK = 50)
      .collect().map(_.getLong(1)).toSet
    assert(day2.map(_._1).toSet.subsetOf(healed), "re-append must heal")
  }

  test("unusable vectors are skipped; uninitialized root and empty store refuse") {
    val root = Files.createTempDirectory("ivfst-e").toString
    // append before init: refuses via the centroids marker
    val e1 = intercept[IllegalArgumentException] {
      IvfStore.append(vecs(1L -> around(centers(0): _*)), root, "2024-07-01")
    }
    assert(e1.getMessage.contains(root))

    IvfStore.init(vecs(mkRows(0 until 12): _*), "vec_id", "embedding", root, k = 2, iters = 3)
    // probe before any committed day: refuses, naming the remedy
    val e2 = intercept[IllegalArgumentException] {
      IvfStore.probe(spark, root, "vec_id", "embedding",
        Seq(1L -> centers(0).toArray), 1, 1)
    }
    assert(e2.getMessage.contains("append"))

    // a committed day holding ONLY unusable rows: probe refuses
    // loudly instead of dying in parquet schema inference
    val s = spark
    import s.implicits._
    val allBad = Seq((40L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    IvfStore.append(allBad, root, "2024-06-30")
    assert(IvfStore.committedDays(spark, root) === Seq("2024-06-30"))
    val e3 = intercept[IllegalArgumentException] {
      IvfStore.probe(spark, root, "vec_id", "embedding",
        Seq(1L -> centers(0).toArray), 1, 1)
    }
    assert(e3.getMessage.contains("nothing to probe"), e3.getMessage)

    // a null vector and a wrong-dim vector are skipped, not indexed
    val bad = Seq(
      (50L, around(centers(0): _*)),
      (51L, null.asInstanceOf[Array[Double]]),
      (52L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
    IvfStore.append(bad, root, "2024-07-01")
    val stored = spark.read.parquet(s"$root/cells")
      .select($"vec_id").as[Long].collect().toSet
    assert(stored === Set(50L), s"unusable vectors must be skipped, got $stored")
  }

  test("append writes one clustered file set per cell, not one file per task x cell") {
    // round 18 (guide §6): the delta arrives in MANY partitions (the
    // spread-scan shape that produced one tiny file per task x cell —
    // 32 tasks x 8 cells = 256 files per day at the gate SF); the
    // clustered write must commit ~one file per populated cell, so
    // the commit protocol and every later probe scan pay per CELL,
    // not per scan-task.
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivfst-files").toString
    val rows = mkRows(0 until 120)
    val delta = rows.toDF("vec_id", "embedding").repartition(8)
    IvfStore.init(delta, "vec_id", "embedding", root, k = 3, iters = 2)
    IvfStore.append(delta, root, "2024-07-01")
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = f.globStatus(new Path(s"$root/cells/dt=2024-07-01/cell=*/part-*"))
    val cells = f.globStatus(new Path(s"$root/cells/dt=2024-07-01/cell=*"))
    assert(cells.nonEmpty)
    // the old write shape produced up to 8 tasks x |cells| files; the
    // clustered write commits at most ~1 file per populated cell at
    // this scale (the day's bytes are far under the advisory size, so
    // the write coalesces the delta to one task)
    assert(files.length <= cells.length,
      s"expected <= ${cells.length} files (one per populated cell), " +
        s"got ${files.length}")
    // and every row is still served: the full probe sees all 120
    val got = IvfStore.probe(spark, root, "vec_id", "embedding",
      Seq(0L -> centers(0).toArray), nprobe = 99, topK = 120)
    assert(got.count() === 120L)
  }
}
