package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupStore, FsckFinding, IvfStore, TextIndexStore}

/** The marker-protocol day-store kernel, pinned across all three store
  * families that share it ([[DedupStore]], [[IvfStore]],
  * [[TextIndexStore]]). */
class DayStoreSpec extends AnyFunSuite with SparkSpec {

  private val Days = Seq("2024-05-01", "2024-05-02", "2024-05-03")

  test("compact sweeps a replaced day's partition whose marker is already gone, in every store family") {
    val s = spark
    import s.implicits._
    val fsys = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

    val dedup = Files.createTempDirectory("daystore-dedup").toString
    val text = Files.createTempDirectory("daystore-text").toString
    val ivf = Files.createTempDirectory("daystore-ivf").toString
    val vecs = Days.indices.map(i => (i.toLong, Array(i.toDouble, 1.0)))
    IvfStore.init(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      ivf, k = 1, iters = 1)
    Days.zipWithIndex.foreach { case (d, i) =>
      DedupStore.ingestExact(Seq((i.toLong, s"document number $i")).toDF("doc_id", "text"),
        dedup, d)
      TextIndexStore.append(Seq((i.toLong, s"word$i common")).toDF("doc_id", "text"),
        text, d)
      IvfStore.append(Seq(vecs(i)).toDF("vec_id", "embedding"), ivf, d)
    }

    // (family, root, marker dir, one table, compact, shallow fsck)
    val families = Seq[(String, String, String, String, () => Unit, () => Seq[FsckFinding])](
      ("dedup", dedup, "_committed", "digests",
        () => DedupStore.compact(spark, dedup, keepDays = 1): Unit,
        () => DedupStore.fsck(spark, dedup)),
      ("text", text, "markers", "postings",
        () => TextIndexStore.compact(spark, text, keepDays = 1): Unit,
        () => TextIndexStore.fsck(spark, text)),
      ("ivf", ivf, "_committed", "cells",
        () => IvfStore.compact(spark, ivf, keepDays = 1): Unit,
        () => IvfStore.fsck(spark, ivf)))
    families.foreach { case (name, root, markers, table, compact, fsck) =>
      compact() // folds the two oldest days
      compact() // the grace period is over: sweeps their markers and dirs
      val replaced = s"$root/$table/dt=${Days.head}"
      assert(!fsys.exists(new Path(s"$root/$markers/${Days.head}")) &&
        !fsys.exists(new Path(replaced)), s"$name: the fold was not swept")

      // a replaced day's partition is back with its marker already gone
      // (a sweep interrupted between its deletes, or a restored dir)
      fsys.mkdirs(new Path(replaced))
      fsys.create(new Path(replaced, "part-00000-planted.parquet"), true).close()
      val subject = s"$table/dt=${Days.head}"
      assert(fsck().exists(f => f.check == "awaiting-sweep" && f.subject == subject),
        s"$name: the planted dir must surface as awaiting-sweep")

      compact()
      assert(!fsys.exists(new Path(replaced)),
        s"$name: compact must sweep every replaced day's dir, marker or not")
      assert(!fsck().exists(_.subject == subject),
        s"$name: fsck still reports the swept dir")
    }
  }
}
