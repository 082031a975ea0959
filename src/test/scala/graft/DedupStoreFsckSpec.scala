package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupStore, FsckFinding}

/** [[DedupStore.fsck]] — the store integrity audit. The marker
  * protocol is crash-safe only while its invariants hold; fsck is the
  * tool that VERIFIES them after a restore, a manual copy, or a bug.
  * The matrix: a healthy store at every lifecycle stage yields no
  * error/warn findings, and each constructed corruption is detected
  * by exactly the intended check. All tampering goes through the
  * Hadoop FileSystem API — java.nio writes would leave stale .crc
  * sidecars on the local ChecksumFileSystem and fail the read back.
  */
class DedupStoreFsckSpec extends AnyFunSuite with SparkSpec {

  private def hfs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(ids: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toSeq.toDF("doc_id", "text")
  }

  // per-day disjoint vocab: no accidental cross-day suppression
  private def text(d: Int): String =
    (1 to 10).map(w => s"fw${d}k$w").mkString(" ")

  private def nearStore(days: Int): String = {
    val root = Files.createTempDirectory("fsck-near").toString
    (1 to days).foreach(d =>
      DedupStore.ingest(docs((d * 10L) -> text(d)), root, f"2024-03-$d%02d"))
    root
  }

  private def containStore(days: Int): String = {
    val root = Files.createTempDirectory("fsck-con").toString
    (1 to days).foreach(d =>
      DedupStore.ingestContained(
        docs((d * 10L) -> text(d)), root, f"2024-03-$d%02d"))
    root
  }

  private def sev(fs: Seq[FsckFinding], s: String) =
    fs.filter(_.severity == s)
  private def checks(fs: Seq[FsckFinding]) =
    fs.map(_.check).toSet

  private def writeMarker(root: String, name: String, content: String): Unit = {
    val out = hfs.create(new Path(s"$root/_committed/$name"), true)
    try if (content.nonEmpty) out.write((content + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("healthy store at every lifecycle stage: no error/warn findings") {
    val root = nearStore(4)
    // fresh store, shallow + deep
    val f1 = DedupStore.fsck(spark, root, deep = true)
    assert(sev(f1, "error").isEmpty && sev(f1, "warn").isEmpty,
      s"fresh store must be clean, got $f1")

    // post-compaction, pre-sweep: replaced garbage is an expected
    // transient — info only, never error/warn
    DedupStore.compact(spark, root, keepDays = 1)
    val f2 = DedupStore.fsck(spark, root, deep = true)
    assert(sev(f2, "error").isEmpty && sev(f2, "warn").isEmpty,
      s"post-compaction store must be clean, got $f2")
    assert(checks(f2).contains("awaiting-sweep"),
      "pre-sweep replaced days must surface as info")

    // post-sweep (the next compact): transients gone entirely
    DedupStore.ingest(docs(50L -> text(5)), root, "2024-03-05")
    DedupStore.compact(spark, root, keepDays = 1)
    val f3 = DedupStore.fsck(spark, root)
    assert(!checks(f3).contains("orphan-partition") &&
      sev(f3, "error").isEmpty, s"post-sweep store must be clean, got $f3")
  }

  test("healthy containment store (df accel) is deep-clean") {
    val root = containStore(3)
    val f = DedupStore.fsck(spark, root, deep = true)
    assert(sev(f, "error").isEmpty && sev(f, "warn").isEmpty,
      s"containment store must be clean, got $f")
  }

  test("crash debris: tmp marker, orphan partition, merged debris") {
    val root = nearStore(2)
    val out = hfs.create(new Path(s"$root/_committed/.2024-03-09.tmp"), true)
    out.close()
    hfs.mkdirs(new Path(s"$root/sets/dt=2024-09-09"))
    hfs.mkdirs(new Path(s"$root/bands/dt=merged-77d-feedface0000"))
    val f = DedupStore.fsck(spark, root)
    assert(f.exists(x => x.check == "tmp-marker" &&
      x.subject == ".2024-03-09.tmp" && x.severity == "warn"))
    assert(f.exists(x => x.check == "orphan-partition" &&
      x.subject == "sets/dt=2024-09-09" && x.severity == "warn"))
    assert(f.exists(x => x.check == "merged-debris" &&
      x.subject == "bands/dt=merged-77d-feedface0000" && x.severity == "info"))
    assert(sev(f, "error").isEmpty, "debris is never an error")
  }

  test("double-merged: a day claimed by two live compaction markers is an error") {
    val root = nearStore(4)
    DedupStore.compact(spark, root, keepDays = 1) // folds days 1-3
    // a second (hand-made) live merged marker re-claiming a folded day
    writeMarker(root, "merged-1d-cafecafe0000", "2024-03-02")
    val f = DedupStore.fsck(spark, root)
    val dbl = f.filter(_.check == "double-merged")
    assert(dbl.map(_.subject) == Seq("2024-03-02") &&
      dbl.forall(_.severity == "error"), s"expected one double-merged, got $f")
  }

  test("empty merged marker and invalid day name are flagged") {
    val root = nearStore(1)
    writeMarker(root, "merged-0d-000000000000", "")
    writeMarker(root, "bad day name", "")
    val f = DedupStore.fsck(spark, root)
    assert(f.exists(x => x.check == "empty-merged-marker" &&
      x.subject == "merged-0d-000000000000" && x.severity == "error"))
    assert(f.exists(x => x.check == "invalid-day-name" &&
      x.subject == "bad day name" && x.severity == "warn"))
  }

  test("accel partition without sets (zero-survivor day) is flagged") {
    val root = nearStore(2)
    // day 2's survivors "disappear" but its postings partition stays —
    // the accel table now claims shingles for rows that do not exist
    hfs.delete(new Path(s"$root/sets/dt=2024-03-02"), true)
    val f = DedupStore.fsck(spark, root)
    assert(f.exists(x => x.check == "accel-without-sets" &&
      x.subject == "postings/dt=2024-03-02" && x.severity == "warn"), s"got $f")
  }

  test("deep: duplicated partitions (restore gone wrong) fail identity uniqueness") {
    val root = nearStore(2)
    // "restore" day 1's sets under a new committed day — the classic
    // backup-replay double-commit
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(hfs, new Path(s"$root/sets/dt=2024-03-01"),
      hfs, new Path(s"$root/sets/dt=2024-03-07"), false, conf)
    FileUtil.copy(hfs, new Path(s"$root/postings/dt=2024-03-01"),
      hfs, new Path(s"$root/postings/dt=2024-03-07"), false, conf)
    writeMarker(root, "2024-03-07", "")
    assert(!DedupStore.fsck(spark, root).exists(_.severity == "error"),
      "shallow fsck cannot see inside partitions")
    val f = DedupStore.fsck(spark, root, deep = true)
    // sets.id is a SIMILARITY-suppressed key (a content-drifted
    // re-ingest can legitimately commit the same id twice), so the
    // restore-replay signature is warn-grade here, not error-grade
    assert(f.exists(x => x.check == "dup-identity" && x.subject == "sets.id" &&
      x.severity == "warn"), s"got $f")
  }

  test("deep: duplicated digests.fp stays error-grade (exact ingest is key-suppressed)") {
    val root = Files.createTempDirectory("fsck-exact").toString
    val d1 = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    DedupStore.ingestExact(d1, root, "2024-03-01")
    DedupStore.ingestExact(docs(3L -> "unique eta theta iota"), root, "2024-03-02")
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(hfs, new Path(s"$root/digests/dt=2024-03-01"),
      hfs, new Path(s"$root/digests/dt=2024-03-07"), false, conf)
    writeMarker(root, "2024-03-07", "")
    val f = DedupStore.fsck(spark, root, deep = true)
    assert(f.exists(x => x.check == "dup-identity" && x.subject == "digests.fp" &&
      x.severity == "error"), s"got $f")
  }

  test("deep: tampered df occupancy is caught by the recount") {
    val root = containStore(2)
    val conf = spark.sparkContext.hadoopConfiguration
    hfs.delete(new Path(s"$root/df/dt=2024-03-02"), true)
    FileUtil.copy(hfs, new Path(s"$root/df/dt=2024-03-01"),
      hfs, new Path(s"$root/df/dt=2024-03-02"), false, conf)
    val f = DedupStore.fsck(spark, root, deep = true)
    assert(f.exists(x => x.check == "df-mismatch" && x.severity == "error"),
      s"got $f")
  }

  test("fsckStores audits all five curation roots; absent roots are clean") {
    val root = Files.createTempDirectory("fsck-job").toString
    // letter-only vocab per day (the job's quality floor demands
    // alpha ratio >= 0.5 — digit-heavy synthetic words get cut)
    def jobText(d: Int): String =
      (1 to 20).map(w => s"f${('a' + d).toChar}${('a' + w).toChar}zz").mkString(" ")
    (1 to 2).foreach(d => graft.jobs.IncrementalCurationJob.ingestDay(
      docs((d * 100L) -> jobText(d)), root, f"2024-05-$d%02d", stats = false))
    val clean = graft.jobs.IncrementalCurationJob.fsckStores(spark, root, deep = true)
    assert(clean.keySet === Set("exact", "near", "contain", "phash", "cos"))
    assert(clean.values.forall(_.forall(_.severity == "info")),
      s"healthy curation stores must audit clean, got $clean")
    assert(clean("phash").isEmpty && clean("cos").isEmpty,
      "absent (day-zero) roots must yield no findings")
    // tamper exactly one root: the finding lands under that key only
    hfs.mkdirs(new Path(s"$root/near/sets/dt=2024-09-09"))
    val dirty = graft.jobs.IncrementalCurationJob.fsckStores(spark, root)
    assert(dirty("near").exists(_.check == "orphan-partition"))
    assert(dirty.filterNot(_._1 == "near").values.forall(
      _.forall(_.severity == "info")))
  }

  test("watermark induction survives accel incompleteness: a day corrupted while the df table was incomplete re-audits the moment it completes") {
    // round 17 (advice): the df/postings recounts are SKIPPED while
    // their table is incomplete, but days were still watermarked — a
    // corruption planted in that window stayed invisible forever once
    // the table later completed (the day's own files never moved
    // again). Completeness now rides the day fingerprint, so the
    // false→true flip re-audits everything.
    val root = containStore(3)
    val conf = spark.sparkContext.hadoopConfiguration
    val stash = new Path(Files.createTempDirectory("fsck-stash").toString, "df")
    // make the df table INCOMPLETE: stash day-1's partition away
    FileUtil.copy(hfs, new Path(s"$root/df/dt=2024-03-01"),
      hfs, stash, false, conf)
    hfs.delete(new Path(s"$root/df/dt=2024-03-01"), true)
    // corrupt day-2's df while the check is un-runnable (incomplete)
    hfs.delete(new Path(s"$root/df/dt=2024-03-02"), true)
    FileUtil.copy(hfs, new Path(s"$root/df/dt=2024-03-03"),
      hfs, new Path(s"$root/df/dt=2024-03-02"), false, conf)
    val f1 = DedupStore.fsck(spark, root, deep = true)
    assert(!f1.exists(_.check == "df-mismatch"),
      s"df check must skip while the table is incomplete, got $f1")
    // the df table COMPLETES (day-1 restored, itself intact) — the
    // day-2 corruption must surface although day-2's files did not
    // move since its watermark
    FileUtil.copy(hfs, stash, hfs, new Path(s"$root/df/dt=2024-03-01"),
      false, conf)
    val f2 = DedupStore.fsck(spark, root, deep = true)
    assert(f2.exists(x => x.check == "df-mismatch" && x.severity == "error"),
      s"completeness flip must re-audit watermarked days, got $f2")
  }

  test("deep: tampered postings coverage is caught") {
    val root = nearStore(2)
    val conf = spark.sparkContext.hadoopConfiguration
    hfs.delete(new Path(s"$root/postings/dt=2024-03-02"), true)
    FileUtil.copy(hfs, new Path(s"$root/postings/dt=2024-03-01"),
      hfs, new Path(s"$root/postings/dt=2024-03-02"), false, conf)
    val f = DedupStore.fsck(spark, root, deep = true)
    assert(f.exists(x => x.check == "postings-mismatch" &&
      x.severity == "error"), s"got $f")
  }

  /** Total numFiles over data scans under `root` while `body` runs —
    * the day-scoped audit's read-volume probe (the IvfStorePqSpec
    * listener pattern). */
  private def filesReadUnder(root: String)(body: => Unit): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          walk(r.child)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(im.relation.cachedPlan)
        case fsc: FileSourceScanExec => Seq(fsc)
        case other => other.children.flatMap(walk)
      }
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        walk(qe.executedPlan).foreach { sc =>
          if (seen.add(sc) &&
              sc.relation.location.rootPaths.exists(_.toString.contains(root)))
            total.addAndGet(sc.metrics("numFiles").value): Unit
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try {
      body
      org.apache.spark.graft.ListenerBridge.flush(spark.sparkContext, 30000L)
    } finally spark.listenerManager.unregister(qel)
    total.get()
  }

  test("deep fsck is day-scoped: an untouched archive re-reads ZERO data files; a restored day re-surfaces its dup until repaired; force recounts all") {
    val root = nearStore(3)
    // audit 1 (no watermarks): the full recount — reads data
    val read1 = filesReadUnder(root) {
      assert(DedupStore.fsck(spark, root, deep = true)
        .forall(_.severity == "info"))
    }
    assert(read1 > 0, "first audit must actually recount")
    // audit 2: nothing moved — the deep pass reads ZERO data files
    val read2 = filesReadUnder(root) {
      assert(DedupStore.fsck(spark, root, deep = true)
        .forall(_.severity == "info"))
    }
    assert(read2 === 0L,
      s"untouched archive must not re-read set/sig/postings files: $read2")
    // restore-replay day 1 under a new day name: the changed-day ×
    // archive semi-join must find the cross-day dup — and BOTH days
    // holding it lose their watermark, so it re-surfaces every audit
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(hfs, new Path(s"$root/sets/dt=2024-03-01"),
      hfs, new Path(s"$root/sets/dt=2024-03-07"), false, conf)
    FileUtil.copy(hfs, new Path(s"$root/postings/dt=2024-03-01"),
      hfs, new Path(s"$root/postings/dt=2024-03-07"), false, conf)
    writeMarker(root, "2024-03-07", "")
    val fA = DedupStore.fsck(spark, root, deep = true)
    assert(fA.exists(x => x.check == "dup-identity" && x.subject == "sets.id"),
      s"got $fA")
    val fB = DedupStore.fsck(spark, root, deep = true)
    assert(fB.exists(x => x.check == "dup-identity" && x.subject == "sets.id"),
      s"dirty days must re-surface every audit: $fB")
    // repair (delete the restored day): one clean recount of the
    // implicated days re-watermarks; the audit after that is zero-read
    hfs.delete(new Path(s"$root/sets/dt=2024-03-07"), true)
    hfs.delete(new Path(s"$root/postings/dt=2024-03-07"), true)
    hfs.delete(new Path(s"$root/_committed/2024-03-07"), false)
    assert(DedupStore.fsck(spark, root, deep = true).forall(_.severity == "info"))
    val readHealed = filesReadUnder(root) {
      assert(DedupStore.fsck(spark, root, deep = true)
        .forall(_.severity == "info"))
    }
    assert(readHealed === 0L, s"healed store must go back to zero: $readHealed")
    // force = the full recount on demand
    val readF = filesReadUnder(root) {
      assert(DedupStore.fsck(spark, root, deep = true, force = true)
        .forall(_.severity == "info"))
    }
    assert(readF > 0, "force must recount the whole committed set")
  }
}
