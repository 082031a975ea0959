package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The store family's marker-commit primitives — ONE copy of the
  * day-name discipline and the tmp + atomic OVERWRITE-rename publish.
  * [[DayStore]] builds the day-partitioned protocol on them; the
  * single-marker stores ([[IvfIndex]]'s centroids, [[SnapshotStore]]'s
  * pointer) use them directly. */
private[operators] object MarkerProtocol {

  /** Reserved prefix for COMPACTION markers: a `merged-*` marker
    * commits like a day marker but its CONTENT lists the day names it
    * replaces, so one atomic rename simultaneously commits the merged
    * partition and un-commits the replaced days. */
  val MergedPrefix = "merged-"

  /** The newline-separated day names a marker's content lists. */
  def readMarker(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Marker names double as literal `dt=<day>` partition paths and
    * delete targets, so the character set must round-trip untouched
    * through path encoding; dot-led names collide with the tmp
    * convention. */
  def requireDayName(day: String): Unit =
    require(day.nonEmpty && day.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.') && !day.startsWith("."),
      s"day must be [A-Za-z0-9._-]+ and not dot-led, got '$day'")

  /** Publish `dir/name` atomically: write `dir/.name.tmp`, then ONE
    * OVERWRITE rename — readers see the old marker or the new one,
    * never a torn write. Creates `dir` when absent. */
  def atomicMarker(conf: Configuration, dir: Path, name: String,
      content: String = ""): Unit = {
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try if (content.nonEmpty) out.write(content.getBytes("UTF-8"))
    finally out.close()
    FileContext.getFileContext(fs.getUri, conf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(new Path(dir, name)),
        Options.Rename.OVERWRITE): Unit
  }

  /** Lower-case hex MD5 of a UTF-8 string — merged-day digests and
    * audit-watermark fingerprints. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One integrity finding from a store `fsck` ([[DedupStore.fsck]],
  * [[IvfStore.fsck]], [[TextIndexStore.fsck]] — one type, so the
  * maintenance cron lands one findings schema for every store kind).
  * Severities:
  *  - `error` — a reader-visible invariant is broken (rows double-
  *    count, or an acceleration table disagrees with the data it
  *    summarizes): fix before trusting query results;
  *  - `warn` — invisible to readers but operationally actionable
  *    (crash debris that a re-run or the next `compact` should
  *    resolve, a day name the delete paths cannot address);
  *  - `info` — expected transient states of the protocol itself
  *    (replaced days inside the sweep grace period). */
final case class FsckFinding(severity: String, check: String,
    subject: String, detail: String)

object FsckFinding {
  private val Rank = Map("error" -> 0, "warn" -> 1, "info" -> 2)

  /** Worst first, then by check and subject — every fsck's order. */
  def sorted(findings: Seq[FsckFinding]): Seq[FsckFinding] =
    findings.sortBy(fi => (Rank(fi.severity), fi.check, fi.subject))
}

/** The MARKER-PROTOCOL DAY-STORE KERNEL — one copy of the protocol
  * [[DedupStore]], [[IvfStore]] and [[TextIndexStore]] share. Each
  * family holds one instance and passes only what is its own: its
  * marker dir, its table list, its pseudo-day rule and the text of
  * its folded-day refusal; fold and deep-recount bodies arrive as
  * closures at the call.
  *
  * Layout under a root: `<table>/dt=<day>/...` per table, one marker
  * per committed day under `markerDirName` (written LAST, atomically),
  * `merged-*` compaction markers whose content lists the days they
  * replace, and `_audit/<day>` deep-audit watermarks.
  *
  *  - A day is COMMITTED iff its marker exists and no committed
  *    `merged-*` marker lists it; readers take only committed days.
  *  - [[commitDay]] retracts the day's marker BEFORE clearing and
  *    rewriting its partitions, so a crash anywhere inside the write
  *    window leaves the day loudly uncommitted — never a live marker
  *    over an empty or partial day that readers would read silently.
  *  - Compaction writes the merged partition as uncommitted debris,
  *    then ONE atomic marker publishes it and un-commits the days it
  *    replaces. The sweep of replaced files runs at the START of the
  *    next compaction — a reader that planned just before the marker
  *    landed may still be scanning them. */
private[operators] final class DayStore(markerDirName: String,
    tablesOf: (FileSystem, String) => Seq[String],
    foldedError: (String, String) => String,
    isPseudoDay: String => Boolean = _.startsWith(MarkerProtocol.MergedPrefix)) {
  import MarkerProtocol.{MergedPrefix, readMarker}

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def markerDir(root: String): Path = new Path(root, markerDirName)

  /** (all marker names, the subset replaced by committed `merged-*`
    * compaction markers). */
  def markerState(f: FileSystem, root: String): (Seq[String], Set[String]) = {
    val dir = markerDir(root)
    if (!f.exists(dir)) (Nil, Set.empty)
    else {
      val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(_.startsWith("."))
      val replaced = names.filter(_.startsWith(MergedPrefix))
        .flatMap(m => readMarker(f, new Path(dir, m))).toSet
      (names, replaced)
    }
  }

  /** Days whose marker committed, sorted — EXCLUDING days a committed
    * `merged-*` marker replaced (their rows live in the merged
    * partition) and INCLUDING committed pseudo-days. */
  def committedDays(spark: SparkSession, root: String): Seq[String] = {
    val (names, replaced) = markerState(fs(spark, root), root)
    names.filterNot(replaced).sorted
  }

  /** Every REAL day name the root has ever committed — the live ones
    * AND those a compaction folded (the `merged-*` markers themselves
    * are partitions, not days). */
  def knownDays(spark: SparkSession, root: String): Seq[String] = {
    val (names, replaced) = markerState(fs(spark, root), root)
    (names ++ replaced).filterNot(_.startsWith(MergedPrefix)).distinct.sorted
  }

  /** The data files directly under `dir` (no `_`/`.`-led side files). */
  def partFiles(f: FileSystem, dir: Path): Seq[FileStatus] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The `dt=` partition names under one table dir — ONE directory
    * listing, not per-day exists() round-trips. */
  def dtNames(f: FileSystem, root: String, table: String): Seq[String] = {
    val dir = new Path(s"$root/$table")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("dt="))
      .map(_.stripPrefix("dt="))
  }

  /** Part-file count over the committed view (flat `dt=` tables). */
  def committedFileCount(spark: SparkSession, root: String): Int = {
    val f = fs(spark, root)
    val days = committedDays(spark, root)
    tablesOf(f, root).map(t =>
      days.map(d => partFiles(f, new Path(s"$root/$t/dt=$d")).size).sum).sum
  }

  /** Refuse a day name the delete paths cannot address, the reserved
    * compaction prefix, and a day a committed compaction already
    * folded (its rows live on in the merged partition, where a re-run
    * can neither replace nor exclude them). */
  def requireWritable(spark: SparkSession, root: String, day: String): Unit = {
    MarkerProtocol.requireDayName(day)
    require(!day.startsWith(MergedPrefix),
      s"'$MergedPrefix' is reserved for compaction markers, got '$day'")
    if (markerState(fs(spark, root), root)._2.contains(day))
      throw new IllegalStateException(foldedError(day, root))
  }

  /** Commit `day`: check it ([[requireWritable]]), retract its marker,
    * clear `dt=<day>` in each of `tables` (dynamic overwrite replaces
    * only partitions PRESENT in the incoming frame, so a replay whose
    * rows shrink or vanish would otherwise leave stale rows standing),
    * run `write`, then publish the marker atomically. `lineage` (origin
    * day names for pseudo-days) rides the marker's content in the same
    * rename. */
  def commitDay(spark: SparkSession, root: String, day: String,
      tables: Seq[String], lineage: Seq[String] = Nil)(write: => Unit): Unit = {
    requireWritable(spark, root, day)
    val f = fs(spark, root)
    f.delete(new Path(markerDir(root), day), false)
    tables.foreach(t => f.delete(new Path(s"$root/$t/dt=$day"), true))
    write
    MarkerProtocol.atomicMarker(spark.sparkContext.hadoopConfiguration,
      markerDir(root), day,
      if (lineage.isEmpty) "" else lineage.mkString("\n") + "\n")
  }

  /** GC of days replaced by a COMMITTED compaction marker — every such
    * day that still has a marker or a `dt=` dir in any table — plus
    * `dt=merged-*` debris whose marker never committed (a crashed
    * compact whose merge set then changed leaves a digest name no
    * marker will ever list). One listing per table. Readers already
    * ignore all of it; runs only at the start of a compaction (the
    * reader grace period). */
  def sweepReplaced(f: FileSystem, root: String): Unit = {
    val (names, replaced) = markerState(f, root)
    val present = names.toSet
    tablesOf(f, root).foreach { t =>
      dtNames(f, root, t)
        .filter(d => replaced(d) || (d.startsWith(MergedPrefix) && !present(d)))
        .foreach(d => f.delete(new Path(s"$root/$t/dt=$d"), true))
    }
    names.filter(replaced).foreach(d => f.delete(new Path(markerDir(root), d), false))
  }

  /** Sweep, then plan a compaction: fold committed REAL days older
    * than the newest `keepDays` (pseudo-days sort after date-named
    * days and would eat the protected window). TIERED: merged
    * partitions accumulate up to `graft.store.maxMergedParts`
    * (default 4) before a run folds the merged tier too, so archive
    * churn is O(archive/maxMergedParts) per run instead of
    * O(archive). The merged day's name is a digest of the folded
    * list, so a crashed retry converges on the same name. None when
    * nothing qualifies. */
  def planCompaction(spark: SparkSession, root: String,
      keepDays: Int): Option[DayStore.Merge] = {
    require(keepDays >= 0, "keepDays must be >= 0")
    sweepReplaced(fs(spark, root), root) // heal a crash between commit and sweep
    val (alreadyMerged, realDays) = committedDays(spark, root).partition(isPseudoDay)
    val newOld = realDays.dropRight(keepDays)
    val maxMergedParts = spark.conf.getOption("graft.store.maxMergedParts")
      .map(_.toInt).getOrElse(4)
    require(maxMergedParts >= 1, "graft.store.maxMergedParts must be >= 1")
    val mergeDays =
      if (alreadyMerged.size + 1 > maxMergedParts) alreadyMerged ++ newOld
      else newOld
    if (mergeDays.size < 2 || newOld.isEmpty) None
    else {
      val digest = MarkerProtocol.md5Hex(mergeDays.mkString(",")).take(12)
      Some(DayStore.Merge(s"$MergedPrefix${mergeDays.size}d-$digest", mergeDays))
    }
  }

  /** Publish a folded merge: ONE atomic marker whose content lists the
    * replaced names TRANSITIVELY — a folded pseudo-day contributes its
    * own name (so the sweep can GC it) plus every day its marker
    * listed, so days folded two generations back stay protected from
    * re-writes. Inner contents are already closures, so one level of
    * expansion is the full closure. */
  def commitMerge(spark: SparkSession, root: String, merge: DayStore.Merge): Unit = {
    val f = fs(spark, root)
    val content = merge.days.flatMap { d =>
      if (isPseudoDay(d)) d +: readMarker(f, new Path(markerDir(root), d))
      else Seq(d)
    }.distinct
    MarkerProtocol.atomicMarker(spark.sparkContext.hadoopConfiguration,
      markerDir(root), merge.day, content.mkString("\n") + "\n")
  }

  /** MD5 over one day's part files (table/name:length) in every table,
    * plus `suffix` — a deep-audit fingerprint that moves on any write
    * (every write lands fresh UUID'd part names). */
  def filesFingerprint(f: FileSystem, root: String, day: String,
      suffix: String = ""): String =
    MarkerProtocol.md5Hex(tablesOf(f, root).flatMap { t =>
      partFiles(f, new Path(s"$root/$t/dt=$day"))
        .map(st => s"$t/${st.getPath.getName}:${st.getLen}")
    }.sorted.mkString("\n") + suffix)

  /** The shared SHALLOW fsck — metadata only, O(days) listings:
    *  - `tmp-marker` (warn): a crashed commit's `.DAY.tmp`;
    *  - `empty-merged-marker` (error): a live merged marker replacing
    *    no days (compaction never writes one);
    *  - `double-merged` (error): a day claimed by two live merged
    *    markers — its rows count twice in the committed view;
    *  - `invalid-day-name` (warn): a marker the literal `dt=DAY`
    *    delete paths cannot address;
    *  - `orphan-partition` (warn) / `merged-debris` (info): a `dt=`
    *    dir no marker ever named — crash debris between write and
    *    publish, or an uncommitted merged partition;
    *  - `awaiting-sweep` (info): replaced days' dirs and markers
    *    inside the sweep grace period. */
  def fsckShallow(f: FileSystem, root: String): Seq[FsckFinding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckFinding]
    val dir = markerDir(root)
    val (names, replaced) = markerState(f, root)
    val live = names.filterNot(replaced).toSet

    if (f.exists(dir))
      f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(".") && n.endsWith(".tmp"))
        .foreach(n => out += FsckFinding("warn", "tmp-marker", n,
          "crashed commit left a temp marker; the day never published — " +
            "re-run its write (idempotent) or delete the file"))

    val contents = names.filter(n => n.startsWith(MergedPrefix) && live(n))
      .map(m => m -> readMarker(f, new Path(dir, m)))
    contents.foreach { case (m, c) =>
      if (c.isEmpty) out += FsckFinding("error", "empty-merged-marker", m,
        "committed compaction marker replaces no days — compact() never " +
          "writes one; remove it and audit how it appeared")
    }
    contents
      .flatMap { case (m, c) => c.filterNot(_.startsWith(MergedPrefix)).map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
      .foreach { case (d, ms) =>
        out += FsckFinding("error", "double-merged", d,
          s"day claimed by ${ms.size} live compaction markers " +
            s"(${ms.map(_._2).sorted.mkString(", ")}) — its rows are " +
            "duplicated across merged partitions and the committed view " +
            "double-counts them") }

    names.filterNot(_.startsWith(MergedPrefix))
      .filterNot(n => scala.util.Try(MarkerProtocol.requireDayName(n)).isSuccess)
      .foreach(n => out += FsckFinding("warn", "invalid-day-name", n,
        "marker name outside [A-Za-z0-9._-]+ — partition-dir encoding " +
          "diverges from the literal dt=DAY paths the store deletes by"))

    val everNamed = names.toSet ++ replaced
    tablesOf(f, root).foreach { t =>
      dtNames(f, root, t).sorted.foreach { d =>
        if (!everNamed.contains(d)) {
          if (d.startsWith(MergedPrefix))
            out += FsckFinding("info", "merged-debris", s"$t/dt=$d",
              "uncommitted merged partition (crashed compact); the next " +
                "compact() sweeps it")
          else
            out += FsckFinding("warn", "orphan-partition", s"$t/dt=$d",
              "partition with no marker (crash between table write and " +
                "publish): invisible to readers — re-run the day's write " +
                "or delete the directory")
        } else if (replaced.contains(d))
          out += FsckFinding("info", "awaiting-sweep", s"$t/dt=$d",
            "replaced by a committed compaction; swept at the next " +
              "compact() after the reader grace period")
      }
    }
    names.filter(replaced.contains).foreach(n =>
      out += FsckFinding("info", "awaiting-sweep", s"$markerDirName/$n",
        "replaced day's marker inside the sweep grace period"))
    out.toSeq
  }

  /** Deep-audit WATERMARK bookkeeping: each committed day that
    * recounts CLEAN commits `_audit/<day>` holding its `fingerprint`,
    * and later audits recount only days whose fingerprint moved or
    * whose watermark is absent (`force` recounts all). `recount` gets
    * the days to recount and returns the DIRTY days — those lose
    * their watermark wherever they sit (a cross-day fault's unchanged
    * partner included), so a fault re-surfaces every audit until
    * repaired. Watermarks of days no longer committed are dropped, so
    * a later same-named day re-audits. No-op on an empty store. */
  def audit(spark: SparkSession, root: String, committed: Seq[String],
      force: Boolean)(fingerprint: String => String)(
      recount: Seq[String] => collection.Set[String]): Unit =
    if (committed.nonEmpty) {
      val f = fs(spark, root)
      val auditDir = new Path(root, "_audit")
      val fps = committed.map(d => d -> fingerprint(d)).toMap
      val watermarks: Map[String, String] =
        if (!f.exists(auditDir)) Map.empty
        else f.listStatus(auditDir).toSeq.map(_.getPath)
          .filterNot(_.getName.startsWith("."))
          .map(p => p.getName -> readMarker(f, p).headOption.getOrElse("")).toMap
      watermarks.keys.filterNot(fps.contains)
        .foreach(d => f.delete(new Path(auditDir, d), false))
      val toRecount =
        if (force) committed
        else committed.filter(d => !watermarks.get(d).contains(fps(d)))
      if (toRecount.nonEmpty) {
        val dirty = recount(toRecount)
        dirty.foreach(d => f.delete(new Path(auditDir, d), false))
        toRecount.filterNot(dirty).foreach(d =>
          MarkerProtocol.atomicMarker(spark.sparkContext.hadoopConfiguration,
            auditDir, d, fps(d)))
      }
    }
}

private[operators] object DayStore {
  /** A planned compaction: the merged pseudo-day's name and the days
    * it folds. */
  final case class Merge(day: String, days: Seq[String])
}
