package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupStore, FsckFinding, IvfStore}

/** The store-maintenance surface as ONE cron entry
  * (`--job=maintenanceJob`) — round 13's answer to "an operator today
  * writes a driver script": compaction, integrity audit, and (when an
  * ANN root rides along) the drift + serving-recall monitors, each
  * landed as a parquet report dir the way [[CurationReportJob]] lands
  * the corpus dashboard —
  *
  *   compaction   per-store [[DedupStore.compact]] /
  *                [[IvfStore.compact]] /
  *                [[graft.operators.TextIndexStore.compact]] outcome
  *                (what folded, the small-files metric before/after,
  *                un-swept victims)
  *   cos_bands    [[DedupStore.rebuildCosBands]] over the `cos` root
  *                (round 17) — heals an epoch-mismatched or
  *                pre-feature persisted band table ONCE at
  *                maintenance cadence, so ingestCosine never pays the
  *                archive re-band daily; `in-sync` when nothing to do,
  *                empty for absent roots, `failed: …` on a real error
  *   fsck         every [[FsckFinding]] across the five
  *                dedup roots (+ the IVF root keyed "ivf", + the
  *                retrieval root keyed "text_index" — which carries
  *                NO monitors: no trained state to drift, no recall
  *                arm, so compact + fsck is its whole story)
  *   drift        [[IvfStore.driftReport]] — per-day dist² vs the
  *                seed baseline + cell-occupancy axis
  *   recall       [[IvfStore.recallReport]] — per-day recall@topK at
  *                the serving `nprobe` vs the exact full probe
  *   adc_recall   [[IvfStore.adcRecallReport]] (round 16) — the same
  *                per-day recall for the ADC SERVING path of a
  *                PQ-enabled root, one row block per (nprobe, rerank)
  *                arm (always `(nprobe, 0)`; `adcRerank >= topK` adds
  *                a re-ranked arm) — the acceptance number an
  *                operator reads before/after flipping `enablePq` on;
  *                empty schema-stable for float-serving roots
  *   rebuild      what the opt-in [[RebuildPolicy]] decided this run
  *                (which threshold which day breached, and whether
  *                the serving pointer was swapped) — empty when no
  *                policy is configured or nothing breached
  *   retire       [[graft.operators.SnapshotStore.retireRoots]]
  *                outcomes for BOTH serving pointers (round 16) — the
  *                policy's IVF pointer and the opt-in
  *                `textIndexPointer` — roots a flip/reindex replaced,
  *                marked this run or deleted after the one-cadence
  *                grace, one row per outcome with the owning store
  *                named; empty for pointers not configured or never
  *                published. A retirement FAILURE (a failed root
  *                delete, a torn pointer read) lands as its own
  *                `failed: …` row instead of being swallowed (round
  *                16, advice): retirement silently stopping is
  *                exactly the disk leak this step exists to close.
  *
  * ORDER: compact first, then audit — the audit then describes the
  * post-maintenance state (a pre-compact fsck would flag the very
  * `awaiting-sweep` transients compact is about to clear, training
  * operators to ignore the report). Drift/recall read only committed
  * state, so they are order-independent.
  *
  * Every report REUSES the library functions the specs gate
  * ([[IncrementalCurationJob.compactStoresWithIvf]],
  * [[IncrementalCurationJob.fsckStoresWithIvf]], the IvfStore
  * monitors) — one code path, so the cron job cannot drift from what
  * the specs prove. Totality: absent roots no-op (day-zero pipeline),
  * an IVF root with nothing probeable lands EMPTY schema-stable
  * drift/recall reports instead of dying — the cron entry must
  * survive day zero.
  *
  * Scale shape: compaction and fsck are metadata-plus-bounded-scan
  * passes (fsck deep is one full scan — that is what the `deep` knob
  * prices); drift is one committed-cells scan; recall is two sharded
  * probe batches. Every landed report is O(stores + days + findings)
  * rows — the single-file coalesce is a convenience, not a funnel.
  *
  * Returns report → row count (the scalar summary a cron log keeps).
  */
object MaintenanceJob {

  /** One row per store root in the compaction report. `units` names
    * what before/after count — the dedup stores bound committed FILES,
    * the IVF store bounds day DIRS — and `awaiting_sweep` is the IVF
    * protocol's deferred-sweep count (null for the dedup stores, whose
    * report predates the field). */
  private def compactionFrame(spark: SparkSession,
      dedup: Map[String, DedupStore.CompactionReport],
      ivf: Option[IvfStore.CompactionReport],
      textIndex: Option[graft.operators.TextIndexStore.CompactionReport] = None)
      : DataFrame = {
    import spark.implicits._
    val dd = dedup.toSeq.sortBy(_._1).map { case (s0, r) =>
      (s0, r.mergedDay, r.daysMerged, "files",
        r.filesBefore, r.filesAfter, Option.empty[Int])
    }
    val iv = ivf.toSeq.map(r =>
      ("ivf", r.mergedDay, r.foldedDays, "day_dirs",
        r.dayDirsBefore, r.dayDirsAfter, Some(r.awaitingSweep)))
    val tx = textIndex.toSeq.map(r =>
      ("text_index", r.mergedDay, r.foldedDays, "files",
        r.filesBefore, r.filesAfter, Option.empty[Int]))
    (dd ++ iv ++ tx).toDF("store", "merged_day", "folded_days", "units",
      "before", "after", "awaiting_sweep")
  }

  private def findingsFrame(spark: SparkSession,
      byStore: Map[String, Seq[FsckFinding]]): DataFrame = {
    import spark.implicits._
    byStore.toSeq.sortBy(_._1).flatMap { case (s0, fs0) =>
      fs0.map(f => (s0, f.severity, f.check, f.subject, f.detail))
    }.toDF("store", "severity", "check", "subject", "detail")
  }

  /** OPT-IN evidence-gated auto-rebuild: when any committed day's
    * `drift_ratio` exceeds `driftRatioMax` OR any day's recall@topK at
    * the serving nprobe falls below `recallMin`, the job re-trains the
    * serving root into `newRoot` and flips `pointer` atomically
    * ([[IvfStore.rebuildVia]] — probes read the old root until the
    * flip; the write-window catch-up runs automatically). The trigger
    * evidence is exactly the drift/recall reports this job lands, so
    * the landed parquet always explains WHY a rebuild fired.
    *
    * Safety rails — each degrades to a `skipped-*` report row, never
    * an exception, because the cron entry must keep landing reports
    * whatever state an operator left behind: a breach whose monitored
    * root is NOT the pointer's current root lands
    * `skipped-monitored-root-mismatch` (evidence computed on one root
    * must never swap another — the both-`ivfRoot=`-and-`ivfPointer=`
    * crontab after a successful swap hits this every night until
    * fixed, visibly), and a `newRoot` that already holds a committed
    * index lands `skipped-existing-newroot` (a previous manual run's
    * leftovers). One rebuild per run at most; the next
    * run's monitors read the fresh root (re-seeded drift baseline),
    * so a cured store stops firing and an uncured one surfaces as a
    * repeat `skipped` row a human must look at. */
  /** `recallMin` sizing note: [[IvfStore.recallReport]]'s self-recall
    * methodology FLOORS recall at `1/topK` (the query's own cell is
    * always probed), so a threshold at or below that floor — 0.2 at
    * the default topK = 5 — can NEVER fire; keep it strictly above. */
  final case class RebuildPolicy(pointer: String, newRoot: String,
      k: Int, iters: Int = 5, driftRatioMax: Double = 2.0,
      recallMin: Double = 0.8)

  /** `action` is a CLOSED enum — `rebuilt`, `skipped-unpublished-
    * pointer`, `skipped-monitored-root-mismatch`,
    * `skipped-existing-newroot`, `failed-rebuild` — so dashboards can
    * key alert rules on it with bounded cardinality (round 14,
    * advice); the free-text facts ride their own columns:
    * `serving_root` is where the pointer ACTUALLY serves after this
    * run's action (on `failed-rebuild` that may be `new_root` — a
    * post-flip catch-up failure — and the operator recovery differs;
    * see [[IvfStore.rebuildVia]]'s phase-scoped contract), `error` is
    * the truncated failure message (null unless `failed-rebuild`). */
  private val RebuildReportCols = Seq(
    "trigger", "dt", "observed", "threshold", "old_root", "new_root",
    "action", "serving_root", "error")

  /** Evaluate + (maybe) fire the policy; returns the landed report
    * rows. Empty frame (schema-stable) when no policy, nothing
    * probeable, or no trigger breached. */
  private def rebuildFrame(spark: SparkSession, policy: Option[RebuildPolicy],
      ivfRoot: Option[String], probeable: Boolean,
      drift: DataFrame, recall: DataFrame): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, String, Double, Double, String, String,
        String, String, Option[String])]
      .toDF(RebuildReportCols: _*)
    val p = policy.getOrElse(return empty)
    if (!probeable) return empty
    // the worst breaching day per axis — tiny frames (one row per day)
    val driftHit = drift.select($"dt", $"drift_ratio").collect()
      .flatMap(r => Option(r.get(1)).map(v => (r.getString(0), r.getDouble(1))))
      .filter(_._2 > p.driftRatioMax).sortBy(-_._2).headOption
      .map { case (dt, v) => ("drift", dt, v, p.driftRatioMax) }
    val recallHit = recall.select($"dt", $"recall").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .filter(_._2 < p.recallMin).sortBy(_._2).headOption
      .map { case (dt, v) => ("recall", dt, v, p.recallMin) }
    val hits = driftHit.toSeq ++ recallHit.toSeq
    if (hits.isEmpty) return empty
    // safety rails evaluated ONLY on a breach, and EVERY outcome —
    // conflicts and failures included — degrades to a report row
    // (cron totality): the drift/recall evidence the job exists to
    // land must never be destroyed by the reaction to it. In
    // particular: an operator who left both ivfRoot= and ivfPointer=
    // in crontab gets a nightly mismatch row after a swap (never a
    // dead cron), an unpublished pointer gets its own row, and a
    // rebuild that throws mid-flight (unwritable newRoot, a catchUp
    // refusal) lands as failed-rebuild with the message.
    val servingTry = scala.util.Try(IvfStore.currentRoot(spark, p.pointer))
    // compare QUALIFIED paths, not raw strings — a trailing slash or
    // scheme difference in crontab must not permanently skip rebuilds
    def qual(s0: String): String = {
      val hp = new org.apache.hadoop.fs.Path(s0)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toString
    }
    val (serving, action, servingNow, error) = servingTry match {
      case scala.util.Failure(_) =>
        ("", "skipped-unpublished-pointer", "", Option.empty[String])
      case scala.util.Success(sv) =>
        if (!ivfRoot.map(qual).contains(qual(sv)))
          (sv, "skipped-monitored-root-mismatch", sv, Option.empty[String])
        else if (scala.util.Try(
            graft.operators.IvfIndex.open(spark, p.newRoot)).isSuccess)
          (sv, "skipped-existing-newroot", sv, Option.empty[String])
        else scala.util.Try(
            IvfStore.rebuildVia(spark, p.pointer, p.newRoot, p.k, p.iters)) match {
          case scala.util.Success(_) =>
            (sv, "rebuilt", p.newRoot, Option.empty[String])
          case scala.util.Failure(e) =>
            // a failure AFTER rebuildVia's internal flip (the
            // post-flip catch-up refusing) leaves the pointer on the
            // NEW root — serving_root must say where serving actually
            // is, or the pre-flip 'delete newRoot and re-run' recovery
            // deletes the root the pointer now serves
            val now = scala.util.Try(
              IvfStore.currentRoot(spark, p.pointer)).getOrElse(sv)
            (sv, "failed-rebuild", now,
              Some(Option(e.getMessage).getOrElse(e.toString).take(300)))
        }
    }
    hits.map { case (trig, dt, v, thr) =>
      (trig, dt, v, thr, serving, p.newRoot, action, servingNow, error)
    }.toDF(RebuildReportCols: _*)
  }

  def run(spark: SparkSession, root: String, ivfRoot: Option[String],
      outDir: String, keepDays: Int = 7, deep: Boolean = false,
      nprobe: Int = 8, topK: Int = 5,
      queriesPerDay: Int = 16,
      rebuildPolicy: Option[RebuildPolicy] = None,
      textIndexRoot: Option[String] = None,
      retireKeepRoots: Int = 2,
      textIndexPointer: Option[String] = None,
      adcRerank: Int = 0): Map[String, Long] = {
    import spark.implicits._

    // 1. compact (sweeps prior runs' replaced debris first, per store)
    val (dedupComp, ivfComp) = ivfRoot match {
      case Some(ir) =>
        val (d, i) = IncrementalCurationJob
          .compactStoresWithIvf(spark, root, ir, keepDays)
        (d, Some(i))
      case None =>
        (IncrementalCurationJob.compactStores(spark, root, keepDays), None)
    }
    // the retrieval co-append's root (round 14): one more additive
    // store in the same sweep; it carries no monitors — no trained
    // state to drift, no recall arm to compare — so compact + fsck
    // IS its whole maintenance story
    val txComp = textIndexRoot
      .filter(tr => new org.apache.hadoop.fs.Path(tr)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(tr)))
      .map(tr => graft.operators.TextIndexStore.compact(spark, tr, keepDays))

    // 1c. cosine band-table maintenance (round 17): a conf-epoch
    // change or a pre-feature cos store pays an archive re-band on
    // every ingestCosine until the persisted band table is rebuilt —
    // heal it HERE, once, at maintenance cadence
    // ([[graft.operators.DedupStore.rebuildCosBands]]; in-sync stores
    // no-op). Absent/day-zero roots land no row; a genuine failure
    // lands `failed: …` (the retire-step totality stance).
    val cosRoot = s"$root/cos"
    val cosBands: Seq[(String, Int, String)] = {
      val hp = new org.apache.hadoop.fs.Path(cosRoot)
      if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(hp)) Nil
      else scala.util.Try(
          graft.operators.DedupStore.rebuildCosBands(spark, cosRoot)) match {
        case scala.util.Success(r) => Seq((r.action, r.daysRebuilt, r.epoch))
        case scala.util.Failure(e) => Seq((
          s"failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}",
          0, ""))
      }
    }

    // 2. audit the post-maintenance state
    val findings0 = ivfRoot match {
      case Some(ir) =>
        IncrementalCurationJob.fsckStoresWithIvf(spark, root, ir, deep)
      case None => IncrementalCurationJob.fsckStores(spark, root, deep)
    }
    val findings = findings0 ++ textIndexRoot.map(tr =>
      "text_index" -> graft.operators.TextIndexStore.fsck(spark, tr, deep))

    // 3-4. the ANN monitors — empty schema-stable frames when the IVF
    // root has nothing probeable yet (day zero / all-unusable), so the
    // cron entry and any dashboard reading the dirs survive day one
    val probeable = ivfRoot.exists(IvfStore.hasProbeableData(spark, _))
    val drift = ivfRoot.filter(_ => probeable)
      .map(IvfStore.driftReport(spark, _))
      .getOrElse(Seq.empty[(String, Long, Double, Option[Double], Option[Double], Double)]
        .toDF("dt", "n", "mean_dist2", "seed_mean_dist2", "drift_ratio",
          "max_cell_frac"))
    val recall = ivfRoot.filter(_ => probeable)
      .map(IvfStore.recallReport(spark, _, nprobe, topK, queriesPerDay))
      .getOrElse(Seq.empty[(String, Long, Int, Int, Double)]
        .toDF("dt", "n_queries", "nprobe", "topk", "recall"))
    // the ADC serving arm (round 16): only meaningful when the root
    // serves PQ codes; composed from adcProbe, so the landed number
    // and the serving path cannot diverge (the q126 rule)
    val adcRecall = ivfRoot
      .filter(ir => probeable && IvfStore.pqModel(spark, ir).isDefined)
      .map { ir =>
        val arms = Seq((nprobe, 0)) ++
          (if (adcRerank >= topK) Seq((nprobe, adcRerank)) else Nil)
        IvfStore.adcRecallReport(spark, ir, arms, topK, queriesPerDay)
      }
      .getOrElse(Seq.empty[(String, Long, Int, Int, Int, Double)]
        .toDF("dt", "n_queries", "nprobe", "rerank", "topk", "recall"))

    // trigger evaluation MATERIALIZES drift/recall (collect) — cache
    // so the landed parquet re-reads the cache, not the store twice;
    // the write loop below owns the unpersist
    val (driftC, recallC) = (drift.cache(), recall.cache())
    // evaluated BEFORE the reports land, but over the same cached
    // frames — the landed drift/recall parquet is the pre-rebuild
    // evidence even when a rebuild fires this run
    val rebuilt = rebuildFrame(spark, rebuildPolicy, ivfRoot, probeable,
      driftC, recallC)

    // 5. retire flipped-away serving roots (round 15; both pointer
    // families since round 16) — runs AFTER the rebuild step so a root
    // this run's own flip replaced gets MARKED now and deleted at the
    // NEXT run (the two-phase grace is the in-flight-reader
    // protection; [[graft.operators.SnapshotStore.retireRoots]]).
    // Totality is PER CAUSE, not blanket (round 16, advice — the old
    // Try(...).getOrElse(Nil) collapsed a failed delete into the same
    // empty report as "no pointer published", so retirement could
    // silently stop and leak disk with no signal): an unpublished
    // pointer is the expected day-zero state and lands the empty
    // report; a genuine retireRoots failure lands a `failed: …` row.
    def retireOne(store: String, pointer: String)
        : Seq[(String, String, String)] =
      if (graft.operators.SnapshotStore.currentVersion(spark, pointer).isEmpty)
        Nil // never published — nothing to walk, the day-zero no-op
      else scala.util.Try(
          graft.operators.SnapshotStore.retireRoots(
            spark, pointer, retireKeepRoots)) match {
        case scala.util.Success(rs) => rs.map(r => (r.root, r.action, store))
        case scala.util.Failure(e) => Seq((pointer,
          s"failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}",
          store))
      }
    val retired =
      rebuildPolicy.toSeq.flatMap(p => retireOne("ivf", p.pointer)) ++
        textIndexPointer.toSeq.flatMap(retireOne("text_index", _))
    val retiredDf = retired.toDF("root", "action", "store")

    val reports: Seq[(String, DataFrame)] = Seq(
      "compaction" -> compactionFrame(spark, dedupComp, ivfComp, txComp),
      "cos_bands" -> cosBands.toDF("action", "days_rebuilt", "epoch"),
      "fsck" -> findingsFrame(spark, findings),
      "drift" -> driftC,
      "recall" -> recallC,
      "adc_recall" -> adcRecall,
      "rebuild" -> rebuilt,
      "retire" -> retiredDf)
    reports.map { case (name, df) =>
      val out = df.cache()
      try {
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        name -> out.count()
      } finally out.unpersist()
    }.toMap
  }
}
