package graft.jobs

import graft.operators.{DedupStore, FsckFinding, IncrementalContainment, LshGuard}
import graft.sources.TfRecordSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DAILY curation — the incremental twin of [[CurationJob]], and the
  * composition the three persisted dedup stores exist for: a crawl's
  * day-N delta is curated against ALL HISTORY without re-reading the
  * historical corpus, only its slim store tables. Per ingested day:
  *
  *   1. QUALITY floor — [[CurationJob.qualityPredicate]], shared with
  *      the batch and streaming paths so the three cannot drift.
  *      Stateless, so it runs first and shrinks every store probe.
  *   2. EXACT vs history — [[DedupStore.ingestExact]]: Bloom-routed
  *      digest-store probe + min-id intra-delta collapse. First of
  *      the dedup stages for the same reason as in batch: no bucket
  *      pathology, and it absorbs the byte-identical families the
  *      near-dup guard's recall contract hands off.
  *   3. NEAR-DUP vs history — [[DedupStore.ingest]]: banded MinHash
  *      candidates against the committed band store (hot buckets
  *      capped by [[LshGuard]]), exact-Jaccard verify, transitive
  *      suppression.
  *   4. CONTAINMENT vs history — [[DedupStore.ingestContained]]: the
  *      one-sided prefix probe; catches the new-doc-quotes-archived-
  *      doc case Jaccard structurally misses.
  *   4b. PAYLOAD NEAR-DUP vs history (opt-in `payloadCol`, round 11)
  *      — [[DedupStore.ingestPhash]]: rows carrying binary payloads
  *      also probe the phash sig store, so re-crawled images/audio
  *      with rewritten surrounding text still die here.
  *   5. EXPORT — the day's curated docs as byte-packed gzip TFRecord
  *      shards under `out/dt=<day>/` plus a per-day scalar manifest,
  *      so a trainer consumes day directories exactly as it consumes
  *      [[CurationJob]]'s batch output.
  *
  * Store-append discipline: each stage's store commits THAT stage's
  * survivors (its own ingest semantics). A doc cut at stage k+1 was
  * a stage-k survivor, so its key stays in stage k's store — e.g. a
  * near-dup-cut doc's digest remains committed, and a future
  * byte-copy of it dies at the cheap EXACT probe instead of paying
  * the near-dup join again (the spec's day-3 case). The suppression
  * OUTCOME is the same either way; committing at each stage just
  * routes repeat offenders to the cheapest stage that can kill them.
  * Each store root has its own day markers; a crash mid-day leaves
  * later stages uncommitted and the whole day re-runs idempotently
  * (every ingest excludes its own day from the store it reads —
  * [[DedupStore]]'s protocol).
  *
  * 100 TB notes: the day's delta streams through four keyed probes
  * whose store sides are slim tables (32-hex digests, 8 bands/doc,
  * shingle-hash sets) — history's TEXT is never re-read. The
  * intermediate day frames are cached (day-sized, not
  * history-sized); pass `cfg.nearDedupSpillDir` to keep the near
  * stage's set tables off executor storage for big days.
  */
object IncrementalCurationJob {

  /** Per-day stage counts; -1 = not measured (`stats = false`).
    * `noveltyMean` (round 9) is the mean [[DedupStore.noveltyReport]]
    * score of the day's quality-passing docs against all PRIOR days'
    * near-store shingle sets (`exceptDay` keeps committed re-runs
    * honest) — the day's feed-pricing headline: a feed trending
    * toward 0 is re-crawling the archive even when the dedup stages
    * still pass most of it (novelty measures shingle overlap below
    * every suppression threshold). OPT-IN (`novelty = true`): unlike
    * the per-day stage counts, the report's membership join scales
    * with TOTAL archive size, so it must never ride silently on
    * every daily ingest — price it like the archive scan it is. The
    * round-10 per-day `postings` table removes the report's set
    * explode and corpus-wide DISTINCT (the worst of the cost), but
    * the anti-join's archive-postings scan remains inherently
    * archive-sized. -1 = not measured or no scorable (≥3-word)
    * docs. */
  case class Report(day: String, input: Long, afterQuality: Long,
      afterExact: Long, afterNear: Long, curated: Long,
      shards: Int, recordsWritten: Long, noveltyMean: Double = -1.0,
      afterContain: Long = -1L, afterPhash: Long = -1L)

  /** STREAMING ingest against the same stores — each micro-batch runs
    * [[ingestDay]] with the batch id as its store "day"
    * (`batch-<id>`), which buys exactly-once curation for free: a
    * replayed batch (failure recovery re-delivers the same data under
    * the same id) re-runs an already-committed day, and the store
    * protocol's self-exclusion makes that converge to the identical
    * survivors and identical day partitions instead of
    * double-suppressing or double-appending. Contrast
    * [[CurationJob.curateStream]]: that path is stateless-per-window
    * (fingerprint keys inside a watermark horizon, no disk); this one
    * is the full store-backed suppression — exact digests, LSH bands,
    * containment sets — with history unbounded by any watermark.
    * Micro-batches are sequential (one writer per store root —
    * Structured Streaming's foreachBatch guarantee), so the
    * single-writer-per-day store contract holds by construction. */
  def runStream(docs: DataFrame, root: String, checkpointDir: String,
      cfg: CurationJob.Config = CurationJob.Config(),
      containT: Double = IncrementalContainment.DefaultT,
      compactEvery: Int = 64, keepDays: Int = 7,
      embeddingCol: Option[String] = None,
      ivfRoot: Option[String] = None,
      ivfPointer: Option[String] = None,
      textIndexRoot: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    requireNoLegacyBatchDays(docs.sparkSession,
      (Seq("exact", "near", "contain") ++ embeddingCol.map(_ => "cos"))
        .map(s0 => s"$root/$s0"))
    // misconfigurations refuse at STREAM CONSTRUCTION, not on the
    // first micro-batch minutes after the operator walked away (the
    // requireNoLegacyBatchDays precedent): ivfRoot/ivfPointer needs a
    // vector column, and an uninitialized IVF root (or unpublished
    // pointer) would fail every batch — frozen centroids are the
    // caller's training decision
    require((ivfRoot.isEmpty && ivfPointer.isEmpty) || embeddingCol.isDefined,
      "ivfRoot/ivfPointer needs embeddingCol — there is no vector column to index")
    // the pointer passes THROUGH to ingestDay, which resolves it
    // immediately before each batch's co-append — a long-lived stream
    // follows rebuildVia swaps with no restart, and even an
    // intra-batch swap (curation stages running when the flip lands)
    // appends to the freshly-published root; construction-time
    // validation opens whatever the pointer names today
    def ivfTarget(s: SparkSession): Option[String] = ivfRoot.orElse(
      ivfPointer.map(p => graft.operators.IvfStore.currentRoot(s, p)))
    ivfTarget(docs.sparkSession).foreach(ir =>
      graft.operators.IvfIndex.open(docs.sparkSession, ir): Unit)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestDay(batch.toDF(), root, f"batch-$id%09d", cfg, containT,
          stats = false, embeddingCol = embeddingCol, ivfRoot = ivfRoot,
          ivfPointer = ivfPointer, textIndexRoot = textIndexRoot)
        maybeCompact(batch.sparkSession, root, id, compactEvery, keepDays,
          ivfRoot = ivfTarget(batch.sparkSession),
          textIndexRoot = textIndexRoot)
      }
      .start()
  }

  /** STREAMING multimodal near-dedup — [[runStream]]'s payload twin:
    * each micro-batch of `(doc_id, payload)` rows runs
    * [[DedupStore.ingestPhash]] with the batch id as its store day,
    * so a continuously-ingested image/audio feed is deduplicated
    * against ALL history through the 24-byte/payload signature store
    * — exactly-once by the same argument as [[runStream]] (a
    * replayed batch re-runs a committed day idempotently; micro-
    * batches are sequential, satisfying the single-writer-per-day
    * contract). Survivors of each batch land as that batch's
    * `out/dt=batch-<id>/` TFRecord export via
    * [[graft.sources.PayloadRecords.export]] (payload bytes + the
    * manifest a trainer audits). */
  def runPayloadStream(payloads: DataFrame, root: String, checkpointDir: String,
      targetShardBytes: Long = 128L * 1024 * 1024,
      compactEvery: Int = 64, keepDays: Int = 7,
      decoder: Option[graft.ops.PayloadDecoder] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    requireNoLegacyBatchDays(payloads.sparkSession, Seq(s"$root/phash"))
    payloads.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val day = f"batch-$id%09d"
        // decoder: pixel signatures instead of byte signatures — one
        // sig source per store for its whole life (ingestPhash's
        // contract: mixed fingerprint kinds silently halve recall)
        val surv = DedupStore.ingestPhash(batch.toDF(), s"$root/phash", day,
          retainCache = true, decoder = decoder)
        try {
          val outDir = s"$root/out/dt=$day"
          // re-runs may pack fewer shards; clear stale parts first
          // (the same rule as ingestDay's export)
          val p = new org.apache.hadoop.fs.Path(outDir)
          p.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          graft.sources.PayloadRecords.export(
            surv.withColumn("modality",
              graft.queries.MultimodalQueries.modality(col("doc_id"))),
            outDir, targetShardBytes): Unit
        } finally surv.unpersist(): Unit
        maybeCompact(batch.sparkSession, root, id, compactEvery, keepDays)
      }
      .start()
  }

  /** Every-N-batches store maintenance inside the streaming loop
    * (round-11): one committed store day per MICRO-BATCH is the
    * fastest small-files accumulator in the engine, and a streaming
    * job has no daily-cron seam to hang [[compactStores]] off — so
    * the trigger rides foreachBatch itself. Runs AFTER the batch's
    * ingest (same thread — Structured Streaming serializes batches,
    * so the single-writer store contract holds), at `compactEvery`
    * batch cadence; `keepDays` recent batch-days stay day-partitioned,
    * which must cover the replay horizon (a recovering stream replays
    * at most the one in-flight batch, so the default 7 is deep
    * margin — [[DedupStore]] now REFUSES an ingest of a compacted
    * day rather than silently self-suppressing, so a misconfigured
    * window fails loudly). `compactEvery <= 0` disables. The tiered
    * merge policy keeps the steady-state trigger cost O(aged
    * batches), not O(archive) — see [[DedupStore.compact]].
    *
    * `ivfRoot` (round 12): a stream running with the ANN co-append
    * commits one IVF day per micro-batch too — k cell dirs each, the
    * fastest dir accumulator of the SIX stores — and foreachBatch is
    * the only seam that can serialize [[graft.operators.IvfStore.compact]]
    * with the stream's own appends (single-writer contract), so the
    * trigger covers it here rather than leaving an operator to
    * interleave a batch entry point unsafely. */
  /** `ivfRoot` is BY-NAME: the pointered streaming path resolves it
    * with a SnapshotStore read (a small Spark job), which must only
    * run on the one-in-`compactEvery` batch that actually compacts —
    * an eager argument would tax every hot-path batch and a transient
    * pointer-read failure would kill the stream for a value this
    * method was about to discard. */
  private def maybeCompact(spark: SparkSession, root: String, batchId: Long,
      compactEvery: Int, keepDays: Int,
      ivfRoot: => Option[String] = None,
      textIndexRoot: Option[String] = None): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      compactStores(spark, root, keepDays): Unit
      ivfRoot.foreach(ir =>
        graft.operators.IvfStore.compact(spark, ir, keepDays): Unit)
      // the text index accumulates one postings + one stats dir per
      // micro-batch; same single-writer seam, same retention knob
      textIndexRoot.foreach(tr =>
        graft.operators.TextIndexStore.compact(spark, tr, keepDays): Unit)
    }

  /** Round-11 upgrade guard: round 10 widened the streaming store-day
    * format from `batch-%06d` to `batch-%09d`. A checkpointed stream
    * upgraded IN PLACE would replay its in-flight batch under the new
    * name — the old-format commit is not excluded as "own day", so the
    * replay self-suppresses against its own prior rows and commits a
    * near-empty duplicate day; mixed-format names also break the
    * chronological sort [[DedupStore.compact]]'s retention window
    * relies on. Detect legacy day names (committed OR already folded
    * by compaction) at stream construction and refuse to start:
    * resume legacy checkpoints on the old build, or start fresh
    * (new checkpoint dir + new store root). */
  private def requireNoLegacyBatchDays(spark: SparkSession,
      roots: Seq[String]): Unit =
    roots.foreach { r =>
      val legacy = DedupStore.knownDays(spark, r)
        .filter(_.matches("batch-\\d{6}"))
      if (legacy.nonEmpty) throw new IllegalStateException(
        s"store '$r' holds legacy batch-%06d day names (${legacy.take(3).mkString(", ")}…): " +
          "a checkpointed stream upgraded in place would replay its in-flight " +
          "batch under the new batch-%09d name and self-suppress it to a " +
          "near-empty duplicate day. Start this stream with a FRESH " +
          "checkpoint dir and store root (or migrate the store's day names).")
    }

  /** The job's store roots under one curation root — the single list
    * both maintenance entry points walk (a root missed by one of them
    * would silently accumulate files or escape auditing). */
  private val StoreRoots = Seq("exact", "near", "contain", "phash", "cos")

  /** Store MAINTENANCE — run periodically (weekly cron, or after
    * every Nth ingest): [[DedupStore.compact]] over [[StoreRoots]],
    * folding each store's old day-partitions into one
    * consolidated partition while `keepDays` recent days stay
    * day-partitioned (the idempotent-re-run window — a compacted day
    * must not be re-ingested, DedupStore's contract). Probe results
    * are unchanged by construction (DedupStoreCompactionSpec).
    * Returns store name → report. */
  def compactStores(spark: SparkSession, root: String,
      keepDays: Int = 7): Map[String, DedupStore.CompactionReport] =
    StoreRoots.map { s0 =>
      // compact() no-ops on an absent root (day-zero store) — the
      // phash store only exists when runPayloadStream ran, and it is
      // the FASTEST small-files accumulator of the five (one
      // committed day per MICRO-BATCH), so omitting it here would
      // grow every subsequent batch's marker listing without bound
      s0 -> DedupStore.compact(spark, s"$root/$s0", keepDays)
    }.toMap

  /** [[compactStores]] plus the ANN index: a pipeline running with
    * `ivfRoot` has a SIXTH day-partitioned store accumulating at the
    * same cadence (one dt×cell dir set per ingest), maintained by
    * [[graft.operators.IvfStore.compact]]'s own tiered protocol. The
    * IVF root is caller-named (an explicit `ingestDay` argument, not
    * a child of `root`), so it is an explicit argument here too. Use
    * the SAME `keepDays` replay horizon — [[graft.operators.IvfStore]]
    * refuses re-appends of folded days exactly as the dedup stores
    * refuse re-ingests. */
  def compactStoresWithIvf(spark: SparkSession, root: String,
      ivfRoot: String, keepDays: Int = 7)
      : (Map[String, DedupStore.CompactionReport],
         graft.operators.IvfStore.CompactionReport) =
    (compactStores(spark, root, keepDays),
      graft.operators.IvfStore.compact(spark, ivfRoot, keepDays))

  /** Store INTEGRITY audit over [[StoreRoots]] —
    * [[DedupStore.fsck]] per root, findings keyed by store name.
    * Report-only (compact() owns GC, re-ingest owns repair); run at
    * maintenance cadence — shallow at any frequency, `deep = true`
    * right before [[compactStores]] or after a restore. Absent roots
    * (day-zero stores) yield no findings. */
  def fsckStores(spark: SparkSession, root: String,
      deep: Boolean = false): Map[String, Seq[FsckFinding]] =
    StoreRoots.map { s0 =>
      s0 -> DedupStore.fsck(spark, s"$root/$s0", deep)
    }.toMap

  /** [[fsckStores]] plus the ANN index's own audit
    * ([[graft.operators.IvfStore.fsck]] — same finding type, keyed
    * "ivf"), for pipelines running with `ivfRoot`. */
  def fsckStoresWithIvf(spark: SparkSession, root: String, ivfRoot: String,
      deep: Boolean = false): Map[String, Seq[FsckFinding]] =
    fsckStores(spark, root, deep) +
      ("ivf" -> graft.operators.IvfStore.fsck(spark, ivfRoot, deep = deep))

  /** Ingest one day's `delta` (needs `doc_id`, `text`; other columns
    * ride along) against the stores under `root`, exporting curated
    * TFRecord shards to `root/out/dt=<day>/`. Returns the per-day
    * report (also written as the day's `_manifest.json`).
    *
    * `payloadCol` (round 11) composes the MULTIMODAL stage into the
    * daily pipeline: rows carrying a binary payload in that column
    * additionally probe the phash store ([[DedupStore.ingestPhash]] —
    * suppress when the payload's byte-grid signature near-matches an
    * archived or smaller-id sibling payload), so a doc is curated
    * only if BOTH its text and its payload are novel. Runs LAST (the
    * text stages are cheaper and shrink the sig work); rows with a
    * NULL or < 64-byte payload pass the stage untouched (no
    * signature — exact dedup upstream owns byte-identical tiny
    * payloads); pass `payloadDecoder` to sign decoded PIXELS instead
    * of raw bytes (re-encode-invariant — see
    * [[graft.ops.PayloadDecoder]]; one sig source per store root for
    * its whole life).
    *
    * `embeddingCol` (round 11) composes the SEMANTIC stage the same
    * way: rows carrying an `array<float>` embedding in that column
    * additionally probe the cos store ([[DedupStore.ingestCosine]] —
    * suppress at cosine ≥ `cosineT` to an archived or smaller-id
    * sibling vector), the SemDeDup-style cut the byte/shingle stages
    * cannot make. Runs LAST of all (the cheapest-first ordering;
    * every upstream kill shrinks its banding work); rows with a NULL
    * or zero-norm embedding pass the stage untouched.
    *
    * `ivfRoot` (round 12) makes the curated output ANN-SERVABLE
    * without a separate indexing job: the day's SURVIVING vectors
    * co-append to an [[graft.operators.IvfStore]] root under the same
    * day name (requires `embeddingCol`; the root must have been
    * [[graft.operators.IvfStore.init]]'d by the caller — frozen
    * centroids are a training decision, not a side effect of
    * ingestion). The append is row-local assignment (no shuffle) over
    * the already-cached curated frame. Crash recovery across the TWO
    * marker namespaces is the store protocol composed: a crash after
    * the cos commit but before the IVF marker leaves the day
    * ANN-invisible, and the re-run converges — every dedup re-ingest
    * is idempotent and [[graft.operators.IvfStore.append]] clears the
    * day before rewriting. Maintain the IVF root with
    * [[graft.operators.IvfStore.compact]]/
    * [[graft.operators.IvfStore.driftReport]] (it is deliberately NOT
    * in [[compactStores]]' dedup list — its retention trades off
    * against probe SLAs, not re-ingest windows alone).
    *
    * `ivfPointer` (round 13) is the pointered alternative: the append
    * target resolves through [[graft.operators.IvfStore.currentRoot]]
    * IMMEDIATELY BEFORE the co-append (not at entry — curation can
    * run for hours, and a mid-curation rebuild would otherwise
    * receive this day on the replaced root), so the first ingest
    * after a [[graft.operators.IvfStore.rebuildVia]] swap lands on
    * the new root with no operator action — the writer-side half of
    * the zero-downtime rebuild. A rebuild overlapping the append call
    * itself is the residual race; one
    * [[graft.operators.IvfStore.catchUp]] heals it. Explicit
    * `ivfRoot` wins when both are given.
    *
    * `textIndexRoot` (round 14) is the RETRIEVAL co-append — the
    * day's survivors become BM25-searchable
    * ([[graft.operators.TextIndexStore.topK]]) the moment the day
    * commits, the lexical twin of `ivfRoot`'s ANN-servability. No
    * init is required (the inverted layout carries no trained state)
    * and no pointer variant exists (no drift ⇒ no rebuild ⇒ no root
    * swap to follow) — the two asymmetries vs the IVF path are
    * features of the index, not gaps. Crash recovery composes the
    * same way: the index's marker retract-then-rewrite keeps a torn
    * co-append search-invisible, and the re-run converges.
    *
    * Report/manifest accounting under composition: `curated` is
    * always the FINAL export count; `afterContain` carries the
    * post-containment count whenever any later stage runs (-1
    * otherwise, where `curated` already means post-containment);
    * `afterPhash` carries the post-phash count only when BOTH later
    * stages run (-1 otherwise, where the post-phash count is
    * `curated`). */
  def ingestDay(delta: DataFrame, root: String, day: String,
      cfg: CurationJob.Config = CurationJob.Config(),
      containT: Double = IncrementalContainment.DefaultT,
      stats: Boolean = true, novelty: Boolean = false,
      payloadCol: Option[String] = None,
      payloadDecoder: Option[graft.ops.PayloadDecoder] = None,
      embeddingCol: Option[String] = None,
      cosineT: Double = 0.9,
      ivfRoot: Option[String] = None,
      ivfPointer: Option[String] = None,
      textIndexRoot: Option[String] = None): Report = {
    val spark = delta.sparkSession
    import spark.implicits._
    graft.GraftExtensions.ensureRegistered(spark)
    require((ivfRoot.isEmpty && ivfPointer.isEmpty) || embeddingCol.isDefined,
      "ivfRoot/ivfPointer needs embeddingCol — there is no vector column to index")
    // pointer resolution happens at APPEND time, not here (the
    // writer-side rebuild discipline: IvfStore.rebuildVia's
    // write-window note): the curation stages between function entry
    // and the co-append can run for hours on a real day, and an
    // entry-time snapshot would append to a root a mid-curation
    // rebuild already replaced — shrink the stale-root window to the
    // append call itself. Explicit ivfRoot wins when both are given
    // (the Jobs.resolveIvfRoot rule).
    def ivfTarget(): Option[String] = ivfRoot.orElse(ivfPointer
      .map(p => graft.operators.IvfStore.currentRoot(spark, p)))

    val afterQuality = delta.filter(CurationJob.qualityPredicate(cfg))
    // retainCache: each ingest materializes its survivors for its own
    // commit — retaining that cache hands the MATERIALIZED frame to
    // the next stage, which would otherwise replay the whole prior
    // stage (store scans included) on first touch; this job owns the
    // unpersists in the finally below
    val afterExact = DedupStore.ingestExact(
      afterQuality, s"$root/exact", day, retainCache = true)
    val afterNear = DedupStore.ingest(afterExact, s"$root/near", day,
      t = cfg.jaccardT, maxBucket = LshGuard.maxBucket(spark),
      spillDir = cfg.nearDedupSpillDir, retainCache = true)
    val afterContain = DedupStore.ingestContained(afterNear, s"$root/contain",
      day, t = containT, retainCache = true)
    val afterPhash = payloadCol match {
      case None => afterContain
      case Some(pc) => DedupStore.ingestPhash(afterContain, s"$root/phash",
        day, payloadCol = pc, retainCache = true, decoder = payloadDecoder)
    }
    val curated = embeddingCol match {
      case None => afterPhash
      case Some(ec) => DedupStore.ingestCosine(afterPhash, s"$root/cos",
        day, idCol = "doc_id", embCol = ec, minCos = cosineT,
        retainCache = true)
    }
    try {
      // ANN co-append first (see the ivfRoot contract above): a crash
      // anywhere later leaves the IVF day committed but the export
      // manifest absent — the re-run re-appends idempotently
      for (ec <- embeddingCol; ir <- ivfTarget())
        graft.operators.IvfStore.append(curated, ir, day,
          idCol = "doc_id", vecCol = ec)
      // retrieval co-append (round 14): the day's SURVIVORS become
      // BM25-searchable the moment the day commits — the lexical twin
      // of the ANN co-append, with two simplifications earned by the
      // index's statelessness: no init (there are no trained
      // centroids; the inverted layout needs no training decision)
      // and no pointer (no drift ⇒ no rebuild ⇒ no root to swap).
      // Crash recovery composes identically: TextIndexStore.append
      // retracts the day marker before rewriting, so a crash leaves
      // the day search-invisible and the re-run converges.
      for (tr <- textIndexRoot)
        graft.operators.TextIndexStore.append(curated, tr, day,
          idCol = "doc_id", textCol = "text"): Unit
      val outDir = s"$root/out/dt=$day"
      // re-runs may pack FEWER shards than a prior attempt; clear the
      // day dir so stale higher-numbered parts can't survive the
      // overwrite (the same rule as DedupStore.commitDay's delete)
      val p = new org.apache.hadoop.fs.Path(outDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val records = curated
        .select(to_json(struct(col("doc_id"), col("text"))).as("j"))
        .select(encode(col("j"), "UTF-8").as("b")).as[Array[Byte]]
      val (shards, written) =
        TfRecordSink.writeBalanced(records, outDir, cfg.targetShardBytes)

      def n(df: DataFrame): Long = if (stats) df.count() else -1L
      // novelty of the day's candidates vs PRIOR history (exceptDay:
      // this day's own ingest just committed, and a re-run of a
      // committed day must not self-match to 0). Opt-in: this is the
      // one stat whose cost grows with the ARCHIVE, not the day.
      val noveltyMean = if (!stats || !novelty) -1.0 else
        DedupStore.noveltyReport(afterQuality, s"$root/near",
            exceptDay = Some(day))
          .agg(coalesce(avg(col("novelty")), lit(-1.0))).head().getDouble(0)
      // curated is COUNTED (cheap — the frame is cached), never
      // aliased to the sink's written count: curated == recordsWritten
      // is the seam check that catches a sink-side record drop, and
      // an aliased value can never fail it
      val report = Report(day, n(delta), n(afterQuality), n(afterExact),
        n(afterNear), if (stats) curated.count() else written, shards, written,
        noveltyMean,
        afterContain = if (payloadCol.isEmpty && embeddingCol.isEmpty) -1L
          else n(afterContain),
        afterPhash = if (payloadCol.isEmpty || embeddingCol.isEmpty) -1L
          else n(afterPhash))
      if (stats) require(report.curated == written,
        s"sink dropped records: curated ${report.curated} != written $written")
      val manifest =
        s"""{"day":"$day","input":${report.input},"after_quality":${report.afterQuality},
           |"after_exact":${report.afterExact},"after_near":${report.afterNear},
           |"after_contain":${report.afterContain},
           |"after_phash":${report.afterPhash},
           |"curated":${report.curated},"shards":${report.shards},
           |"records_written":${report.recordsWritten},
           |"novelty_mean":${report.noveltyMean}}"""
          .stripMargin.replace("\n", "")
      // same tmp + atomic OVERWRITE-rename protocol as every other
      // commit marker in the engine
      val path = new org.apache.hadoop.fs.Path(outDir, "_manifest.json")
      val tmp = new org.apache.hadoop.fs.Path(outDir, "._manifest.json.tmp")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(tmp, true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(fs.makeQualified(tmp), fs.makeQualified(path),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      report
    } finally {
      if (embeddingCol.isDefined) curated.unpersist()
      if (payloadCol.isDefined) afterPhash.unpersist()
      afterContain.unpersist(); afterNear.unpersist(); afterExact.unpersist()
    }
  }
}
