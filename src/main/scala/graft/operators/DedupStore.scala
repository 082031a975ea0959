package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Day-partitioned persistence for [[IncrementalNearDedup]]'s band/set
  * store — the operational wrapper that turns the operator into a
  * day-over-day PIPELINE (the [[SnapshotStore]]-for-q90 pattern,
  * applied to near-dup state): each ingest reads the committed store,
  * suppresses the delta against it, and appends the SURVIVORS' bands
  * and shingle sets as that day's partitions.
  *
  * Layout under `root`:
  * {{{
  *   bands/dt=2024-01-01/part-*.parquet     (id, band, bv)   per day
  *   sets/dt=2024-01-01/part-*.parquet      (id, n, hset)    per day
  *   postings/dt=2024-01-01/part-*.parquet  (sh)             per day (r10)
  *   digests/dt=.../                        (fp)         [[ingestExact]]
  *   sigs/dt=.../                   (doc_id, n_bytes, sig) [[ingestPhash]]
  *   vecs/dt=.../                (vec_id, nrm, embedding) [[ingestCosine]]
  *   _committed/2024-01-01                  marker file per day
  * }}}
  *
  * Why append-only partitions instead of SnapshotStore's
  * full-rewrite versions: the dedup store GROWS monotonically (a
  * day's survivors never change retroactively), so rewriting history
  * every day would pay O(corpus) churn for an O(day) change. A day
  * dir is immutable once committed; readers take the union of
  * committed days, pruned at the file index.
  *
  * Commit protocol ([[DayStore.commitDay]], shared with [[IvfStore]]
  * and [[TextIndexStore]]): the day's `_committed/DAY` marker is
  * retracted and its `dt=DAY` partitions cleared, the tables are
  * written COMPLETELY, then the marker publishes via tmp + atomic
  * OVERWRITE rename. Readers load ONLY marker-committed days (the
  * `dt IN (committed)` filter prunes uncommitted debris out of the
  * scan at the file index), so a crash anywhere inside the write —
  * first ingest or re-ingest — leaves the day invisible; re-ingest
  * it idempotently.
  *
  * Idempotent re-runs: [[ingest]] excludes the day being ingested
  * from the store it reads, so re-running a committed day does NOT
  * suppress the delta against its own previous output (ids match
  * themselves — without the exclusion every re-run would suppress
  * everything) and converges to the same survivors and the same
  * store state.
  *
  * Single WRITER per day is assumed (one daily driver — the
  * SnapshotStore discipline): two concurrent ingests of the SAME day
  * race the delete+write+marker sequence and can interleave their
  * files. Concurrent ingests of DIFFERENT days are safe (disjoint
  * partitions, disjoint markers), as are readers at any time (they
  * see only marker-committed days).
  *
  * At 100 TB: each ingest pays the operator's candidate equi-joins
  * against the full committed band store (slim: ~50 B/doc/band) —
  * the store tables never rewrite, only append; old days' files are
  * append-frozen, cache- and replication-friendly. Ids must be
  * unique across all days (the operator's contract). */
object DedupStore {

  /** The marker-protocol kernel: `_committed/` markers over every
    * table dir the root holds. A compaction marker's content lists the
    * days it replaces, so one rename commits the merged partition and
    * un-commits the originals ([[compact]]). */
  private val dayStore = new DayStore("_committed", storeTables,
    // a folded day's rows live in the merged partition, where the
    // ingest's own-day exclusion can no longer reach them — the re-run
    // would self-suppress to zero survivors and the next sweep would
    // make the loss permanent; refusing turns it into a signal
    (day, root) => s"day '$day' of store '$root' was already folded into a " +
      "compacted partition; re-ingesting it cannot exclude its own prior rows " +
      "and would self-suppress to zero survivors. Re-ingest is only " +
      "supported inside compact()'s keepDays retention window — size " +
      "keepDays to cover the longest replay horizon.")

  private def fs(spark: SparkSession, root: String) = dayStore.fs(spark, root)

  /** Days whose marker committed, sorted — EXCLUDING days a committed
    * `merged-*` compaction marker has replaced (their rows live in the
    * merged partition; the originals are garbage awaiting [[compact]]'s
    * sweep and must not double-count). */
  def committedDays(spark: SparkSession, root: String): Seq[String] =
    dayStore.committedDays(spark, root)

  /** Every REAL day name the store has ever committed — the live ones
    * AND those a compaction folded into a merged partition (whose own
    * markers are excluded; they are partitions, not days). The
    * streaming jobs' upgrade guard reads this: a legacy-format day
    * name is a hazard whether or not it has since been compacted. */
  def knownDays(spark: SparkSession, root: String): Seq[String] =
    dayStore.knownDays(spark, root)

  /** Whether an OPTIONAL acceleration table (`postings` for
    * [[noveltyReport]], `df` for [[ingestContained]]'s guard,
    * `cos_bands` for [[ingestCosine]] with `base = "vecs"`) is
    * trustworthy: every committed day either wrote its partition or
    * had zero survivors (no `base` partition either). Days written
    * before the feature existed fail the check and the reader falls
    * back to deriving the statistic from the base table directly. */
  private def accelComplete(spark: SparkSession, root: String,
      table: String, exceptDay: Option[String],
      base: String = "sets"): Boolean = {
    val f = fs(spark, root)
    val days = committedDays(spark, root).filterNot(exceptDay.contains)
    val accelDays = dayStore.dtNames(f, root, table).toSet
    val baseDays = dayStore.dtNames(f, root, base).toSet
    days.forall(dd => accelDays.contains(dd) || !baseDays.contains(dd))
  }

  /** CONF EPOCH of the persisted `cos_bands` table (round 17 — the
    * verdict's last per-ingest archive rescan): SRP signatures derive
    * deterministically from (embedding, graft.cos.tables,
    * graft.cos.bits), so a persisted band table is valid only for the
    * conf it was derived under. The epoch rides a root-level marker;
    * [[ingestCosine]] trusts the table only when the marker matches
    * the SESSION's conf (and the table is day-complete), falling back
    * to deriving bands from the stored embeddings otherwise — which
    * is exactly the pre-persistence behavior, so a conf change still
    * applies to the whole archive at the very next ingest.
    * [[rebuildCosBands]] re-derives the table once at the new conf
    * and re-stamps the marker (the backfillCodes-style maintenance
    * action), restoring the fast path. */
  private val CosEpochMarker = "_COS_EPOCH.txt"

  private def cosEpoch(spark: SparkSession): String =
    s"tables=${graft.queries.DedupQueries.cosTables(spark)};" +
      s"bits=${graft.queries.DedupQueries.cosBits(spark)}"

  private[graft] def cosEpochOnDisk(spark: SparkSession,
      root: String): Option[String] = {
    val f = fs(spark, root)
    val p = new Path(root, CosEpochMarker)
    if (!f.exists(p)) None else MarkerProtocol.readMarker(f, p).headOption
  }

  private def parseCosEpoch(ep: String): Option[(Int, Int)] =
    scala.util.Try {
      val m = ep.split(";").map(_.split("=", 2))
        .map(a => a(0) -> a(1).toInt).toMap
      (m("tables"), m("bits"))
    }.toOption

  /** The SRP band table of a `(vec_id, nrm, embedding)` frame — the
    * one derivation both the ingest fallback and the persisted-table
    * writers share, so persisted and derived bands can never drift. */
  private def cosBandsOf(v: DataFrame, srpTables: Int,
      srpBits: Int): DataFrame = v
    .select(col("vec_id"),
      posexplode(expr(s"srp_sig(embedding, 'cos', $srpTables, $srpBits)")))
    .toDF("vec_id", "band", "bv")

  /** Union of the committed days of one store table, empty-framed on
    * day zero. `template` supplies the data schema (derived from the
    * caller's delta via the operator's own builders, so id-column
    * types follow the corpus instead of being hardcoded here). */
  private def readCommitted(spark: SparkSession, root: String, table: String,
      template: DataFrame, exceptDay: Option[String]): DataFrame = {
    val days = committedDays(spark, root).filterNot(exceptDay.contains)
    val schema = template.schema.add("dt", StringType)
    // the table dir can be absent even with committed days: a day
    // whose survivors were all suppressed wrote zero partitions
    if (days.isEmpty || !fs(spark, root).exists(new Path(s"$root/$table")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      // explicit committed dirs, not a whole-table listing (round 14):
      // replaced-day debris awaiting a compaction sweep must never
      // enter the listing — a concurrent sweep deleting it mid-listing
      // kills the ingest (the IvfStore drill's race, same class here);
      // the dt filter stays on the scan as the partition-prune pin
      PartitionedLayout.readDays(spark, s"$root/$table", schema, days)
        .filter(col("dt").isin(days: _*))
  }

  /** Suppress `delta` against the committed store, append the
    * survivors' bands/sets as `day`'s partitions, commit the day
    * marker. Returns the surviving delta rows.
    *
    * The survivors frame is cached for the two table writes and —
    * unless `retainCache` — unpersisted before returning: the
    * returned frame stays valid (it recomputes through the
    * operator's checkpointed labels) and a daily ingest loop
    * accumulates no executor storage. `retainCache = true` hands the
    * STILL-CACHED frame to a caller that will consume it further
    * (e.g. [[graft.jobs.IncrementalCurationJob]] feeds it to the
    * next suppression stage — without retention that consumer would
    * replay the whole stage including the store scans); the caller
    * then owns the unpersist. */
  def ingest(delta: DataFrame, root: String, day: String,
      idCol: String = "doc_id", textCol: String = "text",
      t: Double = 0.6,
      maxBucket: Int = LshGuard.DefaultMaxBucket,
      spillDir: Option[String] = None,
      retainCache: Boolean = false): DataFrame = {
    val spark = delta.sparkSession
    dayStore.requireWritable(spark, root, day)
    val emptyDelta = delta.limit(0)
    val storeBands = readCommitted(spark, root, "bands",
      IncrementalNearDedup.bandTable(emptyDelta, idCol, textCol),
      exceptDay = Some(day))
    val storeSets = readCommitted(spark, root, "sets",
      IncrementalNearDedup.shingleSets(emptyDelta, idCol, textCol),
      exceptDay = Some(day))

    val surv = IncrementalNearDedup.survivors(
      delta, storeBands.drop("dt"), storeSets.drop("dt"),
      idCol, textCol, t, maxBucket, spillDir).cache()
    // `postings` (round 10): the day's DISTINCT shingle hashes as
    // their own slim one-column table — [[noveltyReport]]'s fast
    // path. ~8 bytes per distinct shingle per day; membership only
    // (duplicates ACROSS days are fine — the report anti-joins).
    // The sets frame is cached across its own write and the postings
    // projection — without it the survivors pay a THIRD full
    // word_shingle_hashes pass per day.
    val sets = IncrementalNearDedup.shingleSets(surv, idCol, textCol).cache()
    try commitDay(spark, root, day, Seq(
      "bands" -> IncrementalNearDedup.bandTable(surv, idCol, textCol),
      "sets" -> sets,
      "postings" -> sets.select(explode(col("hset")).as("sh")).distinct()))
    finally {
      sets.unpersist()
      if (!retainCache) surv.unpersist()
    }
    surv
  }

  /** Day-over-day ASYMMETRIC-containment ingest (round 9 — the
    * incremental twin of q116, as [[ingest]] is of the symmetric
    * Jaccard family): suppress delta docs whose shingle content is
    * ≥ `t` contained in an archived doc or a surviving delta sibling
    * ([[IncrementalContainment.suppressedDeltaIds]] policy — archive
    * wins, min-id canonical on mutual containment), then append the
    * SURVIVORS' shingle sets as `day`'s partitions under the same
    * marker-committed, idempotent-re-run protocol as [[ingest]]
    * (re-running a committed day excludes its own prior output from
    * the store it reads, so it converges to identical survivors).
    *
    * A containment store persists the `sets` table (the prefix and
    * postings sides are row-local derivations of `hset` — no second
    * copy of the shingles on disk) plus, since round 11, the slim
    * per-day `df` table `(sh, cnt)` — each day's survivors' shingle
    * document frequencies ([[IncrementalContainment.shingleDf]]).
    * The hot-shingle guard's occupancy counts are additive across
    * days, so the guard reads the committed per-day counts and folds
    * in only the DELTA's counts, instead of re-aggregating occupancy
    * over store-wide postings on every ingest (the round-10 guard's
    * +50% q118 price). Stores written before the feature (some
    * committed day has sets but no df partition) fall back
    * transparently to the full re-count — and [[compact]] HEALS them:
    * its merged df partition is recomputed from the merged days'
    * sets, so maintenance progressively restores the fast path
    * (fully by the time the tiered merged partitions themselves
    * fold; df-less days still inside the keepDays window stay on the
    * fallback until they age out). Use a
    * SEPARATE `root` from a Jaccard [[ingest]] store — the day
    * markers are store-wide, and interleaving two suppression
    * disciplines under one marker namespace would let either's
    * half-written day look committed to the other. */
  def ingestContained(delta: DataFrame, root: String, day: String,
      idCol: String = "doc_id", textCol: String = "text",
      t: Double = IncrementalContainment.DefaultT,
      retainCache: Boolean = false): DataFrame = {
    val spark = delta.sparkSession
    dayStore.requireWritable(spark, root, day)
    val emptyDelta = delta.limit(0)
    val emptySets = IncrementalNearDedup.shingleSets(emptyDelta, idCol, textCol)
    val storeSets = readCommitted(spark, root, "sets",
      emptySets, exceptDay = Some(day)).drop("dt")
    // the guard's pre-aggregated occupancy — only when EVERY committed
    // day that has survivors also committed its df partition (the
    // noveltyReport/postings completeness discipline: a partial df
    // table would silently UNDER-count occupancy and let a hot key
    // through the guard)
    val storeDf =
      if (accelComplete(spark, root, "df", exceptDay = Some(day)))
        Some(readCommitted(spark, root, "df",
          IncrementalContainment.shingleDf(emptySets),
          exceptDay = Some(day)).drop("dt"))
      else None
    // the delta's shingle sets feed four joins (both candidate
    // orientations + both verification fetches) — cache the
    // delta-sized table so word_shingle_hashes runs once, and own
    // the unpersist here (fromSets is caller-persistence-agnostic)
    val dSets = IncrementalNearDedup
      .shingleSets(delta, idCol, textCol).cache()
    try {
      val pairs = IncrementalContainment.fromSets(dSets, storeSets, t,
        IncrementalContainment.maxShingleDf(spark), storeDf)
      val dropped = IncrementalContainment.suppressedDeltaIds(pairs,
        storeSets.select(col("id")), delta.select(col(idCol).as("id")))
      val surv = delta.join(dropped.withColumnRenamed("id", idCol),
        Seq(idCol), "left_anti").cache()
      // cache the survivors' sets across the two table writes — same
      // rationale as [[ingest]]'s sets cache (df is a projection of
      // the same frame; without it word_shingle_hashes runs twice)
      val sSets = IncrementalNearDedup.shingleSets(surv, idCol, textCol).cache()
      try commitDay(spark, root, day, Seq(
        "sets" -> sSets,
        "df" -> IncrementalContainment.shingleDf(sSets)))
      finally {
        sSets.unpersist()
        if (!retainCache) surv.unpersist()
      }
      surv
    } finally dSets.unpersist()
  }

  /** Day-over-day EXACT dedup ingest (round 9) — q100's store probe
    * with persistence: suppress delta docs whose `md5(text)` digest
    * is already committed (the [[BloomAntiJoin]] route — definite
    * misses never shuffle, the store regime where fingerprints are
    * billions of rows) or duplicated within the delta (min-`idCol`
    * canonical, q40's rule), then append the survivors' digests as
    * `day`'s partition under the same marker/idempotency protocol as
    * [[ingest]]. The digest table is the slimmest store of the three
    * suppression disciplines: 32 hex chars per surviving doc. */
  def ingestExact(delta: DataFrame, root: String, day: String,
      idCol: String = "doc_id", textCol: String = "text",
      retainCache: Boolean = false): DataFrame = {
    val spark = delta.sparkSession
    dayStore.requireWritable(spark, root, day)
    val fp = "__graft_fp"
    val store = readCommitted(spark, root, "digests",
      delta.limit(0).select(md5(col(textCol)).as("fp")),
      exceptDay = Some(day)).drop("dt").withColumnRenamed("fp", fp)
    val cols = delta.columns.toSeq
    val surv = BloomAntiJoin(delta.withColumn(fp, md5(col(textCol))), store, fp)
      .groupBy(col(fp))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
      .cache()
    try commitDay(spark, root, day, Seq(
      "digests" -> surv.select(md5(col(textCol)).as("fp"))))
    finally if (!retainCache) surv.unpersist()
    surv
  }

  /** Day-over-day MULTIMODAL near-dedup ingest (round 10) — the
    * payload-bytes cell of the incremental dedup matrix: suppress
    * delta rows whose [[graft.functions.ByteGridHash]] byte-grid
    * signature sits within hamming ≤ `maxHamming` of a committed
    * payload's signature (an archived near-twin — e.g. the same
    * image re-crawled with a few bytes of metadata rewritten in
    * place) or of a SMALLER-id delta payload (intra-day canonical,
    * q40's min-id rule; each row is judged by its own partner's
    * existence regardless of that partner's fate — the
    * [[IncrementalContainment.suppressedDeltaIds]] chain stance),
    * then append the survivors' `(id, n_bytes, sig)` rows as
    * `day`'s partition under the same marker/idempotency protocol as
    * [[ingest]]. The store is the slimmest of all four suppression
    * disciplines: 24 bytes per payload, no payload bytes retained.
    * Matching is SAME-LENGTH by construction (the length is fused
    * into the band key — [[graft.queries.MultimodalQueries.sigBands]]
    * explains why that is both the operator's semantics and its
    * scale story), and hot buckets are capped by [[LshGuard]].
    *
    * Candidates come from [[graft.queries.MultimodalQueries]]'
    * 7×9-bit banded equi-join (pigeonhole-exact at the default
    * hamming ≤ 6 — same recall argument as q140), delta bands
    * against store ∪ delta bands — never a pair scan. Payloads under
    * 64 bytes carry no signature: they pass through unsuppressed and
    * commit nothing (the grid gradient is noise there; exact dedup
    * owns tiny payloads via [[ingestExact]] upstream). */
  def ingestPhash(delta: DataFrame, root: String, day: String,
      idCol: String = "doc_id", payloadCol: String = "payload",
      maxHamming: Int = graft.queries.MultimodalQueries.PhashMaxHamming,
      retainCache: Boolean = false,
      decoder: Option[graft.ops.PayloadDecoder] = None): DataFrame = {
    import graft.queries.MultimodalQueries.sigBands
    val spark = delta.sparkSession
    dayStore.requireWritable(spark, root, day)
    graft.GraftExtensions.ensureRegistered(spark)
    require(maxHamming <= graft.queries.MultimodalQueries.PhashMaxHamming,
      s"banding is pigeonhole-exact only to hamming ${
        graft.queries.MultimodalQueries.PhashMaxHamming}, got $maxHamming")
    // signature source — the ONE seam a real codec swaps (round 11):
    //  - default: the codec-independent byte-grid gradient; payloads
    //    under 64 bytes carry no signature (grid cells go empty);
    //  - decoder: DECODED pixel luma through the identical gradient
    //    ([[graft.ops.PayloadDecoder.sigs]] — same banding, same
    //    store tables, same suppression joins downstream); payloads
    //    the codec rejects carry no signature. Either way, sig-less
    //    rows pass through unsuppressed and commit nothing — exact
    //    dedup upstream owns byte-identical payloads. A store must
    //    stick to ONE signature source: byte sigs and pixel sigs of
    //    the same payload are different fingerprints, and mixing them
    //    in one sig table silently halves recall.
    def sigsOf(df: DataFrame): DataFrame = decoder match {
      case None => df
        .filter(length(col(payloadCol)) >= 64)
        .select(col(idCol).as("doc_id"),
          length(col(payloadCol)).cast("long").as("n_bytes"),
          expr(s"byte_grid_dhash(`$payloadCol`)").as("sig"))
      case Some(d) => graft.ops.PayloadDecoder.sigs(df, d, idCol, payloadCol)
    }
    val storeSigs = readCommitted(spark, root, "sigs",
      sigsOf(delta.limit(0)), exceptDay = Some(day)).drop("dt")
    val dSigs = sigsOf(delta).cache()
    try {
      // hot-bucket guard on the COMBINED occupancy (delta ∪ store) —
      // LshGuard's non-self-join guidance; the (band value ⊕ length)
      // fused key makes hot buckets cap-wide same-length families,
      // exact dedup's territory
      val rawAll = sigBands(dSigs).withColumn("__store", lit(false))
        .unionByName(sigBands(storeSigs).withColumn("__store", lit(true)))
      val hot = LshGuard.hotBuckets(rawAll, LshGuard.maxBucket(spark))
      val dBands = LshGuard.prune(sigBands(dSigs), hot)
      val allBands = LshGuard.prune(rawAll, hot)
      // localCheckpoint truncates the suppressed-id lineage (which
      // embeds the delta plan several times via both band tables):
      // without it, chaining store stages — ingestDay runs up to five
      // — compounds the logical plan EXPONENTIALLY (each stage's
      // survivors re-embed the previous stage's full plan per
      // reference; five stages OOM'd the driver building plan
      // strings). Checkpointed, each stage adds one delta reference:
      // linear. Same executor-loss trade as ConnectedComponents'
      // round labels; the frame is at most one id per delta row.
      val suppressed = dBands.as("a").join(allBands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
            && (col("b.__store") || col("b.doc_id") < col("a.doc_id")))
        .filter(expr("bit_count(a.sig ^ b.sig)") <= maxHamming)
        .select(col("a.doc_id").as("id")).distinct()
        .localCheckpoint()
      val surv = delta.join(
        suppressed.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
        .cache()
      // the day's committed sigs = the CACHED delta sigs semi-joined
      // on the survivor ids — recomputing sigsOf(surv) would re-sign
      // every surviving payload a second time, which with a real
      // `decoder` means a second full image decode per survivor per
      // ingest (the dominant CPU of the stage)
      try commitDay(spark, root, day, Seq("sigs" -> dSigs.join(
        surv.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")))
      finally if (!retainCache) surv.unpersist()
      surv
    } finally dSigs.unpersist()
  }

  /** Day-over-day SEMANTIC (embedding-cosine) near-dedup ingest
    * (round 11) — the fifth suppression discipline, completing the
    * incremental dedup matrix's embedding cell: suppress delta rows
    * whose embedding sits at cosine ≥ `minCos` to a committed
    * archive vector (the same document re-crawled, lightly re-edited
    * or re-encoded — textually distinct, semantically identical: the
    * SemDeDup-style cut that byte/shingle detectors cannot make) or
    * to a SMALLER-id delta vector (intra-day canonical, q40's min-id
    * rule; each row is judged by its own partner's existence
    * regardless of that partner's fate — the chain stance shared by
    * [[ingestPhash]] and [[IncrementalContainment]]), then append the
    * survivors' `(vec_id, nrm, embedding)` rows as `day`'s partition
    * under the same marker/idempotency protocol as [[ingest]].
    *
    * Candidates come from q44's signed-random-projection LSH
    * (`srp_sig`, salt "cos" — [[graft.queries.DedupQueries.cosTables]]
    * tables × 6-bit buckets): delta buckets equi-join store ∪ delta
    * buckets per (table, bucket) — never a pair scan — then EVERY
    * candidate is verified by exact cosine over the stored
    * embeddings, so banding affects recall only, never precision.
    * RECALL is probabilistic-per-pair (SRP has no pigeonhole bound —
    * the contrast with [[ingestPhash]]): a true pair at cosine c is
    * missed with probability (1 − a^6)^tables, a = 1 − arccos(c)/π
    * ([[graft.queries.DedupQueries.cosExpectedMisses]] is the budget
    * as code; ≈ 2·10⁻⁵ at c = 0.99 with the default 8 tables).
    *
    * SIZING AT SCALE — two confs, sized together: the default 6-bit
    * buckets span only 64 values per table, so chance candidates
    * carry an n²/2^bits term AND, past ~cap·2^bits ≈ 16k same-band
    * vectors, EVERY bucket exceeds [[LshGuard]]'s occupancy cap — the
    * guard would prune all of them and suppression silently stops.
    * Grow the bucket space with the corpus: `graft.cos.bits` ≳
    * log₂(n/256), then re-size `graft.cos.tables` from the
    * cosExpectedMisses budget (bits 6→12 needs tables 8→16 at the
    * 0.99 margin).
    *
    * PERSISTED BANDS (round 17 — closing the verdict's last
    * per-ingest archive rescan): the archive side's signatures live
    * in the day-partitioned `cos_bands` table (the Jaccard store's
    * own `bands` discipline), committed with each day's vecs under
    * the same marker, so a steady-state ingest reads the slim
    * (vec_id, band, bv) table for banding and touches the archive's
    * EMBEDDING files exactly once (the exact-cosine verify join) —
    * never for signature recompute. Because signatures derive
    * deterministically from (embedding, conf), the table is valid
    * only for the conf epoch stamped in the root's `_COS_EPOCH.txt`
    * marker: a conf change makes the next ingest fall back to
    * deriving bands from the stored embeddings (the pre-persistence
    * behavior — the new conf still applies to the ENTIRE archive
    * immediately, never just to new days) and commit no bands until
    * [[rebuildCosBands]] re-derives the table once at the new epoch
    * (the maintenance action [[graft.jobs.MaintenanceJob]] drives).
    * Days written before the feature keep the fallback until a
    * rebuild or [[compact]] (whose merged partitions recompute bands
    * at the marker's epoch) heals them.
    *
    * Hot buckets (embedding-space boilerplate: near-identical
    * template families, all-zero-ish junk vectors) are capped by
    * [[LshGuard]] on the COMBINED delta ∪ store occupancy, exactly as
    * [[ingestPhash]] — members of ≥ cap-wide families stop generating
    * candidates (exact dedup upstream owns identical inputs).
    * Zero-norm or empty embeddings carry no signature: cosine is
    * undefined there (and Spark's NaN ordering would otherwise count
    * NaN ≥ minCos as TRUE), so such rows pass through unsuppressed
    * and commit nothing. Store bytes: 4·dim + 16 B per vector
    * (dim 64 → ~270 B — heavier than phash's 24 B because exact
    * verification needs the vector itself; every vector index at
    * scale carries the same constant). */
  def ingestCosine(delta: DataFrame, root: String, day: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      minCos: Double = 0.9, retainCache: Boolean = false): DataFrame = {
    import graft.functions.Vectors
    val spark = delta.sparkSession
    dayStore.requireWritable(spark, root, day)
    graft.GraftExtensions.ensureRegistered(spark)
    require(minCos > 0.0 && minCos <= 1.0,
      s"minCos must be in (0, 1] (SRP plane agreement degrades toward " +
        s"chance as minCos -> 0 — see cosExpectedMisses), got $minCos")
    val srpTables = graft.queries.DedupQueries.cosTables(spark)
    val srpBits = graft.queries.DedupQueries.cosBits(spark)
    def vecsOf(df: DataFrame): DataFrame = df
      .select(col(idCol).as("vec_id"),
        Vectors.norm(col(embCol)).as("nrm"), col(embCol).as("embedding"))
      // sig-less rows: no cosine defined. The NaN/Inf guards matter
      // because Spark ORDERS NaN above every double — a NaN-poisoned
      // vector would otherwise pass `> 0`, and an Inf-poisoned one
      // passes both (Inf is not NaN) yet verifies as dot/(x·Inf) =
      // NaN >= minCos = true: either way one hostile row would
      // suppress arbitrary same-bucket neighbors, forever (it
      // commits). Finite positive norm ⇒ every pairwise cosine
      // against another finite-norm vector is a real number.
      .filter(col("nrm") > 0.0 && !isnan(col("nrm"))
        && col("nrm") < Double.PositiveInfinity)
    def bands(v: DataFrame): DataFrame = cosBandsOf(v, srpTables, srpBits)
    val storeVecs = readCommitted(spark, root, "vecs",
      vecsOf(delta.limit(0)), exceptDay = Some(day)).drop("dt")
    val dVecs = vecsOf(delta).cache()
    // PERSISTED-BAND fast path (scaladoc): trust the committed
    // cos_bands table only when the epoch marker matches the
    // session's conf AND every committed day wrote its partition
    // (pre-feature days fall back — a partial band table would
    // silently halve archive recall)
    val epoch = cosEpoch(spark)
    val epochOnDisk = cosEpochOnDisk(spark, root)
    val epochOk = epochOnDisk.forall(_ == epoch)
    val bandsPersisted = epochOk && epochOnDisk.isDefined &&
      accelComplete(spark, root, "cos_bands", Some(day), base = "vecs")
    // fallback: the store-side band frame is consumed twice (combined
    // occupancy + candidate join) — cache the SLIM (vec_id, band, bv)
    // projection so the archive's wide embedding column is scanned
    // once for banding (plus once by the verify join), not once per
    // consumer; the persisted table needs no cache (two scans of the
    // slim on-disk table cost less than caching it)
    val storeBands =
      if (bandsPersisted)
        readCommitted(spark, root, "cos_bands",
          cosBandsOf(vecsOf(delta.limit(0)), srpTables, srpBits),
          exceptDay = Some(day)).drop("dt")
      else bands(storeVecs).cache()
    try {
      val dB = bands(dVecs)
      val rawAll = dB.withColumn("__store", lit(false))
        .unionByName(storeBands.withColumn("__store", lit(true)))
      val hot = LshGuard.hotBuckets(rawAll, LshGuard.maxBucket(spark))
      val dBands = LshGuard.prune(dB, hot)
      val allBands = LshGuard.prune(rawAll, hot)
      val cand = dBands.as("a").join(allBands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
            && (col("b.__store") || col("b.vec_id") < col("a.vec_id")))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      // exact verification: candidate ids -> embeddings (vec_b may be
      // archive or delta; the union resolves both without a branch)
      val allVecs = dVecs.unionByName(storeVecs)
      // localCheckpoint: same lineage-truncation as ingestPhash —
      // this frame embeds the delta plan ~five times (two band
      // tables, both verify sides); checkpointing it keeps chained
      // ingestDay stages' plans linear instead of exponential.
      val suppressed = cand
        .join(dVecs.as("ea"), col("vec_a") === col("ea.vec_id"))
        .join(allVecs.as("eb"), col("vec_b") === col("eb.vec_id"))
        .filter(Vectors.cosineWithNorms(col("ea.embedding"),
          col("eb.embedding"), col("ea.nrm"), col("eb.nrm")) >= minCos)
        .select(col("vec_a").as(idCol)).distinct()
        .localCheckpoint()
      val surv = delta.join(suppressed, Seq(idCol), "left_anti").cache()
      // the day's committed vecs = the CACHED delta vectors semi-joined
      // on survivor ids (the ingestPhash stance: never re-derive what
      // the cache already holds); the day's cos_bands derive from the
      // same delta-sized frame — committed only at a matching epoch
      // (an epoch-mismatch ingest must not mix conf eras in one table;
      // rebuildCosBands owns the heal)
      val survVecs = dVecs.join(
        surv.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi")
      val commitTables = Seq("vecs" -> survVecs) ++
        (if (epochOk) Seq("cos_bands" -> bands(survVecs)) else Nil)
      // stamp the epoch BEFORE the first band partition exists: a
      // crash in between leaves a marker claiming an epoch for zero
      // partitions — trivially consistent (completeness gates reads)
      if (epochOk && epochOnDisk.isEmpty) MarkerProtocol.atomicMarker(
        spark.sparkContext.hadoopConfiguration, new Path(root),
        CosEpochMarker, epoch + "\n")
      try commitDay(spark, root, day, commitTables)
      finally if (!retainCache) surv.unpersist()
      surv
    } finally {
      dVecs.unpersist()
      if (!bandsPersisted) { storeBands.unpersist(); () }
    }
  }

  /** One [[rebuildCosBands]] outcome: `action` ∈ in-sync (epoch
    * matches and every committed day has its band partition — no
    * work), rebuilt (the table was re-derived at the session's conf
    * and the epoch re-stamped), noop-empty-store. */
  case class CosBandReport(action: String, daysRebuilt: Int, epoch: String)

  /** Re-derive the persisted `cos_bands` table from the committed
    * `vecs` at the SESSION's (graft.cos.tables, graft.cos.bits) and
    * re-stamp the epoch marker — the maintenance action an epoch
    * mismatch (conf change) or a pre-feature store points at, run
    * once instead of paying the archive re-band on every ingest.
    *
    * Crash-safe by marker retraction: the epoch marker is DELETED
    * first, so every reader falls back to deriving bands from the
    * embeddings (correct at any conf) for the whole rebuild; a crash
    * mid-rebuild leaves the store on that fallback and a re-run
    * converges. Like [[graft.operators.IvfStore.backfillCodes]], this
    * rewrites acceleration partitions UNDER committed day markers —
    * run it at maintenance cadence (concurrent ingests of new days
    * are fine; a concurrent fast-path reader could race a partition
    * rewrite, but the marker retraction closes that window for every
    * probe planned after it).
    *
    * `force` skips the in-sync short-circuit — the repair verb for a
    * [[fsck]] `cos-bands-mismatch` finding, where the table is
    * epoch-matched and day-complete yet its CONTENT is wrong
    * (restored/hand-copied partitions). */
  def rebuildCosBands(spark: SparkSession, root: String,
      force: Boolean = false): CosBandReport = {
    val f = fs(spark, root)
    val epoch = cosEpoch(spark)
    val days = committedDays(spark, root)
    val vecDays = days.filter(dd =>
      dayStore.partFiles(f, new Path(s"$root/vecs/dt=$dd")).nonEmpty)
    if (vecDays.isEmpty) return CosBandReport("noop-empty-store", 0, epoch)
    if (!force && cosEpochOnDisk(spark, root).contains(epoch) &&
        accelComplete(spark, root, "cos_bands", None, base = "vecs"))
      return CosBandReport("in-sync", 0, epoch)
    graft.GraftExtensions.ensureRegistered(spark)
    val srpTables = graft.queries.DedupQueries.cosTables(spark)
    val srpBits = graft.queries.DedupQueries.cosBits(spark)
    f.delete(new Path(root, CosEpochMarker), false)
    // stale partitions of days whose vecs vanished (a compaction fold
    // between epochs) would otherwise shadow the rebuild's coverage
    dayStore.dtNames(f, root, "cos_bands").filterNot(vecDays.toSet)
      .foreach(dd => f.delete(new Path(s"$root/cos_bands/dt=$dd"), true))
    vecDays.foreach { dd =>
      val out = new Path(s"$root/cos_bands/dt=$dd")
      f.delete(out, true)
      cosBandsOf(spark.read.parquet(s"$root/vecs/dt=$dd"),
        srpTables, srpBits).write.parquet(out.toString)
    }
    MarkerProtocol.atomicMarker(spark.sparkContext.hadoopConfiguration,
      new Path(root), CosEpochMarker, epoch + "\n")
    CosBandReport("rebuilt", vecDays.size, epoch)
  }

  /** Committed containment-pair REPORT for a delta against a store
    * root, without mutating anything — the read-side twin of
    * [[ingestContained]] for pipelines that flag instead of drop
    * (e.g. "new doc swallowed an archived one" audits). */
  def containmentReport(delta: DataFrame, root: String,
      idCol: String = "doc_id", textCol: String = "text",
      t: Double = IncrementalContainment.DefaultT): DataFrame = {
    val spark = delta.sparkSession
    val storeSets = readCommitted(spark, root, "sets",
      IncrementalNearDedup.shingleSets(delta.limit(0), idCol, textCol),
      exceptDay = None).drop("dt")
    IncrementalContainment.containedPairs(delta, storeSets, idCol, textCol, t)
  }

  /** Per-doc shingle NOVELTY of a delta against the committed store,
    * read-side only (nothing mutates) — q123's "new information"
    * score with the reference slice = the ENTIRE archived corpus:
    * for each delta doc (≥ 3 words — the sets builder's floor,
    * shorter docs have no shingles to score), the fraction of its
    * distinct shingle hashes absent from every committed day's sets.
    * The daily pricing signal: a feed whose novelty decays toward 0
    * is re-crawling what the archive already holds.
    *
    * Day-zero store → novelty 1.0 for every delta doc. The
    * membership test is a `shuffle_hash` LEFT-ANTI join on the
    * shingle hash (q123's pinned regime — archive-scale postings can
    * never broadcast, and letting stats pick broadcast at small SF is
    * exactly the cross-scale regime flip ScaleCheckSpec caught
    * there). Anti-join semantics tolerate DUPLICATE reference keys,
    * which buys two things:
    *  - the FAST PATH (round 10): [[ingest]] commits each day's
    *    distinct shingles as the slim one-column `postings` table, so
    *    this report reads that instead of exploding every `hset`
    *    array — no set explode, no corpus-wide DISTINCT pass, the
    *    exact maintenance the previous scaladoc priced at ~2× store
    *    size (it measures ~8 B/shingle/day — far less, the sets
    *    table keeps the arrays anyway). Used only when EVERY
    *    committed day has its postings partition (or had zero
    *    survivors); stores written before the feature fall back
    *    transparently;
    *  - the legacy fallback skips its old distinct() too (dup keys
    *    are harmless on the anti side).
    *
    * Pass `exceptDay = Some(day)` when the delta's own day may
    * ALREADY be committed — an end-of-day dashboard over today's
    * ingest, or a crash-retry re-running the scoring step after the
    * marker landed. Without it the delta self-matches against its
    * own stored shingles and the whole feed scores ~0 novelty (the
    * same self-match hazard [[ingest]]'s day exclusion guards). */
  def noveltyReport(delta: DataFrame, root: String,
      idCol: String = "doc_id", textCol: String = "text",
      exceptDay: Option[String] = None): DataFrame = {
    val spark = delta.sparkSession
    val postingsComplete = accelComplete(spark, root, "postings", exceptDay)
    val emptySets = IncrementalNearDedup.shingleSets(
      delta.limit(0), idCol, textCol)
    val ref =
      if (postingsComplete)
        readCommitted(spark, root, "postings",
          emptySets.select(explode(col("hset")).as("sh")),
          exceptDay = exceptDay).drop("dt")
      else
        readCommitted(spark, root, "sets", emptySets,
          exceptDay = exceptDay).drop("dt")
          .select(explode(col("hset")).as("sh"))
    val dSets = IncrementalNearDedup.shingleSets(delta, idCol, textCol)
    val novel = dSets.select(col("id"), explode(col("hset")).as("sh"))
      .join(ref.hint("shuffle_hash"), Seq("sh"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).as("n_novel"))
    dSets.select(col("id"), size(col("hset")).cast("long").as("n_shingles"))
      .join(novel, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
      .withColumnRenamed("id", idCol)
  }

  case class CompactionReport(mergedDay: Option[String], daysMerged: Int,
      filesBefore: Int, filesAfter: Int)

  /** Total data files across every table's committed day partitions —
    * the number [[compact]] bounds (the spec's assertion target). */
  def committedFileCount(spark: SparkSession, root: String): Int =
    dayStore.committedFileCount(spark, root)

  private def storeTables(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[String] = {
    val r = new Path(root)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  /** COMPACTION + retention: merge all committed days OLDER than the
    * most recent `keepDays` into one consolidated partition per
    * table. Daily cadence accumulates small files linearly (365
    * partitions/year × shards × tables); this folds the old tail into
    * ~⌈bytes/target⌉ files while the `keepDays` retention window
    * stays day-partitioned — recent days are the ones a backfill or
    * crash-retry re-ingests, and [[ingest]]'s idempotency (exclude
    * own day from the store read) needs the day to still EXIST as a
    * day. Re-ingesting a day that was already compacted is therefore
    * out of contract (its rows can no longer be excluded and the
    * re-run would self-suppress); size `keepDays` to cover the
    * longest replay horizon.
    *
    * Crash safety — at every instant the committed view holds exactly
    * one copy of every row:
    *  1. merged partitions are written under a `dt=merged-*` name
    *     that is NOT yet committed — debris, invisible to readers
    *     (the standard marker protocol);
    *  2. ONE atomic marker rename publishes the merged day; the
    *     marker's CONTENT lists the replaced days, and
    *     [[committedDays]] excludes replaced days — so the same
    *     rename that commits the copy un-commits the originals.
    *     A crash before it changes nothing; a crash after it leaves
    *     the originals as invisible garbage;
    *  3. the garbage sweep (old markers + partitions) runs at the
    *     START of the NEXT compact call — the reader grace period —
    *     so a crash between 2 and 3 changes nothing either.
    * Re-running after any crash converges: the merged-day name is a
    * deterministic digest of the replaced-day list. */
  def compact(spark: SparkSession, root: String, keepDays: Int = 7,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    // retention and the merged tier are the kernel's plan: real days
    // only (a merged-* pseudo-day counted inside the keepDays tail
    // would push the CURRENT day into a fold, and its crash-retry
    // re-ingest could no longer exclude its own rows), tiered by
    // graft.store.maxMergedParts
    val plan = dayStore.planCompaction(spark, root, keepDays)
    val before = committedFileCount(spark, root)
    val merge = plan.getOrElse(return CompactionReport(None, 0, before, before))
    val (mergedDay, mergeDays) = (merge.day, merge.days)
    val f = fs(spark, root)
    val tables = storeTables(f, root)
    tables.foreach { t =>
      val dayDirs = mergeDays.map(dd => new Path(s"$root/$t/dt=$dd"))
        .filter(dd => dayStore.partFiles(f, dd).nonEmpty)
      val outDir = new Path(s"$root/$t/dt=$mergedDay")
      f.delete(outDir, true) // debris from a crashed prior attempt
      // the `postings` table is an OPTIONAL acceleration whose reader
      // (noveltyReport) decides per day whether it is trustworthy:
      // postings present, or sets absent (no survivors). Merging a
      // MIX of postings-complete and pre-feature days would produce
      // a merged postings partition that EXISTS but silently lacks
      // the pre-feature days' shingles — the reader's check would
      // then trust it and mis-score re-served content as novel. Skip
      // the merged postings partition in that case (sets merged +
      // postings absent → the reader falls back, correctly).
      val skipIncompletePostings = t == "postings" && !mergeDays.forall { dd =>
        dayStore.partFiles(f, new Path(s"$root/postings/dt=$dd")).nonEmpty ||
          dayStore.partFiles(f, new Path(s"$root/sets/dt=$dd")).isEmpty
      }
      def target(bytes: Long): Int = math.max(1L,
        math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
      if (t == "df" && tables.contains("sets")) {
        // the guard's df table is RECOMPUTED from the merged days'
        // sets rather than concatenated: (a) it re-collapses per-day
        // (sh, cnt) rows to one row per shingle, and (b) it HEALS
        // pre-feature stores — days written before the df table
        // existed have no partition to concatenate, but their sets
        // hold exactly the survivors the counts must cover, so one
        // compaction restores ingestContained's fast path (contrast
        // `postings`, which must be SKIPPED on a mixed merge: its
        // reader trusts any present partition).
        val setDirs = mergeDays.map(dd => new Path(s"$root/sets/dt=$dd"))
          .filter(dd => dayStore.partFiles(f, dd).nonEmpty)
        // size the merged df from the DF side (its own day partitions
        // when present, a sets/8 estimate when healing pre-feature
        // days) — sizing from the sets bytes would over-shard the far
        // smaller aggregate, re-growing the small-file count this
        // pass exists to bound
        val dfBytes = dayDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum
        val estBytes = if (dfBytes > 0) dfBytes
          else setDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum / 8
        if (setDirs.nonEmpty)
          spark.read.parquet(setDirs.map(_.toString): _*)
            .select(explode(col("hset")).as("sh"))
            .groupBy(col("sh")).agg(count(lit(1)).as("cnt"))
            .coalesce(target(estBytes))
            .write.parquet(outDir.toString)
      } else if (t == "cos_bands" && tables.contains("vecs")) {
        // the cosine store's band table is RECOMPUTED from the merged
        // days' vecs at the epoch MARKER's conf (the df-style heal —
        // pre-feature days' bands materialize here, progressively
        // restoring ingestCosine's fast path); with no marker the
        // merged partition is skipped (readers are on the embedding
        // fallback anyway and rebuildCosBands owns the first stamp)
        cosEpochOnDisk(spark, root).flatMap(parseCosEpoch).foreach {
          case (srpTables, srpBits) =>
            graft.GraftExtensions.ensureRegistered(spark)
            val vecDirs = mergeDays.map(dd => new Path(s"$root/vecs/dt=$dd"))
              .filter(dd => dayStore.partFiles(f, dd).nonEmpty)
            val bBytes = dayDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum
            val estBytes = if (bBytes > 0) bBytes
              else vecDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum / 4
            if (vecDirs.nonEmpty)
              cosBandsOf(spark.read.parquet(vecDirs.map(_.toString): _*),
                  srpTables, srpBits)
                .coalesce(target(estBytes))
                .write.parquet(outDir.toString)
        }
      } else if (dayDirs.nonEmpty && !skipIncompletePostings) {
        spark.read.parquet(dayDirs.map(_.toString): _*)
          .coalesce(target(dayDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum))
          .write.parquet(outDir.toString)
      }
    }
    // the atomic swap: the marker's content lists the replaced names
    // transitively, so [[DayStore.requireWritable]]/[[knownDays]] keep
    // protecting days folded two generations back
    dayStore.commitMerge(spark, root, merge)
    // DELIBERATELY no sweep here: the replaced days' files are
    // invisible garbage to every NEW reader, but a query that built
    // its plan just before the marker landed may still be scanning
    // them — deleting now would kill it mid-action with a
    // FileNotFoundException. The sweep runs at the START of the next
    // compact (days later at maintenance cadence) — a grace period
    // far beyond any query lifetime, bought with a few days of
    // invisible disk instead of a reader-coordination protocol.
    CompactionReport(Some(mergedDay), mergeDays.size, before,
      committedFileCount(spark, root))
  }

  /** STORE INTEGRITY AUDIT — the operational `fsck` for a store root,
    * report-only (nothing heals here; [[compact]] owns GC, re-ingest
    * owns repair). The marker protocol is crash-safe only while its
    * invariants hold; after a restore-from-backup, a manual partition
    * copy, or a bug, nothing else VERIFIES them — queries would just
    * silently double-count. This walks them:
    *
    * Shallow (default) — pure metadata, O(days) listings + marker
    * reads, safe at any cadence: the kernel's marker and partition
    * checks ([[DayStore.fsckShallow]] — `tmp-marker`,
    * `empty-merged-marker`, `double-merged`, `invalid-day-name`,
    * `orphan-partition`, `merged-debris`, `awaiting-sweep`) plus:
    *  - `accel-without-sets` (warn): an acceleration partition (`df`,
    *    `postings`) for a committed day with no `sets` partition —
    *    counts claiming survivors that do not exist; the df guard
    *    would over-count occupancy.
    *
    * Deep (`deep = true`) — run at maintenance cadence, e.g. right
    * before [[compact]]:
    *  - `dup-identity` (error for `digests.fp`, warn for `sets.id` /
    *    `sigs.doc_id` / `vecs.vec_id`): an identity key committed
    *    twice across the committed view. Exact ingest suppresses BY
    *    KEY, so a duplicate fp means duplicated/restored partitions
    *    — error. The similarity disciplines suppress by
    *    Jaccard/hamming/cosine, so a re-ingested id whose content
    *    drifted past the threshold legitimately commits twice; on a
    *    stable-id corpus a hit still usually means restored
    *    partitions — warn.
    *  - `df-mismatch` (error): the committed `df` occupancy disagrees
    *    with a recount from the committed `sets` (checked only when
    *    the df table is complete — incomplete stores are already on
    *    the fallback path and have nothing to audit).
    *  - `postings-mismatch` (error): the committed `postings`
    *    shingle set differs from the `sets`-derived one (same
    *    completeness precondition).
    *
    * The deep checks are all CROSS-day folds (a dup spans days; a
    * shingle's df sums over days), so they cannot be skipped per
    * day — but they CAN be scoped per day (round 16, closing the
    * verdict's asymmetry with the TextIndexStore/IvfStore watermark
    * discipline): each check re-examines only the keys/shingles that
    * touch days whose on-disk fingerprint (file names + lengths, all
    * tables) moved since their last clean audit, via a changed-day ×
    * archive SEMI-JOIN — the q118 one-sided shape; the archive
    * contributes only its slim key column to the join, and when NO
    * day moved the deep pass reads ZERO data files. Soundness is
    * inductive from the first (watermark-less, full) audit: any row
    * that can change a cross-day answer lives in a day whose files
    * moved, and a day implicated in a finding loses its watermark —
    * including the UNCHANGED partner day of a cross-day dup — so
    * faults re-surface every audit until repaired. `force = true` is
    * the full recount on demand.
    *
    * Returns findings worst-first; an empty result is a clean bill.
    * A healthy store mid-lifecycle returns only `info` rows. */
  def fsck(spark: SparkSession, root: String,
      deep: Boolean = false, force: Boolean = false): Seq[FsckFinding] = {
    val f = fs(spark, root)
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckFinding]
    out ++= dayStore.fsckShallow(f, root)
    val tables = storeTables(f, root)
    val committed = committedDays(spark, root)
    val live = committed.toSet

    // acceleration partitions claiming survivors that do not exist
    if (tables.contains("sets")) {
      val setDays = dayStore.dtNames(f, root, "sets")
        .filter(d => dayStore.partFiles(f, new Path(s"$root/sets/dt=$d")).nonEmpty)
      Seq("df", "postings").filter(tables.contains).foreach { t =>
        dayStore.dtNames(f, root, t)
          .filter(d => live(d) &&
            dayStore.partFiles(f, new Path(s"$root/$t/dt=$d")).nonEmpty)
          .filterNot(setDays.contains).toSeq.sorted
          .foreach(d => out += FsckFinding("warn", "accel-without-sets",
            s"$t/dt=$d",
            "acceleration partition present for a committed day with no " +
              "survivors — its counts cover rows that do not exist"))
      }
    }
    // the cosine store's analog: a band partition for a committed day
    // with no stored vectors claims signatures of rows that do not
    // exist — the fast path would band against phantom archive ids
    if (tables.contains("vecs")) {
      val vecDays = dayStore.dtNames(f, root, "vecs")
        .filter(d => dayStore.partFiles(f, new Path(s"$root/vecs/dt=$d")).nonEmpty)
      dayStore.dtNames(f, root, "cos_bands")
        .filter(d => live(d) &&
          dayStore.partFiles(f, new Path(s"$root/cos_bands/dt=$d")).nonEmpty)
        .filterNot(vecDays.contains).toSeq.sorted
        .foreach(d => out += FsckFinding("warn", "accel-without-vecs",
          s"cos_bands/dt=$d",
          "band partition present for a committed day with no stored " +
            "vectors — its signatures cover rows that do not exist"))
    }

    if (deep) fsckDeep(spark, root, f, tables, committed, force, out)
    FsckFinding.sorted(out.toSeq)
  }

  /** The data-reading half of [[fsck]]: identity uniqueness across
    * the committed view and acceleration-table recounts — DAY-SCOPED
    * by the `_audit/<day>` fingerprint watermark (round 16; see the
    * [[fsck]] scaladoc for the soundness argument). When no committed
    * day's files moved since their last clean audit, this reads ZERO
    * data files. */
  private def fsckDeep(spark: SparkSession, root: String,
      f: org.apache.hadoop.fs.FileSystem, tables: Seq[String],
      committed: Seq[String], force: Boolean,
      out: scala.collection.mutable.ArrayBuffer[FsckFinding]): Unit = {
    // accel COMPLETENESS rides every day fingerprint (round 17,
    // advice — the IvfStore geom-digest pattern): the df/postings/
    // cos-bands recounts below are SKIPPED while their table is
    // incomplete, so a day watermarked during that window was never
    // actually recounted against them. Folding the completeness
    // verdicts (and the cos epoch) into the fingerprint means the
    // moment a table BECOMES complete (compact healing a pre-feature
    // day, a conf re-stamp) every watermark moves and the previously
    // unauditable days re-enter the recount — the first-audit
    // induction stays sound.
    lazy val accelState = (Seq("df" -> "sets", "postings" -> "sets",
        "cos_bands" -> "vecs")
      .filter { case (t, b) => tables.contains(t) && tables.contains(b) }
      .map { case (t, b) =>
        s"$t=${accelComplete(spark, root, t, None, base = b)}" } :+
      s"epoch=${cosEpochOnDisk(spark, root).getOrElse("")}").mkString(",")
    dayStore.audit(spark, root, committed, force)(d =>
        dayStore.filesFingerprint(f, root, d, s"\n#$accelState")) { toRecount =>
      val dirtyDays = scala.collection.mutable.Set.empty[String]

      // committed view of one table over an explicit day list, with the
      // day carried as a literal column (per-day reads — no
      // partition-type inference, the fsckDeep rule, and the finding's
      // day attribution needs the origin day anyway)
      def readDaysCols(t: String, days: Seq[String],
          cols: Seq[String]): Option[DataFrame] = {
        val dirs = days.map(d => d -> new Path(s"$root/$t/dt=$d"))
          .filter { case (_, dd) => dayStore.partFiles(f, dd).nonEmpty }
        if (dirs.isEmpty) None
        else Some(dirs.map { case (d, dd) =>
          spark.read.parquet(dd.toString)
            .select(cols.map(col): _*).withColumn("__dt", lit(d))
        }.reduce(_ unionByName _))
      }

      // severity split (round 12): only the EXACT store suppresses BY
      // KEY (digests.fp is the identity the ingest anti-joins on), so a
      // duplicate fp is impossible under healthy operation — error. The
      // near/phash/cos disciplines suppress by SIMILARITY: a re-ingested
      // doc_id/vec_id whose content drifted past the Jaccard/hamming/
      // cosine threshold legitimately commits the same key on two days,
      // so a duplicate there is suspicious (most corpora assign stable
      // ids to stable content) but not proof of tampering — warn.
      //
      // Day scope: only keys PRESENT in a recounted day are re-checked
      // (archive semi-joined on the slim key column); every day holding
      // a flagged key — recounted or not — is dirtied, so a cross-day
      // dup's unchanged partner re-audits next time too.
      def dupCheck(table: String, key: String, severity: String,
          clause: String): Unit =
        if (tables.contains(table))
          (readDaysCols(table, committed, Seq(key)),
              readDaysCols(table, toRecount, Seq(key))) match {
            case (Some(all), Some(changed)) =>
              val dupKeys = all
                .join(changed.select(col(key)).distinct(), Seq(key), "left_semi")
                .groupBy(col(key)).count().filter(col("count") > 1)
                .select(col(key)).persist()
              try {
                val dups = dupKeys.count()
                if (dups > 0) {
                  out += FsckFinding(severity, "dup-identity",
                    s"$table.$key",
                    s"$dups keys committed more than once across the committed " +
                      s"view — $clause")
                  all.join(dupKeys, Seq(key), "left_semi")
                    .select(col("__dt")).distinct()
                    .collect().foreach(r => dirtyDays += r.getString(0))
                }
              } finally { dupKeys.unpersist(); () }
            case _ => ()
          }
      dupCheck("digests", "fp", "error",
        "exact ingest suppresses by this key, so this is impossible under " +
          "healthy operation; suspect restored or hand-copied partitions")
      val simClause = "suppression here is similarity-based, not key-based: " +
        "a re-ingested id whose content drifted past the threshold " +
        "legitimately commits twice, but on a stable-id corpus suspect " +
        "restored or hand-copied partitions"
      dupCheck("sets", "id", "warn", simClause)
      dupCheck("sigs", "doc_id", "warn", simClause)
      dupCheck("vecs", "vec_id", "warn", simClause)

      // the shingles whose cross-day answers a recounted day can move:
      // everything in its sets (explode) plus everything its own accel
      // partitions claim — the semi-join key set for both recounts
      def changedShingles(accelTable: String): Option[DataFrame] = {
        val fromSets = readDaysCols("sets", toRecount, Seq("hset"))
          .map(_.select(explode(col("hset")).as("sh")))
        val fromAccel = readDaysCols(accelTable, toRecount, Seq("sh"))
          .map(_.select(col("sh")))
        (fromSets.toSeq ++ fromAccel.toSeq)
          .reduceOption(_ unionByName _).map(_.distinct())
      }

      if (tables.contains("df") && tables.contains("sets") &&
          accelComplete(spark, root, "df", None))
        (readDaysCols("sets", committed, Seq("hset")),
            readDaysCols("df", committed, Seq("sh", "cnt")),
            changedShingles("df")) match {
          case (Some(sets), Some(dfT), Some(chg0)) =>
            val chg = chg0.persist()
            try {
              val expect = sets.select(explode(col("hset")).as("sh"))
                .join(chg, Seq("sh"), "left_semi")
                .groupBy(col("sh")).agg(count(lit(1)).as("e"))
              val got = dfT.join(chg, Seq("sh"), "left_semi")
                .groupBy(col("sh")).agg(sum(col("cnt")).as("g"))
              val bad = expect.join(got, Seq("sh"), "full_outer")
                .filter(coalesce(col("e"), lit(0L)) =!=
                  coalesce(col("g"), lit(0L))).count()
              if (bad > 0) {
                out += FsckFinding("error", "df-mismatch", "df",
                  s"$bad shingles whose committed df count disagrees with a " +
                    "recount from the committed sets — the containment guard " +
                    "reads wrong occupancy; delete the df partitions (readers " +
                    "fall back) and let compact() rebuild them")
                dirtyDays ++= toRecount // coarse: repair moves fingerprints
              }
            } finally { chg.unpersist(); () }
          case _ => ()
        }

      if (tables.contains("postings") && tables.contains("sets") &&
          accelComplete(spark, root, "postings", None))
        (readDaysCols("sets", committed, Seq("hset")),
            readDaysCols("postings", committed, Seq("sh")),
            changedShingles("postings")) match {
          case (Some(sets), Some(post), Some(chg0)) =>
            val chg = chg0.persist()
            try {
              val expect = sets.select(explode(col("hset")).as("sh"))
                .join(chg, Seq("sh"), "left_semi").distinct()
              val got = post.select(col("sh"))
                .join(chg, Seq("sh"), "left_semi").distinct()
              val missing = expect.join(got, Seq("sh"), "left_anti").count()
              val extra = got.join(expect, Seq("sh"), "left_anti").count()
              if (missing + extra > 0) {
                out += FsckFinding("error", "postings-mismatch", "postings",
                  s"$missing shingles missing / $extra extra vs the committed " +
                    "sets — noveltyReport's fast path mis-scores; delete the " +
                    "postings partitions (readers fall back) and let " +
                    "compact() rebuild coverage")
                dirtyDays ++= toRecount
              }
            } finally { chg.unpersist(); () }
          case _ => ()
        }

      // cos_bands recount (round 17): the cosine store's persisted
      // signatures are a PER-DAY derivation of that day's vecs at the
      // marker's epoch — no cross-day fold, so the recount scopes to
      // the changed days directly: re-derive srp_sig from the stored
      // embeddings and compare row multisets. A mismatch means
      // ingestCosine's fast path bands against wrong signatures —
      // wrong candidates, silently lost recall.
      if (tables.contains("cos_bands") && tables.contains("vecs") &&
          accelComplete(spark, root, "cos_bands", None, base = "vecs"))
        cosEpochOnDisk(spark, root).flatMap(parseCosEpoch).foreach {
          case (srpTables, srpBits) =>
            (readDaysCols("vecs", toRecount, Seq("vec_id", "embedding")),
                readDaysCols("cos_bands", toRecount,
                  Seq("vec_id", "band", "bv"))) match {
              case (Some(v), Some(b)) =>
                graft.GraftExtensions.ensureRegistered(spark)
                val keys = Seq("vec_id", "band", "bv", "__dt")
                val expect = v.select(col("vec_id"), posexplode(expr(
                    s"srp_sig(embedding, 'cos', $srpTables, $srpBits)")),
                    col("__dt"))
                  .toDF(keys: _*)
                  .groupBy(keys.map(col): _*).agg(count(lit(1)).as("e"))
                val got = b.groupBy(keys.map(col): _*)
                  .agg(count(lit(1)).as("g"))
                val badDays = expect.join(got, keys, "full_outer")
                  .filter(coalesce(col("e"), lit(0L)) =!=
                    coalesce(col("g"), lit(0L)))
                  .select(col("__dt")).distinct()
                  .collect().map(_.getString(0)).toSeq.sorted
                if (badDays.nonEmpty) {
                  out += FsckFinding("error", "cos-bands-mismatch",
                    "cos_bands",
                    s"days ${badDays.mkString(", ")} hold band rows that " +
                      "disagree with srp_sig over their committed vecs at " +
                      "the stamped epoch — ingestCosine's fast path bands " +
                      "against wrong signatures; run rebuildCosBands(force)")
                  dirtyDays ++= badDays
                }
              case (None, Some(_)) => () // bands with no vecs: shallow warns
              case _ => ()
            }
        }

      dirtyDays
    }
  }

  /** Write each table's `dt=day` partition under the kernel's day
    * commit ([[DayStore.commitDay]]: marker retracted, the day's
    * partitions cleared, written, then the marker re-published). */
  private def commitDay(spark: SparkSession, root: String, day: String,
      tables: Seq[(String, DataFrame)]): Unit =
    dayStore.commitDay(spark, root, day, tables.map(_._1)) {
      tables.foreach { case (name, df) =>
        PartitionedLayout.overwriteClustered(
          df.withColumn("dt", lit(day)), s"$root/$name", Seq("dt"))
      }
    }
}
