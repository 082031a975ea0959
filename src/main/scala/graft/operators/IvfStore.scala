package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

/** Day-over-day INCREMENTAL IVF index (round 11) — the vector-index
  * counterpart of [[DedupStore]]'s incremental disciplines: a
  * continuously-growing embedding corpus served by ANN probes without
  * rebuilding the index per day. [[IvfIndex]] is the offline-rebuild
  * batch form; this store freezes its centroids once and then appends
  * each day's vectors as committed day partitions.
  *
  * Layout under `root`:
  * {{{
  *   _CENTROIDS.txt                    frozen at init ([[IvfIndex.open]] reads it)
  *   cells/dt=2024-01-01/cell=N/...    one day's assigned vectors
  *   _committed/2024-01-01             day marker (same protocol as DedupStore)
  * }}}
  *
  * `dt` is the OUTER partition dim so a day commits as one subtree;
  * probes filter BOTH partition columns (`dt IN committed AND cell IN
  * probed`), so unprobed cells and uncommitted/debris days contribute
  * zero files to the scan — the same file-index pruning [[IvfIndex]]
  * asserts, now day-aware.
  *
  * Contract, mirrored from the dedup stores:
  *  - FROZEN centroids: [[init]] trains once on a seed corpus;
  *    every [[append]] assigns against that committed set, so cell
  *    semantics never shift under committed data — and [[init]]
  *    REFUSES a root that already holds centroids or committed days
  *    (re-training in place would silently invalidate every stored
  *    cell assignment: probes would prune by new-centroid geometry
  *    against old-centroid partitions). Distribution DRIFT therefore
  *    degrades recall over time (new-regime vectors crowd into few
  *    cells); [[driftReport]] (round 12) measures it — per-day mean
  *    assignment dist² vs the init-time seed baseline — so the
  *    maintenance story fires on EVIDENCE: a periodic REBUILD into a
  *    FRESH root ([[init]] + re-append, or [[IvfIndex.build]]) —
  *    which also re-trains the centroids — and a consumer-side root
  *    swap (the SnapshotStore pointer pattern), never in-place
  *    mutation. Small files are handled separately: [[compact]]
  *    (round 12) folds aged days into cell-partitioned merged
  *    pseudo-days under the DedupStore tiered protocol, so the
  *    day×cell dir count stays bounded without touching geometry.
  *  - Idempotent re-append: the day's prior partitions are cleared
  *    first (the [[DedupStore]] commitDay discipline — dynamic
  *    overwrite only replaces partitions PRESENT in the incoming
  *    frame, so a corrected replay whose rows vacate a cell, or an
  *    empty replay, would otherwise leave stale vectors standing
  *    under the re-published marker), then written and re-committed
  *    atomically. The day's MARKER is retracted before any partition
  *    is touched, so a crash ANYWHERE inside [[append]] — first-time
  *    or re-append — leaves the day uncommitted and invisible to
  *    probes (never a live marker over an empty or partial subtree);
  *    re-append it.
  *  - Single writer per day. Probes are safe concurrent with appends
  *    of NEW days (they see only marker-committed days); a re-append
  *    of an ALREADY-COMMITTED day mutates that day's partitions under
  *    the live marker — like [[IvfIndex]]'s rebuild, that protects
  *    against crashes, NOT concurrent readers. Pause probes (or run
  *    the backfill through a fresh-root rebuild) for committed-day
  *    backfills.
  *  - Rows [[KMeans.assign]] deems unusable (null vector, wrong
  *    dimension) are skipped silently — the sig-less pass-through
  *    discipline; they are data-quality casualties, not index
  *    corruption. A store whose every committed day held only
  *    unusable rows has nothing to probe and [[probe]] says so
  *    loudly instead of dying in parquet schema inference.
  *
  * At 100 TB: append cost is one map-side assignment pass over the
  * delta (|delta|·k·d flops, no shuffle — `cell` is computed
  * row-locally) plus the partitioned write; probes pay
  * `nprobe/k · committed bytes` exactly as the batch index does. */
object IvfStore {

  private val MarkerDir = "_committed"
  private val MergedPrefix = MarkerProtocol.MergedPrefix

  /** Day-name prefix [[rebuild]] gives re-homed `merged-*` partitions
    * in the new root. [[compact]] classifies these into the MERGED
    * TIER, not the retention window: they sort lexicographically
    * after date-named days, so counting them as real days would let
    * them permanently occupy `keepDays` slots and push genuinely
    * recent days into early folding (outside their replay window). */
  private val RebuiltPrefix = "rebuilt-"

  /** A pseudo-day: a partition holding OTHER days' rows under a
    * protocol name — compaction's `merged-*` or a rebuild's
    * `rebuilt-*` carry-over. ONE definition; the tier classifier,
    * the lineage closure, and the coverage check all key on it. */
  private def isPseudoDay(d: String): Boolean =
    d.startsWith(MergedPrefix) || d.startsWith(RebuiltPrefix)

  /** Seed-assignment baseline for [[driftReport]], committed at
    * [[init]]: "meanDist2 n" of the usable seed rows against the
    * freshly-trained centroids. */
  private val SeedStats = "_SEED_STATS.txt"

  /** Committed PQ codebooks ([[enablePq]]) — the marker that flips the
    * store into PQ-encoded serving. Format: line 1 `dim m` (raw-vector
    * codes) or `dim m residual` (round 16 — codes quantize the
    * RESIDUAL `vec − assigned-cell centroid`, the standard IVF-ADC
    * form), then one line per codeword `s:v1,v2,...` (subspaces in
    * order, codewords in codebook order — the order IS the encode
    * tie-break). */
  private val PqMarker = "_PQ_CODEBOOKS.txt"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every data leaf on disk (one glob), debris included — only
    * [[committedLeafFiles]] consumes it; no reader path may. */
  private def leafFiles(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[org.apache.hadoop.fs.FileStatus] =
    Option(f.globStatus(new Path(s"$root/cells/dt=*/cell=*/part-*")))
      .map(_.toSeq).getOrElse(Nil)

  /** [[leafFiles]] restricted to COMMITTED days — the view every
    * SERVING/reader path must take (round 14, found by the sf1
    * maintenance drill's concurrent prober): the raw glob also picks
    * up replaced-day dirs awaiting the next compact's sweep, and a
    * schema-footer read from one races that sweep — the probe dies on
    * FileNotFound mid-maintenance. The reader grace period protects
    * PLANNED scans (pruned to committed days); this keeps the
    * schema-leaf pick and the emptiness sentinel inside the same
    * committed set, whose files only a committed-day re-append ever
    * touches (documented probe-unsafe already). */
  private def committedLeafFiles(f: org.apache.hadoop.fs.FileSystem,
      root: String, days: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val ds = days.toSet
    leafFiles(f, root).filter(st =>
      ds(st.getPath.getParent.getParent.getName.stripPrefix("dt=")))
  }

  /** The store's data schema from one leaf file — the id column is
    * first and the vector column second by [[append]]'s write order;
    * every reader/audit derives names from HERE, never from what a
    * caller remembers naming them. ONE footer read per call site. */
  private def leafDataSchema(spark: SparkSession,
      leaf: Path): org.apache.spark.sql.types.StructType =
    spark.read.parquet(leaf.toString).schema

  /** Committed cells under an EXPLICIT schema — id/vec data schema
    * from one leaf file, partition columns pinned to (dt: string,
    * cell: int). Partition-type INFERENCE must never run here: a
    * store of date-shaped day names would infer a DateType `dt`
    * (breaking marker-name comparisons — the [[DedupStore]] fsckDeep
    * rule), and the type would FLIP to string the day a `merged-*`
    * pseudo-day commits. Explicit partition columns still prune at
    * the file index. */
  private def cellsFrame(spark: SparkSession, root: String,
      leaf: Path, days: Seq[String],
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val schema = dataSchema.getOrElse(leafDataSchema(spark, leaf))
      .add("dt", org.apache.spark.sql.types.StringType)
      .add("cell", org.apache.spark.sql.types.IntegerType)
    // list ONLY the committed days' dirs (round 14, the drill's race —
    // [[PartitionedLayout.readDays]] has the story); the dt filter
    // stays on the scan (the PartitionFilters pin) for semantics
    PartitionedLayout.readDays(spark, s"$root/cells", schema, days)
      .filter(col("dt").isin(days: _*))
  }

  /** Train the frozen centroid set on `seed` and commit it. Writes NO
    * vectors — follow with [[append]] (the seed day included, if its
    * rows belong in the index). Refuses an already-initialized root
    * (see the centroid-freeze contract above). Returns the model with
    * its SSE trace.
    *
    * Also commits the seed-assignment baseline (mean dist² of the
    * usable seed rows — one extra assignment pass, init-time only)
    * that [[driftReport]] compares every committed day against. */
  def init(seed: DataFrame, idCol: String, vecCol: String, root: String,
      k: Int, iters: Int = 5): KMeans.Model = {
    val spark = seed.sparkSession
    require(scala.util.Try(IvfIndex.open(spark, root)).isFailure &&
        committedDays(spark, root).isEmpty,
      s"refusing to re-initialize '$root': it already holds a committed " +
        "centroid set or committed days, and re-training in place would " +
        "silently invalidate every stored cell assignment — rebuild into a " +
        "FRESH root and swap consumers")
    val model = KMeans.train(seed, idCol, vecCol, k, iters)
    val st = KMeans.assign(seed, model.centroids, vecCol)
      .agg(avg(col("dist2")), count(lit(1))).collect()(0)
    val conf = spark.sparkContext.hadoopConfiguration
    MarkerProtocol.atomicMarker(conf, new Path(root), SeedStats,
      s"${if (st.isNullAt(0)) 0.0 else st.getDouble(0)} ${st.getLong(1)}")
    IvfIndex.commitCentroids(spark, root, model.centroids)
    model
  }

  /** [[init]] with CALLER-SUPPLIED centroids — the bring-your-own-
    * geometry form (round 16): an externally trained quantizer, a
    * replayed centroid set from another root, or a DETERMINISTIC set
    * an oracle can re-derive (q151 seeds cells this way so DuckDB can
    * reproduce the argmin assignment that residual codes depend on).
    * Same freeze/refusal contract as [[init]]; no seed baseline is
    * recorded, so [[driftReport]]'s baseline columns read null (the
    * pre-baseline-store shape) until a rebuild re-seeds one. */
  def initWithCentroids(spark: SparkSession, root: String,
      centroids: Seq[Array[Double]]): Unit = {
    require(centroids.nonEmpty, "centroid set must be non-empty")
    require(centroids.forall(_.length == centroids.head.length),
      "centroids must share one dimension")
    require(scala.util.Try(IvfIndex.open(spark, root)).isFailure &&
        committedDays(spark, root).isEmpty,
      s"refusing to re-initialize '$root': it already holds a committed " +
        "centroid set or committed days, and re-training in place would " +
        "silently invalidate every stored cell assignment — rebuild into a " +
        "FRESH root and swap consumers")
    IvfIndex.commitCentroids(spark, root, centroids)
  }

  /** The init-time seed baseline (mean assignment dist², seed row
    * count), or None for a store initialized before the feature. */
  def seedStats(spark: SparkSession, root: String): Option[(Double, Long)] = {
    val p = new Path(root, SeedStats)
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else MarkerProtocol.readMarker(f, p).headOption.map { line =>
      val parts = line.split("\\s+")
      (parts(0).toDouble, parts(1).toLong)
    }
  }

  /** Days whose marker committed, sorted — EXCLUDING days a committed
    * `merged-*` compaction marker has replaced (their rows live in
    * the merged partition — [[DedupStore.committedDays]]' rule) and
    * INCLUDING committed merged pseudo-days. */
  def committedDays(spark: SparkSession, root: String): Seq[String] = {
    val (names, replaced) =
      MarkerProtocol.markerState(fs(spark, root), new Path(root, MarkerDir))
    names.filterNot(replaced).sorted
  }

  /** Assign `delta` against the frozen centroids and commit it as
    * `day`'s partitions (idempotent — see the re-append contract). */
  /** `lineage`: origin day names this partition's rows consist of —
    * written INTO the day's commit marker in the same atomic rename
    * (rebuild/catchUp carry it for `rebuilt-*` pseudo-days so
    * [[catchUp]]'s coverage check can resolve later folds; a separate
    * post-commit content rewrite would leave a permanently opaque
    * marker on a crash between the two). Empty for normal days. */
  def append(delta: DataFrame, root: String, day: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lineage: Seq[String] = Nil): Unit = {
    MarkerProtocol.requireDayName(day)
    require(!day.startsWith(MergedPrefix),
      s"'$MergedPrefix' is reserved for compaction markers, got '$day'")
    val spark = delta.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // a day a committed compaction already folded can no longer be
    // re-appended: its rows live in the merged partition, so the
    // re-append would commit a SECOND copy under the day name and
    // probes would double-count every duplicated vector (the
    // DedupStore requireNotCompacted rule, double-count flavor)
    val (_, replaced) =
      MarkerProtocol.markerState(fs(spark, root), new Path(root, MarkerDir))
    if (replaced.contains(day)) throw new IllegalStateException(
      s"day '$day' of IVF store '$root' was already folded into a " +
        "compacted partition; re-appending it would duplicate its vectors " +
        "in every probe. Re-append is only supported inside compact()'s " +
        "keepDays retention window — size keepDays to cover the longest " +
        "replay horizon, or rebuild into a fresh root.")
    val cents = IvfIndex.open(spark, root) // refuses an uninitialized root
    // RE-APPEND crash discipline (round 12): retract the day's marker
    // BEFORE touching its partitions. A re-append clears + rewrites
    // the day's data; with the old marker left live through that
    // window, a crash between the pre-delete and the re-publish left
    // a COMMITTED marker over an empty (or partial) day subtree —
    // probes silently omitted that day's vectors. With the marker
    // retracted first, ANY crash inside append leaves the day
    // uncommitted — loudly visible via [[committedDays]] — and the
    // recovery is the same "re-append it" as for a first-time crash.
    val fsys = new Path(root).getFileSystem(conf)
    fsys.delete(new Path(new Path(root, MarkerDir), day), false)
    // clear the day's prior partitions (DedupStore.commitDay's rule):
    // dynamic overwrite replaces only partitions present in the
    // incoming frame — without the delete, a corrected replay that
    // vacates a cell leaves the old cell's vectors committed
    val dayDir = new Path(s"$root/cells/dt=$day")
    fsys.delete(dayDir, true)
    fsys.delete(new Path(s"$root/codes/dt=$day"), true)
    val assigned = KMeans.assign(delta, cents, vecCol)
      .select(col(idCol), col(vecCol), col("cell"))
      .withColumn("dt", lit(day))
    // clustered write (guide §6): ~one file per (dt, cell) at the gate
    // SF instead of one file per scan-task × cell — the commit and
    // every later probe scan pay per file (measured in commit 174aba3:
    // Q146Prof append phases 1.3-1.4 -> 0.6-0.8 s). The clustering is
    // a narrow coalesce, so append adds no exchange and stays map-only
    // as the object scaladoc promises
    PartitionedLayout.overwriteClustered(
      assigned, s"$root/cells", Seq("dt", "cell"))
    // PQ-enabled store: encode the day inline (from the just-written
    // cells, so codes always match what the store serves), BEFORE the
    // marker — one commit covers both tables, torn appends leave both
    // invisible ([[enablePq]]'s layout contract)
    pqState(spark, root).foreach { case (m, res) =>
      writeCodesDay(spark, root, day, m, res) }
    MarkerProtocol.atomicMarker(conf, new Path(root, MarkerDir), day,
      if (lineage.isEmpty) "" else lineage.mkString("\n") + "\n")
  }

  /** L2 top-k per query over the `nprobe` nearest cells of every
    * COMMITTED day — [[IvfIndex.probe]]'s exact semantics over the
    * day-partitioned layout (shared core: `probeCells`). */
  def probe(spark: SparkSession, root: String, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], nprobe: Int, topK: Int): DataFrame = {
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — append at least one day before probing")
    // loud guard for the committed-but-empty store (every appended row
    // unusable/empty): a bare parquet read over zero data files dies
    // in schema inference with a message that points nowhere
    val leaves = committedLeafFiles(fs(spark, root), root, days)
    require(leaves.nonEmpty, s"store at $root has committed days but no " +
      "indexed vectors (every appended row was empty or unusable) — nothing to probe")
    val cells = cellsFrame(spark, root, leaves.head.getPath, days)
    IvfIndex.probeCells(cells, idCol, vecCol, queries, cents, nprobe, topK)
  }

  // -----------------------------------------------------------------
  // PQ-ENCODED SERVING (round 15) — [[ProductQuantizer]] moved from a
  // frame-level operator INTO the store layout, so the 32× byte claim
  // its scaladoc makes is true where it matters: the probe's SCAN.
  //
  // A sibling `codes/dt=<day>/cell=<N>/` table mirrors the cells
  // partitioning exactly — one row per stored vector, (id, pq_codes:
  // array<int>[m]) — and commits under the SAME day marker as the
  // cells write (the TextIndexStore postings+stats discipline: the
  // marker lands atomically AFTER both tables; a torn append leaves
  // both invisible). [[adcProbe]] then reads CODE bytes, never vector
  // bytes: cell pruning at the file index is unchanged (both tables
  // share the dt/cell dims), but each scanned row costs m ints
  // instead of dim floats and each (query, row) score is m lookups
  // instead of a dim-wide float kernel. The float vectors stay in
  // `cells` as the system of record — [[adcProbe]]'s optional
  // `rerank` re-scores only the top-R ADC candidates against them
  // (≤ |Q|·R rows, a broadcast join, never a corpus scan).
  // -----------------------------------------------------------------

  /** The committed PQ model, or None for a float-serving store. */
  def pqModel(spark: SparkSession, root: String): Option[PqModel] =
    pqState(spark, root).map(_._1)

  /** True when the committed codes quantize RESIDUALS (vec −
    * assigned-cell centroid — true IVF-ADC, round 16); false for raw
    * codes (round 15's format) or a float-serving store. */
  def pqResidual(spark: SparkSession, root: String): Boolean =
    pqState(spark, root).exists(_._2)

  /** (model, residual?) from the committed marker — ONE read feeding
    * both accessors and every internal consumer; the two facts must
    * never come from different marker snapshots. */
  private def pqState(spark: SparkSession,
      root: String): Option[(PqModel, Boolean)] = {
    val p = new Path(root, PqMarker)
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      val lines = MarkerProtocol.readMarker(f, p)
      val head = lines.head.split("\\s+")
      val (dim, m) = (head(0).toInt, head(1).toInt)
      val residual = head.lift(2).contains("residual")
      val bySub = lines.tail.map { ln =>
        val Array(s, vs) = ln.split(":", 2)
        s.toInt -> vs.split(",").toSeq.map(_.toDouble)
      }
      val books = (0 until m).map(s => bySub.filter(_._1 == s).map(_._2))
      Some((PqModel(dim, m, books), residual))
    }
  }

  private def commitPqModel(spark: SparkSession, root: String,
      model: PqModel, residual: Boolean): Unit = {
    val body = model.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.map(cw => s"$s:${cw.mkString(",")}")
    }.mkString("\n")
    val head = s"${model.dim} ${model.m}${if (residual) " residual" else ""}"
    MarkerProtocol.atomicMarker(spark.sparkContext.hadoopConfiguration,
      new Path(root), PqMarker, s"$head\n$body")
  }

  /** Flip the store into PQ-encoded serving: encode `codes/` for
    * every committed day, then commit `model` — marker LAST, so a
    * crash mid-backfill leaves the store loudly un-enabled (re-run)
    * and [[adcProbe]] never reads a torn code set. Every subsequent
    * [[append]] encodes its day inline.
    *
    * The backfill FORCE-ENCODES every committed day — the whole
    * `codes/` table is deleted first (round 16, advice): a fill-only-
    * missing-days re-run after a mid-backfill crash could commit THIS
    * call's codebooks over days the crashed attempt encoded with a
    * DIFFERENT model (a trained overload over a corpus that gained a
    * day in between, or an operator retry with different k/iters) —
    * adcProbe would then serve silently wrong ADC distances until a
    * deep fsck flagged the mismatch. Deleting codes/ makes the
    * committed marker match every code row by construction, for any
    * crash/retry interleaving.
    *
    * `residual = true` (round 16) commits the standard IVF-ADC form:
    * codes quantize `vec − assigned-cell centroid`, which concentrates
    * the quantizer's dynamic range into the within-cell spread and is
    * the published accuracy step at the same m bytes (Jégou et al.
    * TPAMI 2011, §IV — see PAPERS.md). [[adcProbe]] shifts its lookup
    * tables per (query, probed cell) to match; ADC distances remain
    * EXACT distances to the reconstruction `centroid + decoded
    * residual`, so the full-probe-equals-brute-force gate argument
    * carries over verbatim (q151's oracle).
    *
    * Refuses a root already serving PQ: re-quantizing in place would
    * mutate codes under live probes — like re-training centroids, the
    * remedy is a fresh-root [[rebuild]] (which carries codebooks) or
    * a new root + [[enablePq]] + pointer flip. Returns the number of
    * days encoded. Single writer, like every store mutation. */
  def enablePq(spark: SparkSession, root: String, model: PqModel,
      residual: Boolean): Int = {
    require(pqModel(spark, root).isEmpty,
      s"refusing to re-quantize '$root' in place: it already serves PQ " +
        "codes, and rewriting them would tear concurrent ADC probes — " +
        "rebuild into a FRESH root (codebooks carry over) and swap consumers")
    val cents = IvfIndex.open(spark, root) // uninitialized root refuses here
    require(cents.head.length == model.dim,
      s"PQ model dim ${model.dim} != stored vector dim ${cents.head.length}")
    fs(spark, root).delete(new Path(s"$root/codes"), true): Unit
    val done = backfillCodes(spark, root, Some((model, residual)))
    commitPqModel(spark, root, model, residual)
    done.size
  }

  /** [[enablePq]] with a TRAINED model: per-subspace k-means over the
    * committed corpus — over the RESIDUALS when `residual = true`
    * (training must see the distribution it will encode), raw vectors
    * otherwise — bounded by `graft.pq.maxTrainRows` (the [[rebuild]]
    * bounded-retrain discipline — [[ProductQuantizer.train]] owns the
    * deterministic hash sample). */
  def enablePq(spark: SparkSession, root: String, m: Int, k: Int,
      iters: Int, residual: Boolean = false): Int = {
    val days = committedDays(spark, root)
    val leaves = committedLeafFiles(fs(spark, root), root, days)
    require(leaves.nonEmpty,
      s"cannot train PQ codebooks at $root: no indexed vectors")
    val ds = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (ds.fieldNames(0), ds.fieldNames(1))
    val cents = IvfIndex.open(spark, root)
    val dim = cents.head.length
    val all = cellsFrame(spark, root, leaves.head.getPath, days,
      dataSchema = Some(ds))
    val (trainFrame, trainCol) =
      if (!residual) (all, vecCol)
      else (all.withColumn("__res", residualCol(cents, vecCol)), "__res")
    enablePq(spark, root,
      ProductQuantizer.train(trainFrame, idCol, trainCol, dim, m, k, iters),
      residual)
  }

  /** `vec − assigned-cell centroid` as a column — the quantity
    * residual-mode codes quantize. try_element_at: a hand-restored
    * out-of-range `cell` nulls the residual (and [[KMeans.usable]]
    * then corrupt-drops the row at the encode seam) instead of
    * killing the job under ANSI — the [[driftReport]] bounded-index
    * rule. */
  private def residualCol(cents: Seq[Array[Double]], vecCol: String): Column = {
    val centArr = array(cents.map(c => lit(c)): _*)
    zip_with(col(vecCol), try_element_at(centArr, col("cell") + 1),
      (x, y) => x.cast("double") - y)
  }

  /** Encode the committed days whose `codes/` partitions are missing
    * (all of them at [[enablePq]] time, which pre-deletes the table;
    * the repair verb for a day appended by a pre-PQ writer
    * afterwards). Idempotent — a re-run pre-deletes and rewrites each
    * missing day. Returns the days encoded. Reads the day's cells
    * BACK from disk (not the caller's delta), so codes always match
    * exactly what the store serves. */
  def backfillCodes(spark: SparkSession, root: String,
      stateOverride: Option[(PqModel, Boolean)] = None): Seq[String] = {
    val (model, residual) = stateOverride.orElse(pqState(spark, root))
      .getOrElse(throw new IllegalStateException(
        s"no PQ codebooks at $root — enablePq first"))
    val f = fs(spark, root)
    val days = committedDays(spark, root)
    val missing = days.filter(d => dayHasFiles(f, root, "cells", d) &&
      !dayHasFiles(f, root, "codes", d))
    missing.foreach(d => writeCodesDay(spark, root, d, model, residual))
    missing
  }

  private def dayHasFiles(f: org.apache.hadoop.fs.FileSystem, root: String,
      table: String, day: String): Boolean =
    Option(f.globStatus(new Path(s"$root/$table/dt=$day/cell=*/part-*")))
      .exists(_.nonEmpty)

  /** One day's codes from its on-disk cells — shared by [[append]]'s
    * inline encode and [[backfillCodes]]. No-op for an empty day.
    * Residual mode encodes `vec − assigned-cell centroid` (see
    * [[enablePq]]); a row whose residual is undefined (out-of-range
    * restored cell) corrupt-drops at the encode seam. */
  private def writeCodesDay(spark: SparkSession, root: String, day: String,
      model: PqModel, residual: Boolean): Unit = {
    val f = fs(spark, root)
    f.delete(new Path(s"$root/codes/dt=$day"), true): Unit
    val leaves = Option(f.globStatus(
        new Path(s"$root/cells/dt=$day/cell=*/part-*")))
      .map(_.toSeq).getOrElse(Nil)
    if (leaves.isEmpty) return
    val ds = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (ds.fieldNames(0), ds.fieldNames(1))
    val dayCells = cellsFrame(spark, root, leaves.head.getPath, Seq(day),
      dataSchema = Some(ds))
    val (src, encCol) =
      if (!residual) (dayCells, vecCol)
      else (dayCells.withColumn("__res",
        residualCol(IvfIndex.open(spark, root), vecCol)), "__res")
    val coded = ProductQuantizer.encode(src, model, encCol)
      .select(col(idCol), col("pq_codes"), col("dt"), col("cell"))
    PartitionedLayout.overwriteClustered(coded, s"$root/codes",
      Seq("dt", "cell"))
  }

  /** ADC top-k over the committed CODES — [[probe]]'s serving shape
    * with the PQ memory story made real in the scan: the probed
    * cells' code files are read (dt AND cell partition pruning, m
    * ints per row), each (query, row) pair costs m lookups into a
    * per-query table built driver-side, and the float vectors are
    * touched only when `rerank > 0` — then just for the top-`rerank`
    * ADC candidates per query (a broadcast join of ≤ |Q|·rerank rows
    * against the pruned cells, never a corpus scan).
    *
    * ADC distance is the EXACT L2 to the code's reconstruction (the
    * PqSpec identity; under residual codes the reconstruction is
    * `centroid + decoded residual` and the lookup tables are built
    * from `query − centroid` per probed cell), so a full probe
    * (`nprobe = k`) is exact brute-force over the reconstructed
    * committed corpus — the q150/q151 oracle gates' argument,
    * mirroring q146's for the float probe.
    *
    * BATCH SHAPE (round 16): the (query, cell) pair frame rides a
    * broadcast, so the batch is chunked INTERNALLY under
    * `graft.maxBroadcastRows` — whole queries per chunk, per-chunk
    * ADC frames unioned BEFORE the one rank window (chunk-count-
    * invariant: the window partitions by qid and chunks are disjoint
    * by qid) — instead of making callers shard (the round-15 shape
    * q150 hand-chunked around). Batches past `graft.maxProbeBatch`
    * refuse loudly — that much driver-resident query state belongs in
    * a table. `idCol` must name the store's actual id column (the
    * first data column by [[append]]'s write order) — a mismatch
    * refuses instead of being silently ignored (round 16, advice).
    *
    * Returns (qid, <id>, adc_d2, rank) — or (qid, <id>, dist2, rank)
    * with EXACT float distances when `rerank >= topK` re-scores. */
  def adcProbe(spark: SparkSession, root: String, idCol: String,
      queries: Seq[(Long, Array[Double])], nprobe: Int, topK: Int,
      rerank: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(nprobe >= 1 && topK >= 1, "nprobe/topK must be >= 1")
    require(rerank <= 0 || rerank >= topK,
      s"rerank=$rerank must be >= topK=$topK (it is the ADC candidate " +
        "pool the exact re-score ranks from)")
    val (model, residual) = pqState(spark, root).getOrElse(
      throw new IllegalStateException(
        s"store at $root has no committed PQ codebooks — enablePq first, " +
          "or use probe() for float serving"))
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — append at least one day before probing")
    val f = fs(spark, root)
    // coverage: a day appended by a pre-PQ writer has cells but no
    // codes — serving a probe that silently skips it would lose its
    // vectors from every answer; refuse loudly with the repair verb
    val uncovered = days.filter(d => dayHasFiles(f, root, "cells", d) &&
      !dayHasFiles(f, root, "codes", d))
    require(uncovered.isEmpty,
      s"committed days ${uncovered.mkString(", ")} at $root have no PQ " +
        "codes (appended by a pre-PQ writer?) — run backfillCodes first")
    val codeLeaves = Option(f.globStatus(
        new Path(s"$root/codes/dt=*/cell=*/part-*")))
      .map(_.toSeq).getOrElse(Nil)
      .filter(st => days.contains(
        st.getPath.getParent.getParent.getName.stripPrefix("dt=")))
    require(codeLeaves.nonEmpty, s"store at $root has committed days but " +
      "no encoded vectors (every appended row was empty or unusable) — " +
      "nothing to probe")
    val batchCap = BroadcastGuard.probeBatchCap(spark)
    require(queries.size <= batchCap,
      s"probe batch of ${queries.size} queries exceeds the probe-batch " +
        s"cap ($batchCap; conf graft.maxProbeBatch) — a driver-side query " +
        "list this size belongs in a table; join it against the store")
    val csch = leafDataSchema(spark, codeLeaves.head.getPath)
      .add("dt", org.apache.spark.sql.types.StringType)
      .add("cell", org.apache.spark.sql.types.IntegerType)
    val rowId = csch.fieldNames(0)
    require(rowId == idCol,
      s"idCol '$idCol' is not this store's id column '$rowId' (the first " +
        "data column by append's write order) — a silently-ignored " +
        "mismatch would mislabel every returned id")
    if (queries.isEmpty) {
      // schema-stable empty answer for an empty batch (round 17,
      // advice): greedyChunks yields zero chunks and the chunk union
      // would otherwise die on empty.reduce — an empty batch is a
      // valid no-op probe, the topKBatch/adcRecallReport stance. The
      // distance column name follows the rerank arm the caller chose.
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("qid", LongType), csch.fields(0),
          StructField(if (rerank <= 0) "adc_d2" else "dist2", DoubleType),
          StructField("rank", IntegerType, nullable = false))))
    }
    // driver-side per-query work: probed cells (|Q|·k·d flops, the
    // probeCells shape) plus the ADC lookup table (m × |book| subspace
    // distances — the same sequential left-fold arithmetic as the
    // column-side d2, so ADC scores are bit-identical to
    // [[ProductQuantizer.adcTopK]]'s). Residual mode shifts the LUT
    // per (query, probed cell): the table is built from q − centroid,
    // so Σ lut[code] = ||(q − c) − r̂||² = ||q − (c + r̂)||² — still an
    // exact distance to the reconstruction.
    def l2d2(a: Array[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def lutOf(v: Array[Double]): Seq[Seq[Double]] =
      (0 until model.m).map(s => model.codebooks(s).map(cw =>
        l2d2(v.slice(s * model.subDim, (s + 1) * model.subDim), cw)))
    queries.foreach { case (qid, qv) =>
      require(qv != null && qv.length == model.dim,
        s"query $qid has ${if (qv == null) "no" else s"${qv.length}-dim"} " +
          s"vector; the store serves dim ${model.dim}")
    }
    val probedByQ = queries.map { case (qid, qv) =>
      (qid, qv, cents.indices
        .sortBy(i => (l2d2(qv, cents(i).toSeq), i)).take(nprobe))
    }
    val allProbed = probedByQ.flatMap(_._3).distinct
    // internal chunking under the broadcast cap — each chunk's pair
    // frame is ≤ cap rows; LUTs are built per chunk so peak driver
    // allocation follows the chunk, not the batch
    val cap = BroadcastGuard.cap(spark)
    val chunks = BroadcastGuard.greedyChunks(probedByQ, cap)(
      _._3.size.toLong)
    val adc = chunks.map { ch =>
      val pairs = ch.flatMap { case (qid, qv, probed) =>
        if (!residual) {
          val lut = lutOf(qv) // one LUT per query, shared across cells
          probed.map(c => (qid, lut, c))
        } else probed.map { c =>
          val qEff = Array.tabulate(qv.length)(i => qv(i) - cents(c)(i))
          (qid, lutOf(qEff), c)
        }
      }
      val pairsDf = pairs.toDF("qid", "__pq_lut", "cell")
      val probedCells = pairs.map(_._3).distinct
      val codes = PartitionedLayout.readDays(spark, s"$root/codes", csch, days)
        .filter(col("dt").isin(days: _*))
        .filter(col("cell").isin(probedCells: _*))
        // corrupt-drop hand-restored junk (the adcTopK seam rule): a
        // null/wrong-width code array nulls the fold, and a null
        // distance would rank FIRST under asc nulls-first
        .filter(col("pq_codes").isNotNull && size(col("pq_codes")) === model.m)
      codes.join(broadcast(pairsDf), "cell")
        .select(col("qid"), col(rowId), col("dt"), col("cell"),
          // native JIT ADC fold — bit-identical to the zip_with +
          // try_element_at HOF (out-of-range codes null the score
          // instead of killing the probe; see Vectors.adcFold)
          graft.functions.Vectors.adcFold(col("pq_codes"), col("__pq_lut"))
            .as("adc_d2"))
        .filter(col("adc_d2").isNotNull)
    }.reduce(_ unionByName _)
    val pool = math.max(topK, rerank)
    val ranked = adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("adc_d2").asc, col(rowId).asc)))
      .filter(col("rank") <= pool)
    if (rerank <= 0)
      ranked.filter(col("rank") <= topK)
        .select(col("qid"), col(rowId), col("adc_d2"), col("rank"))
    else {
      // exact re-score of the ADC candidate pool: join the ≤ |Q|·R
      // candidates back to their float vectors by (dt, cell, id) —
      // the scan is still pruned to committed days + probed cells.
      // The candidate/query sides broadcast; both are |Q|-bounded
      // driver products, so they chunk by qid hash under the same cap
      // (rows known without a count job: |Q|·pool and |Q|)
      val cands = ranked.select(col("qid"), col(rowId), col("dt"), col("cell"))
      val vecLeaves = committedLeafFiles(f, root, days)
      val vsch = leafDataSchema(spark, vecLeaves.head.getPath)
      val vecCol = vsch.fieldNames(1)
      val cells = cellsFrame(spark, root, vecLeaves.head.getPath, days,
        dataSchema = Some(vsch))
        .filter(col("cell").isin(allProbed: _*))
      val qVecs = queries.map { case (qid, qv) => (qid, qv.toSeq) }
        .toDF("qid", "__q_emb")
      val nCandChunks = math.max(1L,
        (queries.size.toLong * pool + cap - 1) / cap).toInt
      // native JIT L2² — bit-identical to the zip_with+aggregate HOF
      // (see Vectors.l2d2); the rerank leg's hot inner loop
      val exactD2 = graft.functions.Vectors.l2d2(col(vecCol), col("__q_emb"))
      (0 until nCandChunks).map { i =>
        val candsCh =
          if (nCandChunks == 1) cands
          else cands.filter(pmod(xxhash64(col("qid")), lit(nCandChunks)) === i)
        val qVecsCh =
          if (nCandChunks == 1) qVecs
          else qVecs.filter(pmod(xxhash64(col("qid")), lit(nCandChunks)) === i)
        cells.join(broadcast(candsCh),
            cells(rowId) === candsCh(rowId) && cells("dt") === candsCh("dt") &&
              cells("cell") === candsCh("cell"))
          .select(candsCh("qid"), cells(rowId), cells(vecCol), cells("dt"))
          .join(broadcast(qVecsCh), "qid")
          .withColumn("dist2", exactD2)
      }.reduce(_ unionByName _)
        .filter(col("dist2").isNotNull && !isnan(col("dist2")) &&
          col("dist2") < lit(Double.PositiveInfinity))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("dist2").asc, col(rowId).asc)))
        .filter(col("rank") <= topK)
        .select(col("qid"), col(rowId), col("dist2"), col("rank"))
    }
  }

  /** TABLE-DRIVEN ADC top-k (round 16) — the batch shape
    * [[adcProbe]]'s `graft.maxProbeBatch` refusal points at: the
    * queries live in a DataFrame (`qidCol`, `qvecCol:
    * array<numeric>[dim]`) and NEVER touch the driver — probed cells,
    * the (residual-shifted) lookup tables and the ADC scores are all
    * computed in the plan, so the batch size is bounded by cluster
    * memory, not driver memory.
    *
    * Plan: one row-local projection per query (distances to the k
    * centroid literals; probed cells = the `nprobe` (dist², index)-
    * smallest via an array_sort over structs — the
    * [[KMeans.assign]] tie rule; per probed cell the m×|book| LUT
    * from `q` or `q − centroid`), exploded to (qid, lut, cell) and
    * joined to the committed codes on `cell` — the query side rides
    * [[BroadcastGuard.maybeBroadcast]]: under the cap this is the
    * driver-list probe's broadcast join; past it the join SHUFFLES
    * both sides on `cell` (the scale path — executor-bounded, never
    * a driver build). Scores are IEEE-identical to [[adcProbe]]'s
    * (same left-fold arithmetic; spec-asserted row-for-row).
    *
    * TWO-PHASE CELL PRUNING (round 17, closing round 16's honest cost
    * (a)): the probed-cell UNION across the whole batch is bounded by
    * the centroid count k — driver-safe by construction — so phase 1
    * runs ONE narrow job over the query table (row-local centroid
    * distances → probed cells, exploded and distinct-ed to ≤ k ints)
    * and phase 2 plans the codes scan with `cell IN (probed)`,
    * restoring the driver-list probe's file-index pruning whenever
    * the batch probes a strict cell subset. A batch that probes every
    * cell plans the unchanged full scan. The price is that one extra
    * pass over the query table's vectors (k·dim flops per query,
    * no LUT work) — cheap next to the code bytes it prunes.
    *
    * RERANK (round 17, the driver-list parity arm): `rerank >= topK`
    * re-scores the per-qid top-`rerank` ADC candidates against their
    * exact float vectors — the candidate (qid, id, dt, cell) keys
    * join back to `cells` partition-pruned by the SAME probed-cell
    * subset, query vectors rejoin by qid, and the exact distances
    * re-rank to topK. All in-plan (no driver candidate list — AQE
    * picks broadcast vs shuffle from runtime sizes); row-for-row
    * identical to [[adcProbe]]'s rerank arm (spec-asserted, raw and
    * residual).
    *
    * Honest differences from the driver-list probe: (a) unusable
    * query vectors (null / wrong-dim / non-finite) corrupt-DROP
    * instead of refusing — a table cannot be pre-validated without a
    * second scan, so the engine-wide seam discipline applies; (b) the
    * two-phase cell collection and the broadcast guard each run one
    * extra job over the query table (an expensive-to-recompute query
    * frame should be cached by the caller).
    *
    * Returns (qid, <id>, adc_d2, rank ≤ topK) — or (qid, <id>,
    * dist2, rank ≤ topK) with EXACT float distances when
    * `rerank >= topK`. */
  def adcProbeTable(spark: SparkSession, root: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      nprobe: Int, topK: Int, rerank: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && topK >= 1, "nprobe/topK must be >= 1")
    require(rerank <= 0 || rerank >= topK,
      s"rerank=$rerank must be >= topK=$topK (it is the ADC candidate " +
        "pool the exact re-score ranks from)")
    val (model, residual) = pqState(spark, root).getOrElse(
      throw new IllegalStateException(
        s"store at $root has no committed PQ codebooks — enablePq first, " +
          "or use probe() for float serving"))
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — append at least one day before probing")
    val f = fs(spark, root)
    val uncovered = days.filter(d => dayHasFiles(f, root, "cells", d) &&
      !dayHasFiles(f, root, "codes", d))
    require(uncovered.isEmpty,
      s"committed days ${uncovered.mkString(", ")} at $root have no PQ " +
        "codes (appended by a pre-PQ writer?) — run backfillCodes first")
    val codeLeaves = Option(f.globStatus(
        new Path(s"$root/codes/dt=*/cell=*/part-*")))
      .map(_.toSeq).getOrElse(Nil)
      .filter(st => days.contains(
        st.getPath.getParent.getParent.getName.stripPrefix("dt=")))
    require(codeLeaves.nonEmpty, s"store at $root has committed days but " +
      "no encoded vectors (every appended row was empty or unusable) — " +
      "nothing to probe")
    val csch = leafDataSchema(spark, codeLeaves.head.getPath)
      .add("dt", org.apache.spark.sql.types.StringType)
      .add("cell", org.apache.spark.sql.types.IntegerType)
    val rowId = csch.fieldNames(0)
    // qidCol == rowId is NOT exempt (round 17, advice): the result
    // carries both the qid and the store id, so a shared name makes
    // the post-join select ambiguous — refuse with the fix named
    // instead of dying in an AnalysisException
    require(!queries.columns.contains(rowId),
      s"query table column '$rowId' collides with the store's id column " +
        "(the result carries both the qid and the store id) — rename it " +
        "before probing")
    val centArr = array(cents.map(c => lit(c)): _*)
    val cbLit = typedlit(model.codebooks)
    val np = math.min(nprobe, cents.size)
    // row-local probed cells: (dist², index) structs sorted — struct
    // ordering is field-lexicographic, exactly (d2 asc, index asc).
    // Inner fold is the native vec_l2d2 (round 17) — the transform
    // shell interprets k lambdas per query row instead of k·d
    val d2ToCents = transform(centArr, c =>
      graft.functions.Vectors.l2d2(col(qvecCol), c))
    val probedCells = transform(
      slice(array_sort(zip_with(d2ToCents,
        sequence(lit(0), lit(cents.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))), 1, np),
      s => s.getField("i"))
    // per-subspace LUT rows: the inner subspace fold is the native
    // vec_l2d2 (round 17) — m·k interpreted lambda calls per query
    // row instead of m·k·subDim, the slice/codebook frame unchanged
    def lutOf(vecCol: Column): Column =
      transform(sequence(lit(0), lit(model.m - 1)), s =>
        transform(element_at(cbLit, s + 1), cw =>
          graft.functions.Vectors.l2d2(
            slice(vecCol, s * lit(model.subDim) + 1, lit(model.subDim)), cw)))
    val usable = queries
      .filter(col(qidCol).isNotNull && KMeans.usable(qvecCol, model.dim))
    // phase 1 of the two-phase pruning (scaladoc): the batch's probed
    // cells, distinct-ed IN the plan to ≤ k rows before the collect —
    // never a per-query driver materialization
    val probedSet = usable.select(explode(probedCells).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (probedSet.isEmpty)
      // no usable query rows: schema-stable empty answer with the
      // TABLE's own qid type (the topKBatchTable stance)
      return usable.select(col(qidCol),
        lit(null).cast(csch.fields(0).dataType).as(rowId),
        lit(0.0).as(if (rerank <= 0) "adc_d2" else "dist2"),
        lit(1).as("rank")).limit(0)
    val cellSubset = probedSet.size < cents.size
    val pairs =
      if (!residual)
        usable.select(col(qidCol), lutOf(col(qvecCol)).as("__pq_lut"),
            explode(probedCells).as("cell"))
      else {
        // residual: the LUT shifts per (query, cell) — q − centroid
        val qEff = zip_with(col(qvecCol),
          element_at(centArr, col("cell") + 1),
          (x, y) => x.cast("double") - y)
        usable.select(col(qidCol), col(qvecCol),
            explode(probedCells).as("cell"))
          .select(col(qidCol), lutOf(qEff).as("__pq_lut"), col("cell"))
      }
    val codes0 = PartitionedLayout.readDays(spark, s"$root/codes", csch, days)
      .filter(col("dt").isin(days: _*))
    // phase 2: the `cell IN (probed)` filter lands on the partition
    // column, so the file index prunes unprobed cell dirs exactly as
    // the driver-list probe does; a batch probing EVERY cell keeps
    // the unchanged full scan
    val codes =
      (if (cellSubset) codes0.filter(col("cell").isin(probedSet: _*))
       else codes0)
      .filter(col("pq_codes").isNotNull && size(col("pq_codes")) === model.m)
    // guarded broadcast: one count over the query-derived pairs frame
    // decides broadcast vs shuffled-on-cell — result-identical either
    // way (the BroadcastGuard contract)
    val pairsSide = BroadcastGuard.maybeBroadcast(pairs, "ADC query table")
    val pool = math.max(topK, rerank)
    val ranked = codes.join(pairsSide, "cell")
      .select(col(qidCol), col(rowId), col("dt"), col("cell"),
        // native JIT ADC fold (see Vectors.adcFold)
        graft.functions.Vectors.adcFold(col("pq_codes"), col("__pq_lut"))
          .as("adc_d2"))
      .filter(col("adc_d2").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("adc_d2").asc, col(rowId).asc)))
      .filter(col("rank") <= pool)
    if (rerank <= 0)
      ranked.filter(col("rank") <= topK)
        .select(col(qidCol), col(rowId), col("adc_d2"), col("rank"))
    else {
      // in-plan exact re-rank (scaladoc): candidate keys join back to
      // their float vectors by (id, dt, cell) — the cells scan prunes
      // by the SAME probed-cell subset plus the committed-day filter —
      // then query vectors rejoin by qid and the exact distances
      // re-rank. No broadcast hint on either side: the candidate and
      // query frames are table-derived, so AQE sizes the joins at
      // runtime (the guarded-broadcast stance without a second
      // pipeline execution for a count).
      val cands = ranked.select(col(qidCol), col(rowId), col("dt"), col("cell"))
      val vecLeaves = committedLeafFiles(f, root, days)
      val vsch = leafDataSchema(spark, vecLeaves.head.getPath)
      val vecCol = vsch.fieldNames(1)
      val cells0 = cellsFrame(spark, root, vecLeaves.head.getPath, days,
        dataSchema = Some(vsch))
      val cells =
        if (cellSubset) cells0.filter(col("cell").isin(probedSet: _*))
        else cells0
      val qVecs = usable.select(col(qidCol), col(qvecCol).as("__q_emb"))
      // native JIT L2² — bit-identical to the zip_with+aggregate HOF
      // (see Vectors.l2d2); the table-path rerank leg's inner loop
      val exactD2 = graft.functions.Vectors.l2d2(col(vecCol), col("__q_emb"))
      cells.join(cands, cells(rowId) === cands(rowId) &&
          cells("dt") === cands("dt") && cells("cell") === cands("cell"))
        .select(cands(qidCol), cells(rowId), cells(vecCol))
        .join(qVecs, qidCol)
        .withColumn("dist2", exactD2)
        .filter(col("dist2").isNotNull && !isnan(col("dist2")) &&
          col("dist2") < lit(Double.PositiveInfinity))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col(qidCol))
            .orderBy(col("dist2").asc, col(rowId).asc)))
        .filter(col("rank") <= topK)
        .select(col(qidCol), col(rowId), col("dist2"), col("rank"))
    }
  }

  /** [[adcProbe]] resolved through the serving pointer — the PQ twin
    * of [[probeVia]]; [[rebuildVia]] carries codebooks, so a pointer
    * flip is invisible to ADC serving too. */
  def adcProbeVia(spark: SparkSession, pointer: String, idCol: String,
      queries: Seq[(Long, Array[Double])], nprobe: Int, topK: Int,
      rerank: Int = 0): DataFrame =
    adcProbe(spark, currentRoot(spark, pointer), idCol, queries, nprobe,
      topK, rerank)

  /** One [[retireRoots]] outcome — see [[SnapshotStore.RetiredRoot]]
    * (round 16: retirement lifted to the pointer protocol, where it
    * belongs — both this store's pointer and [[TextIndexStore]]'s are
    * SnapshotStores whose first snapshot column is the root path, and
    * round 15's IVF-only implementation left every text-index
    * `rebuildVia` leaking a full flipped-away index copy forever). */
  type RetiredRoot = SnapshotStore.RetiredRoot
  val RetiredRoot: SnapshotStore.RetiredRoot.type = SnapshotStore.RetiredRoot

  /** RETIREMENT of replaced serving roots (round 15; generic form in
    * [[SnapshotStore.retireRoots]] since round 16) — the missing end
    * of [[rebuildVia]]'s "vacuum it at leisure": walks the pointer's
    * committed lineage and deletes roots absent from the newest
    * `keepRoots` DISTINCT lineage roots, with the store family's
    * two-phase mark-then-delete grace. The full contract (grace
    * cadence, rollback unmark, vacuum-safe phase-2 re-check) lives on
    * the SnapshotStore method. */
  def retireRoots(spark: SparkSession, pointer: String,
      keepRoots: Int = 2): Seq[RetiredRoot] =
    SnapshotStore.retireRoots(spark, pointer, keepRoots)

  /** What a [[compact]] run did: the committed merged pseudo-day (None
    * when nothing qualified), how many days it folded, and the
    * `cells/dt=*` day-dir count before/after (the small-files metric
    * the pass exists to bound — per-day×cell dirs are the
    * accumulator).
    *
    * TIMING of the after-count (round 13, honest-reporting): the
    * protocol defers the sweep of replaced day dirs to the START of
    * the NEXT run (the reader grace period), so on the run that
    * actually folds, `dayDirsAfter = dayDirsBefore + 1` — the folded
    * dirs still stand, plus the new merged dir. The decrease
    * materializes at the next run's sweep. `awaitingSweep` makes the
    * report self-explanatory: it counts replaced day dirs still on
    * disk, so the steady-state dir count a monitoring rule should
    * alarm on is `dayDirsAfter - awaitingSweep` — never key an
    * `after < before` rule on a single productive run. */
  case class CompactionReport(mergedDay: Option[String], foldedDays: Int,
      dayDirsBefore: Int, dayDirsAfter: Int, awaitingSweep: Int)

  /** COMPACTION + retention for the IVF root — [[DedupStore.compact]]'s
    * tiered protocol applied to the `cells` table, closing the
    * small-files accumulator this store's own scaladoc warned about
    * (one dir per day×cell at daily cadence ≈ 93k dirs/year at
    * k=256): fold all committed real days older than the most recent
    * `keepDays` into ONE merged pseudo-day that keeps the `cell`
    * partitioning (probes must still prune unprobed cells at the
    * file index — a flat merged dir would turn every probe into a
    * full archive scan). Per cell the merged partition holds
    * ⌈bytes/(k·targetFileBytes)⌉ files, id-hash-salted so a hot cell
    * still splits.
    *
    * Protocol, verbatim from [[DedupStore.compact]]: merged partition
    * written as uncommitted debris → ONE atomic marker whose content
    * lists the replaced days TRANSITIVELY (so two-generation folds
    * keep protecting inner days) → sweep deferred to the START of the
    * next run (reader grace period). Tier policy via
    * `graft.store.maxMergedParts` (default 4): a run folds only the
    * newly-aged days until the merged tier would exceed the bound,
    * then folds the tier too — O(archive/maxMergedParts) amortized
    * churn. Re-appending a folded day refuses loudly ([[append]]).
    * Centroids are untouched — compaction moves bytes, never
    * geometry; [[driftReport]] is the evidence feed for the separate
    * fresh-root REBUILD decision. */
  def compact(spark: SparkSession, root: String, keepDays: Int = 7,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(keepDays >= 0, "keepDays must be >= 0")
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    sweepReplaced(f, root) // heal a prior crash between commit and sweep
    def dayDirs(): Int =
      Option(f.globStatus(new Path(s"$root/cells/dt=*")))
        .map(_.length).getOrElse(0)
    val before = dayDirs()
    val all = committedDays(spark, root)
    // rebuilt-* pseudo-days count as the MERGED tier, never as
    // retention-window days (see [[RebuiltPrefix]])
    val (alreadyMerged, realDays) = all.partition(isPseudoDay)
    val newOld = realDays.dropRight(keepDays)
    val maxMergedParts = spark.conf.getOption("graft.store.maxMergedParts")
      .map(_.toInt).getOrElse(4)
    require(maxMergedParts >= 1, "graft.store.maxMergedParts must be >= 1")
    val mergeDays =
      if (alreadyMerged.size + 1 > maxMergedParts) alreadyMerged ++ newOld
      else newOld
    // a no-op run still reports dirs the PREVIOUS fold left awaiting
    // sweep zero — sweepReplaced above just cleared them
    if (mergeDays.size < 2 || newOld.isEmpty)
      return CompactionReport(None, 0, before, before, awaitingSweep = 0)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(mergeDays.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val mergedDay = s"$MergedPrefix${mergeDays.size}d-$digest"
    // fold BOTH cell-partitioned tables under the one merged day —
    // the codes sibling ([[enablePq]]) follows cells through every
    // layout transition, or compacted days would lose ADC serving
    def foldCellTable(table: String): Unit = {
      val outDir = new Path(s"$root/$table/dt=$mergedDay")
      f.delete(outDir, true): Unit // debris from a crashed prior attempt
      val srcDirs = mergeDays.map(dd => new Path(s"$root/$table/dt=$dd"))
        .filter(dd => Option(f.globStatus(new Path(dd, "cell=*/part-*")))
          .exists(_.nonEmpty))
      if (srcDirs.nonEmpty) {
        val k = IvfIndex.open(spark, root).size
        val leaves = srcDirs.flatMap(dd =>
          f.globStatus(new Path(dd, "cell=*/part-*")).toSeq)
        val bytes = leaves.map(_.getLen).sum
        val filesPerCell = math.max(1L,
          math.ceil(bytes.toDouble / (k.toLong * targetFileBytes)).toLong).toInt
        // explicit schema (see [[cellsFrame]] — no partition inference);
        // basePath keeps the cell partition column in the multi-dir read
        val schema = leafDataSchema(spark, leaves.head.getPath)
          .add("dt", org.apache.spark.sql.types.StringType)
          .add("cell", org.apache.spark.sql.types.IntegerType)
        val merged = spark.read.schema(schema)
          .option("basePath", s"$root/$table")
          .parquet(srcDirs.map(_.toString): _*)
          .drop("dt")
        // first data column is the id by [[append]]'s write order — the
        // salt spreads a hot cell over filesPerCell files
        val idName = merged.schema.fieldNames.head
        merged
          .repartition(k * filesPerCell, col("cell"),
            pmod(xxhash64(col(idName)), lit(filesPerCell)))
          .write.partitionBy("cell").parquet(outDir.toString)
      }
    }
    foldCellTable("cells")
    if (f.exists(new Path(s"$root/codes"))) foldCellTable("codes")
    // transitive closure over BOTH pseudo-day kinds: a rebuilt-*
    // marker carries its origin's day list since round 13 (legacy
    // ones are empty — the name alone then stands in), and losing
    // that lineage at the next tier-fold would blind catchUp's
    // content-coverage check
    val content = mergeDays.flatMap { dd =>
      if (isPseudoDay(dd))
        dd +: MarkerProtocol.readMarker(f, new Path(s"$root/$MarkerDir", dd))
      else Seq(dd)
    }.distinct
    MarkerProtocol.atomicMarker(conf, new Path(root, MarkerDir), mergedDay,
      content.mkString("\n") + "\n")
    // the dirs this fold replaced stand until the NEXT run's sweep
    // (reader grace period) — count the ones still on disk so
    // dayDirsAfter is interpretable (see [[CompactionReport]])
    val awaiting = mergeDays.count(dd =>
      f.exists(new Path(s"$root/cells/dt=$dd")))
    CompactionReport(Some(mergedDay), mergeDays.size, before, dayDirs(),
      awaitingSweep = awaiting)
  }

  /** REBUILD into a fresh root — the executable form of the
    * maintenance story every contract note here points at: when
    * [[driftReport]] says the frozen centroids no longer fit the
    * data (distance ratio or cell crowding sustained high), this
    * re-trains on the FULL committed corpus and re-appends every
    * committed day into `newRoot`, preserving day granularity so
    * retention/compaction cadence carries over. The old root is
    * untouched — consumers swap roots afterwards (the SnapshotStore
    * pointer pattern), which is what makes the rebuild zero-downtime:
    * probes keep reading `oldRoot` until the swap.
    *
    * Day names carry over verbatim, except compacted `merged-*`
    * pseudo-days (the prefix is reserved for the NEW root's own
    * compactions): their consolidated partitions re-append under
    * `rebuilt-<original digest>` — same rows, same one-partition
    * granularity, probe-identically committed.
    *
    * Cost: the retrain is BOUNDED for archive scale (round 14 —
    * formerly the one unbounded pass left in the maintenance loop):
    * when the committed corpus exceeds `graft.ivf.maxTrainRows`
    * (default 4M; `<= 0` disables), training runs on a DETERMINISTIC
    * id-hash slice of ~that many rows (`xxhash64(id) % m == 0`, the
    * store's seeding discipline — row-local, no sort, replayable),
    * full-corpus below it. Training quality is all the sample
    * affects: probe EXACTNESS is probe-side (the full-probe
    * `nprobe = k` equality argument is independent of where the
    * centroids sit), so a sampled-train root returns identical
    * full-probe results — only pruning efficiency at `nprobe < k`
    * varies, and a ~4M-row k-means sample saturates that long before
    * the cap binds. Corpus bytes are still SCANNED once (the slice
    * filter prunes flops, cache and shuffle, not the first read);
    * k-means iteration cost drops from `iters·n·k·d` to
    * `iters·cap·k·d`. An explicit `seedSample` fraction overrides
    * the cap. Then one assignment + write pass per day. Returns the
    * new model.
    *
    * NOT crash-resumable: a crash mid-rebuild leaves `newRoot`
    * initialized but partially appended, and a re-run refuses at
    * [[init]]. Recovery is safe and simple — DELETE `newRoot` and
    * re-run; the OLD root is the untouched source of truth
    * throughout, and consumers are still pointed at it. (That note is
    * about THIS function; [[rebuildVia]] adds a post-flip phase with
    * its own recovery — see its contract.) */
  def rebuild(spark: SparkSession, oldRoot: String, newRoot: String,
      k: Int, iters: Int = 5, seedSample: Option[Double] = None): KMeans.Model = {
    val days = committedDays(spark, oldRoot)
    require(days.nonEmpty, s"nothing to rebuild: no committed days at $oldRoot")
    val leaves = committedLeafFiles(fs(spark, oldRoot), oldRoot, days)
    require(leaves.nonEmpty,
      s"nothing to rebuild: no indexed vectors at $oldRoot")
    val ds = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (ds.fieldNames(0), ds.fieldNames(1))
    val all = cellsFrame(spark, oldRoot, leaves.head.getPath, days,
      dataSchema = Some(ds))
    val seed = seedSample match {
      case Some(f) => all.sample(withReplacement = false, f, seed = 42L)
      case None =>
        val cap = spark.conf.getOption("graft.ivf.maxTrainRows")
          .map(_.toLong).getOrElse(4000000L)
        // parquet count() is a footer/row-group pass, not a data scan
        val n = if (cap > 0) all.count() else 0L
        if (cap <= 0 || n <= cap) all
        else {
          val m = math.max(2L, (n + cap - 1) / cap)
          all.filter(pmod(xxhash64(col(idCol)), lit(m)) === 0)
        }
    }
    val model = init(seed, idCol, vecCol, newRoot, k, iters)
    // PQ codebooks CARRY OVER, committed before the appends so every
    // re-appended day encodes inline and the new root serves ADC from
    // its first probe. Raw codebooks are independent of the re-trained
    // cell geometry; RESIDUAL codebooks are not (residuals are taken
    // against the NEW centroids), but correctness carries regardless —
    // codes are re-derived per day against the new geometry and ADC
    // stays exact-to-reconstruction; only quantizer FIT can drift,
    // which adcRecallReport measures and a fresh enablePq(m, k, iters,
    // residual) re-trains when the evidence says so.
    pqState(spark, oldRoot).foreach { case (m, res) =>
      commitPqModel(spark, newRoot, m, res) }
    days.foreach { d =>
      val target = if (d.startsWith(MergedPrefix))
        s"$RebuiltPrefix${d.stripPrefix(MergedPrefix)}" else d
      append(all.filter(col("dt") === d).drop("dt", "cell"),
        newRoot, target, idCol, vecCol,
        lineage = markerLineage(spark, oldRoot, d))
    }
    model
  }

  /** The ORIGIN day list `d`'s marker at `root` carries (pseudo-days
    * only; empty for plain days and lineage-less legacy markers) —
    * what rebuild/catch-up thread into the carried-over marker so
    * [[catchUp]]'s coverage check can resolve later folds. */
  private def markerLineage(spark: SparkSession, root: String,
      d: String): Seq[String] =
    if (!isPseudoDay(d)) Nil
    else MarkerProtocol.readMarker(fs(spark, root),
      new Path(new Path(root, MarkerDir), d))

  /** Schema of the pointer snapshot: one row — the current IVF root
    * path, plus (round 17, the TextIndexStore `discipline` pattern) a
    * `summary` stamp of the geometry the root serves: centroid count,
    * model dim, and the PQ arm (m×|book| + the residual flag, or
    * float serving). The swap history then carries its WHY — which
    * rebuild introduced residual codes, which one changed k — without
    * prose. [[retireRoots]] and [[currentRoot]] read only the first
    * column; pre-17 pointers read the stamp back as None. */
  private val PointerSchema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("ivf_root",
      org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("summary",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** The serving-geometry stamp [[publishRoot]] writes (see
    * [[PointerSchema]]) — derived from the ROOT's own committed
    * state, never caller-supplied, so it cannot drift from what the
    * root actually serves. */
  private def rootSummary(spark: SparkSession, root: String,
      cents: Seq[Array[Double]]): String = {
    val dim = cents.headOption.map(_.length).getOrElse(0)
    pqState(spark, root) match {
      case Some((m, residual)) =>
        s"k=${cents.size};dim=$dim;pq=m${m.m}x" +
          s"${m.codebooks.headOption.map(_.size).getOrElse(0)};" +
          s"residual=$residual"
      case None => s"k=${cents.size};dim=$dim;serving=float"
    }
  }

  /** POINTERED ROOT (round 13) — the executable form of "the
    * SnapshotStore pointer pattern" the rebuild contract pointed at:
    * a [[SnapshotStore]] at `pointer` holds the CURRENT root path as
    * a one-row snapshot, consumers resolve through it per probe, and
    * [[rebuildVia]] flips it atomically after a fresh-root rebuild —
    * making the rebuild zero-downtime by construction:
    *
    *  - mid-rebuild, the pointer still names the OLD root, so every
    *    probe reads committed old-root state (the rebuild never
    *    mutates it);
    *  - the flip is [[SnapshotStore.commit]]'s atomic pointer-file
    *    rename — a reader resolves either the old path or the new,
    *    never a torn in-between;
    *  - after the flip the old root receives no new readers and can
    *    be vacuumed at leisure (in-flight probes that resolved
    *    pre-flip still read its intact files — delete after the
    *    serving timeout, exactly the snapshot-vacuum discipline).
    *
    * Publish cadence is rebuild cadence (rare), so the pointer's
    * version lineage doubles as the root-swap history;
    * [[SnapshotStore.vacuum]] bounds it. */
  def publishRoot(spark: SparkSession, pointer: String, root: String): Long = {
    // refuse publishing a root that can't serve — a typo'd path would
    // otherwise take serving down at the NEXT probe, far from the
    // operator who made the mistake
    val cents = IvfIndex.open(spark, root)
    require(cents.nonEmpty, s"refusing to publish $root: empty centroid set")
    import spark.implicits._
    SnapshotStore.commit(Seq((root, rootSummary(spark, root, cents)))
      .toDF("ivf_root", "summary"), pointer)
  }

  /** The serving-geometry stamp the current pointer snapshot carries
    * (see [[PointerSchema]]), or None when unpublished / published by
    * a pre-stamp writer — the [[TextIndexStore.currentDiscipline]]
    * twin. */
  def currentSummary(spark: SparkSession, pointer: String): Option[String] =
    SnapshotStore.read(spark, pointer, PointerSchema).collect().headOption
      .flatMap(r => Option(r.getString(1))).filter(_.nonEmpty)

  /** The root the pointer currently publishes. Loud on a pointer that
    * was never published (the probe-side error must name the fix). */
  def currentRoot(spark: SparkSession, pointer: String): String = {
    val rows = SnapshotStore.read(spark, pointer, PointerSchema).collect()
    require(rows.nonEmpty, s"no published IVF root at pointer '$pointer' — " +
      "publishRoot(root) it before probing through the pointer")
    rows.head.getString(0)
  }

  /** [[probe]] resolved through the pointer — the consumer-side call
    * that makes [[rebuildVia]]'s swap invisible to serving. */
  def probeVia(spark: SparkSession, pointer: String, idCol: String,
      vecCol: String, queries: Seq[(Long, Array[Double])], nprobe: Int,
      topK: Int): DataFrame =
    probe(spark, currentRoot(spark, pointer), idCol, vecCol, queries,
      nprobe, topK)

  /** [[rebuild]] + atomic pointer swap: re-trains the CURRENT root's
    * corpus into `newRoot`, then flips the pointer. Probes through
    * the pointer read the old root for the whole rebuild and the new
    * root from the flip onward — no pause, no torn read. Returns the
    * new model and the REPLACED root path (vacuum it once in-flight
    * readers age out; this function never deletes it).
    *
    * CRASH RECOVERY is phase-scoped (round 14, advice — the two
    * phases have OPPOSITE remedies and a blanket note sent operators
    * at the wrong one):
    *  - PRE-FLIP failure (the rebuild itself, or the first catch-up):
    *    the pointer is untouched and still serves `oldRoot` — delete
    *    `newRoot` and re-run.
    *  - POST-FLIP failure (the second catch-up, e.g. its
    *    partial-coverage refusal): the pointer ALREADY serves
    *    `newRoot` — deleting it now takes serving down. This function
    *    rethrows such failures wrapped in an [[IllegalStateException]]
    *    that says so; the remedy is to fix the cause and re-run
    *    `catchUp(oldRoot, newRoot)` (idempotent), never to delete.
    *
    * WRITES have a narrower guarantee than probes: the rebuild
    * carries the days committed when it STARTED, and this call runs
    * [[catchUp]] right after the flip to re-append any day that
    * landed on the old root mid-rebuild. What remains uncovered is a
    * writer that keeps appending to the OLD root path after the swap
    * — writers should resolve [[currentRoot]] per day before each
    * append or pause for the rebuild window; a missed day is
    * recoverable at any time with one more `catchUp(old, new)` call
    * (idempotent). */
  def rebuildVia(spark: SparkSession, pointer: String, newRoot: String,
      k: Int, iters: Int = 5,
      seedSample: Option[Double] = None): (KMeans.Model, String) = {
    val oldRoot = currentRoot(spark, pointer)
    val model = rebuild(spark, oldRoot, newRoot, k, iters, seedSample)
    // the write-window catch-up (scaladoc above) runs TWICE around
    // the flip: the pre-flip pass folds in everything that landed
    // during the (long) training+re-append phase while probes still
    // serve the old root, so those days are never probe-invisible;
    // the post-flip pass closes the sliver between the first pass and
    // the pointer rename. What remains uncovered is a writer still
    // appending to the stale path after the swap — see the contract
    // above; one later catchUp(old, new) heals that too.
    catchUp(spark, oldRoot, newRoot)
    publishRoot(spark, pointer, newRoot)
    postFlipCatchUp(spark, oldRoot, newRoot)
    (model, oldRoot)
  }

  /** [[rebuildVia]]'s post-flip write-window closure. Failures here
    * need the phase-scoped recovery note IN the exception — the
    * pointer already flipped, so an operator following the pre-flip
    * remedy (delete `newRoot`, re-run) would delete the LIVE serving
    * root. */
  private[graft] def postFlipCatchUp(spark: SparkSession, oldRoot: String,
      newRoot: String): Unit =
    try { catchUp(spark, oldRoot, newRoot): Unit }
    catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"rebuildVia: the pointer already serves '$newRoot' (the flip " +
          "committed before this post-flip catch-up failed) — do NOT " +
          s"delete it; fix the cause and re-run catchUp('$oldRoot', " +
          s"'$newRoot'), which is idempotent, to close the write window", e)
    }

  /** Re-append to `newRoot` every day committed at `oldRoot` whose
    * ROWS the target does not already hold — the [[rebuildVia]]
    * write-window closure, also callable standalone after a manual
    * [[rebuild]] + swap. Idempotent: the gap re-computes from marker
    * state, so a crash mid-catch-up re-runs to completion. Returns
    * the day names appended (under their target alias).
    *
    * Coverage is decided by CONTENT, not name alone — compaction on
    * either root between the rebuild and this call renames where rows
    * live, and a name-only diff would re-append rows the target
    * already holds (silent duplicate vectors in every probe):
    *  - a source `merged-*` pseudo-day compares under its
    *    `rebuilt-*` alias (the name [[rebuild]] re-appends it under),
    *    AND under the day list its marker carries — if the target
    *    already holds every folded day (e.g. the source compacted
    *    mid-rebuild, after the rebuild carried the days over
    *    individually), it is covered and skipped;
    *  - a plain source day counts as covered when the TARGET's own
    *    compaction folded it (its name sits in a committed merged
    *    marker's day list), not only when it is live by name;
    *  - a source merged day the target holds only PARTIALLY cannot
    *    be resolved automatically — re-appending duplicates the held
    *    part, skipping loses the rest — so it throws, naming the
    *    fresh-root remedy. */
  def catchUp(spark: SparkSession, oldRoot: String,
      newRoot: String): Seq[String] = {
    def alias(d: String): String = if (d.startsWith(MergedPrefix))
      s"$RebuiltPrefix${d.stripPrefix(MergedPrefix)}" else d
    val newMarkers = new Path(newRoot, MarkerDir)
    val oldMarkers = new Path(oldRoot, MarkerDir)
    val (fNew, fOld) = (fs(spark, newRoot), fs(spark, oldRoot))
    val (newNames, newReplaced) = MarkerProtocol.markerState(fNew, newMarkers)
    // NAME-level coverage: every name the target commits OR ever
    // folded (replaced days live on inside merged partitions)
    val coveredNames: Set[String] = newNames.toSet ++ newReplaced
    // DAY-level coverage: pseudo-day markers carry their origin day
    // lists (both [[compact]] and [[rebuild]]/[[catchUp]] write the
    // lineage since round 13), so a day folded pre-rebuild and
    // carried over as `rebuilt-*` is known to the target even though
    // its NAME never committed there
    val coveredDays: Set[String] =
      newNames.flatMap { n =>
        if (isPseudoDay(n))
          MarkerProtocol.readMarker(fNew, new Path(newMarkers, n))
        else Seq(n)
      }.toSet ++ newReplaced
    // one coverage relation for any lineage UNIT — a plain day, or a
    // pseudo-day entry a fold's list names (lineage lists keep marker
    // names alongside their expanded days, so a lineage-less legacy
    // `rebuilt-*` entry is still resolvable BY NAME)
    def covered(u: String): Boolean =
      coveredNames(u) || coveredNames(alias(u)) ||
        coveredDays(u) || coveredDays(alias(u))
    val oldCommitted = committedDays(spark, oldRoot)
    val gap = oldCommitted.filter { d =>
      if (covered(d)) false
      else if (!isPseudoDay(d)) true
      else {
        // every unit in the fold's lineage must resolve the SAME way:
        // all covered -> skip; none -> append whole; mixed -> refuse
        // (re-appending duplicates the held part, skipping loses the
        // rest — the legacy-opaque-entry-inside-a-fold case lands
        // here too, loudly, instead of silently choosing wrong)
        val units = MarkerProtocol.readMarker(fOld, new Path(oldMarkers, d))
        val hit = units.count(covered)
        if (units.nonEmpty && hit == units.size) false
        else if (hit == 0) true // incl. lineage-less legacy: one unit
        else throw new IllegalStateException(
          s"catch-up cannot resolve source pseudo-day '$d': the target " +
            s"already holds $hit of its ${units.size} lineage units — " +
            "re-appending would duplicate those rows and skipping would " +
            "lose the rest; rebuild into a fresh root instead")
      }
    }
    if (gap.isEmpty) return Nil
    val leaves = committedLeafFiles(fs(spark, oldRoot), oldRoot, oldCommitted)
    require(leaves.nonEmpty,
      s"catch-up source $oldRoot has committed days but no data files")
    val ds = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (ds.fieldNames(0), ds.fieldNames(1))
    val all = cellsFrame(spark, oldRoot, leaves.head.getPath, gap,
      dataSchema = Some(ds))
    gap.foreach { d =>
      append(all.filter(col("dt") === d).drop("dt", "cell"),
        newRoot, alias(d), idCol, vecCol,
        lineage = markerLineage(spark, oldRoot, d))
    }
    gap.map(alias)
  }

  /** GC of days replaced by a COMMITTED compaction marker plus
    * `dt=merged-*` debris whose marker never committed — readers
    * already ignore all of it. Runs only at the start of [[compact]]
    * (the grace-period rule its scaladoc explains). */
  private def sweepReplaced(f: org.apache.hadoop.fs.FileSystem,
      root: String): Unit = {
    val markerDir = new Path(root, MarkerDir)
    val (names, replaced) = MarkerProtocol.markerState(f, markerDir)
    replaced.foreach { dd =>
      f.delete(new Path(s"$root/cells/dt=$dd"), true)
      f.delete(new Path(s"$root/codes/dt=$dd"), true)
      f.delete(new Path(markerDir, dd), false)
    }
    Seq("cells", "codes").foreach { t =>
      Option(f.globStatus(new Path(s"$root/$t/dt=$MergedPrefix*")))
        .getOrElse(Array.empty)
        .map(_.getPath.getName.stripPrefix("dt="))
        .filterNot(names.contains)
        .foreach(dd => f.delete(new Path(s"$root/$t/dt=$dd"), true))
    }
  }

  /** STORE INTEGRITY AUDIT — [[DedupStore.fsck]]'s discipline for the
    * IVF root (report-only; [[compact]] owns GC, re-append owns
    * repair). Findings reuse [[DedupStore.FsckFinding]] so operators
    * aggregate one finding type across every store kind.
    *
    * Shallow (default) — metadata only, O(days):
    *  - `no-centroids` (error): committed days but no `_CENTROIDS.txt`
    *    — every probe fails to open; the marker was deleted or the
    *    root was hand-assembled.
    *  - `tmp-marker` (warn): a crashed commit's `.DAY.tmp` under
    *    `_committed` — the day never published.
    *  - `empty-merged-marker` / `double-merged` (error): a `merged-*`
    *    marker replacing nothing, or a day claimed by two live merged
    *    markers (probes double-count its vectors).
    *  - `invalid-day-name` (warn): a marker the delete paths cannot
    *    address as a literal `dt=` path.
    *  - `orphan-partition` (warn): a `dt=` dir no marker ever named —
    *    crash debris between write and publish; re-append or delete.
    *  - `empty-day` (warn): a committed day with zero data files
    *    (every appended row was unusable) — [[probe]]'s loud guard
    *    fires only when ALL days are empty; this names the day.
    *  - `merged-debris` / `awaiting-sweep` (info): protocol
    *    transients, swept by the next [[compact]].
    *
    * Deep (`deep = true`) — one full scan:
    *  - `cell-mismatch` (error): a stored vector whose `cell`
    *    partition is NOT the argmin against the committed centroids.
    *    The one invariant probes cannot survive: cell pruning would
    *    skip the vector's true cell, silently losing it from every
    *    probe at nprobe < k. Means centroids and cells diverged —
    *    a hand-replaced `_CENTROIDS.txt` or partitions restored from
    *    a different root; rebuild into a fresh root.
    *  - `dup-identity` (warn): an id committed on two days — legal
    *    for a store fed raw (append does not dedup; the curation
    *    wiring suppresses upstream), but on a stable-id corpus it
    *    usually means restored/hand-copied partitions, and probes
    *    will return the id twice. */
  /** Deep is DAY-SCOPED by an audit watermark (round 15 — the
    * [[TextIndexStore.fsck]] discipline): the vector-reading recounts
    * (cell-mismatch, unusable-vector, and the PQ codes recount) are
    * per-day invariants, so a day that recounted CLEAN commits
    * `_audit/<day>` fingerprinting its on-disk files (cells + codes,
    * names + lengths) AND the geometry (centroids + codebooks marker
    * contents — a hand-replaced _CENTROIDS.txt stales every
    * watermark and forces the full recount it needs); later audits
    * recount only moved-or-unwatermarked days, dirty days re-surface
    * every audit, `force = true` recounts all. `dup-identity` is the
    * one genuinely CROSS-day deep invariant (a key on two days) and
    * stays global every audit — it reads only the slim id column.
    * (The same split does NOT fit [[DedupStore.fsck]]'s deep checks:
    * dup-identity and the df/postings recounts there are all
    * cross-day folds, so day-scoping them would be unsound — its
    * deep pass stays a priced full scan by design.) */
  def fsck(spark: SparkSession, root: String,
      deep: Boolean = false,
      force: Boolean = false): Seq[DedupStore.FsckFinding] = {
    val f = fs(spark, root)
    val markerDir = new Path(root, MarkerDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[DedupStore.FsckFinding]
    if (!f.exists(new Path(root))) return Nil
    val (names, replaced) = MarkerProtocol.markerState(f, markerDir)
    val live = (d: String) => names.contains(d) && !replaced.contains(d)
    val committed = names.filterNot(replaced).sorted

    if (committed.nonEmpty &&
        scala.util.Try(IvfIndex.open(spark, root)).isFailure)
      out += DedupStore.FsckFinding("error", "no-centroids", root,
        "committed days but no readable _CENTROIDS.txt — every probe " +
          "fails to open; restore the marker or rebuild into a fresh root")

    if (f.exists(markerDir))
      f.listStatus(markerDir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(".") && n.endsWith(".tmp"))
        .foreach(n => out += DedupStore.FsckFinding("warn", "tmp-marker", n,
          "crashed marker commit (create happened, rename did not); the " +
            "day never published — re-append it"))

    names.filter(n => n.startsWith(MergedPrefix) && live(n))
      .filter(n => MarkerProtocol.readMarker(f, new Path(markerDir, n)).isEmpty)
      .foreach(n => out += DedupStore.FsckFinding("error", "empty-merged-marker",
        n, "live compaction marker replacing no days — compact() never " +
          "writes one; suspect tampering"))
    names.filter(n => n.startsWith(MergedPrefix) && live(n))
      .flatMap(m => MarkerProtocol.readMarker(f, new Path(markerDir, m))
        .filterNot(_.startsWith(MergedPrefix)).map(_ -> m))
      .groupBy(_._1).filter(_._2.size > 1)
      .foreach { case (d, ms) =>
        out += DedupStore.FsckFinding("error", "double-merged", d,
          s"day claimed by ${ms.size} live compaction markers " +
            s"(${ms.map(_._2).sorted.mkString(", ")}) — probes double-count " +
            "its vectors") }

    names.filterNot(_.startsWith(MergedPrefix))
      .filterNot(n => scala.util.Try(MarkerProtocol.requireDayName(n)).isSuccess)
      .foreach(n => out += DedupStore.FsckFinding("warn", "invalid-day-name", n,
        "marker name outside [A-Za-z0-9._-]+ — the literal dt=DAY delete " +
          "paths cannot address its partitions"))

    val everNamed = names.toSet ++ replaced
    Seq("cells", "codes").foreach { t =>
      val dtDirs = Option(f.globStatus(new Path(s"$root/$t/dt=*")))
        .getOrElse(Array.empty).toSeq
        .map(_.getPath.getName.stripPrefix("dt="))
      dtDirs.sorted.foreach { d =>
        if (!everNamed.contains(d)) {
          if (d.startsWith(MergedPrefix))
            out += DedupStore.FsckFinding("info", "merged-debris", s"$t/dt=$d",
              "uncommitted merged partition (crashed compact); the next " +
                "compact() sweeps it")
          else
            out += DedupStore.FsckFinding("warn", "orphan-partition", s"$t/dt=$d",
              "partition with no marker (crash between write and publish): " +
                "invisible to probes — re-append the day or delete the dir")
        } else if (replaced.contains(d))
          out += DedupStore.FsckFinding("info", "awaiting-sweep", s"$t/dt=$d",
            "replaced by a committed compaction; swept at the next compact() " +
              "after the reader grace period")
      }
    }
    committed
      .filter(d => Option(f.globStatus(new Path(s"$root/cells/dt=$d/cell=*/part-*")))
        .forall(_.isEmpty))
      .foreach(d => out += DedupStore.FsckFinding("warn", "empty-day", d,
        "committed day with zero data files (every appended row was " +
          "unusable) — harmless to probes, but the feed produced nothing " +
          "indexable that day"))
    // PQ coverage (round 15): a committed day with cells but no codes
    // under a PQ-enabled store — every adcProbe refuses until repaired
    // (a pre-PQ writer appended it, or a hand-restore dropped codes)
    val pqm = pqState(spark, root)
    if (pqm.isDefined)
      committed.filter(d => dayHasFiles(f, root, "cells", d) &&
          !dayHasFiles(f, root, "codes", d))
        .foreach(d => out += DedupStore.FsckFinding("error", "codes-missing",
          s"codes/dt=$d",
          "committed day has cells but no PQ codes — adcProbe refuses the " +
            "whole store until repaired; run backfillCodes"))

    if (deep && committed.nonEmpty &&
        scala.util.Try(IvfIndex.open(spark, root)).isSuccess) {
      // schema leaf from the COMMITTED set — the deep scan reads only
      // committed cells, and a debris leaf races a concurrent sweep
      val leaves = committedLeafFiles(f, root, committed)
      if (leaves.nonEmpty) {
        val cents = IvfIndex.open(spark, root)
        val ds = leafDataSchema(spark, leaves.head.getPath)
        val (idCol, vecCol) = (ds.fieldNames(0), ds.fieldNames(1))
        // GLOBAL deep invariant, every audit: dup-identity is a
        // cross-day property, so no watermark may skip it — but it
        // reads only the slim id column (column-pruned scan)
        val allCells = cellsFrame(spark, root, leaves.head.getPath, committed,
          dataSchema = Some(ds))
        val dups = allCells.groupBy(col(idCol)).count()
          .filter(col("count") > 1).count()
        if (dups > 0) out += DedupStore.FsckFinding("warn", "dup-identity",
          s"cells.$idCol", s"$dups ids committed on more than one day — " +
            "append does not dedup (curation suppresses upstream), but on a " +
            "stable-id corpus suspect restored partitions; probes return " +
            "these ids twice")
        // DAY-SCOPED recounts under the audit watermark (scaladoc)
        val auditDir = new Path(root, "_audit")
        val geom = {
          val cBytes = MarkerProtocol.readMarker(f, new Path(root,
            "_CENTROIDS.txt")).mkString("\n")
          val pBytes = if (pqm.isDefined)
            MarkerProtocol.readMarker(f, new Path(root, PqMarker)).mkString("\n")
            else ""
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$cBytes|$pBytes".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(16)
        }
        def dayFp(d: String): String = {
          val body = Seq("cells", "codes").flatMap { t =>
            Option(f.globStatus(new Path(s"$root/$t/dt=$d/cell=*/part-*")))
              .map(_.toSeq).getOrElse(Nil)
              .map(st => s"$t/${st.getPath.getParent.getName}/" +
                s"${st.getPath.getName}:${st.getLen}")
          }.sorted.mkString("\n")
          java.security.MessageDigest.getInstance("MD5")
            .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString +
            s":$geom"
        }
        val fps = committed.map(d => d -> dayFp(d)).toMap
        val watermarks: Map[String, String] =
          if (!f.exists(auditDir)) Map.empty
          else f.listStatus(auditDir).toSeq.map(_.getPath)
            .filterNot(_.getName.startsWith("."))
            .map(p => p.getName ->
              MarkerProtocol.readMarker(f, p).headOption.getOrElse("")).toMap
        watermarks.keys.filterNot(committed.contains)
          .foreach(d => f.delete(new Path(auditDir, d), false))
        val toRecount =
          if (force) committed
          else committed.filter(d => !watermarks.get(d).contains(fps(d)))
        if (toRecount.nonEmpty) {
          val cells = cellsFrame(spark, root, leaves.head.getPath, toRecount,
            dataSchema = Some(ds)).persist()
          try {
          // re-derive the argmin exactly as append did; a mismatch
          // means the partition value and the geometry no longer
          // agree. The recheck frame excludes exactly the rows
          // [[KMeans.assign]] corrupt-drops (null/wrong-dim/
          // non-finite), so unusable = total − usable per day; the
          // cached frame serves this pass AND the PQ re-encode below
          val recheck = KMeans.assign(
            cells.withColumnRenamed("cell", "__stored"), cents, vecCol)
          val perDay = recheck.groupBy(col("dt")).agg(
              count(lit(1)).as("__usable"),
              sum(when(col("cell") =!= col("__stored"), 1L).otherwise(0L))
                .as("__bad"))
            .join(cells.groupBy(col("dt")).agg(count(lit(1)).as("__n")),
              Seq("dt"), "full_outer")
            .collect()
            .map(r => r.getAs[String]("dt") -> (
              Option(r.getAs[java.lang.Long]("__n")).map(_.toLong).getOrElse(0L) -
                Option(r.getAs[java.lang.Long]("__usable")).map(_.toLong).getOrElse(0L),
              Option(r.getAs[java.lang.Long]("__bad")).map(_.toLong).getOrElse(0L)))
            .toMap
          val dirtyDays = scala.collection.mutable.Set.empty[String]
          val unusable = perDay.values.map(_._1).sum
          val bad = perDay.values.map(_._2).sum
          perDay.foreach { case (d, (u, b)) =>
            if (u > 0 || b > 0) dirtyDays += d }
          // unusable rows came from a restore/hand-copy (append never
          // writes them); probes skip them defensively — undefined
          // distance — but they waste scan bytes and the restore that
          // brought them is worth investigating
          if (unusable > 0) out += DedupStore.FsckFinding("warn",
            "unusable-vector", "cells", s"$unusable stored vectors are " +
              "null/wrong-dimension/non-finite — append corrupt-drops these, " +
              "so they came from a restore or hand-copy; probes skip them " +
              "(undefined distance), they only waste scan bytes — rewrite " +
              "the affected days or rebuild")
          if (bad > 0) out += DedupStore.FsckFinding("error", "cell-mismatch",
            "cells", s"$bad vectors stored under a cell that is not their " +
              "argmin against the committed centroids — probes at nprobe < k " +
              "silently lose them; centroids and partitions diverged (restored " +
              "from a different root?) — rebuild into a fresh root")
          // PQ deep recount (round 15): stored codes must equal a fresh
          // encode of the stored vectors against the committed
          // codebooks — the invariant every ADC distance depends on
          // (the cell-mismatch check's quantization twin). Residual
          // stores re-encode the residual, exactly as writeCodesDay
          // does. FULL OUTER (round 16, advice): a left join hid EXTRA
          // code rows — a restored/hand-copied codes partition carrying
          // ids absent from cells, which a rerank-less adcProbe (codes
          // table only) would happily return as ghost answers while the
          // day earned a clean watermark.
          pqm.foreach { case (model, residualEnc) =>
            val codeLeaves = Option(f.globStatus(
                new Path(s"$root/codes/dt=*/cell=*/part-*")))
              .map(_.toSeq).getOrElse(Nil)
              .filter(st => toRecount.contains(
                st.getPath.getParent.getParent.getName.stripPrefix("dt=")))
            if (codeLeaves.nonEmpty) {
              val csch = leafDataSchema(spark, codeLeaves.head.getPath)
                .add("dt", org.apache.spark.sql.types.StringType)
                .add("cell", org.apache.spark.sql.types.IntegerType)
              val stored = PartitionedLayout
                .readDays(spark, s"$root/codes", csch, toRecount)
                .filter(col("dt").isin(toRecount: _*))
                .withColumnRenamed("pq_codes", "__stored")
              val (encSrc, encCol) =
                if (!residualEnc) (cells, vecCol)
                else (cells.withColumn("__res", residualCol(cents, vecCol)),
                  "__res")
              val expected = ProductQuantizer.encode(encSrc, model, encCol)
                .select(col(idCol), col("dt"), col("cell"),
                  col("pq_codes").as("__expect"))
              val perDayPq = expected
                .join(stored, Seq(idCol, "dt", "cell"), "full_outer")
                .groupBy(col("dt")).agg(
                  sum(when(col("__stored").isNull &&
                    col("__expect").isNotNull, 1L).otherwise(0L)).as("__m"),
                  sum(when(col("__stored").isNotNull &&
                    col("__expect").isNotNull &&
                    col("__stored") =!= col("__expect"), 1L).otherwise(0L))
                    .as("__b"),
                  sum(when(col("__expect").isNull, 1L).otherwise(0L))
                    .as("__o"))
                .collect()
                .map(r => r.getAs[String]("dt") -> (
                  if (r.isNullAt(1)) 0L else r.getLong(1),
                  if (r.isNullAt(2)) 0L else r.getLong(2),
                  if (r.isNullAt(3)) 0L else r.getLong(3))).toMap
              perDayPq.foreach { case (d, (m, b, o)) =>
                if (m > 0 || b > 0 || o > 0) dirtyDays += d }
              val miss = perDayPq.values.map(_._1).sum
              val bad2 = perDayPq.values.map(_._2).sum
              val orph = perDayPq.values.map(_._3).sum
              if (miss > 0) out += DedupStore.FsckFinding("error",
                "codes-missing-rows", "codes", s"$miss stored vectors have " +
                  "no PQ code row — ADC probes silently lose them; run " +
                  "backfillCodes on the affected days (after deleting their " +
                  "codes partitions) or rebuild")
              if (bad2 > 0) out += DedupStore.FsckFinding("error",
                "code-mismatch", "codes", s"$bad2 stored codes differ from a " +
                  "fresh encode against the committed codebooks — codebooks " +
                  "and codes diverged (hand-replaced _PQ_CODEBOOKS.txt or " +
                  "restored codes partitions?); every ADC distance over " +
                  "them is wrong — rebuild into a fresh root")
              if (orph > 0) out += DedupStore.FsckFinding("error",
                "codes-orphan-rows", "codes", s"$orph stored code rows have " +
                  "no matching vector in cells — restored/hand-copied codes " +
                  "partitions; a rerank-less adcProbe returns these ghost " +
                  "ids in answers — delete the affected codes partitions " +
                  "and backfillCodes, or rebuild")
            }
          }
          // clean days watermark at their audit-time fingerprint;
          // dirty days keep none and re-surface every audit
          toRecount.foreach { d =>
            if (dirtyDays.contains(d))
              f.delete(new Path(auditDir, d), false): Unit
            else MarkerProtocol.atomicMarker(
              spark.sparkContext.hadoopConfiguration, auditDir, d, fps(d))
          }
          } finally { cells.unpersist(); () }
        }
      }
    }
    val rank = Map("error" -> 0, "warn" -> 1, "info" -> 2)
    out.sortBy(fi => (rank(fi.severity), fi.check, fi.subject)).toSeq
  }

  /** DRIFT MONITOR — the evidence feed for the fresh-root rebuild
    * decision the store contract leaves to the operator: per
    * committed day (merged pseudo-days included), the count and mean
    * squared distance of stored vectors to their assigned FROZEN
    * centroid, against the init-time seed baseline. A distribution
    * that drifted away from the training regime crowds new vectors
    * far from every centroid — mean dist² rises and probe recall at
    * fixed nprobe decays. `drift_ratio` ≈ 1 means the day looks like
    * the seed; a sustained ratio ≫ 1 (2–3× is a reasonable alarm
    * line) on RECENT days is the rebuild trigger — fire on evidence,
    * not folklore. One full scan of the committed cells (maintenance
    * cadence, like [[DedupStore.fsck]] deep); the k·d centroid
    * literal travels in the plan, distances are row-local codegen'd
    * HOFs, the exchange carries one row per day.
    *
    * Drift has TWO observable axes and the report carries both:
    * distance (above) and OCCUPANCY — a drifted regime also crowds
    * its vectors into few cells, and `max_cell_frac` (the largest
    * cell's share of the day's vectors) is what probe COST sees: as
    * it approaches 1, nprobe = 1 reads the whole day and the index
    * stops indexing. Balanced days sit near 1/k; alarm on sustained
    * multiples of that.
    *
    * Output: (dt, n, mean_dist2, seed_mean_dist2, drift_ratio,
    * max_cell_frac), dt-sorted; baseline columns are NULL for stores
    * initialized before the baseline existed (re-init into a fresh
    * root records one). */
  /** True when the store has committed days AND at least one indexed
    * data file — exactly the precondition [[probe]], [[driftReport]]
    * and [[recallReport]] require loudly. The totality guard for
    * maintenance jobs that must no-op on day-zero or all-unusable
    * roots instead of dying on a store that simply hasn't ingested
    * yet. */
  def hasProbeableData(spark: SparkSession, root: String): Boolean = {
    val days = committedDays(spark, root)
    days.nonEmpty && committedLeafFiles(fs(spark, root), root, days).nonEmpty
  }

  /** DAY-AWARE RECALL AXIS (round 13) — the third drift observable,
    * and the one a serving operator actually alarms on:
    * [[driftReport]]'s dist²/occupancy axes say the geometry no
    * longer fits, but the RECALL DECAY they predict is measurable
    * directly, with the store's own machinery: per committed day,
    * sample `queriesPerDay` stored vectors (deterministic —
    * hash-smallest ids, the KMeans seeding discipline) and compare
    * `probe(nprobe)` against the FULL probe (`nprobe = k`), which is
    * EXACT global top-k by construction (q146's gate-proven
    * argument: pruning can only drop cells the probe list excludes,
    * and the full list excludes none). recall@topK = |approx ∩
    * exact| / |exact|, averaged per day.
    *
    * Why drift shows up here: a drifted regime's vectors sit far
    * from every frozen centroid, so their true neighbors straddle
    * near-tied cell boundaries — at serving nprobe the probe reads
    * one boundary side and misses neighbors parked on the other.
    * Same-regime days stay near 1. Alarm on a sustained drop of
    * RECENT days' recall below the SLA the (nprobe, topK) pair was
    * sized for; [[driftReport]]'s axes say why, this says how bad.
    *
    * Cost: 2 probes over `days · queriesPerDay` queries (sharded
    * under the broadcast cap) + one scan to sample — maintenance
    * cadence, like fsck deep. Queries are SELF-INCLUDED (the vector
    * is in the store; exact rank 1 is itself) — the standard
    * self-recall methodology, identical for both probe arms, so it
    * cancels in the ratio. Self-inclusion FLOORS the metric at
    * `1/topK`: the query's own cell is always probed (distance 0 is
    * the argmin cell), so the self-hit lands in both arms and a
    * CATASTROPHICALLY drifted day reads `1/topK` — not 0. Size any
    * alarm threshold (e.g. [[graft.jobs.MaintenanceJob.RebuildPolicy]]
    * `recallMin`) strictly ABOVE that floor or it can never fire at
    * the default topK = 5 with thresholds ≤ 0.2.
    *
    * Output, dt-sorted and schema-stable:
    * (dt, n_queries, nprobe, topk, recall) — recall in [1/topK, 1]. */
  def recallReport(spark: SparkSession, root: String, nprobe: Int,
      topK: Int = 5, queriesPerDay: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && topK >= 1 && queriesPerDay >= 1,
      "nprobe/topK/queriesPerDay must be >= 1")
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — nothing to audit for recall")
    val leaves = committedLeafFiles(fs(spark, root), root, days)
    require(leaves.nonEmpty, s"store at $root has committed days but no " +
      "indexed vectors — nothing to audit for recall")
    // BOUND the driver collect BEFORE it happens (round 14, advice):
    // the sample is at most days × queriesPerDay rows, both cheap
    // metadata — a post-collect length check on a many-day store
    // would OOM the driver before it could fire, which is exactly the
    // maintenance cron this guard exists to protect
    require(days.size.toLong * queriesPerDay <= 100000,
      s"recall sample of up to ${days.size.toLong * queriesPerDay} queries " +
        s"(${days.size} committed days × $queriesPerDay) is " +
        "driver-collected — lower queriesPerDay or audit day ranges " +
        "separately")
    val dsch = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (dsch.fieldNames(0), dsch.fieldNames(1))
    val cells = cellsFrame(spark, root, leaves.head.getPath, days,
      dataSchema = Some(dsch))
    // deterministic per-day sample: the hash-smallest usable ids (a
    // restored unusable vector must not become a query — its argmin
    // is undefined; [[KMeans.usable]] is the ONE shared definition);
    // one narrow shuffle keyed by day
    val sampled = cells
      .filter(KMeans.usable(vecCol, cents.head.length))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("dt"))
          .orderBy(xxhash64(col(idCol)), col(idCol))))
      .filter(col("__rk") <= queriesPerDay)
      .select(col("dt"), col(vecCol).cast("array<double>").as("__v"))
      .collect()
    // synthetic qids: stored ids may legally repeat across days
    // (dup-identity is a warn, not an invariant) and must not alias
    val queries = sampled.zipWithIndex.map { case (r, i) =>
      i.toLong -> r.getSeq[Double](1).toArray }.toSeq
    val qidDay = sampled.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getString(0)) }.toSeq
    import spark.implicits._
    // a store whose every vector is unusable (wholesale restore) has
    // no sampleable queries — the empty report, not a reduce() crash
    if (queries.isEmpty)
      return Seq.empty[(String, Long, Int, Int, Double)]
        .toDF("dt", "n_queries", "nprobe", "topk", "recall")
    val qidDayDf = qidDay.toDF("qid", "dt_q")
    // both arms sharded under the broadcast cap (the q146 remedy);
    // per-query top-k is shard-independent, so unions are exact
    def probeAll(np: Int): DataFrame = {
      val perCall = math.max(1L,
        BroadcastGuard.cap(spark) / math.min(np, cents.size)).toInt
      queries.grouped(perCall)
        .map(qs => probe(spark, root, idCol, vecCol, qs, np, topK))
        .reduce(_ unionByName _)
    }
    // per-arm DISTINCT (qid, id) before the join: stored ids may
    // legally repeat across days (dup-identity is warn-level), and a
    // duplicated id in both arms would otherwise match k×k rows —
    // inflating q_recall on exactly the degraded stores whose rebuild
    // trigger this metric feeds. Recall is a SET ratio.
    val exact = probeAll(cents.size).select(col("qid"), col(idCol)).distinct()
    val approx = probeAll(nprobe).select(col("qid"), col(idCol)).distinct()
    val hits = exact.as("e")
      .join(approx.as("a"),
        col(s"e.qid") === col(s"a.qid") &&
          col(s"e.$idCol") === col(s"a.$idCol"), "left")
      .groupBy(col("e.qid").as("qid"))
      .agg((count(col(s"a.$idCol")) / count(lit(1))).as("q_recall"))
    hits.join(broadcast(qidDayDf), Seq("qid"))
      .groupBy(col("dt_q").as("dt"))
      .agg(count(lit(1)).as("n_queries"), avg(col("q_recall")).as("recall"))
      .withColumn("nprobe", lit(nprobe))
      .withColumn("topk", lit(topK))
      .select(col("dt"), col("n_queries"), col("nprobe"), col("topk"),
        col("recall"))
      .orderBy(col("dt"))
  }

  /** ADC SERVING RECALL (round 16) — the store-level acceptance number
    * [[recallReport]] could not give a PQ-enabled store: that report
    * grades the FLOAT probe, but a store that flipped [[enablePq]] on
    * serves [[adcProbe]], and the question its operator asks before
    * the flip is "what recall do I buy at (nprobe, rerank)?" — the
    * quantizer's loss and the re-rank's repair, measured together.
    *
    * Same methodology as [[recallReport]] (the q126 rule — the report
    * is COMPOSED FROM the serving path, so the two cannot diverge):
    * per committed day, the deterministic hash-smallest usable stored
    * vectors become self-included queries; TRUTH is the exact float
    * full probe (`nprobe = k` — global exact top-k by the q146
    * argument, independent of ADC entirely); each requested
    * `(nprobe, rerank)` arm runs [[adcProbe]] verbatim and scores
    * `|adc ∩ exact| / topK` per query as a SET ratio (per-arm
    * DISTINCT (qid, id) — dup-identity days must not inflate recall).
    *
    * Reading the rows: `rerank ≥ topK` isolates CANDIDATE loss (the
    * exact re-score fixes every ranking error inside the ADC pool, so
    * a miss means the true neighbor never entered the pool — raise
    * rerank or nprobe); `rerank = 0` adds pure quantization-ranking
    * error on top (the honest no-rerank serving number). At
    * `nprobe = k` with rerank ≥ corpus the answer is exact by
    * construction (recall 1.0 — the spec's identity row). Cost: one
    * float full probe + one ADC probe per arm over days·queriesPerDay
    * sampled queries (all internally sharded) — maintenance cadence.
    *
    * Output, schema-stable, (nprobe, rerank, dt)-sorted:
    * (dt, n_queries, nprobe, rerank, topk, recall). */
  def adcRecallReport(spark: SparkSession, root: String,
      arms: Seq[(Int, Int)], topK: Int = 5,
      queriesPerDay: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(arms.nonEmpty, "at least one (nprobe, rerank) arm")
    arms.foreach { case (np, rr) =>
      require(np >= 1 && (rr <= 0 || rr >= topK),
        s"arm (nprobe=$np, rerank=$rr) invalid: nprobe >= 1 and rerank " +
          s"either 0 (ADC-ranked) or >= topK=$topK (the re-score pool)")
    }
    require(topK >= 1 && queriesPerDay >= 1,
      "topK/queriesPerDay must be >= 1")
    require(pqModel(spark, root).isDefined,
      s"store at $root has no committed PQ codebooks — adcRecallReport " +
        "grades ADC serving; use recallReport for the float probe")
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — nothing to audit for ADC recall")
    val leaves = committedLeafFiles(fs(spark, root), root, days)
    require(leaves.nonEmpty, s"store at $root has committed days but no " +
      "indexed vectors — nothing to audit for ADC recall")
    // the recallReport driver-collect bound, verbatim
    require(days.size.toLong * queriesPerDay <= 100000,
      s"recall sample of up to ${days.size.toLong * queriesPerDay} queries " +
        s"(${days.size} committed days × $queriesPerDay) is " +
        "driver-collected — lower queriesPerDay or audit day ranges " +
        "separately")
    val dsch = leafDataSchema(spark, leaves.head.getPath)
    val (idCol, vecCol) = (dsch.fieldNames(0), dsch.fieldNames(1))
    val cells = cellsFrame(spark, root, leaves.head.getPath, days,
      dataSchema = Some(dsch))
    val sampled = cells
      .filter(KMeans.usable(vecCol, cents.head.length))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("dt"))
          .orderBy(xxhash64(col(idCol)), col(idCol))))
      .filter(col("__rk") <= queriesPerDay)
      .select(col("dt"), col(vecCol).cast("array<double>").as("__v"))
      .collect()
    if (sampled.isEmpty)
      return Seq.empty[(String, Long, Int, Int, Int, Double)]
        .toDF("dt", "n_queries", "nprobe", "rerank", "topk", "recall")
    val queries = sampled.zipWithIndex.map { case (r, i) =>
      i.toLong -> r.getSeq[Double](1).toArray }.toSeq
    val qidDayDf = sampled.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getString(0)) }.toSeq
      .toDF("qid", "dt_q")
    // truth: the exact float full probe, sharded under the broadcast
    // cap (per-query top-k is shard-independent)
    val perCall = math.max(1L, BroadcastGuard.cap(spark) / cents.size).toInt
    val exact = queries.grouped(perCall)
      .map(qs => probe(spark, root, idCol, vecCol, qs, cents.size, topK))
      .reduce(_ unionByName _)
      .select(col("qid"), col(idCol)).distinct()
    arms.map { case (np, rr) =>
      val approx = adcProbe(spark, root, idCol, queries, np, topK, rr)
        .select(col("qid"), col(idCol)).distinct()
      exact.as("e")
        .join(approx.as("a"),
          col("e.qid") === col("a.qid") &&
            col(s"e.$idCol") === col(s"a.$idCol"), "left")
        .groupBy(col("e.qid").as("qid"))
        .agg((count(col(s"a.$idCol")) / count(lit(1))).as("q_recall"))
        .join(broadcast(qidDayDf), Seq("qid"))
        .groupBy(col("dt_q").as("dt"))
        .agg(count(lit(1)).as("n_queries"), avg(col("q_recall")).as("recall"))
        .withColumn("nprobe", lit(np))
        .withColumn("rerank", lit(rr))
        .withColumn("topk", lit(topK))
        .select(col("dt"), col("n_queries"), col("nprobe"), col("rerank"),
          col("topk"), col("recall"))
    }.reduce(_ unionByName _)
      .orderBy(col("nprobe"), col("rerank"), col("dt"))
  }

  def driftReport(spark: SparkSession, root: String): DataFrame = {
    val cents = IvfIndex.open(spark, root)
    val days = committedDays(spark, root)
    require(days.nonEmpty,
      s"no committed days at $root — nothing to audit for drift")
    val leaves = committedLeafFiles(fs(spark, root), root, days)
    require(leaves.nonEmpty, s"store at $root has committed days but no " +
      "indexed vectors — nothing to audit for drift")
    val dsch = leafDataSchema(spark, leaves.head.getPath)
    val vecCol = dsch.fieldNames(1)
    val centArr = array(cents.map(c => lit(c)): _*)
    // Bounded-index guard (round 13): a hand-restored root can hold a
    // `cell` outside [0, k) — under ANSI mode a bare element_at would
    // throw INVALID_ARRAY_INDEX (or ELEMENT_AT_BY_INDEX_ZERO at
    // cell = -1), taking the whole drift feed down on exactly the
    // corrupted roots this report documents tolerating. Out-of-range
    // cells degrade to a null d2 (cdn-excluded below; fsck deep is
    // the audit that NAMES them); so does a non-finite d2 (a NaN/Inf
    // vector element restored past [[KMeans.assign]]'s corrupt-drop —
    // it must not NaN the day's mean and mask the alarm).
    val cellOk = col("cell").isNotNull &&
      col("cell") >= 0 && col("cell") < cents.size
    // native JIT L2² — bit-identical to the zip_with+aggregate HOF
    // (see Vectors.l2d2; width-mismatch rows null exactly as before)
    val d2raw = graft.functions.Vectors.l2d2(
      col(vecCol), element_at(centArr, col("cell") + 1))
    // nested whens, not one fused condition: a CaseWhen CONDITION is
    // always evaluated, so d2raw (and its element_at) may only appear
    // under the cellOk branch VALUE
    val d2 = when(cellOk,
      when(!isnan(d2raw) && d2raw < lit(Double.PositiveInfinity), d2raw))
    val base: Column = seedStats(spark, root) match {
      case Some((m, _)) => lit(m)
      case None => lit(null).cast("double")
    }
    val cells = cellsFrame(spark, root, leaves.head.getPath, days,
      dataSchema = Some(dsch))
    // per-(dt, cell) counts first — one shuffle keyed exactly like
    // the layout; the per-day rollup and the max-share both fold the
    // tiny (days x k) frame
    // cdn (non-null d2 count) weights the mean, cn weights occupancy:
    // a hand-restored root can hold rows whose d2 is null (wrong-dim
    // vector, out-of-range cell) — they must not deflate mean_dist2
    // by riding the denominator (fsck deep flags them; the report
    // must not mask the drift alarm meanwhile)
    val perCell = cells.groupBy(col("dt"), col("cell"))
      .agg(count(lit(1)).as("cn"), count(d2).as("cdn"), avg(d2).as("cd2"))
    perCell.groupBy(col("dt"))
      .agg(sum(col("cn")).as("n"),
        (sum(col("cd2") * col("cdn")) / sum(col("cdn"))).as("mean_dist2"),
        (max(col("cn")).cast("double") / sum(col("cn"))).as("max_cell_frac"))
      .withColumn("seed_mean_dist2", base)
      .withColumn("drift_ratio",
        when(col("seed_mean_dist2") > 0,
          col("mean_dist2") / col("seed_mean_dist2")))
      .select(col("dt"), col("n"), col("mean_dist2"),
        col("seed_mean_dist2"), col("drift_ratio"), col("max_cell_frac"))
      .orderBy(col("dt"))
  }
}
