package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Day-partitioned INVERTED INDEX with a BM25 top-k probe — ranked
  * text retrieval as a store, the lexical twin of [[IvfStore]]
  * (extension surface; the reference has no retrieval code — nearest
  * is the popularity join, `transforms/SuspiciousIDs.java`).
  *
  * Why a store and not q68's query: q68 ranks by scanning the CORPUS
  * (tokenize every document per question). A retrieval serving path
  * inverts that once at ingest: postings keyed by word, so a probe
  * reads |terms| posting lists, never the corpus. At 100 TB the
  * probe's scan is `Σ df(term) · ~24 bytes` — megabytes for rare
  * terms — plus one O(days) stats read; the corpus text is never
  * touched after ingest.
  *
  * Layout under `root` (the [[DayStore]] marker protocol shared with
  * [[DedupStore]]/[[IvfStore]] — day marker commits atomically AFTER
  * the partitions land; torn appends are invisible; re-running a day
  * overwrites only that day's partitions then re-commits):
  *  - `postings/dt=<day>/` — (word, doc_id, tf, dl): one row per
  *    distinct (doc, word), `dl` DENORMALIZED into the posting
  *    (the Lucene norms-inline trick) so scoring never joins a
  *    per-doc table — +8 bytes per posting buys a probe that reads
  *    postings and nothing else. Files are sorted by word within
  *    each partition, so the probe's `word IN (…)` pushdown prunes
  *    at parquet row-group stats on top of the dt file-index prune.
  *  - `stats/dt=<day>/` — ONE row (n_docs, sum_dl): corpus-level
  *    BM25 constants fold additively across days (exact bigint
  *    sums), so the probe derives (N, avgdl) from an O(days) read
  *    instead of re-scanning doc lengths.
  *
  * Tokenization is the engine's one word-split discipline
  * (`word_counts` native expression / `split(trim(text), "\\s+")`
  * length — the q67/q68 family), so index-built scores equal
  * corpus-scan scores EXACTLY; q149 pins that equality against the
  * DuckDB oracle through the full lifecycle. Null-id, null-text and
  * BLANK docs (the F1 isBlank rlike — see [[append]]) corrupt-drop
  * at append, counted out of the day's stats row too — visible in
  * the returned count.
  *
  * BM25 (k1 = 1.2, b = 0.75 — the q68 constants): per matched term,
  *   idf = ln(1 + (N − df + 0.5) / (df + 0.5))
  *   tfc = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * and a document's score sums its matched terms IN QUERY ORDER (a
  * fixed chain of one-term conditional sums, not a float-reorderable
  * SUM — bit-stable across engines and runs; the q147 discipline).
  *
  * Concurrency: appends of distinct days are independent (disjoint
  * partitions, disjoint markers); probes read the committed view
  * only ([[PartitionedLayout.readDays]] — no replaced-day debris,
  * no listing race). [[compact]] folds aged day partitions under the
  * [[DayStore]] merged-marker protocol — simpler here because BOTH
  * tables are purely additive (postings concatenate; stats rows
  * re-sum to one), so the fold is a concatenate + re-sort, never a
  * recompute.
  */
object TextIndexStore {

  val K1 = 1.2
  val B = 0.75

  private val Tables = Seq("postings", "stats")

  /** The marker-protocol kernel over this layout: `markers/` plus the
    * two additive tables. */
  private val dayStore = new DayStore("markers", (_, _) => Tables,
    (day, root) => s"day '$day' of text index '$root' was already folded " +
      "into a compacted partition; re-appending it would double-count its " +
      "postings in every probe. Re-append is only supported inside " +
      "compact()'s keepDays retention window — size keepDays to cover the " +
      "longest replay horizon.")

  private def fsOf(spark: SparkSession, root: String) = dayStore.fs(spark, root)

  private def postingsSchema = StructType(Seq(
    StructField("word", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("dt", StringType)))

  private def statsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType),
    StructField("dt", StringType)))

  /** Committed (marker-visible) day names, sorted. */
  def committedDays(spark: SparkSession, root: String): Seq[String] =
    dayStore.committedDays(spark, root)

  /** Tokenize + index `docs` as `day`, commit the marker. Returns the
    * number of INDEXED docs (≥1 token; null-text rows corrupt-drop).
    * Idempotent: a re-run overwrites exactly this day's partitions
    * (dynamic partition overwrite) and re-commits the marker. */
  def append(docs: DataFrame, root: String, day: String,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val spark = docs.sparkSession
    // the kernel's commit refuses a day a committed compaction already
    // folded (its postings live on in the merged partition — a re-run
    // would double tf/df/stats in every probe), retracts the marker
    // BEFORE rewriting (a crash mid-overwrite leaves the day loudly
    // UNCOMMITTED, never a live marker over a partial day), and clears
    // both tables' partitions first: dynamic partition overwrite
    // replaces nothing for a frame with no rows in a partition, so a
    // corrected replay whose docs ALL corrupt-drop would otherwise
    // leave the prior postings standing under a (0, null) stats row
    dayStore.commitDay(spark, root, day, Tables) {
      graft.GraftExtensions.ensureRegistered(spark)
      // one tokenize pass: postings carry dl inline (see layout note).
      // Indexable = NOT blank — the F1 validity family's isBlank rlike,
      // explicit because the engine's split discipline KEEPS empty
      // tokens (q68 parity: '' tokenizes to one ''-word) and its trim
      // is space-only (a tab-only doc survives trim ≠ ''), yet a
      // whitespace-only doc carries nothing retrievable; q149's oracle
      // scopes its docs0 CTE with the same anchored-regex predicate
      val base = docs
        .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
          !col(textCol).rlike("^\\s*$"))
        // try_cast, not cast: under ANSI a malformed id would kill the
        // whole append job; the corrupt-drop contract wants the ROW cut
        .select(expr(s"try_cast(`$idCol` AS BIGINT)").as("doc_id"),
          expr(s"word_counts($textCol)").as("wc"),
          size(split(trim(col(textCol)), "\\s+")).cast("long").as("dl"))
        // an id that fails the cast nulls AFTER the isNotNull check
        // above — corrupt-drop it here, not as a null-keyed posting
        // every probe would join against
        .filter(col("doc_id").isNotNull)
      val posted = base
        .select(explode(col("wc")).as("w"), col("doc_id"), col("dl"))
        .select(col("w.word").as("word"), col("doc_id"),
          col("w.tf").cast("long").as("tf"), col("dl"), lit(day).as("dt"))
        // word-sorted files: the probe's IN-filter prunes at row-group
        // stats; doc_id secondary keeps the layout deterministic
        .sortWithinPartitions(col("word"), col("doc_id"))
      PartitionedLayout.overwritePartitions(posted, s"$root/postings", Seq("dt"))
      val st = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .select(col("n_docs"), col("sum_dl"), lit(day).as("dt"))
      PartitionedLayout.overwritePartitions(st, s"$root/stats", Seq("dt"))
    }
    val stRow = PartitionedLayout.readDays(spark, s"$root/stats", statsSchema,
      Seq(day)).select(col("n_docs")).collect()
    if (stRow.isEmpty) 0L else stRow.head.getLong(0)
  }

  /** (N, avgdl) from the committed per-day stats — exact bigint sums,
    * one double division. O(committed days) bytes. */
  def corpusStats(spark: SparkSession, root: String): (Long, Double) =
    corpusStats(spark, root, committedDays(spark, root))

  /** [[corpusStats]] over an EXPLICIT committed-day list — the probe
    * passes the day set it resolved ONCE (round 15, advice): resolving
    * the committed view twice inside one probe let an append commit
    * between the two reads, transiently scoring one view's postings
    * against a newer view's (N, avgdl) and skewing every idf/tfc. One
    * probe, one committed snapshot. */
  def corpusStats(spark: SparkSession, root: String,
      days: Seq[String]): (Long, Double) = {
    val r = PartitionedLayout.readDays(spark, s"$root/stats", statsSchema, days)
      .filter(col("dt").isin(days: _*))
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).collect().head
    if (r.isNullAt(0) || r.getLong(0) == 0L) (0L, 0.0)
    else (r.getLong(0), r.getLong(1).toDouble / r.getLong(0))
  }

  /** BM25 top-k over the committed index: reads the query terms'
    * postings (dt file-index prune + word row-group prune; the
    * corpus is never scanned) and the O(days) stats rows. Returns
    * (doc_id, bm25, n_terms_hit, rank ≤ topK), ranked score DESC
    * then doc_id ASC via a sort-limit (TakeOrderedAndProject —
    * map-side partial top-k, no global window). Duplicate terms in
    * `terms` are an error (each would double-count its postings). */
  def topK(spark: SparkSession, root: String, terms: Seq[String],
      topK: Int): DataFrame = {
    require(terms.nonEmpty, "BM25 probe needs at least one term")
    require(terms.distinct.length == terms.length,
      s"duplicate probe terms would double-count: $terms")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val days = committedDays(spark, root)
    val posts = PartitionedLayout.readDays(
        spark, s"$root/postings", postingsSchema, days)
      .filter(col("dt").isin(days: _*))
      .filter(col("word").isInCollection(terms))
    // stats from the SAME committed snapshot as the postings scan —
    // never re-resolve the day list mid-probe (see the overload)
    val (nDocs, avgdl) = corpusStats(spark, root, days)
    if (nDocs == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("bm25", DoubleType), StructField("n_terms_hit", LongType),
          StructField("rank", IntegerType, nullable = false))))
    val dfq = posts.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scoredTerms = posts.join(broadcast(dfq), "word")
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df").cast("double") + 0.5)))
      .withColumn("tfc", (col("tf").cast("double") * (K1 + 1.0)) /
        (col("tf").cast("double") +
          lit(K1) * (lit(1.0 - B) + col("dl").cast("double") / avgdl * B)))
    // fixed-order per-term sum (the q147 discipline): each term's
    // conditional sum aggregates ≤1 row per doc; the + chain adds in
    // QUERY order — no float-reorderable multi-row SUM
    val fixedSum: Column = terms
      .map(t => coalesce(sum(when(col("word") === t, col("idf") * col("tfc"))),
        lit(0.0)))
      .reduce(_ + _)
    scoredTerms
      .groupBy(col("doc_id"))
      .agg(fixedSum.as("bm25"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id").asc)))
  }

  /** BATCHED BM25 for a DRIVER-SIDE query list — [[topKBatchTable]]
    * over the list as a local query frame, so both forms run one
    * scoring pipeline. The list is validated before it is served, and
    * refuses where the table form corrupt-drops: an empty batch,
    * duplicate qids, a query with no terms, duplicate terms within a
    * query (each would double-count its postings — the single
    * probe's rule, batched), and a batch past `graft.maxProbeBatch`
    * (default 100k queries; a list that size belongs in a query
    * table joined against the index). Returns (qid, doc_id, bm25,
    * n_terms_hit, rank ≤ topK) — per qid exactly the rows the single
    * [[topK]] call returns (see [[topKBatchTable]] for the bit-identity
    * precondition). */
  def topKBatch(spark: SparkSession, root: String,
      queries: Seq[(Long, Seq[String])], topK: Int): DataFrame = {
    require(queries.nonEmpty, "batch probe needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      s"duplicate qids in the batch: ${queries.map(_._1)}")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"query $qid has no terms")
      require(ts.distinct.length == ts.length,
        s"duplicate probe terms in query $qid would double-count: $ts")
    }
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val batchCap = BroadcastGuard.probeBatchCap(spark)
    require(queries.size <= batchCap,
      s"batch of ${queries.size} queries exceeds the probe-batch cap " +
        s"($batchCap; conf graft.maxProbeBatch) — a driver-side query list " +
        "this size belongs in a table; join it against the index instead")
    import spark.implicits._
    topKBatchTable(spark, root, queries.toDF("qid", "terms"), "qid", "terms",
      topK)
  }

  /** TABLE-DRIVEN batched BM25 — N queries, ONE postings scan. A
    * serving workload issues many term-sets; N [[topK]] calls re-plan,
    * re-read the stats and re-scan the index N times. The queries live
    * in a DataFrame (`qidCol`, `termsCol: array<string>` in query
    * order), so the batch is bounded by cluster memory;
    * [[topKBatch]] serves a driver-side list through this same plan.
    * The UNION of all queries' terms is read once and fanned out:
    *
    *  - one postings scan over the batch's distinct words (same dt
    *    file prune as the single probe — the plan's ONLY parquet scan
    *    node, spec-pinned);
    *  - `df` per word via a count window OVER the scan (no self-join,
    *    no second scan — partitioned by word, the same key the single
    *    probe's df aggregate shuffles on), idf/tfc with the
    *    committed-snapshot (N, avgdl);
    *  - per-(query, doc) scoring through a join with the posexploded
    *    (qid, word, pos) query terms, summed in QUERY ORDER —
    *    contributions fold sorted by the term's position in ITS query,
    *    so each score is bit-identical to the single call's fixed
    *    conditional-sum chain (adding a matched term's value to the
    *    chain's 0.0 placeholders is IEEE-exact for the positive BM25
    *    terms);
    *  - per-qid top-k via rank-window ≤ topK — the q146
    *    partial/final WindowGroupLimit shape, so the one qid exchange
    *    carries ≤ topK·partitions candidates per query.
    *
    * BROADCAST GUARD: the (qid, word, pos) side rides
    * [[BroadcastGuard.maybeBroadcast]] — under `graft.maxBroadcastRows`
    * it broadcasts; past it both sides shuffle on `word`.
    *
    * TWO-PHASE WORD PUSHDOWN: one count job over the batch's distinct
    * words; when that count is under `graft.maxBroadcastRows` — i.e.
    * exactly when the word set was going to be driver-broadcast
    * anyway — the set is collected and the postings scan takes the
    * single probe's `word isInCollection` filter, keeping parquet
    * row-group pruning on `word`. Past the cap a semi-join on the
    * distinct words stands (both sides shuffle on `word` — the scale
    * path, where the batch's union covers most of the vocabulary and
    * row-group pruning would win nothing). Result-identical either
    * way.
    *
    * Bit-identity PRECONDITION: "per qid exactly the single call's
    * rows" is bit-exact on the DOUBLE when each (term, doc_id)
    * matches at most ONE posting row — the committed view of any
    * corpus whose doc ids are day-unique, which is what [[append]]'s
    * one-day-one-shard ingest produces. A doc_id committed on
    * MULTIPLE days (legal — the dup-identity fsck class) carries >1
    * posting per term, and the two paths then fold that term's
    * contributions in different orders (the single probe's unordered
    * per-term SUM vs this batch's (pos, value)-sorted chain), so
    * scores can differ in the last ulp and reorder ties. Ranks and
    * hit sets are unaffected beyond such ulp ties.
    *
    * Per-query duplicate terms cannot REFUSE without a validation
    * pass, so they corrupt-DROP: `array_distinct` keeps each term's
    * FIRST occurrence in query order (the fold order is then
    * identical to a dup-free query); null qids and null/empty term
    * arrays drop silently (the seam discipline). The word-set
    * count/collect and the qterms broadcast guard each run one job
    * over the query table (an expensive-to-recompute query frame
    * should be cached by the caller). Returns (qid, doc_id, bm25,
    * n_terms_hit, rank ≤ topK). */
  def topKBatchTable(spark: SparkSession, root: String,
      queries: DataFrame, qidCol: String, termsCol: String,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val days = committedDays(spark, root)
    val (nDocs, avgdl) = corpusStats(spark, root, days)
    val qterms = queries
      .filter(col(qidCol).isNotNull && col(termsCol).isNotNull &&
        size(col(termsCol)) >= 1)
      .select(col(qidCol).as("qid"),
        posexplode(array_distinct(col(termsCol))))
      .withColumnRenamed("col", "word")
    if (nDocs == 0L)
      // schema-stable empty answer with the TABLE's qid type
      return qterms.select(col("qid"), lit(0L).as("doc_id"),
        lit(0.0).as("bm25"), lit(0L).as("n_terms_hit"),
        lit(1).as("rank")).limit(0)
    val wordsDf = qterms.select(col("word")).distinct()
    val nWords = wordsDf.count()
    val posts0 = PartitionedLayout.readDays(
        spark, s"$root/postings", postingsSchema, days)
      .filter(col("dt").isin(days: _*))
    // two-phase word pushdown (scaladoc): under the broadcast cap the
    // word set was going to live on the driver anyway — collect it
    // and regain the q149 row-group prune; past it, semi-join
    val posts =
      if (nWords <= BroadcastGuard.cap(spark))
        posts0.filter(col("word").isInCollection(
          wordsDf.collect().map(_.getString(0)).toSeq))
      else posts0.join(wordsDf, Seq("word"), "left_semi")
    val scored = posts
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df").cast("double") + 0.5)))
      .withColumn("tfc", (col("tf").cast("double") * (K1 + 1.0)) /
        (col("tf").cast("double") +
          lit(K1) * (lit(1.0 - B) + col("dl").cast("double") / avgdl * B)))
      .join(BroadcastGuard.maybeBroadcast(qterms, "BM25 batch query terms"),
        "word")
    scored
      .groupBy(col("qid"), col("doc_id"))
      .agg(
        // fixed-order sum: contributions sorted by the term's position
        // in the query, folded sequentially from 0.0 — the single
        // call's chain order, not a float-reorderable SUM
        aggregate(
          array_sort(collect_list(struct(col("pos"),
            (col("idf") * col("tfc")).as("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("bm25").desc, col("doc_id").asc)))
      .filter(col("rank") <= topK)
  }

  // -----------------------------------------------------------------
  // POINTERED ROOT (round 15) — the [[IvfStore.publishRoot]] pattern
  // for the retrieval store, needed the day its tokenization
  // discipline changes: reindexing under a new tokenizer cannot
  // mutate a live root (probes would mix postings from two word
  // disciplines mid-rewrite), so the swap is a fresh root + atomic
  // pointer flip, with probes resolving through the pointer.
  //
  // One deliberate difference from the IVF twin: the index holds
  // POSTINGS, not documents, so a catch-up cannot re-derive a day the
  // new tokenizer way — only the caller can re-ingest it from source.
  // [[rebuildVia]] therefore takes the caller's `reingest` function
  // and drives it through the same two catch-up passes around the
  // flip; [[missingDays]] is the gap oracle both passes share.
  // Coverage is decided at ORIGIN-day granularity ([[originDays]]):
  // compaction renames where postings live, but a merged marker's
  // content lists the origin days transitively, so the diff is exact
  // across fold generations on either root.
  // -----------------------------------------------------------------

  private def pointerSchema = StructType(Seq(
    StructField("text_index_root", StringType, nullable = false),
    StructField("discipline", StringType, nullable = true)))

  /** Publish `root` as the pointer's current serving root — one
    * atomic [[SnapshotStore.commit]]; readers resolve old or new,
    * never a torn in-between. Refuses a path with no store at it (a
    * typo'd crontab would otherwise take serving down at the NEXT
    * probe, far from the operator who made it).
    *
    * `discipline` (round 16) stamps WHY this root serves — the
    * tokenizer/scoring discipline version the root was built under.
    * A reindex's reason used to live only in prose; the pointer's
    * version lineage is the root-swap history, so the stamp rides the
    * snapshot itself (second column; [[retireRoots]] and
    * [[currentRoot]] read only the first). [[rebuildVia]] is the
    * natural writer. Pre-16 pointers read back None. */
  def publishRoot(spark: SparkSession, pointer: String, root: String,
      discipline: String = ""): Long = {
    require(fsOf(spark, root).exists(new Path(s"$root/markers")),
      s"refusing to publish $root: no text index there (no markers dir) — " +
        "append at least one day first")
    import spark.implicits._
    SnapshotStore.commit(
      Seq((root, discipline)).toDF("text_index_root", "discipline"), pointer)
  }

  /** The root the pointer currently publishes; loud on an unpublished
    * pointer, naming the fix. */
  def currentRoot(spark: SparkSession, pointer: String): String = {
    val rows = SnapshotStore.read(spark, pointer, pointerSchema).collect()
    require(rows.nonEmpty, s"no published text-index root at pointer " +
      s"'$pointer' — publishRoot(root) it before probing through the pointer")
    rows.head.getString(0)
  }

  /** The discipline stamp the current pointer snapshot carries (see
    * [[publishRoot]]), or None when unpublished / stamped empty /
    * published by a pre-stamp writer. */
  def currentDiscipline(spark: SparkSession, pointer: String): Option[String] =
    SnapshotStore.read(spark, pointer, pointerSchema).collect().headOption
      .flatMap(r => Option(r.getString(1))).filter(_.nonEmpty)

  /** Two-phase retirement of flipped-away serving roots —
    * [[SnapshotStore.retireRoots]] over THIS store's pointer (round
    * 16: the round-15 scaladoc promised the IVF retirement discipline
    * here, but that implementation was hard-wired to the `ivf_root`
    * pointer; every tokenizer-change [[rebuildVia]] leaked a full
    * index copy until an operator hand-deleted). The grace cadence,
    * rollback unmark and vacuum-safe phase-2 live on the generic
    * method; [[graft.jobs.MaintenanceJob]] drives this from the
    * `textIndexPointer` it maintains. */
  def retireRoots(spark: SparkSession, pointer: String,
      keepRoots: Int = 2): Seq[SnapshotStore.RetiredRoot] =
    SnapshotStore.retireRoots(spark, pointer, keepRoots)

  /** [[topK]] / [[topKBatch]] resolved through the pointer — the
    * consumer-side calls that make [[rebuildVia]]'s swap invisible. */
  def topKVia(spark: SparkSession, pointer: String, terms: Seq[String],
      topK: Int): DataFrame =
    this.topK(spark, currentRoot(spark, pointer), terms, topK)

  def topKBatchVia(spark: SparkSession, pointer: String,
      queries: Seq[(Long, Seq[String])], topK: Int): DataFrame =
    topKBatch(spark, currentRoot(spark, pointer), queries, topK)

  /** ORIGIN day names the root's committed view covers: committed
    * plain days plus every day a live merged marker's (transitive)
    * content lists. The unit [[missingDays]] diffs on — exact across
    * compaction on either side, because folds carry their lineage. */
  def originDays(spark: SparkSession, root: String): Set[String] =
    dayStore.knownDays(spark, root).toSet

  /** Origin days committed at `oldRoot` that `newRoot` does not cover
    * yet — what a reindex still has to re-ingest from source. */
  def missingDays(spark: SparkSession, oldRoot: String,
      newRoot: String): Seq[String] =
    (originDays(spark, oldRoot) -- originDays(spark, newRoot)).toSeq.sorted

  /** ZERO-DOWNTIME REINDEX: drive the caller's `reingest(targetRoot,
    * days)` — which must re-ingest those origin days FROM SOURCE into
    * the target (the new tokenizer's [[append]]s) — through the
    * [[IvfStore.rebuildVia]] protocol: a pre-flip pass over the
    * current gap while probes still serve the old root, the atomic
    * pointer flip, then a post-flip pass closing the write window
    * (days appended to the OLD root mid-reindex re-enter
    * [[missingDays]] and are re-ingested). Returns the replaced root
    * (this never deletes it — [[retireRoots]] marks it at the next
    * maintenance run and deletes it one grace cadence later, once
    * in-flight readers age out).
    *
    * `discipline` stamps the new pointer snapshot with WHY the swap
    * happened — the tokenizer/scoring version the new root was built
    * under (see [[publishRoot]]); a reindex is exactly the event the
    * stamp exists for.
    *
    * CRASH/FAILURE recovery is phase-scoped, like the IVF twin:
    * pre-flip failure leaves the pointer serving the old root —
    * delete `newRoot` and re-run; post-flip failure (wrapped in an
    * [[IllegalStateException]] saying so) means the pointer ALREADY
    * serves `newRoot` — never delete it; fix the cause and re-run
    * `reingest(newRoot, missingDays(old, new))` until the gap is
    * empty (idempotent: [[append]] re-runs overwrite cleanly). A
    * post-flip gap the reingest did not close throws the same way. */
  def rebuildVia(spark: SparkSession, pointer: String, newRoot: String,
      discipline: String = "")(
      reingest: (String, Seq[String]) => Unit): String = {
    val oldRoot = currentRoot(spark, pointer)
    val gap1 = missingDays(spark, oldRoot, newRoot)
    if (gap1.nonEmpty) reingest(newRoot, gap1)
    publishRoot(spark, pointer, newRoot, discipline): Unit
    try {
      val gap2 = missingDays(spark, oldRoot, newRoot)
      if (gap2.nonEmpty) reingest(newRoot, gap2)
      val left = missingDays(spark, oldRoot, newRoot)
      if (left.nonEmpty) throw new IllegalStateException(
        s"reingest left origin days uncovered: ${left.mkString(", ")}")
      oldRoot
    } catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"rebuildVia: the pointer already serves '$newRoot' (the flip " +
          "committed before this post-flip catch-up failed) — do NOT " +
          s"delete it; fix the cause and re-run reingest('$newRoot', " +
          s"missingDays('$oldRoot', '$newRoot')) until the gap is empty", e)
    }
  }

  /** part-file count over the committed view — the [[compact]]
    * before/after metric. */
  def committedFileCount(spark: SparkSession, root: String): Int =
    dayStore.committedFileCount(spark, root)

  final case class CompactionReport(mergedDay: Option[String],
      foldedDays: Int, filesBefore: Int, filesAfter: Int)

  /** Fold all committed days older than the most recent `keepDays`
    * real days into one consolidated partition per table — the
    * [[DayStore.planCompaction]] protocol (tmp-invisible merged partition,
    * ONE atomic marker whose content lists the replaced days
    * transitively, sweep at the START of the next run as the reader
    * grace period, deterministic digest-named merged day so crashed
    * retries converge, merged-tier refold bounded by
    * `graft.store.maxMergedParts`), with the fold itself trivial
    * because both tables are additive: postings concatenate (re-
    * sorted by word within the merged files so the probe's row-group
    * pruning survives compaction), stats re-sum to ONE row. Probes
    * are answer-identical before/during/after — the committed view
    * always holds exactly one copy of every posting. */
  def compact(spark: SparkSession, root: String, keepDays: Int = 7,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    val plan = dayStore.planCompaction(spark, root, keepDays)
    val before = committedFileCount(spark, root)
    val merge = plan.getOrElse(return CompactionReport(None, 0, before, before))
    val (mergedDay, mergeDays) = (merge.day, merge.days)
    val f = fsOf(spark, root)
    def foldTable(t: String)(merge: DataFrame => DataFrame): Unit = {
      val dayDirs = mergeDays.map(dd => new Path(s"$root/$t/dt=$dd"))
        .filter(dd => dayStore.partFiles(f, dd).nonEmpty)
      val outDir = new Path(s"$root/$t/dt=$mergedDay")
      f.delete(outDir, true): Unit // debris from a crashed prior attempt
      if (dayDirs.nonEmpty) {
        val bytes = dayDirs.flatMap(dayStore.partFiles(f, _)).map(_.getLen).sum
        val shards = math.max(1L,
          math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
        // coalesce BEFORE merge: postings' merge step re-sorts by
        // word within partitions, and a coalesce AFTER it would
        // concatenate sorted runs back into unsorted files — losing
        // the row-group pruning the sort exists for
        merge(spark.read.parquet(dayDirs.map(_.toString): _*)
            .coalesce(shards))
          .write.parquet(outDir.toString)
      }
    }
    foldTable("postings")(_.sortWithinPartitions(col("word"), col("doc_id")))
    // n_docs coalesces to 0: a fold of only zero-doc days must write
    // the (0, null) shape append uses for an empty day, not
    // (null, null) — the deep fsck recount keys its zero-doc
    // exemption on n_docs = 0
    foldTable("stats")(st =>
      st.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        sum(col("sum_dl")).as("sum_dl")))
    dayStore.commitMerge(spark, root, merge)
    CompactionReport(Some(mergedDay), mergeDays.size, before,
      committedFileCount(spark, root))
  }

  /** Integrity audit, report-only, in the shared [[FsckFinding]]
    * severity contract.
    *
    * Shallow (default, metadata only): the kernel's marker and
    * partition checks ([[DayStore.fsckShallow]]) plus one
    * layout-specific check: a committed day with POSTINGS but no
    * STATS partition is an `error` — the probe would score that day's
    * postings while N/avgdl exclude it, skewing every idf/tfc. (The
    * reverse — stats without postings — is the legitimate shape of a
    * zero-doc day and is NOT flagged.)
    *
    * Deep adds the denormalization recount: per committed day,
    * re-derive (n_docs, sum_dl) from the postings (distinct doc_id;
    * one inline `dl` per doc) and compare to the day's stats row —
    * the invariant the probe's constants depend on.
    *
    * The recount is DAY-SCOPED by an audit watermark (round 15 —
    * formerly one full committed-postings scan per audit, an
    * archive-scan per cron tick at 100 TB): each day that recounts
    * CLEAN commits `_audit/<day>` whose content fingerprints the
    * day's on-disk files (names + lengths, both tables), and the next
    * deep audit recounts only days whose fingerprint moved or whose
    * watermark is absent — i.e. days appended, re-appended or
    * compacted since their last clean audit. A day that recounts
    * DIRTY keeps no watermark, so it re-checks every audit until
    * repaired. `force = true` is the full recount on demand.
    * Steady-state deep cost: the new days' postings, not the
    * archive's. */
  def fsck(spark: SparkSession, root: String,
      deep: Boolean = false, force: Boolean = false): Seq[FsckFinding] = {
    val f = fsOf(spark, root)
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckFinding]
    out ++= dayStore.fsckShallow(f, root)
    val committed = committedDays(spark, root)

    // layout-specific: scored postings must be inside N/avgdl's scope
    val statDays = dayStore.dtNames(f, root, "stats").filter(d =>
      dayStore.partFiles(f, new Path(s"$root/stats/dt=$d")).nonEmpty).toSet
    committed.filter(d =>
        dayStore.partFiles(f, new Path(s"$root/postings/dt=$d")).nonEmpty)
      .filterNot(statDays.contains)
      .foreach(d => out += FsckFinding("error", "postings-without-stats",
        s"postings/dt=$d",
        "committed day has postings but no stats row — probes score its " +
          "postings while N/avgdl exclude it, skewing every idf/tfc; " +
          "re-append the day"))

    if (deep)
      dayStore.audit(spark, root, committed, force)(
          d => dayStore.filesFingerprint(f, root, d)) { toRecount =>
        val dirtyDays = scala.collection.mutable.Set.empty[String]
        val posts = PartitionedLayout.readDays(
          spark, s"$root/postings", postingsSchema, toRecount)
          .filter(col("dt").isin(toRecount: _*))
        // per (day, doc): the inline dl must be ONE value across the
        // doc's postings (the denormalization invariant), then the
        // per-day rollup must equal the stats row. Cached: BOTH deep
        // checks fold this frame, and without the cache each collect
        // would re-scan the recounted days' postings
        val perDoc = posts.groupBy(col("dt"), col("doc_id"))
          .agg(min(col("dl")).as("dl_min"), max(col("dl")).as("dl_max"))
          .persist()
        try {
        perDoc.filter(col("dl_min") =!= col("dl_max"))
          .select(col("dt"), col("doc_id")).collect().foreach { r =>
            dirtyDays += r.getString(0)
            out += FsckFinding("error", "inconsistent-inline-dl",
              s"dt=${r.getString(0)}/doc_id=${r.getLong(1)}",
              "a doc's postings disagree on its inline doc length — " +
                "hand-edited partition; re-append the day")
          }
        val recount = perDoc.groupBy(col("dt"))
          .agg(count(lit(1)).as("n2"), sum(col("dl_max")).as("dl2"))
        val stats = PartitionedLayout.readDays(
          spark, s"$root/stats", statsSchema, toRecount)
          .filter(col("dt").isin(toRecount: _*))
        stats.join(recount, Seq("dt"), "full_outer")
          .collect().foreach { r =>
            val dt = r.getAs[String]("dt")
            val (n1, d1) = (Option(r.getAs[java.lang.Long]("n_docs")),
              Option(r.getAs[java.lang.Long]("sum_dl")))
            val n2 = Option(r.getAs[java.lang.Long]("n2"))
            val d2v = Option(r.getAs[java.lang.Long]("dl2"))
            val nOk = (n1.map(_.toLong), n2.map(_.toLong)) match {
              case (Some(a), Some(b)) => a == b
              case (Some(a), None) => a == 0L // zero-doc day: no postings
              case _ => false
            }
            val dlOk = (d1.map(_.toLong), d2v.map(_.toLong)) match {
              case (Some(a), Some(b)) => a == b
              case (None, None) => true // zero-doc day: null sum, no postings
              case _ => false
            }
            if (!nOk || !dlOk) {
              dirtyDays += dt
              out += FsckFinding("error", "stats-recount-mismatch",
                s"dt=$dt",
                s"stats row (n_docs=${n1.orNull}, sum_dl=${d1.orNull}) != " +
                  s"postings recount (n_docs=${n2.orNull}, " +
                  s"sum_dl=${d2v.orNull}) — re-append the day")
            }
          }
        } finally { perDoc.unpersist(); () }
        dirtyDays
      }

    FsckFinding.sorted(out.toSeq)
  }
}
