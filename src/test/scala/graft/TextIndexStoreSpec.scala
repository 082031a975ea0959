package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextIndexStore

/** TextIndexStore: index-built BM25 equals the from-scratch formula,
  * day appends are additive and idempotent, torn appends are
  * invisible, degenerate docs corrupt-drop, and the probe reads the
  * committed postings with dt partition filters + word pushdown. */
class TextIndexStoreSpec extends AnyFunSuite with SparkSpec {

  private val docs = Seq(
    (1L, "the cat sat on the mat"), // the×2, dl 6
    (2L, "of mice and men"),        // of, and, dl 4
    (3L, "the quick brown fox"),    // the, dl 4
    (4L, "lorem ipsum dolor"),      // no query terms, dl 3
    (5L, "and and and the"))        // and×3, the, dl 4
  private val terms = Seq("the", "of", "and")

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-textindex-$tag-").toString

  /** The BM25 definition, straight from the scaladoc, on the tiny
    * corpus — the independent arithmetic the index must reproduce. */
  private def expectedScores: Map[Long, (Double, Long)] = {
    val tf = Map( // (doc, term) -> tf
      (1L, "the") -> 2L, (3L, "the") -> 1L, (5L, "the") -> 1L,
      (2L, "of") -> 1L, (2L, "and") -> 1L, (5L, "and") -> 3L)
    val dl = Map(1L -> 6L, 2L -> 4L, 3L -> 4L, 4L -> 3L, 5L -> 4L)
    val n = 5.0
    val avgdl = 21.0 / 5.0
    val df = Map("the" -> 3L, "of" -> 1L, "and" -> 2L)
    def idf(t: String) = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
    def tfc(f: Long, l: Long) =
      (f * (TextIndexStore.K1 + 1.0)) /
        (f + TextIndexStore.K1 * (1.0 - TextIndexStore.B +
          l / avgdl * TextIndexStore.B))
    dl.keys.flatMap { d =>
      val hit = terms.filter(t => tf.contains((d, t)))
      if (hit.isEmpty) None
      else Some(d -> (
        terms.map(t => tf.get((d, t)).map(f => idf(t) * tfc(f, dl(d))).getOrElse(0.0)).sum,
        hit.size.toLong))
    }.toMap
  }

  test("index-built BM25 equals the from-scratch formula; batch == incremental") {
    val r1 = tmpRoot("inc"); val r2 = tmpRoot("batch")
    assert(TextIndexStore.append(docsDf(docs.take(3)), r1, "day-1") === 3L)
    assert(TextIndexStore.append(docsDf(docs.drop(3)), r1, "day-2") === 2L)
    assert(TextIndexStore.append(docsDf(docs), r2, "all") === 5L)
    val inc = TextIndexStore.topK(spark, r1, terms, topK = 10).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getInt(3)))
    val batch = TextIndexStore.topK(spark, r2, terms, topK = 10).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getInt(3)))
    assert(inc.toSeq === batch.toSeq,
      "a 2-day store must answer exactly like a 1-append store")
    val got = inc.toMap
    assert(got.keySet === expectedScores.keySet, "doc 4 has no query term")
    for ((d, (score, hits)) <- expectedScores) {
      assert(math.abs(got(d)._1 - score) < 1e-12, s"doc $d score")
      assert(got(d)._2 === hits, s"doc $d n_terms_hit")
    }
    // ranks follow (score desc, doc_id asc)
    val byRank = inc.sortBy(_._2._3).map(_._1).toSeq
    val want = expectedScores.toSeq
      .sortBy { case (d, (sc, _)) => (-sc, d) }.map(_._1)
    assert(byRank === want)
    assert(TextIndexStore.corpusStats(spark, r1) === ((5L, 4.2)))
  }

  test("re-running a day is idempotent; a torn append is invisible until re-committed") {
    val r = tmpRoot("torn")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    val before = TextIndexStore.topK(spark, r, terms, 10).collect().toSeq
    // re-run the same day: dynamic overwrite, not duplication
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    assert(TextIndexStore.corpusStats(spark, r)._1 === 3L)
    assert(TextIndexStore.topK(spark, r, terms, 10).collect().toSeq === before)
    // crash image: day-2's partitions land but its marker is deleted
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val fs = new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$r/markers/day-2"), false))
    assert(TextIndexStore.committedDays(spark, r) === Seq("day-1"))
    assert(TextIndexStore.topK(spark, r, terms, 10).collect().toSeq === before,
      "uncommitted partitions must not score")
    // replaying the append heals the crash
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    assert(TextIndexStore.corpusStats(spark, r)._1 === 5L)
  }

  test("degenerate docs corrupt-drop at append; empty store probes empty") {
    val s = spark
    import s.implicits._
    val bad = Seq[(java.lang.Long, String)](
      (null, "real text lost to a null id"),
      (7L, null), (8L, ""), (9L, "   \t  "))
      .toDF("doc_id", "text")
    val r = tmpRoot("degen")
    assert(TextIndexStore.append(bad, r, "day-1") === 0L,
      "null-id, null-text and token-less docs must not index")
    val empty = TextIndexStore.topK(spark, r, terms, 5)
    assert(empty.collect().isEmpty)
    assert(empty.schema.fieldNames.toSeq ===
      Seq("doc_id", "bm25", "n_terms_hit", "rank"))
    assert(TextIndexStore.corpusStats(spark, r) === ((0L, 0.0)))
    // an id that fails the long cast nulls AFTER the isNotNull check
    // — it must corrupt-drop, not index as a null-keyed posting
    val stringIds = Seq(("abc", "real words here"), ("7", "more real words"))
      .toDF("doc_id", "text")
    val r2 = tmpRoot("strid")
    assert(TextIndexStore.append(stringIds, r2, "day-1") === 1L)
    assert(TextIndexStore.topK(spark, r2, Seq("real"), 5)
      .select($"doc_id").as[Long].collect().toSeq === Seq(7L))
  }

  test("re-running a day whose docs ALL corrupt-drop clears its prior postings") {
    val s = spark
    import s.implicits._
    val r = tmpRoot("empty-replay")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val day1Only = TextIndexStore.topK(spark, r, terms, 10).collect()
      .map(r0 => r0.getLong(0)).toSet.intersect(Set(1L, 2L, 3L))
    assert(day1Only === Set(1L, 2L, 3L), "sanity: day-1 docs score before the replay")
    // corrected replay: every day-1 doc turns out blank/invalid — the
    // re-append must RETRACT the day's postings, not leave the prior
    // run's standing under a (0, null) stats row (ghost postings that
    // N/avgdl exclude — the advice's exact skew)
    val allBad = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, " \t "))
      .toDF("doc_id", "text")
    assert(TextIndexStore.append(allBad, r, "day-1") === 0L)
    assert(TextIndexStore.corpusStats(spark, r) === ((2L, 3.5)),
      "stats must cover only day-2's two docs")
    val after = TextIndexStore.topK(spark, r, terms, 10).collect()
      .map(_.getLong(0)).toSet
    assert(after.intersect(Set(1L, 2L, 3L)).isEmpty,
      "retracted day-1 postings must not score")
    assert(TextIndexStore.fsck(spark, r, deep = true)
      .forall(_.severity != "error"),
      s"${TextIndexStore.fsck(spark, r, deep = true)}")
  }

  test("probe refuses duplicate terms, empty terms, bad day names refused at append") {
    val r = tmpRoot("args")
    TextIndexStore.append(docsDf(docs), r, "day-1"): Unit
    intercept[IllegalArgumentException] {
      TextIndexStore.topK(spark, r, Seq("the", "the"), 5)
    }
    intercept[IllegalArgumentException] {
      TextIndexStore.topK(spark, r, Seq.empty, 5)
    }
    intercept[IllegalArgumentException] {
      TextIndexStore.append(docsDf(docs), r, "merged-1")
    }
    intercept[IllegalArgumentException] {
      TextIndexStore.append(docsDf(docs), r, ".hidden")
    }
  }

  test("compact folds aged days probe-identically; refused re-append; crash debris swept") {
    val r = tmpRoot("compact")
    // 4 one-doc days + 1 recent day; keepDays=1 folds the first 4
    docs.zipWithIndex.foreach { case (doc, i) =>
      TextIndexStore.append(docsDf(Seq(doc)), r, f"2024-07-0${i + 1}%s"): Unit
    }
    val before = TextIndexStore.topK(spark, r, terms, 10).collect().toSeq
    val filesBefore = TextIndexStore.committedFileCount(spark, r)
    val rep = TextIndexStore.compact(spark, r, keepDays = 1)
    assert(rep.foldedDays === 4)
    assert(rep.mergedDay.exists(_.startsWith("merged-4d-")))
    assert(rep.filesBefore === filesBefore)
    assert(rep.filesAfter < filesBefore,
      s"fold must shrink the committed file count: $rep")
    assert(TextIndexStore.committedDays(spark, r) ===
      Seq("2024-07-05", rep.mergedDay.get))
    assert(TextIndexStore.topK(spark, r, terms, 10).collect().toSeq === before,
      "the committed view must hold exactly one copy of every posting")
    assert(TextIndexStore.corpusStats(spark, r) === ((5L, 4.2)))
    // the merged postings files must stay word-sorted — the row-group
    // prune under the word-IN pushdown survives compaction (the sort
    // runs AFTER the coalesce, or concatenated runs lose it)
    val mergedDir = new java.io.File(s"$r/postings/dt=${rep.mergedDay.get}")
    val partList = mergedDir.listFiles().filter(_.getName.startsWith("part-"))
    assert(partList.nonEmpty)
    partList.foreach { pf =>
      val words = spark.read.parquet(pf.getAbsolutePath)
        .select("word").collect().map(_.getString(0)).toSeq
      assert(words === words.sorted, s"merged file ${pf.getName} lost its word sort")
    }
    // a folded day can no longer re-append (postings would double)
    val ex = intercept[IllegalStateException] {
      TextIndexStore.append(docsDf(docs.take(1)), r, "2024-07-01")
    }
    assert(ex.getMessage.contains("double-count"))
    // replaced dirs survive as invisible garbage (reader grace
    // period), then the NEXT compact's sweep deletes them
    val fs = new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$r/postings/dt=2024-07-01")),
      "no sweep at fold time — grace period for in-flight readers")
    TextIndexStore.compact(spark, r, keepDays = 1): Unit // no-op fold, sweeps
    assert(!fs.exists(new Path(s"$r/postings/dt=2024-07-01")))
    assert(!fs.exists(new Path(s"$r/markers/2024-07-01")))
    assert(TextIndexStore.topK(spark, r, terms, 10).collect().toSeq === before)
    // crash image: merged partitions written but the marker never
    // landed → debris, invisible, swept by the next run
    val rep2root = tmpRoot("crash")
    docs.take(2).zipWithIndex.foreach { case (doc, i) =>
      TextIndexStore.append(docsDf(Seq(doc)), rep2root, s"day-${i + 1}"): Unit
    }
    val fs2 = new Path(rep2root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.mkdirs(new Path(s"$rep2root/postings/dt=merged-2d-deadbeef0000"))
    val beforeCrash = TextIndexStore.topK(spark, rep2root, terms, 10).collect().toSeq
    TextIndexStore.compact(spark, rep2root, keepDays = 0): Unit
    assert(!fs2.exists(new Path(s"$rep2root/postings/dt=merged-2d-deadbeef0000")),
      "orphaned merged debris from a crashed attempt must be swept")
    assert(TextIndexStore.topK(spark, rep2root, terms, 10).collect().toSeq
      === beforeCrash)
  }

  test("a fold of only zero-doc days keeps the (0, null) stats shape; deep fsck stays clean") {
    val s = spark
    import s.implicits._
    val r = tmpRoot("zerofold")
    // three committed zero-doc days (blank corpora), then one real day
    val blank = Seq((1L, "   ")).toDF("doc_id", "text")
    for (d <- 1 to 3)
      assert(TextIndexStore.append(blank, r, s"2024-07-0$d") === 0L)
    TextIndexStore.append(docsDf(docs), r, "2024-07-04"): Unit
    val rep = TextIndexStore.compact(spark, r, keepDays = 1)
    assert(rep.foldedDays === 3)
    assert(TextIndexStore.corpusStats(spark, r) === ((5L, 4.2)))
    assert(TextIndexStore.fsck(spark, r, deep = true)
      .forall(_.severity == "info"),
      s"${TextIndexStore.fsck(spark, r, deep = true)}")
  }

  test("fsck: clean store audits empty; planted faults land typed findings") {
    val s = spark
    import s.implicits._
    val r = tmpRoot("fsck")
    TextIndexStore.append(docsDf(docs.take(3)), r, "2024-07-01"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "2024-07-02"): Unit
    assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty,
      "freshly appended store must audit clean, deep recount included")
    val fs = new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fault 1: a committed day loses its stats partition — probes
    // would score its postings outside N/avgdl's scope
    fs.delete(new Path(s"$r/stats/dt=2024-07-02"), true)
    val f1 = TextIndexStore.fsck(spark, r)
    assert(f1.exists(x => x.severity == "error" &&
      x.check == "postings-without-stats" && x.subject.contains("2024-07-02")),
      s"$f1")
    // fault 2: a hand-restored stats partition with wrong numbers —
    // only the deep recount can see it
    Seq((99L, 9999L, "2024-07-02")).toDF("n_docs", "sum_dl", "dt")
      .write.parquet(s"$r/stats/dt=2024-07-02")
    assert(TextIndexStore.fsck(spark, r).forall(_.severity != "error"),
      "shallow pass cannot see a numeric lie")
    val f2 = TextIndexStore.fsck(spark, r, deep = true)
    assert(f2.exists(x => x.severity == "error" &&
      x.check == "stats-recount-mismatch" && x.subject == "dt=2024-07-02"),
      s"$f2")
  }

  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      case r2: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scansIn(r2.child)
      // the deep audit caches its shared rollup — the file scan lives
      // INSIDE the InMemoryRelation's cached plan
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        scansIn(im.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansIn)
    }

  /** Total `numFiles` across every postings scan `body` executes —
    * the deep audit's actual read volume, captured off the query
    * execution listener (PLANNED paths, not plan strings). A scan
    * NODE counts once however many queries reference it through a
    * cache (the cache populates on the first execution; later reads
    * re-see the same node, not a new scan). */
  private def postingsFilesRead(root: String)(body: => Unit): Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        scansIn(qe.executedPlan).foreach { sc =>
          if (seen.add(sc) && sc.relation.location.rootPaths.exists(
              _.toString.contains(s"$root/postings")))
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

  private def postingsFileCount(root: String, day: String): Long =
    Option(new java.io.File(s"$root/postings/dt=$day").listFiles())
      .map(_.count(_.getName.startsWith("part-")).toLong).getOrElse(0L)

  test("deep fsck is day-scoped: only days modified since their clean audit re-read; dirty days re-surface; force recounts all") {
    val r = tmpRoot("watermark")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val (f1Day1, f1Day2) = (postingsFileCount(r, "day-1"), postingsFileCount(r, "day-2"))
    // audit 1: no watermarks yet — both days recount
    val read1 = postingsFilesRead(r) {
      assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty)
    }
    assert(read1 === f1Day1 + f1Day2, s"first audit reads everything: $read1")
    // audit 2: nothing changed — ZERO postings files re-read
    val read2 = postingsFilesRead(r) {
      assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty)
    }
    assert(read2 === 0L, s"untouched days must not be re-read: $read2")
    // a re-appended day moves its fingerprint — ONLY it recounts
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val f2Day2 = postingsFileCount(r, "day-2")
    val read3 = postingsFilesRead(r) {
      assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty)
    }
    assert(read3 === f2Day2,
      s"only the modified day recounts: read $read3, day-2 holds $f2Day2")
    // a numeric lie in day-1's stats changes its fingerprint too
    // (fresh part files) — it re-audits and lands the error
    val s = spark
    import s.implicits._
    val fs = new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$r/stats/dt=day-1"), true): Unit
    Seq((99L, 9999L, "day-1")).toDF("n_docs", "sum_dl", "dt")
      .write.parquet(s"$r/stats/dt=day-1")
    val d1 = TextIndexStore.fsck(spark, r, deep = true)
    assert(d1.exists(x => x.check == "stats-recount-mismatch" &&
      x.subject == "dt=day-1"), s"$d1")
    // dirty day keeps NO watermark: the SAME fault re-surfaces at the
    // next audit even though its files did not move again
    val read5 = postingsFilesRead(r) {
      val d2 = TextIndexStore.fsck(spark, r, deep = true)
      assert(d2.exists(_.check == "stats-recount-mismatch"), s"$d2")
    }
    assert(read5 === f1Day1, "a dirty day must re-check every audit")
    // repair by re-append → clean audit, watermark restored
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty)
    assert(postingsFilesRead(r) {
      assert(TextIndexStore.fsck(spark, r, deep = true).isEmpty)
    } === 0L)
    // force: the full recount on demand
    val readF = postingsFilesRead(r) {
      assert(TextIndexStore.fsck(spark, r, deep = true, force = true).isEmpty)
    }
    assert(readF === postingsFileCount(r, "day-1") + f2Day2,
      s"force must recount the whole committed set: $readF")
    // compaction rewrites where rows live: the merged day audits as a
    // NEW day, replaced days' watermarks are housekept away
    TextIndexStore.compact(spark, r, keepDays = 0): Unit
    assert(TextIndexStore.fsck(spark, r, deep = true)
      .forall(_.severity == "info"))
    assert(!fs.exists(new Path(s"$r/_audit/day-1")),
      "watermark of a folded day must be housekept away")
  }

  test("topKBatch: per qid exactly the single call's rows, bit-equal scores, ONE postings scan for the whole batch") {
    val r = tmpRoot("batchprobe")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val queries = Seq(
      10L -> Seq("the", "of"),
      20L -> Seq("and"),
      30L -> Seq("the", "and", "of"),
      40L -> Seq("zzz-no-such-term"))
    val batch = TextIndexStore.topKBatch(spark, r, queries, topK = 10)
    batch.collect(): Unit
    val got = batch.collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getDouble(2), x.getLong(3), x.getInt(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._4).toSeq).toMap
    for ((qid, terms) <- queries) {
      val single = TextIndexStore.topK(spark, r, terms, topK = 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2), x.getInt(3)))
        .sortBy(_._4).toSeq
      assert(got.getOrElse(qid, Seq.empty) === single,
        s"batch answer for query $qid diverged from the single call")
    }
    // the whole batch reads the postings ONCE: a single parquet scan
    // node in the executed plan (df comes from a window over the same
    // scan, never a second read)
    val scans = scansIn(batch.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains(s"$r/postings")))
    assert(scans.size === 1,
      s"batch probe must scan the postings exactly once, got ${scans.size}")
    assert(scans.head.partitionFilters.nonEmpty,
      "dt filter must reach the file index")
    assert(scans.head.metadata("PushedFilters").contains("In(word"),
      s"union-of-terms pushdown missing: ${scans.head.metadata("PushedFilters")}")
    // per-qid top-k keeps the q146 map-side pre-limit shape
    val explained = batch.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("WindowGroupLimit".r.findAllIn(explained).size >= 2,
      "per-qid top-k lost its partial/final WindowGroupLimit")
    // contract errors: duplicate qids, duplicate terms inside a query
    intercept[IllegalArgumentException] {
      TextIndexStore.topKBatch(spark, r, Seq(1L -> Seq("a"), 1L -> Seq("b")), 5)
    }
    intercept[IllegalArgumentException] {
      TextIndexStore.topKBatch(spark, r, Seq(1L -> Seq("the", "the")), 5)
    }
    // empty store: the typed empty frame
    val r2 = tmpRoot("batchempty")
    val empty = TextIndexStore.topKBatch(spark, r2, queries, 5)
    assert(empty.collect().isEmpty && empty.schema.fieldNames.toSeq ===
      Seq("qid", "doc_id", "bm25", "n_terms_hit", "rank"))
  }

  test("topKBatch over the broadcast cap returns the under-cap rows; refuses only past graft.maxProbeBatch") {
    val r = tmpRoot("batchguard")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val queries = Seq(
      10L -> Seq("the", "of"),
      20L -> Seq("and"),
      30L -> Seq("the", "and", "of"))
    def run() = TextIndexStore.topKBatch(spark, r, queries, topK = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3),
        x.getInt(4))).sortBy(t => (t._1, t._5)).toSeq
    val base = run()
    try {
      // 6 term rows over 3 distinct words at cap 1: the word set and
      // the query terms stop broadcasting (semi-join and shuffled
      // join) — the rows must be bit-identical to the broadcast plan's
      spark.conf.set("graft.maxBroadcastRows", "1")
      assert(run() === base, "over-cap batch diverged from the broadcast plan")
      // refusal is a separate, much larger knob — and it names itself
      spark.conf.set("graft.maxProbeBatch", "2")
      val e = intercept[IllegalArgumentException] {
        TextIndexStore.topKBatch(spark, r, queries, topK = 10)
      }
      assert(e.getMessage.contains("graft.maxProbeBatch"), e.getMessage)
    } finally {
      spark.conf.unset("graft.maxBroadcastRows")
      spark.conf.unset("graft.maxProbeBatch")
    }
  }

  test("topKBatchTable == one topK call per qid; duplicate terms keep first occurrence; over-cap shuffled fallback identical; empty store typed-empty") {
    val s = spark
    import s.implicits._
    val r = tmpRoot("batchtable")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val queries = Seq(
      10L -> Seq("the", "of"),
      20L -> Seq("and"),
      30L -> Seq("the", "and", "of"))
    // the reference: one single-query topK call per qid
    def single(terms: Seq[String]) =
      TextIndexStore.topK(spark, r, terms, topK = 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2), x.getInt(3)))
        .sortBy(_._4).toSeq
    val expect = queries.flatMap { case (qid, terms) =>
      single(terms).map { case (d, b, h, rk) => (qid, d, b, h, rk) }
    }
    val qtab = queries.toDF("qid", "terms")
    def fromTable(df: org.apache.spark.sql.DataFrame) =
      TextIndexStore.topKBatchTable(spark, r, df, "qid", "terms", topK = 10)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3),
          x.getInt(4))).sortBy(t => (t._1, t._5)).toSeq
    assert(fromTable(qtab) === expect,
      "table path diverged from the driver-list batch")
    // duplicate terms corrupt-drop to the first occurrence (a table
    // cannot refuse without a validation pass): qid 40's answer must
    // equal the dup-free query's
    val dup = Seq(40L -> Seq("the", "the", "of")).toDF("qid", "terms")
    val dupGot = fromTable(dup).map { case (_, d, b, h, rk) => (d, b, h, rk) }
    val dupWant = single(Seq("the", "of"))
    assert(dupGot === dupWant, "dup terms must fold like their dedup'd query")
    // under-cap two-phase pushdown (round 17): the collected word set
    // rides the postings scan as `word IN (…)` — row-group pruning
    // back, the q149 plan — with identical rows (asserted above)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
        case r2: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scansOf(r2.child)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scansOf)
      }
    val tdf = TextIndexStore.topKBatchTable(spark, r, qtab, "qid", "terms", 10)
    tdf.collect(): Unit
    val pScans = scansOf(tdf.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "word"))
    assert(pScans.nonEmpty && pScans.forall(
        _.metadata("PushedFilters").contains("In(word")),
      s"under-cap batch must push word IN: ${pScans.map(_.metadata("PushedFilters"))}")
    // over the cap: word set and qterms stop broadcasting — the
    // postings filter reverts to the shuffled semi-join, identical
    try {
      spark.conf.set("graft.maxBroadcastRows", "1")
      assert(fromTable(qtab) === expect, "shuffled-fallback diverged")
      val tdf2 = TextIndexStore.topKBatchTable(spark, r, qtab, "qid", "terms", 10)
      tdf2.collect(): Unit
      assert(scansOf(tdf2.queryExecution.executedPlan)
          .filter(_.output.exists(_.name == "word"))
          .forall(!_.metadata("PushedFilters").contains("In(word")),
        "over-cap batch must not collect the word set to the driver")
    } finally spark.conf.unset("graft.maxBroadcastRows")
    // empty store: typed empty with the TABLE's qid type
    val r2 = tmpRoot("batchtable-empty")
    val empty = TextIndexStore.topKBatchTable(spark, r2, qtab, "qid", "terms", 5)
    assert(empty.collect().isEmpty && empty.schema.fieldNames.toSeq ===
      Seq("qid", "doc_id", "bm25", "n_terms_hit", "rank"))
  }

  test("retireRoots: a reindex-replaced text root is marked, survives its grace cadence, then is deleted; the discipline stamp rides the pointer") {
    val base = java.nio.file.Files.createTempDirectory("graft-ti-retire-").toString
    val (oldRoot, newRoot, ptr) = (s"$base/old", s"$base/new", s"$base/ptr")
    TextIndexStore.append(docsDf(docs.take(3)), oldRoot, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), oldRoot, "day-2"): Unit
    TextIndexStore.publishRoot(spark, ptr, oldRoot, "ws-v1"): Unit
    assert(TextIndexStore.currentDiscipline(spark, ptr) === Some("ws-v1"))
    // same-tokenizer reindex (a layout rebuild): answers must carry
    val srcByDay = Map("day-1" -> docs.take(3), "day-2" -> docs.drop(3))
    TextIndexStore.rebuildVia(spark, ptr, newRoot, "ws-v1-rebuild") {
      (target, days) => days.foreach(d =>
        TextIndexStore.append(docsDf(srcByDay(d)), target, d): Unit)
    }: Unit
    assert(TextIndexStore.currentDiscipline(spark, ptr) === Some("ws-v1-rebuild"),
      "the reindex's WHY must land in the pointer snapshot")
    // an in-flight reader that resolved the pointer pre-flip
    def probeOld() = TextIndexStore.topK(spark, oldRoot, terms, 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getInt(3))).sortBy(_._3).toSeq
    val preFlip = probeOld()
    val r1 = TextIndexStore.retireRoots(spark, ptr, keepRoots = 1)
    assert(r1.map(_.action) === Seq("marked"), s"$r1")
    assert(probeOld() === preFlip,
      "marked root must survive its grace cadence for in-flight readers")
    val r2 = TextIndexStore.retireRoots(spark, ptr, keepRoots = 1)
    assert(r2.map(_.action) === Seq("deleted"), s"$r2")
    assert(!new java.io.File(oldRoot).exists(),
      "grace elapsed — the reindex disk leak is closed")
    assert(TextIndexStore.topKVia(spark, ptr, terms, 10).collect().nonEmpty,
      "serving never referenced the retired root")
    assert(TextIndexStore.retireRoots(spark, ptr, keepRoots = 1) === Nil,
      "steady state: nothing to mark or delete")
  }

  test("pointered root: probes serve the OLD root through a live reindex, flip atomically, write-window day re-ingested under the new tokenizer") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ti-ptr-").toString
    val (oldRoot, newRoot, ptr) = (s"$base/old", s"$base/new", s"$base/ptr")
    // the SOURCE of truth a reindex re-tokenizes from (grows mid-rebuild)
    val source = scala.collection.mutable.Map(
      "day-1" -> docs.take(3), "day-2" -> docs.drop(3))
    source.foreach { case (d, rows) =>
      TextIndexStore.append(docsDf(rows), oldRoot, d): Unit }
    TextIndexStore.publishRoot(spark, ptr, oldRoot): Unit
    assert(TextIndexStore.currentRoot(spark, ptr) === oldRoot)
    val e0 = intercept[IllegalArgumentException] {
      TextIndexStore.currentRoot(spark, s"$base/nowhere") }
    assert(e0.getMessage.contains("publishRoot"), e0.getMessage)
    def probePtr() = TextIndexStore.topKVia(spark, ptr, terms, 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getInt(3))).sortBy(_._3).toSeq
    val oldAnswer = probePtr()

    // the NEW tokenization discipline: uppercase text (so new-root
    // postings differ detectably — 'the' matches nothing there)
    def reingestUpper(target: String, days: Seq[String]): Unit =
      days.foreach { d =>
        TextIndexStore.append(
          docsDf(source(d)).withColumn("text", upper($"text")),
          target, d): Unit
      }
    var midRebuildChecked = false
    val replaced = TextIndexStore.rebuildVia(spark, ptr, newRoot) {
      (target, days) =>
        if (!midRebuildChecked) {
          midRebuildChecked = true
          // mid-rebuild: the pointer still serves the OLD root
          assert(probePtr() === oldAnswer, "probe diverged mid-reindex")
          // and a writer lands one more day on the OLD root (the
          // write window) — the post-flip pass must re-ingest it
          source("day-3") = Seq((6L, "the final day arrives"))
          TextIndexStore.append(docsDf(source("day-3")), oldRoot, "day-3"): Unit
        }
        reingestUpper(target, days)
    }
    assert(replaced === oldRoot)
    assert(TextIndexStore.currentRoot(spark, ptr) === newRoot)
    assert(TextIndexStore.committedDays(spark, newRoot).toSet ===
      Set("day-1", "day-2", "day-3"),
      "write-window day must land in the new root")
    assert(TextIndexStore.missingDays(spark, oldRoot, newRoot) === Nil)
    // the flip changed the tokenization: lowercase terms now miss,
    // and the new root answers exactly like a batch-built reference
    assert(probePtr().isEmpty, "uppercase reindex must not match 'the'")
    val reference = s"$base/ref"
    (source - "x").toSeq.sortBy(_._1).foreach { case (d, rows) =>
      TextIndexStore.append(docsDf(rows).withColumn("text", upper($"text")),
        reference, d): Unit }
    val want = TextIndexStore.topK(spark, reference, terms.map(_.toUpperCase), 10)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getInt(3)))
      .sortBy(_._3).toSeq
    assert(TextIndexStore.topKVia(spark, ptr, terms.map(_.toUpperCase), 10)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getInt(3)))
      .sortBy(_._3).toSeq === want,
      "pointer must serve the reindexed postings bit-identically")
    // the old root is now retirable: serving never references it
    val fs = new Path(oldRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(oldRoot), true))
    assert(TextIndexStore.topKVia(spark, ptr, terms.map(_.toUpperCase), 10)
      .collect().nonEmpty)

    // a reingest that produces NOTHING fails PRE-flip (publishRoot
    // refuses a rootless path) — the pointer must not move
    val e1 = intercept[IllegalArgumentException] {
      TextIndexStore.rebuildVia(spark, ptr, s"$base/nothing") { (_, _) => () }
    }
    assert(e1.getMessage.contains("no text index there"), e1.getMessage)
    assert(TextIndexStore.currentRoot(spark, ptr) === newRoot)

    // a PARTIAL reingest flips but leaves a post-flip gap: the wrap
    // names the phase-scoped recovery (never delete the serving root)
    val badNew = s"$base/bad"
    val eb = intercept[IllegalStateException] {
      TextIndexStore.rebuildVia(spark, ptr, badNew) {
        (t, days) => reingestUpper(t, days.take(1))
      }
    }
    assert(eb.getMessage.contains("do NOT delete"), eb.getMessage)
    assert(TextIndexStore.currentRoot(spark, ptr) === badNew,
      "post-flip failure: the pointer already serves the new root")
    // the documented remedy closes the gap
    reingestUpper(badNew, TextIndexStore.missingDays(spark, newRoot, badNew))
    assert(TextIndexStore.missingDays(spark, newRoot, badNew) === Nil)
  }

  test("probe plan: dt partition filters + word pushdown on the postings scan") {
    val r = tmpRoot("plan")
    TextIndexStore.append(docsDf(docs.take(3)), r, "day-1"): Unit
    TextIndexStore.append(docsDf(docs.drop(3)), r, "day-2"): Unit
    val probe = TextIndexStore.topK(spark, r, terms, 5)
    probe.collect(): Unit
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
        case r2: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scansOf(r2.child)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scansOf)
      }
    val postingScans = scansOf(probe.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "word"))
    assert(postingScans.nonEmpty, "no postings scan in the probe plan")
    postingScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        "dt filter must reach the file index (committed-day prune)")
      assert(sc.metadata("PushedFilters").contains("In(word"),
        s"word IN pushdown missing: ${sc.metadata("PushedFilters")}")
    }
  }
}
