package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupStore, IncrementalNearDedup}

/** DedupStore: sequential day ingests through DISK equal hand-carried
  * operator state; uncommitted days are invisible (crash before the
  * marker); re-runs are idempotent and don't self-suppress; a day
  * whose survivors all die still commits and the store stays usable. */
class DedupStoreSpec extends AnyFunSuite with SparkSpec {

  private def docs(ids: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toSeq.toDF("doc_id", "text")
  }

  private def ids(df: DataFrame): Set[Long] = {
    val s = spark
    import s.implicits._
    df.select($"doc_id").as[Long].collect().toSet
  }

  private val baseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val baseB = "red orange yellow green blue indigo violet pink brown black"
  private val baseC = "one two three four five six seven eight nine ten"

  private def day1 = docs(
    1L -> baseA,
    2L -> baseC,
    3L -> baseA) // within-day twin of 1 → min-id 1 survives
  private def day2 = docs(
    11L -> baseA, // twin of stored 1 → suppressed
    12L -> baseB) // new → survives
  private def day3 = docs(
    21L -> baseB, // twin of stored 12 → suppressed
    22L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")

  test("three-day ingest through disk equals hand-carried operator state") {
    val root = Files.createTempDirectory("dstore").toString
    val s1 = ids(DedupStore.ingest(day1, root, "2024-01-01"))
    val s2 = ids(DedupStore.ingest(day2, root, "2024-01-02"))
    val s3 = ids(DedupStore.ingest(day3, root, "2024-01-03"))
    assert(DedupStore.committedDays(spark, root)
      === Seq("2024-01-01", "2024-01-02", "2024-01-03"))

    // reference: thread the band/set frames by hand, no disk
    val e = day1.limit(0)
    var bands = IncrementalNearDedup.bandTable(e)
    var sets = IncrementalNearDedup.shingleSets(e)
    val want = Seq(day1, day2, day3).map { d =>
      val surv = IncrementalNearDedup.survivors(d, bands, sets)
      bands = bands.unionByName(IncrementalNearDedup.bandTable(surv))
      sets = sets.unionByName(IncrementalNearDedup.shingleSets(surv))
      ids(surv)
    }
    assert(Seq(s1, s2, s3) === want)
    assert(s1 === Set(1L, 2L) && s2 === Set(12L) && s3 === Set(22L))
  }

  test("a day without its marker is invisible until re-ingested") {
    val root = Files.createTempDirectory("dstore-crash").toString
    DedupStore.ingest(day1, root, "2024-01-01")
    DedupStore.ingest(day2, root, "2024-01-02")
    // crash simulation: day-2 tables exist, marker lost
    assert(new java.io.File(s"$root/_committed/2024-01-02").delete())
    assert(DedupStore.committedDays(spark, root) === Seq("2024-01-01"))
    // a twin of day-2's survivor now SURVIVES — day 2 is invisible
    val probe = docs(31L -> baseB)
    assert(ids(DedupStore.ingest(probe, root, "2024-01-04")) === Set(31L))
    // re-ingest day 2: committed again, twins suppressed afterwards
    DedupStore.ingest(day2, root, "2024-01-02")
    assert(ids(DedupStore.ingest(docs(41L -> baseB), root, "2024-01-05"))
      === Set.empty)
  }

  test("a crashed RE-INGEST leaves the day uncommitted — never a live marker over cleared partitions") {
    val root = Files.createTempDirectory("dstore-rc").toString
    DedupStore.ingestExact(day1, root, "2024-01-01")
    DedupStore.ingestExact(day2, root, "2024-01-02") // 12 (baseB) survives
    assert(DedupStore.committedDays(spark, root) === Seq("2024-01-01", "2024-01-02"))

    // re-ingest of the COMMITTED day 2 dies mid-write: a udf that
    // throws at evaluation, which the exact ingest first reaches in
    // the day's table write — after the day's partitions were cleared.
    // The rows come from a range, not a local Seq: the optimizer folds
    // expressions over a local relation while merely planning
    val s = spark
    import s.implicits._
    val boom = org.apache.spark.sql.functions.udf((t: String) =>
      if (t.length >= 0) throw new RuntimeException("simulated crash") else t)
    val crashing = spark.range(2).select(($"id" + 11L).as("doc_id"),
      boom(org.apache.spark.sql.functions.when($"id" === 0L, baseA)
        .otherwise(baseB)).as("text"))
    intercept[Exception] {
      DedupStore.ingestExact(crashing, root, "2024-01-02")
    }
    // the crash must leave day 2 UNCOMMITTED (loud — committedDays
    // names the gap), not a live marker over its cleared digests,
    // which would silently let every later twin of 12 through
    assert(DedupStore.committedDays(spark, root) === Seq("2024-01-01"),
      "crashed re-ingest must leave the day uncommitted")

    // recovery is the documented one: re-ingest the day
    DedupStore.ingestExact(day2, root, "2024-01-02")
    assert(DedupStore.committedDays(spark, root) === Seq("2024-01-01", "2024-01-02"))
    assert(ids(DedupStore.ingestExact(docs(71L -> baseB), root, "2024-01-03"))
      === Set.empty, "the re-ingested day must suppress its twins again")
  }

  test("re-running a committed day is idempotent and never self-suppresses") {
    val root = Files.createTempDirectory("dstore-rerun").toString
    DedupStore.ingest(day1, root, "2024-01-01")
    val first = ids(DedupStore.ingest(day2, root, "2024-01-02"))
    val again = ids(DedupStore.ingest(day2, root, "2024-01-02"))
    assert(first === again) // same delta → same survivors, not Set()
    assert(again === Set(12L))
    // store state converged: one copy of day-2 state, not two
    val bandsDir = new java.io.File(s"$root/bands")
    assert(bandsDir.listFiles().map(_.getName).count(_ == "dt=2024-01-02") === 1)
    // downstream days behave as if run once
    assert(ids(DedupStore.ingest(docs(51L -> baseB), root, "2024-01-03"))
      === Set.empty)
  }

  test("a backfill that shrinks a day's survivors clears its stale partitions") {
    val root = Files.createTempDirectory("dstore-backfill").toString
    DedupStore.ingest(day1, root, "2024-01-01")
    DedupStore.ingest(day2, root, "2024-01-02") // 12 (baseB) survives
    // corrected day-2 data: its only doc is a twin of stored 1 —
    // survivors become EMPTY; the stale 12/baseB state must go
    assert(ids(DedupStore.ingest(docs(11L -> baseA), root, "2024-01-02"))
      === Set.empty)
    assert(DedupStore.committedDays(spark, root).size === 2)
    // baseB is no longer in the store: a new baseB doc survives
    assert(ids(DedupStore.ingest(docs(61L -> baseB), root, "2024-01-03"))
      === Set(61L))
  }

  test("day values that partition encoding would escape are rejected loudly") {
    val root = Files.createTempDirectory("dstore-val").toString
    for (bad <- Seq("", "a b", "a/b", ".hidden", "d=1")) {
      val e = intercept[IllegalArgumentException](
        DedupStore.ingest(day1, root, bad))
      assert(e.getMessage.contains("day must be"), s"for '$bad'")
    }
  }

  test("day zero on a fresh root and an all-suppressed first day stay total") {
    val root = Files.createTempDirectory("dstore-zero").toString
    assert(DedupStore.committedDays(spark, root) === Nil)
    // first day: pure within-day dedup (empty store)
    assert(ids(DedupStore.ingest(docs(1L -> baseA, 2L -> baseA), root, "d1"))
      === Set(1L))
  }

  test("noveltyReport scores a delta against ALL committed shingles; day zero is 1.0") {
    val root = Files.createTempDirectory("dstore-nov").toString

    // day zero: every scorable delta doc is fully novel; a 2-word doc
    // has no shingles and must be absent, not 0/0
    val fresh = docs(41L -> baseA, 42L -> "just two")
    val z = DedupStore.noveltyReport(fresh, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(z.keySet === Set(41L) && z(41L)._3 === 1.0)

    DedupStore.ingest(day1, root, "2024-01-01") // survivors: 1=baseA, 2=baseC
    DedupStore.ingest(day2, root, "2024-01-02") // survivor: 12=baseB

    val mixed = baseA.split(" ").take(5).mkString(" ") +
      " quill rumba sable tango umber"
    val delta = docs(31L -> baseA, 33L -> ("wholly fresh words never stored " +
      "anywhere in any committed day at all"), 34L -> mixed)
    val got = DedupStore.noveltyReport(delta, root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap

    // independent driver-side reference over RAW string shingles:
    // membership of hashed shingles == membership of raw shingles
    // (the hash is a function of the shingle)
    def sh(t: String): Set[String] = {
      val ws = t.trim.split("\\s+")
      (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val store = sh(baseA) ++ sh(baseC) ++ sh(baseB)
    for ((id, text) <- Seq(31L -> baseA, 33L -> ("wholly fresh words never " +
        "stored anywhere in any committed day at all"), 34L -> mixed)) {
      val s = sh(text)
      val novel = (s -- store).size.toLong
      assert(got(id) === ((s.size.toLong, novel, novel.toDouble / s.size)),
        s"doc $id")
    }
    assert(got(31L)._3 === 0.0) // archived verbatim → nothing new
    assert(got(33L)._3 === 1.0) // fully fresh
    assert(got(34L)._3 > 0.0 && got(34L)._3 < 1.0) // the mixed case

    // self-match guard: once the delta's own day commits, scoring it
    // WITHOUT exceptDay self-matches (doc 33's shingles are now
    // stored → novelty 0); excluding the day restores the honest
    // "what was new when it arrived" answer
    DedupStore.ingest(delta, root, "2024-01-03")
    val selfMatched = DedupStore.noveltyReport(delta, root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty")).toMap
    assert(selfMatched(33L) === 0.0)
    val excluded = DedupStore.noveltyReport(delta, root,
        exceptDay = Some("2024-01-03")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(excluded === got)
  }
}
