package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, IvfStore, ProductQuantizer}

/** PQ-ENCODED SERVING inside [[IvfStore]] (round 15): codes live as a
  * sibling cell-partitioned table, commit under the day marker,
  * follow cells through compaction/rebuild, and [[IvfStore.adcProbe]]
  * reads CODE bytes — never vector bytes — unless re-ranking. */
class IvfStorePqSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 4
  private val M = 2 // subspaces; subDim = 2
  private val rnd = new scala.util.Random(47)
  private val centers =
    Seq(Seq(10.0, 0, 0, 0), Seq(0.0, 10, 0, 0), Seq(0.0, 0, 10, 0))
  private def around(cx: Seq[Double]): Array[Double] =
    cx.toArray.map(_ + rnd.nextGaussian() * 0.3)
  private def mkRows(ids: Range): Seq[(Long, Array[Double])] =
    ids.map(i => i.toLong -> around(centers(i % 3)))
  private def vecs(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def l2d2(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scansOf(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }

  /** Driver-side ADC oracle: encode exactly as [[ProductQuantizer
    * .encode]] (argmin per subspace, ties to the FIRST codeword) and
    * score exactly as the probe's LUT fold (per-subspace d2 summed in
    * subspace order) — the same IEEE op order, so equality is exact. */
  private def expectAdc(model: graft.operators.PqModel,
      corpus: Seq[(Long, Array[Double])], q: Array[Double],
      topK: Int): Seq[(Long, Double)] = {
    val sd = model.subDim
    def codeOf(v: Array[Double], s: Int): Int = {
      val ds = model.codebooks(s).map(cw => l2d2(v.slice(s * sd, (s + 1) * sd), cw))
      ds.indexOf(ds.min)
    }
    corpus.map { case (id, v) =>
      var t = 0.0
      for (s <- 0 until model.m)
        t += l2d2(q.slice(s * sd, (s + 1) * sd), model.codebooks(s)(codeOf(v, s)))
      (id, t)
    }.sortBy { case (id, d2) => (d2, id) }.take(topK)
  }

  test("enablePq backfills committed days, append encodes inline, full ADC probe is exact over reconstructions, rerank returns float-exact results") {
    val root = Files.createTempDirectory("ivfpq").toString
    val day1 = mkRows(0 until 30)
    val day2 = mkRows(100 until 130)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 4)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    assert(IvfStore.pqModel(spark, root).isEmpty)
    // enablePq AFTER a committed day: that day backfills
    assert(IvfStore.enablePq(spark, root, m = M, k = 4, iters = 3) === 1)
    // a later append encodes inline — no backfill step
    IvfStore.append(vecs(day2), root, "2024-07-02")
    for (d <- Seq("2024-07-01", "2024-07-02"))
      assert(new java.io.File(s"$root/codes/dt=$d").isDirectory, s"codes for $d")
    val model = IvfStore.pqModel(spark, root).get
    assert(model.dim === Dim && model.m === M,
      "codebooks must round-trip through the marker")

    val queries = Seq(1000L -> centers(0).toArray, 1001L -> centers(2).toArray)
    // full probe (nprobe >= k): ADC top-k == brute force over the
    // reconstructed committed corpus, bit-exactly (the q150 argument)
    val adc = IvfStore.adcProbe(spark, root, "vec_id", queries,
      nprobe = 99, topK = 4)
    assert(adc.schema.fieldNames.toSeq === Seq("qid", "vec_id", "adc_d2", "rank"))
    val got = adc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    for ((qid, qv) <- queries) {
      val expect = expectAdc(model, day1 ++ day2, qv, 4).zipWithIndex
        .map { case ((id, d2), i) => (qid, id, d2, i + 1) }
      assert(got(qid).sortBy(_._4).toSeq === expect, s"query $qid")
    }

    // rerank over a pool covering the whole corpus == the exact float
    // probe (same distances, same ranks, same schema semantics)
    val rer = IvfStore.adcProbe(spark, root, "vec_id", queries,
      nprobe = 99, topK = 4, rerank = day1.size + day2.size)
    val flt = IvfStore.probe(spark, root, "vec_id", "embedding", queries,
      nprobe = 99, topK = 4)
    assert(rer.schema.fieldNames.toSeq === Seq("qid", "vec_id", "dist2", "rank"))
    assert(rer.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq ===
      flt.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq,
      "exact re-rank must reproduce the float probe")

    // a rerank pool smaller than topK is a contract error
    intercept[IllegalArgumentException] {
      IvfStore.adcProbe(spark, root, "vec_id", queries, 99, topK = 4, rerank = 2)
    }
    // re-quantizing in place refuses (fresh-root discipline)
    val e = intercept[IllegalArgumentException] {
      IvfStore.enablePq(spark, root, m = M, k = 2, iters = 2)
    }
    assert(e.getMessage.contains("FRESH root"), e.getMessage)
  }

  test("ADC probe scan reads code bytes only: scan schema + numFiles pinned; rerank touches vectors only for the candidate pool") {
    val root = Files.createTempDirectory("ivfpq-plan").toString
    val day1 = mkRows(0 until 40)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 4)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.append(vecs(mkRows(100 until 140)), root, "2024-07-02")
    IvfStore.enablePq(spark, root, m = M, k = 4, iters = 3): Unit
    val cents = IvfIndex.open(spark, root)
    val q = centers(1).toArray
    val probedCell = cents.indices.minBy(i => (l2d2(q, cents(i).toSeq), i))

    val adc = IvfStore.adcProbe(spark, root, "vec_id", Seq(5000L -> q),
      nprobe = 1, topK = 3)
    adc.collect()
    val scans = scansOf(adc.queryExecution.executedPlan)
    // the ONE data scan reads the codes table: id + pq_codes, never
    // the vector column — the 32x byte claim, in the scan schema
    assert(scans.nonEmpty)
    scans.foreach { sc =>
      assert(!sc.output.exists(_.name == "embedding"),
        s"ADC probe scanned vector bytes: ${sc.output.map(_.name)}")
    }
    val codeScan = scans.filter(_.output.exists(_.name == "pq_codes"))
    assert(codeScan.size === 1, s"expected one codes scan, got ${scans.size}")
    assert(codeScan.head.partitionFilters.nonEmpty,
      "dt/cell filters must reach the file index")
    def filesIn(day: String, c: Int): Int = {
      val d = new java.io.File(s"$root/codes/dt=$day/cell=$c")
      if (!d.isDirectory) 0 else d.listFiles().count(_.getName.startsWith("part-"))
    }
    val expectFiles =
      Seq("2024-07-01", "2024-07-02").map(filesIn(_, probedCell)).sum
    assert(codeScan.head.metrics("numFiles").value === expectFiles.toLong,
      s"scan read ${codeScan.head.metrics("numFiles").value} files, " +
        s"probed day-cells hold $expectFiles code files")

    // rerank: the vector scan appears, but broadcast-joined to the
    // bounded candidate pool and still cell-pruned
    val rer = IvfStore.adcProbe(spark, root, "vec_id", Seq(5000L -> q),
      nprobe = 1, topK = 3, rerank = 5)
    rer.collect()
    val rscans = scansOf(rer.queryExecution.executedPlan)
    val vecScans = rscans.filter(_.output.exists(_.name == "embedding"))
    assert(vecScans.nonEmpty, "rerank must read the float vectors")
    vecScans.foreach(sc => assert(sc.partitionFilters.nonEmpty,
      "rerank's vector scan must stay partition-pruned"))
  }

  test("coverage refusal names backfillCodes; fsck lands codes-missing; backfill repairs") {
    val root = Files.createTempDirectory("ivfpq-cover").toString
    val day1 = mkRows(0 until 20); val day2 = mkRows(100 until 120)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    IvfStore.append(vecs(day2), root, "2024-07-02")
    val queries = Seq(1L -> centers(0).toArray)
    val before = IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // simulate a pre-PQ writer: the day's codes vanish
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new Path(s"$root/codes/dt=2024-07-02"), true))
    val e = intercept[IllegalArgumentException] {
      IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
    }
    assert(e.getMessage.contains("backfillCodes"), e.getMessage)
    val f1 = IvfStore.fsck(spark, root)
    assert(f1.exists(x => x.severity == "error" && x.check == "codes-missing" &&
      x.subject.contains("2024-07-02")), s"$f1")
    assert(IvfStore.backfillCodes(spark, root) === Seq("2024-07-02"))
    assert(IvfStore.fsck(spark, root, deep = true).forall(_.severity != "error"))
    assert(IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq === before,
      "backfill must restore the exact pre-fault answers")
  }

  test("compaction folds codes with cells: ADC answers identical across fold + sweep") {
    val root = Files.createTempDirectory("ivfpq-compact").toString
    val days = (1 to 4).map(i => f"2024-07-0$i%d" -> mkRows(i * 100 until i * 100 + 15))
    IvfStore.init(vecs(days.head._2), "vec_id", "embedding", root, k = 3, iters = 3)
    days.foreach { case (d, rows) => IvfStore.append(vecs(rows), root, d) }
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    val queries = Seq(1L -> centers(0).toArray, 2L -> centers(1).toArray)
    val before = IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val rep = IvfStore.compact(spark, root, keepDays = 1)
    assert(rep.mergedDay.isDefined && rep.foldedDays === 3)
    assert(new java.io.File(s"$root/codes/dt=${rep.mergedDay.get}").isDirectory,
      "compaction must fold the codes table under the same merged day")
    assert(IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      === before, "fold must be ADC-answer-invariant")
    IvfStore.compact(spark, root, keepDays = 1): Unit // sweep run
    assert(!new java.io.File(s"$root/codes/dt=2024-07-01").exists(),
      "sweep must clear replaced codes dirs too")
    assert(IvfStore.adcProbe(spark, root, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      === before, "sweep must be ADC-answer-invariant")
    assert(IvfStore.fsck(spark, root, deep = true).forall(_.severity != "error"))
  }

  test("rebuildVia carries codebooks: adcProbeVia serves identically across the flip") {
    val root = Files.createTempDirectory("ivfpq-rebuild").toString
    val pointer = Files.createTempDirectory("ivfpq-ptr").toString
    val day1 = mkRows(0 until 25)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    IvfStore.publishRoot(spark, pointer, root): Unit
    // the geometry stamp rides the pointer (round 17): derived from
    // the root's own state, carrying the PQ arm + residual flag
    assert(IvfStore.currentSummary(spark, pointer) ===
      Some(s"k=3;dim=$Dim;pq=m${M}x3;residual=false"))
    val queries = Seq(9L -> centers(2).toArray)
    val before = IvfStore.adcProbeVia(spark, pointer, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val newRoot = Files.createTempDirectory("ivfpq-newroot").toString + "/r"
    IvfStore.rebuildVia(spark, pointer, newRoot, k = 3, iters = 3): Unit
    assert(IvfStore.currentRoot(spark, pointer) === newRoot)
    assert(IvfStore.pqModel(spark, newRoot).isDefined,
      "rebuild must carry the PQ codebooks into the new root")
    assert(IvfStore.adcProbeVia(spark, pointer, "vec_id", queries, 99, 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq === before,
      "full ADC probe is geometry-independent — identical across the flip")
    assert(IvfStore.fsck(spark, newRoot, deep = true).forall(_.severity != "error"))
    assert(IvfStore.currentSummary(spark, pointer) ===
      Some(s"k=3;dim=$Dim;pq=m${M}x3;residual=false"),
      "the flip must re-stamp the new root's geometry")
  }

  /** numFiles over scans of `table` whose output includes `outCol` —
    * the day-scoped audit's read-volume probe (cached plans walked,
    * scan nodes deduped by identity). */
  private def filesRead(root: String, table: String, outCol: String)(
      body: => Unit): Long = {
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
        case fs: FileSourceScanExec => Seq(fs)
        case other => other.children.flatMap(walk)
      }
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        walk(qe.executedPlan).foreach { sc =>
          if (seen.add(sc) &&
              sc.relation.location.rootPaths.exists(
                _.toString.contains(s"$root/$table")) &&
              sc.output.exists(_.name == outCol))
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

  test("deep fsck is day-scoped: an unchanged store re-reads no vector or code bytes; a re-appended day re-audits alone; geometry change stales everything") {
    val root = Files.createTempDirectory("ivfpq-watermark").toString
    val day1 = mkRows(0 until 20); val day2 = mkRows(100 until 120)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 2, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.append(vecs(day2), root, "2024-07-02")
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    def vecFiles(day: String): Long =
      Option(new java.io.File(s"$root/cells/dt=$day").listFiles())
        .map(_.filter(_.isDirectory).map(d =>
          d.listFiles().count(_.getName.startsWith("part-")).toLong).sum)
        .getOrElse(0L)
    val all = vecFiles("2024-07-01") + vecFiles("2024-07-02")
    // audit 1: no watermarks — the vector recount reads every cell file
    val read1 = filesRead(root, "cells", "embedding") {
      assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
    }
    assert(read1 === all, s"first audit reads everything: $read1 vs $all")
    // audit 2: nothing moved — ZERO vector bytes and ZERO code bytes
    // re-read (the slim id-only dup scan is the only cells access)
    var codesRead = -1L
    val read2 = filesRead(root, "cells", "embedding") {
      codesRead = filesRead(root, "codes", "pq_codes") {
        assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
      }
    }
    assert(read2 === 0L, s"unchanged days must not re-read vectors: $read2")
    assert(codesRead === 0L, s"unchanged days must not re-read codes: $codesRead")
    // a re-appended day re-audits ALONE
    IvfStore.append(vecs(day2), root, "2024-07-02")
    val read3 = filesRead(root, "cells", "embedding") {
      assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
    }
    assert(read3 === vecFiles("2024-07-02"),
      s"only the re-appended day recounts: $read3")
    // force recounts the whole committed set
    val readF = filesRead(root, "cells", "embedding") {
      assert(IvfStore.fsck(spark, root, deep = true, force = true).isEmpty)
    }
    assert(readF === vecFiles("2024-07-01") + vecFiles("2024-07-02"))
    // a DIRTY day keeps no watermark: plant a cell-mismatch by moving
    // one cell dir's rows under the other cell (argmin no longer
    // matches the partition value), audit twice — both find it
    val d1 = new java.io.File(s"$root/cells/dt=2024-07-01")
    val cellDirs = d1.listFiles().filter(_.getName.startsWith("cell=")).sortBy(_.getName)
    assert(cellDirs.length === 2, "fixture needs both cells populated")
    val (src, dst) = (cellDirs(0), cellDirs(1))
    src.listFiles().filter(_.getName.startsWith("part-")).foreach { pf =>
      assert(pf.renameTo(new java.io.File(dst, "moved-" + pf.getName)))
    }
    // parquet part files are self-contained; renaming keeps rows readable
    new java.io.File(dst, "moved-_SUCCESS").delete(): Unit
    val deep1 = IvfStore.fsck(spark, root, deep = true)
    assert(deep1.exists(x => x.check == "cell-mismatch"), s"$deep1")
    val deep2 = IvfStore.fsck(spark, root, deep = true)
    assert(deep2.exists(x => x.check == "cell-mismatch"),
      s"dirty day must re-surface every audit: $deep2")
    // geometry change stales EVERY watermark: repair the layout, let
    // the store audit clean, then hand-replace the centroids — the
    // next audit must do a full recount and flag the divergence
    dst.listFiles().filter(_.getName.startsWith("moved-part-")).foreach { pf =>
      assert(pf.renameTo(new java.io.File(src, pf.getName.stripPrefix("moved-"))))
    }
    assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
    val marker = new Path(s"$root/_CENTROIDS.txt")
    val fsys = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swapped = graft.operators.IvfIndex.open(spark, root).reverse
    val outS = fsys.create(marker, true)
    try outS.write(swapped.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
    finally outS.close()
    val deep3 = IvfStore.fsck(spark, root, deep = true)
    assert(deep3.exists(x => x.check == "cell-mismatch"),
      s"hand-replaced centroids must fail the full re-audit: $deep3")
  }

  /** Driver-side RESIDUAL ADC oracle: assign the argmin cell (ties to
    * first — the [[graft.operators.KMeans.assign]] rule), encode the
    * residual `v − cent(cell)` exactly as writeCodesDay does, and
    * score with the per-cell shifted LUT built from `q − cent(cell)`
    * — the same IEEE op order as the probe, so equality is exact. */
  private def expectResidualAdc(model: graft.operators.PqModel,
      cents: Seq[Array[Double]], corpus: Seq[(Long, Array[Double])],
      q: Array[Double], topK: Int): Seq[(Long, Double)] = {
    val sd = model.subDim
    def cellOf(v: Array[Double]): Int =
      cents.indices.minBy(i => (l2d2(v, cents(i).toSeq), i))
    def codeOf(v: Array[Double], s: Int): Int = {
      val ds = model.codebooks(s).map(cw => l2d2(v.slice(s * sd, (s + 1) * sd), cw))
      ds.indexOf(ds.min)
    }
    corpus.map { case (id, v) =>
      val c = cellOf(v)
      val res = Array.tabulate(v.length)(i => v(i) - cents(c)(i))
      val qEff = Array.tabulate(v.length)(i => q(i) - cents(c)(i))
      var t = 0.0
      for (s <- 0 until model.m)
        t += l2d2(qEff.slice(s * sd, (s + 1) * sd),
          model.codebooks(s)(codeOf(res, s)))
      (id, t)
    }.sortBy { case (id, d2) => (d2, id) }.take(topK)
  }

  test("residual IVF-ADC: marker round-trips the flag, full-probe ADC is exact over centroid+residual reconstructions, rerank is float-exact, append encodes residuals inline") {
    val root = Files.createTempDirectory("ivfpq-res").toString
    val day1 = mkRows(0 until 30)
    val day2 = mkRows(100 until 130)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 4)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    assert(IvfStore.enablePq(spark, root, m = M, k = 4, iters = 3,
      residual = true) === 1)
    IvfStore.append(vecs(day2), root, "2024-07-02") // inline residual encode
    assert(IvfStore.pqResidual(spark, root), "the flag must round-trip")
    val model = IvfStore.pqModel(spark, root).get
    val cents = IvfIndex.open(spark, root)
    val queries = Seq(1000L -> centers(0).toArray, 1001L -> centers(2).toArray)
    val got = IvfStore.adcProbe(spark, root, "vec_id", queries,
        nprobe = 99, topK = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    for ((qid, qv) <- queries) {
      val expect = expectResidualAdc(model, cents, day1 ++ day2, qv, 4)
        .zipWithIndex.map { case ((id, d2), i) => (qid, id, d2, i + 1) }
      assert(got(qid).sortBy(_._4).toSeq === expect, s"query $qid")
    }
    // rerank over the whole corpus == the exact float probe, as ever
    val rer = IvfStore.adcProbe(spark, root, "vec_id", queries,
      nprobe = 99, topK = 4, rerank = day1.size + day2.size)
    val flt = IvfStore.probe(spark, root, "vec_id", "embedding", queries,
      nprobe = 99, topK = 4)
    assert(rer.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq ===
      flt.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq)
    // the deep recount re-encodes RESIDUALS — a clean store audits clean
    assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
    // and a rebuild carries the flag with the codebooks
    val ptr = Files.createTempDirectory("ivfpq-res-ptr").toString
    IvfStore.publishRoot(spark, ptr, root): Unit
    val newRoot = Files.createTempDirectory("ivfpq-res-new").toString + "/r"
    IvfStore.rebuildVia(spark, ptr, newRoot, k = 3, iters = 3): Unit
    assert(IvfStore.pqResidual(spark, newRoot),
      "rebuild must carry the residual flag with the codebooks")
    assert(IvfStore.fsck(spark, newRoot, deep = true).isEmpty)
  }

  test("trained residual codebooks: recall >= raw at the same byte budget; adcRecallReport reads 1.0 at full probe with corpus-wide rerank") {
    // far-apart clusters with small spread: raw codewords must spend
    // their budget straddling clusters while residuals concentrate
    // near zero — the published accuracy argument, made visible
    val far = Seq(Seq(100.0, 0, 0, 0), Seq(0.0, 100, 0, 0), Seq(0.0, 0, 100, 0))
    val rndL = new scala.util.Random(7)
    def aroundFar(cx: Seq[Double]) = cx.toArray.map(_ + rndL.nextGaussian() * 0.5)
    val rows = (0 until 90).map(i => i.toLong -> aroundFar(far(i % 3))).toSeq
    def build(residual: Boolean): String = {
      val r = Files.createTempDirectory(s"ivfpq-recall-$residual").toString
      IvfStore.init(vecs(rows), "vec_id", "embedding", r, k = 3, iters = 4)
      IvfStore.append(vecs(rows.take(45)), r, "2024-07-01")
      IvfStore.append(vecs(rows.drop(45)), r, "2024-07-02")
      IvfStore.enablePq(spark, r, m = M, k = 4, iters = 4,
        residual = residual): Unit
      r
    }
    val (rawRoot, resRoot) = (build(false), build(true))
    def meanRecall(root: String): Double = {
      val rep = IvfStore.adcRecallReport(spark, root, arms = Seq((3, 0)),
        topK = 5, queriesPerDay = 8).collect()
      assert(rep.nonEmpty)
      rep.map(_.getAs[Double]("recall")).sum / rep.length
    }
    val (rawR, resR) = (meanRecall(rawRoot), meanRecall(resRoot))
    assert(resR >= rawR,
      f"residual recall $resR%.3f must be >= raw recall $rawR%.3f " +
        "on a clustered corpus at the same m bytes")
    // the identity row: full probe + corpus-wide rerank re-scores the
    // entire scanned pool exactly — recall 1.0 by construction
    val ident = IvfStore.adcRecallReport(spark, resRoot,
      arms = Seq((3, rows.size)), topK = 5, queriesPerDay = 8)
    assert(ident.schema.fieldNames.toSeq ===
      Seq("dt", "n_queries", "nprobe", "rerank", "topk", "recall"))
    val identRows = ident.collect()
    assert(identRows.nonEmpty)
    identRows.foreach(r => assert(r.getAs[Double]("recall") === 1.0,
      s"full-probe + corpus rerank must be exact: $r"))
  }

  test("enablePq force-encodes every committed day: stale codes from a crashed prior attempt under a DIFFERENT model are overwritten") {
    val root = Files.createTempDirectory("ivfpq-force").toString
    val day1 = mkRows(0 until 20)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 2, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    // a crashed prior enablePq attempt: codes landed under a model
    // whose marker never committed (every code = 0 under a 1-codeword
    // book — detectably wrong for any real model)
    val badModel = graft.operators.PqModel(Dim, M,
      (0 until M).map(_ => Seq(Seq(99.0, 99.0))))
    IvfStore.backfillCodes(spark, root, Some((badModel, false))): Unit
    assert(new java.io.File(s"$root/codes/dt=2024-07-01").isDirectory)
    // the operator retries with different parameters: the committed
    // marker must match EVERY code row, not only missing days'
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    val deep = IvfStore.fsck(spark, root, deep = true)
    assert(deep.forall(_.check != "code-mismatch"),
      s"stale crashed-attempt codes survived the retry: $deep")
    assert(deep.isEmpty, s"$deep")
    // and the probe serves the COMMITTED model's answers exactly
    val model = IvfStore.pqModel(spark, root).get
    val q = centers(1).toArray
    val got = IvfStore.adcProbe(spark, root, "vec_id", Seq(1L -> q), 99, 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expectAdc(model, day1, q, 3))
  }

  test("deep fsck codes-orphan-rows: a restored code row with no cells vector is an error and re-surfaces until repaired") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivfpq-orphan").toString
    val day1 = mkRows(0 until 20)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 2, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    assert(IvfStore.fsck(spark, root, deep = true).isEmpty)
    // plant a ghost id in one codes cell dir — the restore threat: a
    // rerank-less adcProbe reads ONLY the codes table and would return
    // it in answers, so a LEFT-joined recount that never saw it was
    // blind to exactly this class
    val cellDir = new java.io.File(s"$root/codes/dt=2024-07-01")
      .listFiles().filter(_.getName.startsWith("cell=")).head
    val donor = spark.read.parquet(cellDir.getAbsolutePath)
      .select($"vec_id", $"pq_codes").as[(Long, Seq[Int])].collect().head
    Seq((99999L, donor._2)).toDF("vec_id", "pq_codes")
      .write.mode("append").parquet(cellDir.getAbsolutePath)
    val deep1 = IvfStore.fsck(spark, root, deep = true)
    assert(deep1.exists(x => x.severity == "error" &&
      x.check == "codes-orphan-rows"), s"$deep1")
    // the dirty day keeps no watermark — the ghost re-surfaces
    val deep2 = IvfStore.fsck(spark, root, deep = true)
    assert(deep2.exists(_.check == "codes-orphan-rows"),
      s"dirty day must re-surface every audit: $deep2")
    // and the ghost really is a serving hazard: a rerank-less full
    // probe returns it (rerank would drop it at the vector join)
    val q = centers(0).toArray
    val served = IvfStore.adcProbe(spark, root, "vec_id",
      Seq(1L -> q), 99, day1.size + 1).collect().map(_.getLong(1)).toSet
    assert(served.contains(99999L),
      "fixture check: the ghost id must actually be servable")
  }

  test("adcProbe over the broadcast cap returns the under-cap rows (rerank included); refuses a wrong idCol and a batch past graft.maxProbeBatch") {
    val root = Files.createTempDirectory("ivfpq-shard").toString
    val day1 = mkRows(0 until 30)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.enablePq(spark, root, m = M, k = 4, iters = 2): Unit
    val queries = (0 until 10).map(i =>
      (2000L + i) -> around(centers(i % 3))).toSeq
    def run(rerank: Int) = IvfStore.adcProbe(spark, root, "vec_id", queries,
        nprobe = 2, topK = 3, rerank = rerank).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val (base, baseR) = (run(0), run(5))
    try {
      // 10 queries × 2 probed cells = 20 pair rows; at cap 1 the pair
      // side loses its broadcast hint and the join shuffles on cell —
      // rows must be identical (the BroadcastGuard contract)
      spark.conf.set("graft.maxBroadcastRows", "1")
      assert(run(0) === base, "over-cap ADC diverged from the broadcast plan")
      assert(run(5) === baseR, "over-cap rerank diverged from the broadcast plan")
      spark.conf.set("graft.maxProbeBatch", "5")
      val e = intercept[IllegalArgumentException] { run(0) }
      assert(e.getMessage.contains("graft.maxProbeBatch"), e.getMessage)
    } finally {
      spark.conf.unset("graft.maxBroadcastRows")
      spark.conf.unset("graft.maxProbeBatch")
    }
    // a wrong idCol refuses loudly instead of being silently ignored
    val e2 = intercept[IllegalArgumentException] {
      IvfStore.adcProbe(spark, root, "doc_id", queries.take(1), 1, 1)
    }
    assert(e2.getMessage.contains("id column"), e2.getMessage)
  }

  test("adcProbeTable at nprobe=2 == brute force over the reconstructions in each query's probed cells (raw + residual, rerank included); unusable query rows corrupt-drop; the over-cap shuffled fallback is result-identical") {
    val s = spark
    import s.implicits._
    def build(residual: Boolean): (String, Seq[(Long, Array[Double])]) = {
      val root = Files.createTempDirectory(s"ivfpq-tab-$residual").toString
      val day1 = mkRows(0 until 30)
      val day2 = mkRows(100 until 130)
      IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 3)
      IvfStore.append(vecs(day1), root, "2024-07-01")
      IvfStore.append(vecs(day2), root, "2024-07-02")
      IvfStore.enablePq(spark, root, m = M, k = 4, iters = 2,
        residual = residual): Unit
      (root, day1 ++ day2)
    }
    val queries = (0 until 9).map(i => (3000L + i) -> around(centers(i % 3)))
    val qtab = queries.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "qv")
    def rowsOf(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    for (residual <- Seq(false, true)) {
      val (root, corpus) = build(residual)
      val model = IvfStore.pqModel(spark, root).get
      val cents = IvfIndex.open(spark, root)
      def cellOf(v: Array[Double]): Int =
        cents.indices.minBy(i => (l2d2(v, cents(i).toSeq), i))
      // test-side reference: each query's 2 probed cells by the
      // (d², index) rule, then brute-force ADC over the corpus rows
      // assigned to those cells; rerank re-scores the top-40 ADC pool
      // with exact float distances. topK = 30 exceeds a cell's ~20
      // rows, so the answer depends on WHICH cells are probed
      val (expect, expectR) = queries.map { case (qid, qv) =>
        val probed = cents.indices
          .sortBy(i => (l2d2(qv, cents(i).toSeq), i)).take(2).toSet
        val inProbed = corpus.filter { case (_, v) => probed(cellOf(v)) }
        assert(inProbed.size < corpus.size, "fixture: nprobe=2 must skip a cell")
        def adc(n: Int) =
          if (residual) expectResidualAdc(model, cents, inProbed, qv, n)
          else expectAdc(model, inProbed, qv, n)
        val vecOf = inProbed.toMap
        def ranked(xs: Seq[(Long, Double)]) =
          xs.zipWithIndex.map { case ((id, d2), i) => (qid, id, d2, i + 1) }
        (ranked(adc(30)),
          ranked(adc(40).map { case (id, _) => (id, l2d2(vecOf(id), qv.toSeq)) }
            .sortBy { case (id, d2) => (d2, id) }.take(30)))
      }.unzip
      def fromTable = rowsOf(IvfStore.adcProbeTable(spark, root, qtab, "qid",
        "qv", nprobe = 2, topK = 30))
      assert(fromTable === expect.flatten,
        s"table path diverged from the brute-force reference (residual=$residual)")
      // over the cap: the pairs side stops broadcasting and the join
      // shuffles on cell — rows must be identical (BroadcastGuard's
      // result-identity contract)
      try {
        spark.conf.set("graft.maxBroadcastRows", "1")
        assert(fromTable === expect.flatten,
          s"shuffled-fallback table path diverged (residual=$residual)")
      } finally spark.conf.unset("graft.maxBroadcastRows")
      // unusable query rows (null / wrong-dim) corrupt-drop silently
      val poisoned = qtab.unionByName(
        Seq((9900L, Seq.fill(Dim + 1)(0.0)), (9901L, null.asInstanceOf[Seq[Double]]))
          .toDF("qid", "qv"))
      assert(rowsOf(IvfStore.adcProbeTable(spark, root, poisoned, "qid", "qv",
          nprobe = 2, topK = 30)) === expect.flatten,
        s"poisoned rows must drop, not poison the batch (residual=$residual)")
      // the in-plan rerank arm: exact float re-score of the ADC pool
      val tableR = IvfStore.adcProbeTable(spark, root, qtab, "qid", "qv",
        nprobe = 2, topK = 30, rerank = 40)
      assert(tableR.columns.toSeq === Seq("qid", "vec_id", "dist2", "rank"))
      assert(rowsOf(tableR) === expectR.flatten,
        s"table rerank diverged from the brute-force reference (residual=$residual)")
    }
  }

  test("adcProbeTable two-phase pruning: a cell-subset batch reads only probed code files; qid==rowId refuses; empty driver batch returns empty") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivfpq-prune").toString
    val day1 = mkRows(0 until 60)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 3, iters = 4)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.append(vecs(mkRows(100 until 160)), root, "2024-07-02")
    IvfStore.enablePq(spark, root, m = M, k = 4, iters = 3): Unit
    val cents = IvfIndex.open(spark, root)
    // every query near center 1 with nprobe=1 → the batch probes ONE
    // cell; the codes scan must read only that cell's files
    val q = centers(1).toArray
    val probedCell = cents.indices.minBy(i => (l2d2(q, cents(i).toSeq), i))
    val qtab = (0 until 5).map(i => (4000L + i, q.toSeq)).toDF("qid", "qv")
    val res = IvfStore.adcProbeTable(spark, root, qtab, "qid", "qv",
      nprobe = 1, topK = 3)
    res.collect()
    val codeScans = scansOf(res.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "pq_codes"))
    assert(codeScans.size === 1)
    def filesIn(day: String, c: Int): Int = {
      val d = new java.io.File(s"$root/codes/dt=$day/cell=$c")
      if (!d.isDirectory) 0 else d.listFiles().count(_.getName.startsWith("part-"))
    }
    val probedFiles =
      Seq("2024-07-01", "2024-07-02").map(filesIn(_, probedCell)).sum
    val allFiles = Seq("2024-07-01", "2024-07-02")
      .flatMap(d => cents.indices.map(filesIn(d, _))).sum
    assert(probedFiles < allFiles, "fixture must have unprobed cells")
    assert(codeScans.head.metrics("numFiles").value === probedFiles.toLong,
      s"two-phase pruning must read only the probed cell's files " +
        s"(${codeScans.head.metrics("numFiles").value} vs $probedFiles of $allFiles)")
    // full-coverage batch: every centroid probed → unchanged full scan
    val qAll = cents.indices.map(i => (4100L + i, cents(i))).toDF("qid", "qv")
    val resAll = IvfStore.adcProbeTable(spark, root, qAll, "qid", "qv",
      nprobe = 1, topK = 3)
    resAll.collect()
    val allScan = scansOf(resAll.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "pq_codes")).head
    assert(allScan.metrics("numFiles").value === allFiles.toLong,
      "a batch probing every cell must keep the full scan")
    // a query table whose qid column shares the store's id name now
    // refuses loudly (round 17, advice) instead of dying ambiguous
    val e = intercept[IllegalArgumentException] {
      IvfStore.adcProbeTable(spark, root,
        qtab.withColumnRenamed("qid", "vec_id"), "vec_id", "qv", 1, 1)
    }
    assert(e.getMessage.contains("collides"), e.getMessage)
    // empty driver-list batch: schema-stable empty frames, both arms
    assert(IvfStore.adcProbe(spark, root, "vec_id", Seq.empty, 1, 1)
      .collect().isEmpty)
    assert(IvfStore.adcProbe(spark, root, "vec_id", Seq.empty, 1, 1,
      rerank = 2).columns.toSeq === Seq("qid", "vec_id", "dist2", "rank"))
    // and an all-unusable query TABLE returns empty, schema-stable
    val junk = Seq((1L, null.asInstanceOf[Seq[Double]])).toDF("qid", "qv")
    assert(IvfStore.adcProbeTable(spark, root, junk, "qid", "qv", 1, 1)
      .collect().isEmpty)
  }

  test("deep fsck catches tampered codes: code-mismatch and codes-missing-rows") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivfpq-fsck").toString
    val day1 = mkRows(0 until 20)
    IvfStore.init(vecs(day1), "vec_id", "embedding", root, k = 2, iters = 3)
    IvfStore.append(vecs(day1), root, "2024-07-01")
    IvfStore.enablePq(spark, root, m = M, k = 3, iters = 2): Unit
    assert(IvfStore.fsck(spark, root, deep = true).forall(_.severity != "error"))
    // tamper: drop one code row and corrupt another, in one cell dir
    val cellDir = new java.io.File(s"$root/codes/dt=2024-07-01")
      .listFiles().filter(_.getName.startsWith("cell=")).head
    val cellPath = cellDir.getAbsolutePath
    val rows = spark.read.parquet(cellPath)
      .select($"vec_id", $"pq_codes").as[(Long, Seq[Int])].collect().toSeq
    assert(rows.size >= 2, "need at least two rows to tamper with")
    val tampered = rows.tail // drop one row
      .map { case (id, cs) => (id, cs.updated(0, (cs.head + 1) % 3)) } // corrupt all
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new Path(cellPath), true): Unit
    tampered.toDF("vec_id", "pq_codes").write.parquet(cellPath)
    val deep = IvfStore.fsck(spark, root, deep = true)
    assert(deep.exists(x => x.severity == "error" && x.check == "codes-missing-rows"),
      s"$deep")
    assert(deep.exists(x => x.severity == "error" && x.check == "code-mismatch"),
      s"$deep")
    // shallow stays quiet (metadata looks fine) — the lie is numeric
    assert(IvfStore.fsck(spark, root).forall(_.severity != "error"))
  }
}
