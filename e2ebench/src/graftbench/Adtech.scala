package graftbench

import java.io.File

import graft.io.AdtechProtos
import graft.io.AdtechProtos._
import graft.io.AdtechSinks
import graft.jobs.Jobs
import graft.ops.{AdtechPipeline, PredictionPipeline}
import graft.sources.TfRecordSource
import org.apache.spark.sql.SparkSession

import Workload._

/** `adtech_e2e`: `Jobs.runBidLogJob` then `Jobs.runPredictionJob` over
  * the seeded BidLog corpus ([[Corpus]]) and a seeded IAPP side input.
  * Outputs are checked against the golden files mapped through the
  * corpus's shifts, and the predictions against the pipeline's own
  * feature formula and scorer evaluated on the driver. */
final class Adtech(spark: SparkSession, a: Args) extends Workload {
  /** 50 copies of golden 07+08+09 (196 logs each) in 8 gzip files: a
    * run fits its share of the benchmark's time budget, and there are
    * more files than cores. */
  private val (replicas, files) = (50, 8)
  private val work = new File(a.work, "adtech")
  private val input = new File(work, "input").getPath
  private val iappDir = new File(work, "iapp").getPath
  private var expect: Corpus.Expected = _
  private var expectPreds: Map[(String, String, Int, Float), Int] = Map.empty
  private var nRecords = 0L

  def records: Long = nRecords
  /** The cold operation and one warm one: the operation time still
    * falls after that (JIT), but more does not fit the time budget. */
  def warmupOps: Int = 2
  def notRun: Seq[String] = Seq("graft.queries", "graft.functions",
    "graft.operators (stores)", "graft.streaming")

  def setup(): Op = {
    val plan = Corpus.plan(a.golden, a.seed, replicas)
    nRecords = Corpus.write(a.golden, plan, input, files)
    expect = Corpus.expected(a.golden, plan)
    val iapp = Corpus.iapp(expect, a.seed)
    new File(iappDir).mkdirs()
    java.nio.file.Files.write(new File(iappDir, "iapp.txt").toPath,
      iapp.map(r => graft.io.ProtoWriter.toBase64(graft.io.ProtoWriter.encodeIapp(r)))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val os = Map(1 -> "ANDROID", 2 -> "IOS")
    expectPreds = Corpus.predictions(expect, iapp)
      .map { case (o, u, p, s) => (os.getOrElse(o, "UNKNOWN_OS_TYPE"), u, p, s) }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    Op(0.0, Map.empty, 0, 0)
  }

  private def lines(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).toVector finally src.close()
      }

  private def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private def decoded[T](dir: String, f: Array[Byte] => T): Seq[T] =
    lines(dir).map(l => f(java.util.Base64.getDecoder.decode(l)))

  /** Job 1's three outputs against the shifted golden files. */
  private def checkJob1(out: String): Option[String] = {
    val dps = decoded(s"$out/device-profile", AdtechProtos.decodeDeviceProfile).map(Corpus.normDp)
    val aps = decoded(s"$out/app-profile", AdtechProtos.decodeAppProfile)
    val susp = decoded(s"$out/suspicious-user", AdtechProtos.decodeDeviceId)
    if (dps.size != expect.dps.size || aps.size != expect.aps.size || susp.size != expect.susp.size)
      Some(s"counts dp/ap/susp ${dps.size}/${aps.size}/${susp.size}, expected " +
        s"${expect.dps.size}/${expect.aps.size}/${expect.susp.size}")
    else if (bag(dps) != bag(expect.dps)) Some("device profiles differ from the shifted golden")
    else if (bag(aps) != bag(expect.aps)) Some("app profiles differ from the shifted golden")
    else if (bag(susp) != bag(expect.susp)) Some("suspicious ids differ from the shifted golden")
    else None
  }

  private def checkJob2(out: String): Option[String] = {
    val rows = spark.read.parquet(s"$out/prediction-table").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getFloat(3))).toSeq
    val nJson = lines(s"$out/prediction-json").size
    if (bag(rows) != expectPreds) Some(s"prediction table (${rows.size} rows) differs from " +
      s"the ${expectPreds.values.sum} expected predictions")
    else if (nJson != rows.size) Some(s"$nJson JSON predictions for ${rows.size} table rows")
    else None
  }

  private def job1(out: String): Unit = Jobs.runBidLogJob(spark, s"$input/bidlog-*", out)
  private def job2(out1: String, out2: String): Unit =
    Jobs.runPredictionJob(spark, s"$out1/device-profile", s"$out1/suspicious-user",
      iappDir, out2)

  /** Failures of one bidLogJob → predictionJob pair: a job that threw
    * or never ran, or whose output fails its check. */
  private def failures(out: String, ok1: Boolean, ok2: Boolean): Int =
    if (!ok1) 2 // the prediction job never ran either
    else checkJob1(s"$out/job1").map(fail("bidLogJob check", _)).getOrElse(0) +
      (if (!ok2) 1 else checkJob2(s"$out/job2").map(fail("predictionJob check", _)).getOrElse(0))

  /** Runs `f`; false (and a logged failure) if it throws. */
  private def ok(what: String)(f: => Unit): Boolean =
    try { f; true } catch { case e: Exception => fail(what, e); false }

  /** Runs both jobs (each timed), then checks each job's output. */
  def run(): Op = {
    val out = new File(work, "out").getPath
    val clock = new Clock
    val ok1 = ok("bidLogJob")(job1(s"$out/job1"))
    val t1 = clock.wall
    val ok2 = ok1 && ok("predictionJob")(job2(s"$out/job1", s"$out/job2"))
    val (t2, cpu) = (clock.wall, clock.cpu)
    Op(t2, Map("bidlog_job_s" -> t1, "prediction_job_s" -> (t2 - t1), "cpu_s" -> cpu), 2,
      failures(out, ok1, ok2))
  }

  /** Both jobs twice traced, interleaved with both jobs twice untraced
    * (UTTU), then the stage breakdown twice. */
  def traced(l: Ledger): (Op, Map[String, Double]) = {
    val ran = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Boolean)]
    def both(out: String, span: (String, () => Unit) => Unit): () => Unit = () => {
      val ok1 = ok("bidLogJob")(span("jobs.bidlog_job", () => job1(s"$out/job1")))
      val ok2 = ok1 && ok("predictionJob")(
        span("jobs.prediction_job", () => job2(s"$out/job1", s"$out/job2")))
      ran += ((out, ok1, ok2))
    }
    val (untraced, wall) = interleaved((0 to 1).map { i =>
      (both(new File(work, s"out-u$i").getPath, (_, f) => f()),
        both(new File(work, s"out-t$i").getPath, (n, f) => l.span(n)(f())))
    })
    val failed = ran.map { case (o, ok1, ok2) => failures(o, ok1, ok2) }.sum
    val bs = (1 to 2).map(i => breakdown(l, new File(work, s"out-stages-$i").getPath))
    l.drain()
    val names = Seq("jobs.bidlog_job", "jobs.prediction_job")
    val lastPair = names.flatMap(n => l.all.filter(_.name == n).lastOption)
    val dpPass = l.all.filter(_.name == "ops.device_profiles").lastOption
    val recompute = for (j <- lastPair.find(_.name == names.head); d <- dpPass) yield
      l.inclusive(j).shuffleWrite.get.toDouble / math.max(1L, l.inclusive(d).shuffleWrite.get)
    (Op(wall / 2, Map("untraced_s" -> untraced / 2), 2 * ran.size + bs.map(_._1.attempted).sum,
      failed + bs.map(_._1.failed).sum),
      Engine.metrics(l, lastPair, a.cores) ++
        bs.flatMap(_._2.keys).distinct.map(k => k -> Stats.median(bs.flatMap(_._2.get(k)))) ++
        recompute.map("spark.recompute_ratio" -> _) ++
        names.map(n => s"${n}_s" -> Stats.median(l.all.filter(_.name == n).map(_.seconds))))
  }

  /** The two jobs' stage functions called one by one, each lazy stage
    * materialized through `noop`, in the order the jobs call them. A
    * lazy stage's self time is its time minus its input's; the eager
    * calls (`assertNoDuplicateIds`, and `inputToModel`'s duplicate check
    * and IAPP collect) are timed as called. */
  private def breakdown(l: Ledger, out: String): (Op, Map[String, Double]) = {
    val t = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def st[A](name: String)(f: => A): A = {
      val (r, s) = timed(l.span(name)(f))
      t(name) = s
      r
    }
    var failed = 0
    val (o1, o2) = (s"$out/job1", s"$out/job2")
    try l.span("stages") {
      val raw = st("sources.tfrecord_read") {
        val r = TfRecordSource.read(spark, s"$input/bidlog-*"); noop(r.toDF()); r
      }
      val logs = st("ops.decode_valid") {
        val v = AdtechPipeline.validBidLogs(AdtechPipeline.decodeBidLogBytes(raw))
        noop(v.toDF()); v
      }
      val dps = st("ops.device_profiles") { val d = AdtechPipeline.deviceProfiles(logs); noop(d); d }
      st("ops.assert_unique") { AdtechPipeline.assertNoDuplicateIds(dps) }
      val aps = st("ops.app_profiles") { val x = AdtechPipeline.appProfiles(dps); noop(x); x }
      val susp = st("ops.suspicious") { val x = AdtechPipeline.suspiciousIds(dps, aps); noop(x); x }
      st("io.device_profile_sink") { AdtechSinks.writeDeviceProfilesBase64(dps, s"$o1/device-profile") }
      st("io.app_profile_sink") { AdtechSinks.writeAppProfilesBase64(aps, s"$o1/app-profile") }
      st("io.suspicious_sink") { AdtechSinks.writeSuspiciousBase64(susp, s"$o1/suspicious-user") }
      val feats = st("ops.input_to_model") {
        PredictionPipeline.inputToModel(
          PredictionPipeline.decodeDeviceProfiles(spark.read.textFile(s"$o1/device-profile")),
          PredictionPipeline.decodeSuspicious(spark.read.textFile(s"$o1/suspicious-user")),
          PredictionPipeline.decodeIapp(spark.read.textFile(iappDir)))
      }
      st("ops.input_to_model.noop") { noop(feats) }
      val preds = st("ops.predict") { val p = PredictionPipeline.predict(feats); noop(p); p }
      st("io.prediction_json_sink") { AdtechSinks.writePredictionsJson(preds, s"$o2/prediction-json") }
      st("io.prediction_table_sink") { AdtechSinks.writePredictionsTable(preds, s"$o2/prediction-table") }
    } catch { case e: Exception => failed += fail("stage breakdown", e) }
    if (failed == 0) {
      checkJob1(o1).foreach(m => failed += fail("stage breakdown job 1 check", m))
      checkJob2(o2).foreach(m => failed += fail("stage breakdown job 2 check", m))
    }
    if (failed > 0) return (Op(0, Map.empty, 1, failed), Map.empty)
    // counts for the ratios, outside every timed span
    val raw = TfRecordSource.read(spark, s"$input/bidlog-*")
    val decodedN = AdtechPipeline.decodeBidLogBytes(raw).count()
    val validN = AdtechPipeline.validBidLogs(AdtechPipeline.decodeBidLogBytes(raw)).count()
    def self(n: String, input: String*): Double = t(n) - input.map(t).sum
    (Op(0, Map.empty, 1, 0), Map(
      "sources.tfrecord_read_s" -> t("sources.tfrecord_read"),
      "sources.records_read" -> raw.count().toDouble,
      "ops.decode_valid_s" -> self("ops.decode_valid", "sources.tfrecord_read"),
      "ops.valid_ratio" -> validN.toDouble / math.max(1L, decodedN),
      "ops.device_profiles_s" -> self("ops.device_profiles", "ops.decode_valid"),
      "ops.assert_unique_s" -> t("ops.assert_unique"),
      "ops.app_profiles_s" -> self("ops.app_profiles", "ops.device_profiles"),
      "ops.suspicious_s" -> self("ops.suspicious", "ops.app_profiles"),
      "io.device_profile_sink_s" -> self("io.device_profile_sink", "ops.device_profiles"),
      "io.app_profile_sink_s" -> self("io.app_profile_sink", "ops.app_profiles"),
      "io.suspicious_sink_s" -> self("io.suspicious_sink", "ops.suspicious"),
      "ops.input_to_model_s" -> (t("ops.input_to_model") + t("ops.input_to_model.noop")),
      "ops.predict_s" -> self("ops.predict", "ops.input_to_model.noop"),
      "io.prediction_json_sink_s" -> self("io.prediction_json_sink", "ops.predict"),
      "io.prediction_table_sink_s" -> self("io.prediction_table_sink", "ops.predict")))
  }
}
