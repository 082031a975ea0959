package graftbench

import java.io.File

import graft.io.AdtechProtos
import graft.ops.AdtechPipeline

/** Checks of the corpus generator ([[Corpus]]), run by
  * `python3 e2ebench/run.py --selftest`:
  *  - every shifted record decodes, and `validBidLogs` keeps exactly
  *    the shifted copies of the golden records it keeps;
  *  - the same seed writes a byte-identical corpus, another seed a
  *    different one;
  *  - the plan's shifted devices and apps are distinct across copies. */
object Selftest {
  def run(a: Args): Unit = {
    val spark = Main.session(a, "graftbench-selftest")
    import spark.implicits._
    val replicas = 40
    val plan = Corpus.plan(a.golden, a.seed, replicas)
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]

    // verdicts: golden record i of corpus c vs its copy under every key
    val rows = plan.shifts.flatMap { sh =>
      Corpus.goldenLogs(a.golden, plan.corpusOf(sh.key)).zipWithIndex.map { case (g, i) =>
        (s"${sh.key}:$i", g, Corpus.rewrite(g, sh))
      }
    }
    val undecodable = rows.count { case (_, _, s) =>
      try { AdtechProtos.decodeBidLog(s); false } catch { case _: IllegalArgumentException => true }
    }
    checks += s"all ${rows.size} shifted records decode" -> (undecodable == 0)
    def valid(pick: ((String, Array[Byte], Array[Byte])) => Array[Byte]): Set[String] = {
      val flat = rows.map(r => AdtechProtos.decodeBidLog(pick(r)).copy(id = r._1))
      AdtechPipeline.validBidLogs(spark.createDataset(flat)).map(_.id).collect().toSet
    }
    val (vg, vs) = (valid(_._2), valid(_._3))
    checks += s"validBidLogs verdicts equal (${vg.size} of ${rows.size} valid)" -> (vg == vs)
    val keeps7 = rows.map(r => AdtechProtos.decodeBidLog(r._2).ifa -> AdtechProtos.decodeBidLog(r._3).ifa)
      .forall { case (g, s) => g.length == s.length && (g.length < 8 || g.charAt(7) == s.charAt(7)) }
    checks += "ifa[7] kept" -> keeps7

    // determinism
    def corpus(seed: Long, dir: String): Seq[Array[Byte]] = {
      val d = new File(a.work, dir)
      Workload.rmrf(d)
      Corpus.write(a.golden, Corpus.plan(a.golden, seed, replicas), d.getPath, 3)
      d.listFiles().sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    }
    val (x, y, z) = (corpus(a.seed, "c1"), corpus(a.seed, "c2"), corpus(a.seed + 1, "c3"))
    checks += "same seed, byte-identical corpus" ->
      (x.size == y.size && x.zip(y).forall { case (p, q) => java.util.Arrays.equals(p, q) })
    checks += "another seed, another corpus" ->
      !(x.size == z.size && x.zip(z).forall { case (p, q) => java.util.Arrays.equals(p, q) })

    // distinct keys across copies
    val e = Corpus.expected(a.golden, plan)
    checks += s"${e.dps.size} device profiles, all distinct" ->
      (e.dps.map(d => (d.os, d.uuid)).distinct.size == e.dps.size)
    checks += s"${e.aps.size} app profiles, all distinct" ->
      (e.aps.map(_.bundle).distinct.size == e.aps.size)

    spark.stop()
    checks.foreach { case (n, ok) => println(s"${if (ok) "PASS" else "FAIL"} $n") }
    require(checks.forall(_._2), "corpus selftest failed")
  }
}
