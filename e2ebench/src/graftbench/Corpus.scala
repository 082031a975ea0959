package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import graft.io.AdtechProtos
import graft.io.AdtechProtos._

/** The seeded BidLog corpus of the `adtech_e2e` workload: the golden
  * corpora 07/08/09 key-shifted into `replicas` copies each.
  *
  * Copy `key` of a golden record rewrites two strings in place, byte
  * for byte, so the proto framing (every length prefix) stays valid:
  *  - `device.ifa`, only when `UUID.fromString` accepts it: every hex
  *    digit except `ifa[7]` moves by a per-key, per-position offset
  *    mod 16 and keeps its case. Hex stays hex, so the validity verdict
  *    is unchanged, and `ifa[7]` is kept, so the 1/16 prediction sample
  *    (`uuid[7] == '0'`) picks the same devices.
  *  - `app.bundle`, unless blank: ASCII digits rotate mod 10 and ASCII
  *    letters mod 26 (case kept) by per-key offsets.
  * Invalid and blank values are left as they are. Both maps are
  * bijections per key and commute with upper-casing, so each copy's
  * devices and apps aggregate exactly as the golden ones do; offsets
  * are redrawn until no shifted device or app of one copy equals one of
  * another copy. Every output of the pipeline is therefore the union
  * over copies of the golden output mapped through that copy's shift.
  */
object Corpus {
  val Corpora: Seq[String] = Seq("07", "08", "09")

  def goldenLines(dir: String, corpus: String, kind: String): Seq[String] = {
    val src = scala.io.Source.fromFile(new File(dir, s"test$corpus.$kind.txt"), "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toVector finally src.close()
  }

  def goldenLogs(dir: String, corpus: String): Seq[Array[Byte]] =
    goldenLines(dir, corpus, "bidlogs").map(java.util.Base64.getDecoder.decode)

  final case class Shift(key: Int, hex: Array[Int], alnum: Array[Int]) {
    def ifa(s: String): String =
      if (s == null || !uuidValid(s)) s
      else new String(ifaBytes(s.getBytes(UTF_8)), UTF_8)

    /** The canonical (upper-case) device id of a golden canonical id. */
    def uuid(canonical: String): String = ifa(canonical).toUpperCase

    def bundle(s: String): String =
      if (s == null || s.trim.isEmpty) s
      else new String(bundleBytes(s.getBytes(UTF_8)), UTF_8)

    private[graftbench] def ifaBytes(b: Array[Byte]): Array[Byte] = {
      val out = b.clone()
      var i = 0
      while (i < out.length) {
        val c = out(i).toChar
        val v = Character.digit(c, 16)
        if (i != 7 && v >= 0 && c < 128) {
          val n = (v + hex(i % hex.length)) % 16
          val lower = !Character.isUpperCase(c)
          out(i) = (if (n < 10) '0' + n else (if (lower) 'a' else 'A') + n - 10).toByte
        }
        i += 1
      }
      out
    }

    private[graftbench] def bundleBytes(b: Array[Byte]): Array[Byte] = {
      val out = b.clone()
      var i = 0
      while (i < out.length) {
        val c = out(i).toChar
        val d = alnum(i % alnum.length)
        if (c >= '0' && c <= '9') out(i) = ('0' + (c - '0' + d) % 10).toByte
        else if (c >= 'a' && c <= 'z') out(i) = ('a' + (c - 'a' + d) % 26).toByte
        else if (c >= 'A' && c <= 'Z') out(i) = ('A' + (c - 'A' + d) % 26).toByte
        i += 1
      }
      out
    }
  }

  def uuidValid(s: String): Boolean =
    try { java.util.UUID.fromString(s); true }
    catch { case _: IllegalArgumentException => false }

  // ---- in-place rewrite of BidLog{1:bid_request{4:app{8:bundle},5:device{20:ifa}}}

  private def varint(b: Array[Byte], p0: Int): (Long, Int) = {
    var p = p0; var shift = 0; var v = 0L; var more = true
    while (more) {
      val x = b(p) & 0xff
      v |= (x & 0x7fL) << shift
      shift += 7; p += 1
      more = (x & 0x80) != 0
    }
    (v, p)
  }

  /** Calls `leaf(start, end)` on each occurrence of the field at `path`
    * inside the message spanning [from, until). */
  private def visit(b: Array[Byte], from: Int, until: Int, path: List[Int],
      leaf: (Int, Int) => Unit): Unit = {
    var p = from
    while (p < until) {
      val (k, p1) = varint(b, p)
      val (field, wt) = ((k >>> 3).toInt, (k & 7).toInt)
      p = wt match {
        case 0 => varint(b, p1)._2
        case 1 => p1 + 8
        case 5 => p1 + 4
        case 2 =>
          val (len, p2) = varint(b, p1)
          val end = p2 + len.toInt
          if (field == path.head) {
            if (path.tail.isEmpty) leaf(p2, end) else visit(b, p2, end, path.tail, leaf)
          }
          end
        case other => throw new IllegalArgumentException(s"wire type $other")
      }
    }
  }

  def rewrite(rec: Array[Byte], sh: Shift): Array[Byte] = {
    val out = rec.clone()
    def patch(start: Int, end: Int, f: String => String): Unit = {
      val s = new String(out, start, end - start, UTF_8)
      val t = f(s).getBytes(UTF_8)
      require(t.length == end - start, "shift changed a field's length")
      System.arraycopy(t, 0, out, start, t.length)
    }
    visit(out, 0, out.length, List(1, 5, 20), patch(_, _, sh.ifa))
    visit(out, 0, out.length, List(1, 4, 8), patch(_, _, sh.bundle))
    out
  }

  /** The corpus: one shift per (corpus, copy) key, chosen so no two keys
    * share a shifted device or app. */
  final case class Plan(seed: Long, replicas: Int, shifts: IndexedSeq[Shift]) {
    def corpusOf(key: Int): String = Corpora(key / replicas)
  }

  def plan(goldenDir: String, seed: Long, replicas: Int): Plan = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val shifts = for {
      (c, ci) <- Corpora.zipWithIndex
      logs = goldenLogs(goldenDir, c).map(AdtechProtos.decodeBidLog)
      ids = logs.map(_.ifa).filter(s => s != null && uuidValid(s)).map(_.toUpperCase).distinct
      bundles = logs.map(_.bundle).filter(s => s != null && s.trim.nonEmpty).distinct
      r <- 0 until replicas
    } yield {
      val key = ci * replicas + r
      var attempt = 0
      var found: Shift = null
      while (found == null) {
        val rnd = new scala.util.Random(seed * 1000003L + key * 7919L + attempt)
        val sh = Shift(key, Array.fill(36)(rnd.nextInt(16)), Array.fill(64)(rnd.nextInt(26)))
        val names = ids.map(i => "d:" + sh.uuid(i)) ++ bundles.map(b => "b:" + sh.bundle(b))
        if (names.forall(n => !used(n))) { used ++= names; found = sh }
        attempt += 1
      }
      found
    }
    Plan(seed, replicas, shifts.toIndexedSeq)
  }

  /** Writes the shifted corpus as `files` gzip TFRecord files; each
    * file holds whole copies. Returns the number of records. */
  def write(goldenDir: String, p: Plan, dir: String, files: Int): Long = {
    new File(dir).mkdirs()
    val golden = Corpora.map(c => c -> goldenLogs(goldenDir, c)).toMap
    (0 until files).map { f =>
      val recs = p.shifts.filter(_.key % files == f)
        .flatMap(sh => golden(p.corpusOf(sh.key)).map(rewrite(_, sh)))
      graft.sources.TfRecordSource.writeLocal(recs,
        new File(dir, f"bidlog-$f%02d.tfrecord.gz"), gzip = true)
      recs.size.toLong
    }.sum
  }

  // ---- the golden outputs, mapped through each copy's shift

  def normDp(d: DeviceProfileRec): DeviceProfileRec =
    d.copy(uuid = d.uuid.toUpperCase, app = d.app.sortBy(_.bundle).toVector,
      geo = d.geo.sortBy(g => (g.country, g.region)).toVector)

  private def decodeAll[T](dir: String, c: String, kind: String, f: Array[Byte] => T): Seq[T] =
    goldenLines(dir, c, kind).map(l => f(java.util.Base64.getDecoder.decode(l)))

  final case class Expected(dps: Seq[DeviceProfileRec], aps: Seq[AppProfileRec],
      susp: Seq[DeviceIdRec])

  def expected(goldenDir: String, p: Plan): Expected = {
    val g = Corpora.map { c =>
      c -> (decodeAll(goldenDir, c, "dp", AdtechProtos.decodeDeviceProfile),
        decodeAll(goldenDir, c, "ap", AdtechProtos.decodeAppProfile),
        goldenLines(goldenDir, c, "susp").map { l =>
          val Array(os, uuid) = l.split(",")
          DeviceIdRec(if (os == "ANDROID") 1 else 2, uuid.toUpperCase)
        })
    }.toMap
    val per = p.shifts.map { sh =>
      val (dps, aps, susp) = g(p.corpusOf(sh.key))
      (dps.map(d => normDp(d.copy(uuid = sh.uuid(d.uuid.toUpperCase),
          app = d.app.map(a => a.copy(bundle = sh.bundle(a.bundle)))))),
        aps.map(a => a.copy(bundle = sh.bundle(a.bundle))),
        susp.map(s => s.copy(uuid = sh.uuid(s.uuid))))
    }
    Expected(per.flatMap(_._1), per.flatMap(_._2), per.flatMap(_._3))
  }

  /** The seeded IAPP side input: purchase profiles for about a third of
    * the corpus's apps plus as many apps it never bids on. */
  def iapp(e: Expected, seed: Long): Seq[IappRec] = {
    val rnd = new scala.util.Random(seed ^ 0x1a99L)
    val bundles = e.aps.map(_.bundle).distinct.sorted
    val hits = bundles.filter(_ => rnd.nextInt(3) == 0)
    val misses = hits.indices.map(i => f"iapp.only.$seed%d.$i%06d")
    (hits ++ misses).map(b => IappRec(b, 1L + rnd.nextInt(1000), 1L + rnd.nextInt(100000)))
  }

  /** The predictions job 2 must emit, computed on the driver with the
    * pipeline's own feature formula and scorer: (os, uuid, class, score). */
  def predictions(e: Expected, iapp: Seq[IappRec]): Seq[(Int, String, Int, Float)] = {
    import graft.ops.PredictionPipeline._
    val m = iapp.map(r => r.bundle -> r).toMap
    val bad = e.susp.map(s => (s.os, s.uuid)).toSet
    e.dps.filter(d => !bad((d.os, d.uuid)) && d.uuid.length > 7 && d.uuid.charAt(7) == '0')
      .map { d =>
        val sc = DeterministicScorer.score(Seq(getInputFeatures(d, m))).head
        var best = 0
        for (j <- 1 until sc.length) if (sc(j) > sc(best)) best = j
        (d.os, d.uuid, best, sc(best).toDouble.toFloat)
      }
  }
}
