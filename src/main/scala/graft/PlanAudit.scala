package graft

/** PLANS.md generator: formatted physical plans of the representative
  * query set, via the shared audit harness (GRAFT_TESTDATA_DIR
  * honored). q100's plan embeds its Bloom bitset as a BinaryType
  * literal — the snapshot stays text-clean by collapsing
  * non-printables. */
object PlanAudit {
  private val snapshotSet = Seq(
    "q01_pricing_summary", "q12_star_join_revenue", "q09_semi_join",
    "q02_validity_filter", "q27_asof_join", "q45_ann_bruteforce",
    "q05_distinct_counts", "q26_interval_join", "q42_dedup_minhash_lsh",
    "q67_tfidf", "q66_grouping_sets", "q74_session_window",
    "q32_distribution_ranks",
    "q41_dedup_jaccard", "q43_dedup_simhash", "q44_dedup_cosine",
    "q71_repeated_spans", "q88_skewed_enrich",
    "q89_bucketed_distinct_counts", "q100_incremental_dedup",
    "q101_shuffle_index", "q102_snapshot_diff",
    "q103_partition_pruned_daily", "q105_heavy_hitters",
    "q107_temperature_mix", "q110_dedup_keep_longest",
    "q111_token_budget_pack", "q112_decontam_report",
    "q113_embedding_center_stats", "q114_dataset_card",
    "q116_containment_dedup", "q118_incremental_containment",
    "q143_incremental_containment_dfguard",
    "q140_mm_phash_neardup", "q142_mm_phash_incremental",
    "q144_cos_incremental",
    "q147_pq_adc_topk", "q148_pq_recall")
  // q145/q146/q149/q150 are deliberately NOT snapshotted from the
  // registry: each executes eagerly (the CC label loop / the store
  // lifecycles) and their registered frames are checkpoint scans. The
  // SERVING PROBE plans — the ones a 100× reviewer needs frozen — are
  // captured below from store fixtures instead (PlanShapeSpec pins
  // the same shapes: partition filters on both dims, broadcast pairs
  // / LUTs, map-side top-k before the single qid shuffle, and for the
  // ADC probe a code-bytes-only ReadSchema).

  def main(args: Array[String]): Unit = {
    def fmt(plan: String): String = plan
      .replaceAll("[^\\x09\\x0A\\x20-\\x7E]+", "·")
      .replaceAll("(·.{0,2}){8,}", "·<binary literal elided>·")
    graft.tools.AuditRunner.run({ (q, qe) =>
      Seq(s"===== ${q.name}",
        fmt(qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
    }, names = snapshotSet, extra = { s =>
      import s.implicits._
      val root = "/tmp/graft-planaudit-ivf" // fixed path: stable snapshot text
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val rnd = new scala.util.Random(5)
      def vec() = Array.fill(8)(rnd.nextGaussian())
      val day1 = (0 until 60).map(i => i.toLong -> vec())
        .toDF("vec_id", "embedding")
      graft.operators.IvfStore.init(day1, "vec_id", "embedding", root,
        k = 4, iters = 2)
      graft.operators.IvfStore.append(day1, root, "2024-06-01")
      graft.operators.IvfStore.append(
        (200 until 260).map(i => i.toLong -> vec()).toDF("vec_id", "embedding"),
        root, "2024-06-02")
      val probe = graft.operators.IvfStore.probe(s, root, "vec_id",
        "embedding", (0 until 3).map(i => (9000L + i) -> vec()),
        nprobe = 2, topK = 5)
      // q149's registered frame is the same eager-lifecycle shape as
      // q146's — snapshot the SERVING PROBE from a fixture instead
      // (dt prune + word-IN pushdown is the shape a reviewer needs)
      val tixRoot = "/tmp/graft-planaudit-tix"
      val tp = new org.apache.hadoop.fs.Path(tixRoot)
      tp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tp, true)
      graft.operators.TextIndexStore.append(
        Seq((1L, "alpha beta gamma"), (2L, "alpha delta epsilon"))
          .toDF("doc_id", "text"), tixRoot, "2024-06-01"): Unit
      graft.operators.TextIndexStore.append(
        Seq((3L, "beta beta zeta")).toDF("doc_id", "text"),
        tixRoot, "2024-06-02"): Unit
      val bm25Probe = graft.operators.TextIndexStore.topK(
        s, tixRoot, Seq("alpha", "beta"), topK = 5)
      // round 15: the ADC serving probe (q150's shape) and the batched
      // BM25 probe — the two new serving paths a 100× reviewer needs
      // frozen (code-bytes-only scan / one scan for N queries)
      graft.operators.IvfStore.enablePq(s, root, m = 2, k = 4, iters = 2): Unit
      val adcProbe = graft.operators.IvfStore.adcProbe(s, root, "vec_id",
        (0 until 3).map(i => (9000L + i) -> vec()), nprobe = 2, topK = 5)
      val bm25Batch = graft.operators.TextIndexStore.topKBatch(
        s, tixRoot, Seq(10L -> Seq("alpha", "beta"), 20L -> Seq("zeta")),
        topK = 5)
      // round 16: the RESIDUAL ADC serving probe (q151's shape) — same
      // code-bytes-only scan and broadcast-LUT join as q150; the
      // residual shift lives in the per-(query, cell) LUT projection
      val resRoot = "/tmp/graft-planaudit-ivfres"
      val rp = new org.apache.hadoop.fs.Path(resRoot)
      rp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(rp, true)
      graft.operators.IvfStore.init(day1, "vec_id", "embedding", resRoot,
        k = 4, iters = 2)
      graft.operators.IvfStore.append(day1, resRoot, "2024-06-01")
      graft.operators.IvfStore.enablePq(s, resRoot, m = 2, k = 4, iters = 2,
        residual = true): Unit
      val adcResProbe = graft.operators.IvfStore.adcProbe(s, resRoot, "vec_id",
        (0 until 3).map(i => (9000L + i) -> vec()), nprobe = 2, topK = 5)
      // round 16 (cont.): the TABLE-driven batch probes (q152/q153's
      // shapes) — queries as DataFrames, no driver list; the frames a
      // 100× reviewer checks for the guarded-broadcast/shuffle-join
      // fallback structure
      val qTab = (0 until 3).map(i => (9100L + i, vec().toSeq))
        .toDF("qid", "qv")
      val adcTable = graft.operators.IvfStore.adcProbeTable(s, root,
        qTab, "qid", "qv", nprobe = 2, topK = 5)
      val bm25Table = graft.operators.TextIndexStore.topKBatchTable(s, tixRoot,
        Seq((10L, Seq("alpha", "beta")), (20L, Seq("zeta")))
          .toDF("qid", "terms"),
        "qid", "terms", topK = 5)
      Seq("===== q146_ivf_store_probe (serving probe frame; store fixture)",
        fmt(probe.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== q149_bm25_store_topk (serving probe frame; store fixture)",
        fmt(bm25Probe.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== q150_ivf_adc_probe (ADC serving frame; store fixture)",
        fmt(adcProbe.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== topKBatch (batched BM25 serving frame; store fixture)",
        fmt(bm25Batch.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== q151_ivf_adc_residual (residual ADC serving frame; store fixture)",
        fmt(adcResProbe.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== q152_ivf_adc_probe_table (table-driven ADC frame; store fixture)",
        fmt(adcTable.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)),
        "===== q153_bm25_batch_table (table-driven batched BM25 frame; store fixture)",
        fmt(bm25Table.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
    })
  }
}
