package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Size-guarded broadcast: `broadcast(df)` only when a distributed
  * count says the frame fits under a cap; past it, the frame is
  * returned UNHINTED so the planner falls back to a plain shuffled
  * join. Result-identical either way — the guard changes the physical
  * join strategy, never the rows.
  *
  * Why it exists (round 9, VERDICT r8 finding #1): the survivor-
  * selection queries (q78/q110) force-broadcast the near-dup cluster
  * slice on the documented assumption that the dup population is tiny
  * relative to the corpus. That holds for curated corpora, NOT for raw
  * web crawls (30%+ dup rates are normal — the corpus-scale regime the
  * engine targets): there the members frame is billions of rows and an
  * unconditional `broadcast()` OOMs the driver building the hash
  * relation. The ANN family solved the same problem with chunked
  * broadcast ([[graft.queries.SimilarityQueries.broadcastChunks]]);
  * chunking is wrong here because chunking the RIGHT side of a LEFT
  * join would duplicate the unmatched (null-extended) corpus rows per
  * chunk — the sound fallback for a join side is simply to let it
  * shuffle.
  *
  * Cost of the guard: one `count()` job over the guarded frame. The
  * callers guard [[ConnectedComponents.label]] output, which is
  * localCheckpoint-backed (the CC rounds already ran), so the count
  * reads materialized partitions — milliseconds, not a plan replay.
  * One count decides a whole FAMILY of derived frames via [[Sized]]:
  * winners (≤ one row per cluster) and members (= cluster rows) are
  * row-bounded by the cluster table, so they inherit its verdict
  * without further counts.
  *
  * Cap: `graft.maxBroadcastRows` (same session conf the ANN chunker
  * reads — one knob for "how big may a broadcast side be"), default
  * [[DefaultMaxRows]]. Row count, not bytes, because the guarded
  * frames are slim fixed-width id tables (two/three long columns):
  * 500k rows ≈ 12 MB — far under Spark's 8 GB broadcast hard limit
  * with room for the hash relation's overhead.
  */
object BroadcastGuard {

  val DefaultMaxRows = 500000L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def cap(s: SparkSession): Long =
    s.conf.getOption("graft.maxBroadcastRows").map(_.toLong)
      .getOrElse(DefaultMaxRows)

  /** The one-count-many-frames handle: `small` is the measured
    * verdict; [[apply]] hints any frame row-bounded by the measured
    * one. */
  final case class Sized(small: Boolean) {
    def apply(df: DataFrame): DataFrame = if (small) broadcast(df) else df
  }

  /** Count `df` (must be cheap to re-read — cache/checkpoint-backed)
    * and return the verdict for it and anything row-bounded by it. */
  def sized(df: DataFrame, what: String): Sized = {
    val c = cap(df.sparkSession)
    val n = df.count()
    if (n > c) log.warn(
      s"$what has $n rows (cap $c) — skipping broadcast, shuffled join fallback")
    Sized(n <= c)
  }

  /** Single-frame convenience. */
  def maybeBroadcast(df: DataFrame, what: String): DataFrame =
    sized(df, what)(df)

  /** Hard cap on a DRIVER-SIDE probe batch (round 16) — the refusal
    * the store probes' list forms ([[IvfStore.adcProbe]],
    * [[TextIndexStore.topKBatch]]) apply before serving the list
    * through their table forms: past the cap the call refuses loudly,
    * because a query list that big lives in driver memory twice (the
    * caller's Seq plus its local query frame) and belongs in a TABLE
    * joined against the store instead. Conf `graft.maxProbeBatch`,
    * counted in queries. */
  val DefaultProbeBatch = 100000

  def probeBatchCap(s: SparkSession): Int =
    s.conf.getOption("graft.maxProbeBatch").map(_.toInt)
      .getOrElse(DefaultProbeBatch)
}
