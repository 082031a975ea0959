package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Q, QueryRegistry}
import Workload._

/** `query_suite`: one pass over `QueryRegistry.all.filter(_.bench)`,
  * each result written through a `noop` sink as `graft.Bench` does,
  * over `--tables`, a copy of the reference tables at scale factor
  * 0.01 that the benchmark ships.
  *
  * Outputs are checked once per run, on the first (cold) pass of the
  * set-up: each query's row count and an order-insensitive checksum of
  * its non-float columns must equal the values in `--expect`, which
  * `derive_expect.py` derived from each query's DuckDB `Q.oracle`. */
final class QuerySuite(spark: SparkSession, a: Args) extends Workload {
  private val qs: Seq[Q] = QueryRegistry.all.filter(_.bench)
  /** The measured passes' query order, drawn from the seed: the tables
    * are fixed (the shipped checks hold only for them), the order the
    * queries arrive in is the seeded input. */
  private val order: Seq[Q] = new scala.util.Random(a.seed).shuffle(qs)
  private lazy val expect: Map[String, Checksum.Expect] = Checksum.load(a.expect)

  def records: Long = qs.size.toLong
  /** The cold check pass is the only warm-up, so the measured pass is
    * the JVM's second and still carries some JIT warm-up: one more
    * 25-s pass per run does not fit the benchmark's time budget. */
  def warmupOps: Int = 0
  def notRun: Seq[String] = Seq("graft.sources (TFRecord)", "graft.ops", "graft.io",
    "graft.jobs", "graft.streaming")

  /** The check pass, which is also the cold pass. */
  def setup(): Op = {
    val t0 = System.nanoTime()
    val failed = qs.map { q => spark.catalog.clearCache(); check(q) }.sum
    Op((System.nanoTime() - t0) / 1e9, Map.empty, qs.size, failed)
  }

  private def check(q: Q): Int =
    try {
      val df = q.fn(spark, a.tables)
      expect.get(q.name) match {
        case None => fail(s"${q.name} check", "no shipped expectation")
        case Some(e) =>
          val got = Checksum.of(df, e.cols)
          if (got.rows == e.rows && got.sum == e.sum) 0
          else fail(s"${q.name} check", s"rows=${got.rows} checksum=${got.sum}, " +
            s"expected rows=${e.rows} checksum=${e.sum}")
      }
    } catch { case e: Exception => fail(q.name, e) }

  /** One query through the `noop` sink; returns 1 if it threw. */
  private def one(q: Q): Int = {
    spark.catalog.clearCache()
    try { noop(q.fn(spark, a.tables)); 0 } catch { case e: Exception => fail(q.name, e) }
  }

  def run(): Op = {
    val clock = new Clock
    val failed = order.map(one).sum
    Op(clock.wall, Map("cpu_s" -> clock.cpu), qs.size, failed)
  }

  def traced(l: Ledger): (Op, Map[String, Double]) = {
    var failed = 0
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def tracedOne(q: Q): Unit =
      try l.span(s"queries.${q.name}") {
        spark.catalog.clearCache()
        val (df, build) = timed(l.span("build")(q.fn(spark, a.tables)))
        val (_, plan) = timed(l.span("plan")(df.queryExecution.executedPlan))
        val (_, exec) = timed(l.span("exec")(noop(df)))
        m(s"queries.${q.name}.build_s") = build
        m(s"queries.${q.name}.plan_s") = plan
        m(s"queries.${q.name}.exec_s") = exec
      } catch { case e: Exception => failed += fail(q.name, e) }
    val (untraced, wall) = interleaved(order.map(q =>
      (() => failed += one(q), () => tracedOne(q))))
    l.drain()
    val perQ = order.flatMap(q => l.all.filter(_.name == s"queries.${q.name}").lastOption)
    perQ.foreach(s => m(s"${s.name}.jobs") = l.inclusive(s).jobs.get.toDouble)
    def total(suffix: String) = m.collect { case (k, v) if k.endsWith(suffix) => v }.sum
    val totals = Map("queries.build_s" -> total(".build_s"), "queries.plan_s" -> total(".plan_s"),
      "queries.exec_s" -> total(".exec_s"), "queries.jobs" -> total(".jobs"))
    (Op(wall, Map("untraced_s" -> untraced), 2 * qs.size, failed),
      Engine.metrics(l, perQ, a.cores) ++ m ++ totals)
  }
}

/** Row count plus an order-insensitive checksum of chosen columns:
  * each row's columns (sorted by name) are rendered canonically, the
  * MD5 of that text is read as a 64-bit number, and the numbers are
  * summed mod 2^64. `derive_expect.py` implements the same rendering
  * over DuckDB results. */
object Checksum {
  final case class Expect(rows: Long, cols: Seq[String], sum: String)
  final case class Got(rows: Long, sum: String)

  def isFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => isFloat(e)
    case MapType(k, v, _) => isFloat(k) || isFloat(v)
    case StructType(fs) => fs.exists(f => isFloat(f.dataType))
    case _ => false
  }

  private val Null = "␀"

  def canon(v: Any, t: DataType): String = if (v == null) Null else t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType => v.toString
    case _: DecimalType =>
      val d = v.asInstanceOf[java.math.BigDecimal]
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case _: StringType => v.toString
    case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"${b & 0xff}%02x").mkString
    case DateType => v.toString
    case TimestampType => v match {
      case ts: java.sql.Timestamp => (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000).toString
      case i: java.time.Instant => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    }
    case TimestampNTZType =>
      val i = v.asInstanceOf[java.time.LocalDateTime].toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case ArrayType(e, _) => v.asInstanceOf[scala.collection.Seq[Any]].map(canon(_, e)).mkString("[", ",", "]")
    case MapType(k, vt, _) => v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
      .map { case (a, b) => canon(a, k) + ":" + canon(b, vt) }.sorted.mkString("{", ",", "}")
    case StructType(fs) =>
      val r = v.asInstanceOf[Row]
      fs.zipWithIndex.sortBy(_._1.name)
        .map { case (f, i) => f.name + "=" + canon(r.get(i), f.dataType) }.mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"no canonical form for $other")
  }

  def rowHash(s: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))).getLong

  def of(df: DataFrame, cols: Seq[String]): Got = {
    val fields = cols.sorted.map(c => df.schema(c))
    val rows = df.select(fields.map(f => df.col(s"`${f.name}`")): _*).collect()
    val sum = rows.foldLeft(0L) { (acc, r) =>
      acc + rowHash(fields.indices.map(i => canon(r.get(i), fields(i).dataType)).mkString("\u0001"))
    }
    Got(rows.length.toLong, java.lang.Long.toUnsignedString(sum))
  }

  /** The expectations file: one line per query,
    * `name<TAB>rows<TAB>checksum<TAB>col1,col2,...`. */
  def load(path: String): Map[String, Expect] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val p = l.split("\t", -1)
      p(0) -> Expect(p(1).toLong, if (p(3).isEmpty) Nil else p(3).split(",").toSeq, p(2))
    }.toMap finally src.close()
  }
}

/** Prints one tab-separated line per bench query: its name, its row
  * column types under Spark (`name:type:float?` list), and its DuckDB
  * oracle SQL, Base64-encoded. */
object Dump {
  def run(a: Args): Unit = {
    val spark = Main.session(a, "graftbench-dump")
    graft.QueryRegistry.all.filter(_.bench).foreach { q =>
      val df = q.fn(spark, a.tables)
      val cols = df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.simpleString}:${Checksum.isFloat(f.dataType)}").mkString(";")
      val sql = java.util.Base64.getEncoder.encodeToString(q.oracle.getOrElse("").getBytes("UTF-8"))
      println(s"QUERY\t${q.name}\t$cols\t$sql")
    }
    spark.stop()
  }
}
