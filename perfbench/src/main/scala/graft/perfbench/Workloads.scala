package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}
import graft.engine.{Checks, Cleaning, Pipeline, Sinks}

/** One benchmark workload: a set-up step and a repeatable timed unit made of
  * three named phases. `unit` returns each phase's wall seconds; work done
  * for verification (`verify = true`) sits outside the phase timers.
  */
trait Workload {
  def name: String
  def phases: Seq[String]
  def setup(): Unit
  def unit(tr: Option[Trace], verify: Boolean): Seq[Double]
  /** Values the checker compares with the generator's expectations. */
  def facts: Map[String, Any]
}

object Workloads {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def span[T](tr: Option[Trace], name: String, reads: Seq[String] = Nil,
      appends: Seq[String] = Nil, overwrites: Seq[String] = Nil)(f: => T): T =
    tr.fold(f)(_.span(name, reads, appends, overwrites)(f))

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

import Workloads._

/** The reference's daily DAG over a chunked landing tier:
  * extractChunked → load → validate with the reference's gate set.
  */
final class DagDaily(spark: SparkSession, in: String, work: String)
    extends Workload {
  val name = "dag_daily"
  val phases = Seq("extract", "load", "validate")
  val chunks = s"$work/chunks"
  val staging = s"$work/staging"
  val analytics = s"$work/analytics"

  val checks: DataFrame => Seq[Checks.Check] = df => Seq(
    Checks.rowCountMin(100000),
    Checks.distinctMin("l_orderkey", 1000),
    Checks.distinctMin("l_returnflag", 3),
    Checks.nullCount("l_orderkey"),
    Checks.duplicateCount(df))
  val required = Set("l_orderkey", "loaded_at", "load_date")

  private val failedStages = mutable.ArrayBuffer.empty[String]
  private var lastValidate = ""

  def setup(): Unit =
    Sinks.writeChunkedCsv(spark.read.parquet(s"$in/landing"), chunks, 50000)

  def unit(tr: Option[Trace], verify: Boolean): Seq[Double] = {
    val (e, te) = secs(span(tr, "extract", reads = Seq(chunks),
      overwrites = Seq(staging))(
      Pipeline.extractChunked(spark, chunks, staging)))
    val (l, tl) = secs(span(tr, "load", reads = Seq(staging),
      overwrites = Seq(analytics))(
      Pipeline.load(spark, staging, analytics)))
    val (v, tv) = secs(span(tr, "validate", reads = Seq(analytics))(
      Pipeline.validate(spark, analytics, checks, required)))
    Seq(e, l, v).filterNot(_.ok).foreach(r =>
      failedStages += s"${r.name}: ${r.detail}")
    lastValidate = v.detail
    Seq(te, tl, tv)
  }

  /** Each check alone, and each layer the DAG composes called once on its
    * own input — the per-layer spans of the traced run.
    */
  def isolated(tr: Trace): Unit = {
    tr.span("sources.chunkcsv_scan", reads = Seq(chunks))(
      Bench.runToExhaustion(spark.read.format("chunkcsv").load(chunks)))
    tr.span("engine.Cleaning.cleanAll", reads = Seq(staging))(
      Bench.runToExhaustion(Cleaning.cleanAll(spark.read.parquet(staging))))
    val sink = s"$work/sink"
    tr.span("engine.Sinks.overwritePartitioned", reads = Seq(analytics),
      overwrites = Seq(sink))(
      Sinks.overwritePartitioned(spark.read.parquet(analytics), sink))
    val df = spark.read.parquet(analytics)
    checks(df).foreach { c =>
      tr.span("engine.Checks." + DagDaily.checkSpan(c.name),
        reads = Seq(analytics))(Checks.run(df, Seq(c)))
    }
  }

  def facts: Map[String, Any] = Map(
    "failed_stages" -> failedStages.toSeq,
    "checks" -> """(\S+)=(\S+):(ok|warn|FAIL)""".r
      .findAllMatchIn(lastValidate)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap,
    "chunks" -> Files.dataFiles(chunks),
    "chunk_bytes" -> Files.dataBytes(chunks),
    "analytics_bytes" -> Files.dataBytes(analytics),
    "analytics_dir" -> analytics)
}

object DagDaily {
  /** Span name of a check: its metric name without the threshold. */
  def checkSpan(check: String): String = check.replaceAll("_min(_\\d+)?$", "")
}

/** An analyst's read-only session: the registry queries in `order` (query,
  * family) pairs, each run to exhaustion, with the engine's state reset
  * between queries outside the timer (as in graft.Bench). The cold pass
  * saves the results.
  */
final class QueryTail(spark: SparkSession, fixture: String, work: String,
    val order: Seq[(String, String)]) extends Workload {
  val name = "query_tail"
  val phases = Seq("iterative", "retrieval", "relational")
  private val registry = SparkEntry.queries
  val walls = mutable.Map.empty[String, Double]

  def setup(): Unit = ()

  /** One query, timed to exhaustion; with `save` it runs once more, outside
    * the timer, to write its result for the checker.
    */
  def runQuery(tr: Option[Trace], q: String, save: Boolean = false)
      : Double = {
    val (_, t) = secs(span(tr, q)(
      Bench.runToExhaustion(registry(q)(spark, fixture))))
    Bench.resetState(spark)
    if (save) {
      registry(q)(spark, fixture).write.mode("overwrite")
        .parquet(s"$work/results/$q")
      Bench.resetState(spark)
    }
    t
  }

  def unit(tr: Option[Trace], verify: Boolean): Seq[Double] = {
    val byFamily = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    order.foreach { case (q, family) =>
      val t = runQuery(tr, q, save = verify)
      walls(q) = t
      byFamily(family) += t
    }
    phases.map(byFamily)
  }

  def facts: Map[String, Any] = Map(
    "results_dir" -> s"$work/results", "walls_s" -> walls.toMap)
}

/** The incremental day: ten daily batches appended through the cleaning
  * layer, the current-state read, a compaction, and the read again.
  */
final class IncrementalDay(spark: SparkSession, in: String, work: String,
    days: Int) extends Workload {
  val name = "incremental_day"
  val phases = Seq("append", "read_latest", "compact")
  val table = s"$work/table"
  val keys = Seq("o_orderkey")
  private var batches: Seq[DataFrame] = Nil
  val appendMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  private val written = mutable.ArrayBuffer.empty[Seq[Long]]
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  private val failed = mutable.ArrayBuffer.empty[String]

  def at(d: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(d.toLong))

  def setup(): Unit =
    batches = (0 until days).map(d => spark.read.parquet(s"$in/day=$d"))

  private def readLatest(): DataFrame =
    Pipeline.readLatest(spark, table, keys)

  /** Live keys after each day, from the appended history in one job: a key
    * is live from the first day it was loaded (batches never delete).
    */
  private def liveKeysByDay(): Seq[Long] = {
    import org.apache.spark.sql.functions.{col, min}
    val firstDay = Pipeline.readTable(spark, table).groupBy(col("o_orderkey"))
      .agg(min(col("load_date")).as("day")).groupBy(col("day")).count()
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    (0 until days).map(d => firstDay.getOrElse(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong), 0L))
      .scanLeft(0L)(_ + _).tail
  }

  def unit(tr: Option[Trace], verify: Boolean): Seq[Double] = {
    Seq(table, table + ".compact-tmp", table + ".compact-old")
      .foreach(delete(spark, _))
    var appendS = 0.0
    val rows = batches.zipWithIndex.map { case (b, d) =>
      val (n, t) = secs(span(tr, "append", appends = Seq(table))(
        Pipeline.appendCleaned(b, table, Some(at(d)))))
      appendS += t
      appendMs += t * 1000
      n
    }
    written += rows
    if (verify) liveKeys ++= liveKeysByDay()
    val (_, r1) = secs(span(tr, "read_latest", reads = Seq(table))(
      Bench.runToExhaustion(readLatest())))
    readMs += r1 * 1000
    if (verify) readLatest().write.parquet(s"$work/latest_pre")
    val (c, tc) = secs(span(tr, "compact", overwrites = Seq(table))(
      Pipeline.compact(spark, table, keys)))
    if (!c.ok) failed += c.detail
    val (_, r2) = secs(span(tr, "read_latest_compacted", reads = Seq(table))(
      Bench.runToExhaustion(readLatest())))
    if (verify) readLatest().write.parquet(s"$work/latest_post")
    Seq(appendS, r1 + r2, tc)
  }

  def facts: Map[String, Any] = Map(
    "rows_written" -> written.toSeq,
    "live_keys" -> liveKeys.toSeq,
    "failed_compactions" -> failed.toSeq,
    "table_bytes" -> Files.dataBytes(table),
    "latest_pre" -> s"$work/latest_pre",
    "latest_post" -> s"$work/latest_post")
}
