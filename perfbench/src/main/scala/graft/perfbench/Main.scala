package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** Data files under a directory: everything except `_`/`.`-prefixed
  * bookkeeping (`_SUCCESS`, schema sidecars, checksums).
  */
object Files {
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (!f.exists) Nil
    else if (f.isDirectory)
      Option(f.listFiles).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(walk)
    else Seq(f)

  def dataFiles(dir: String): Long = walk(new java.io.File(dir)).size.toLong
  def dataBytes(dir: String): Long = walk(new java.io.File(dir)).map(_.length).sum
}

/** Minimal JSON writer for the result file. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case x => x.toString
  }
}

/** Benchmark harness: runs one workload (untraced) or a traced pass over
  * all three, and writes a JSON result file for `perfbench/run.py`.
  *
  * Untraced: set-up, a cold first unit (which also leaves the outputs the
  * checker needs), warm-up units until they stop getting faster, then
  * measured units until `--seconds` have passed, at least `MinMeasured`
  * were run and their count is odd. Every unit's time is reported.
  *
  * Traced: per workload, set-up, a cold unit and a unit under the span
  * tracer; for the `--workload` named, one more untraced unit, whose
  * difference to the traced one is the tracing overhead (read against the
  * warmer unit, so it errs high). query_tail always gets that untraced
  * unit, whose query walls the local[1] run is compared with. Then each
  * layer the DAG composes called alone, repeated q_curation runs, and the
  * iterative queries once more at local[1].
  */
object Main {
  final case class Args(workload: String = "", seconds: Double = 10,
      trace: Boolean = false, in: String = "", work: String = "",
      out: String = "", cpus: Int = 4, order: Seq[(String, String)] = Nil,
      days: Int = 10, fixture: String = "", dumpOracles: String = "")

  /** Warm-up: at least MinWarmup units, then more until the latest is not
    * more than WarmupGain faster than the fastest before it (the unit time
    * has stopped falling), at most MaxWarmup.
    */
  val MinWarmup = 3
  val MaxWarmup = 5
  val WarmupGain = 0.10
  /** At least this many measured units, and an odd count: the median is
    * then one measured unit, never the mean of two, which matters for a
    * phase with two modes (dag_daily's validate takes 0.5–0.7 s in most
    * units and about 1.2 s in about one in five).
    */
  val MinMeasured = 3

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--in" :: v :: t => parse(t, acc.copy(in = v))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--cpus" :: v :: t => parse(t, acc.copy(cpus = v.toInt))
    case "--order" :: v :: t => parse(t, acc.copy(order =
      v.split(",").toSeq.map { qf => val Array(q, f) = qf.split(":"); (q, f) }))
    case "--days" :: v :: t => parse(t, acc.copy(days = v.toInt))
    case "--fixture" :: v :: t => parse(t, acc.copy(fixture = v))
    case "--dump-oracles" :: v :: t => parse(t, acc.copy(dumpOracles = v))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** graft.Bench's session: local[cpus], shuffle partitions = cpus, UTC,
    * nanosAsLong and the bounded status store; scratch kept in `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = Bench.withBoundedStore(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Sum of the heap pools' peak usage: an upper bound of the peak heap in
    * use, which VmHWM stops showing once the fixed heap has been touched.
    */
  def peakHeapUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    if (a.dumpOracles.nonEmpty) {
      val names = a.dumpOracles.split(",").toSeq
      println(Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      return
    }
    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> a.cpus,
      "loadavg_start" -> Bench.loadavg(),
      "cpu_probe_ms" -> Bench.cpuProbeMs())
    val spark = session(a.cpus, a.work)
    val result = mutable.LinkedHashMap[String, Any](
      "session_ready_ms" -> System.currentTimeMillis())
    val work = (w: String) => s"${a.work}/$w"
    def make(w: String): Workload = w match {
      case "dag_daily" => new DagDaily(spark, s"${a.in}/dag", work(w))
      case "query_tail" => new QueryTail(spark, a.fixture, work(w), a.order)
      case "incremental_day" =>
        new IncrementalDay(spark, s"${a.in}/days", work(w), a.days)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val next = if (a.trace) traced(spark, a, make) else untraced(spark, a, make(a.workload))
    result ++= next
    host("loadavg_end") = Bench.loadavg()
    result("host") = host
    result("peak_rss_mb") = peakRssMb()
    result("peak_heap_used_mb") = peakHeapUsedMb()
    SparkSession.getActiveSession.foreach(_.stop())
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Between units, outside every timer: the engine's state reset (with its
    * GC), then `sync`, so that the writeback of the files the last unit
    * wrote and deleted lands here instead of inside a later unit.
    */
  def settle(spark: SparkSession): Unit = {
    Bench.resetState(spark)
    new ProcessBuilder("sync").inheritIO().start().waitFor()
  }

  def untraced(spark: SparkSession, a: Args, w: Workload): Map[String, Any] = {
    val (_, stageS) = Workloads.secs(w.setup())
    val firstUnitMs = System.currentTimeMillis()
    val cold = w.unit(None, verify = true)
    settle(spark)
    def run(): Double = {
      val s = w.unit(None, verify = false)
      settle(spark)
      s.sum
    }
    val warmup = mutable.ArrayBuffer.empty[Double]
    def settled = warmup.size >= 2 &&
      warmup.last >= (1 - WarmupGain) * warmup.init.min
    while (warmup.size < MinWarmup || (!settled && warmup.size < MaxWarmup))
      warmup += run()
    w match {
      case d: IncrementalDay => d.appendMs.clear(); d.readMs.clear()
      case _ => ()
    }
    val units = mutable.ArrayBuffer.empty[Seq[Double]]
    val t0 = System.nanoTime()
    while (units.size < MinMeasured || units.size % 2 == 0 ||
        (System.nanoTime() - t0) / 1e9 < a.seconds) {
      units += w.unit(None, verify = false)
      settle(spark)
    }
    val extra = w match {
      case d: IncrementalDay => Map("append_ms" -> d.appendMs.toSeq,
        "read_latest_ms" -> d.readMs.toSeq)
      case _ => Map.empty[String, Any]
    }
    Map("workload" -> w.name, "phases" -> w.phases, "stage_s" -> stageS,
      "first_unit_ms" -> firstUnitMs, "cold" -> cold, "warmup" -> warmup.toSeq,
      "warmup_settled" -> settled, "units" -> units.toSeq,
      "facts" -> w.facts) ++ extra
  }

  def traced(spark: SparkSession, a: Args, make: String => Workload)
      : Map[String, Any] = {
    val sc = spark.sparkContext
    val tr = new Trace(sc)
    def under[T](f: => T): T = {
      sc.addSparkListener(tr)
      try f finally {
        org.apache.spark.perfbench.ListenerDrain.drain(sc)
        sc.removeSparkListener(tr)
      }
    }
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def put(span: String, c: Map[String, Double]): Unit =
      c.foreach { case (k, v) => layer(s"$span.$k") = v }
    val facts = mutable.LinkedHashMap.empty[String, Any]
    val names = Seq("dag_daily", "query_tail", "incremental_day")
    val ws = names.map(make)
    ws.foreach { w =>
      w.setup()
      w.unit(None, verify = true)
      Bench.resetState(spark)
      def pass(traced: Boolean): Double = {
        val s =
          if (traced) under(tr.span(w.name)(w.unit(Some(tr), verify = false)))
          else w.unit(None, verify = false)
        Bench.resetState(spark)
        s.sum
      }
      val tracedS = pass(traced = true)
      // query_tail always gets the untraced pass: its walls are the N-core
      // side of the core-scaling ratio
      if (w.name == a.workload || w.name == "query_tail") {
        val untracedS = pass(traced = false)
        if (w.name == a.workload) layer("trace_overhead_s") = tracedS - untracedS
      }
      w match {
        case d: DagDaily =>
          Seq("extract", "load", "validate").foreach(s =>
            put(s, tr.counters(tr.lastId(s))))
          under(d.isolated(tr))
          tr.spans.map(_.name).filter(n => n.startsWith("engine.") ||
            n.startsWith("sources.")).distinct
            .foreach(s => put(s, tr.counters(tr.lastId(s))))
        case q: QueryTail =>
          q.order.foreach { case (n, _) => put(n, tr.counters(tr.lastId(n))) }
          // the first run saves the result for the checker and warms up
          q.runQuery(None, "q_curation", save = true)
          val runs = (1 to 5).map(_ => under(q.runQuery(Some(tr), "q_curation")))
          val cur = tr.spans.filter(_.name == "q_curation").map(s =>
            tr.counters(s.id))
          val ms = runs.map(_ * 1000).sorted
          layer("q_curation.wall_ms") = ms(ms.size / 2)
          layer("q_curation.wall_ms_min") = ms.head
          layer("q_curation.wall_ms_max") = ms.last
          layer("q_curation.jobs") = cur.map(_("jobs")).sum / cur.size
          layer("q_curation.gc_ms") = cur.map(_("gc_ms")).sum / cur.size
          layer("q_curation.exec_cpu_ms") =
            cur.map(_("exec_cpu_ms")).sum / cur.size
          facts("q_curation_ms") = ms
          facts("query_walls_s") = q.walls.toMap
        case _: IncrementalDay =>
          put("append", tr.meanCounters("append"))
          Seq("read_latest", "compact", "read_latest_compacted").foreach(s =>
            put(s, tr.counters(tr.lastId(s))))
      }
      put(w.name, tr.counters(tr.lastId(w.name)))
      facts(w.name) = w.facts
    }
    val spansDir = new java.io.File(s"${a.work}/trace")
    spansDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(spansDir, "spans.jsonl").toPath,
      tr.spansJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // Core scaling: the iterative family once more on a one-core session.
    val nWalls = facts("query_walls_s").asInstanceOf[Map[String, Double]]
    spark.stop()
    val one = session(1, a.work)
    val registry = SparkEntry.queries
    a.order.collect { case (q, "iterative") => q }.foreach { q =>
      val (_, t) = Workloads.secs(
        Bench.runToExhaustion(registry(q)(one, a.fixture)))
      Bench.resetState(one)
      layer(s"$q.wall_ms_local1") = t * 1000
      layer(s"$q.speedup_1toN") = t / nWalls(q)
    }
    Map("layer" -> layer, "facts" -> facts,
      "spans_file" -> s"${a.work}/trace/spans.jsonl")
  }
}
