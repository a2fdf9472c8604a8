package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span tracer for the traced run: a listener that files every job, stage
  * and task under the job group its span set, plus the spans themselves
  * (name, start, end, parent), kept in memory and written out at the end.
  *
  * A job belongs to the innermost span open when it started. A span's
  * counters cover its own jobs and those of every span nested in it.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tallies = new ConcurrentHashMap[String, Tally]()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil
  private var seq = 0

  private def tally(g: String) = tallies.computeIfAbsent(g, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, JobRec(g, e.time))
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId))
      .foreach(g => tally(g).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val t = tally(g)
    t.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.diskBytesSpilled)
      t.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      val info = e.taskInfo
      if (info != null && info.finished) {
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        t.schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  /** Run `f` as span `name`. The directories it reads, appends to or
    * overwrites give files_read (data files present at the start) and
    * files_written (files added by an append, all files of an overwrite).
    */
  def span[T](name: String, reads: Seq[String] = Nil,
      appends: Seq[String] = Nil, overwrites: Seq[String] = Nil)(f: => T): T = {
    seq += 1
    val id = s"$name#$seq"
    val parent = open.headOption
    val before = appends.map(Files.dataFiles).sum
    val readFiles = reads.map(Files.dataFiles).sum
    open = id :: open
    sc.setJobGroup(id, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val wallNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p, p.takeWhile(_ != '#'))
        case None => sc.clearJobGroup()
      }
      val written = appends.map(Files.dataFiles).sum - before +
        overwrites.map(Files.dataFiles).sum
      spans += Span(id, name, parent, startMs, endMs, wallNs,
        Map("files_written" -> written, "files_read" -> readFiles))
    }
  }

  private def subtree(id: String): Set[String] = {
    val kids = spans.filter(_.parent.contains(id)).map(_.id)
    Set(id) ++ kids.flatMap(subtree)
  }

  /** Counters of span `id`, after the listener bus has drained. */
  def counters(id: String): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerDrain.drain(sc)
    val s = spans.find(_.id == id).get
    val ids = subtree(id)
    val own = jobs.values.asScala.filter(j => ids(j.group)).toSeq
    val tal = ids.toSeq.flatMap(g => Option(tallies.get(g)))
    def sum(f: Tally => Long) = tal.map(f).sum.toDouble
    val childWall = spans.filter(_.parent.contains(id)).map(_.wallNs).sum
    val wallMs = s.wallNs / 1e6
    Map(
      "wall_ms" -> wallMs,
      "self_ms" -> (s.wallNs - childWall) / 1e6,
      "jobs" -> own.size.toDouble,
      "stages" -> sum(_.stages.get),
      "tasks" -> sum(_.tasks.get),
      "driver_gap_ms" -> math.max(0.0, wallMs - unionMs(own, s)),
      "sched_delay_ms" -> sum(_.schedDelayMs.get),
      "exec_cpu_ms" -> sum(_.cpuNs.get) / 1e6,
      "gc_ms" -> sum(_.gcMs.get),
      "shuffle_write_bytes" -> sum(_.shuffleWrite.get),
      "spill_bytes" -> sum(_.spill.get),
      "bytes_written" -> sum(_.bytesWritten.get),
      "files_written" -> s.files("files_written").toDouble,
      "files_read" -> s.files("files_read").toDouble)
  }

  /** Mean counters over every span named `name` (e.g. the ten appends). */
  def meanCounters(name: String): Map[String, Double] = {
    val cs = spans.filter(_.name == name).map(s => counters(s.id))
    require(cs.nonEmpty, s"no span named $name")
    cs.head.keys.map(k => k -> cs.map(_(k)).sum / cs.size).toMap
  }

  def lastId(name: String): String = spans.filter(_.name == name).last.id

  /** All spans as JSON lines: name, id, parent, start/end (epoch ms). */
  def spansJson: String = spans.map { s =>
    val p = s.parent.fold("null")(x => "\"" + x + "\"")
    s"""{"id":"${s.id}","name":"${s.name}","parent":$p,""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""wall_ms":${s.wallNs / 1e6}}"""
  }.mkString("", "\n", "\n")
}

object Trace {
  final case class Span(id: String, name: String, parent: Option[String],
      startMs: Long, endMs: Long, wallNs: Long, files: Map[String, Long])

  final case class JobRec(group: String, start: Long) {
    @volatile var end: Long = -1L
  }

  final class Tally {
    import java.util.concurrent.atomic.AtomicLong
    val stages, tasks, cpuNs, gcMs, schedDelayMs, shuffleWrite, spill,
      bytesWritten = new AtomicLong
  }

  /** Length of the union of the jobs' [start, end] intervals, clipped to
    * the span: the time at least one of the span's jobs was running.
    */
  def unionMs(jobs: Seq[JobRec], s: Span): Double = {
    val iv = jobs.map(j => (math.max(j.start, s.startMs),
      math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
