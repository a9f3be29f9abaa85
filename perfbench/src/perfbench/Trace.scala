package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Executor counters of one completed stage, with the job group (and so
  * the span) that submitted it. Times are epoch milliseconds. */
final case class StageRec(group: String, start: Long, end: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Scheduler and executor counters, read from Spark's listener bus. */
final class EngineListener extends SparkListener {
  private val stageGroup = scala.collection.concurrent.TrieMap.empty[Int, String]
  val jobs = ArrayBuffer.empty[(String, Long)]
  val stages = ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobs += ((g, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(stageGroup.getOrElse(i.stageId, ""), s, c, i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listeners that attribute engine, planning and streaming counters to
  * them. Disabled, `span` only runs its body and no listener is
  * installed, so untraced runs carry no tracing cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean, run: String) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack = List.empty[Long]
  // epoch-ms listener times and nanoTime span times share this origin
  private val originNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  val engine = new EngineListener
  private var planningMs = 0L
  private var windowPlanningMs: Option[Long] = None
  val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPlanning(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPlanning(qe)
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized { progress += e.progress }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  private def addPlanning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    planningMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
  }

  if (enabled) {
    sc.addSparkListener(engine)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def span[A](name: String)(body: => A): A = record(name, stack.headOption.getOrElse(0L))(body)

  /** A traced-only measurement made outside the timed window; its span
    * has parent -1 and is left out of coverage and engine totals. */
  def probe[A](name: String)(body: => A): A = {
    endWindow()
    record(name, -1L)(body)
  }

  /** Closes the timed window for the counters that carry no span. */
  private def endWindow(): Unit = if (enabled && windowPlanningMs.isEmpty) {
    PerfbenchBus.drain(sc)
    windowPlanningMs = Some(synchronized(planningMs))
  }

  private def record[A](name: String, parent: Long)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(s"span-$id", name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), run)
        stack = stack.tail
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Delivers every pending listener event and stops listening. */
  def finish(): Unit = if (enabled) {
    endWindow()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  /** Whether the span sits under a probe rather than the timed window. */
  def inProbe(s: Span): Boolean = {
    val byId = spans.map(x => x.id -> x).toMap
    var cur = s
    while (cur.parent > 0) cur = byId(cur.parent)
    cur.parent < 0
  }

  /** Total duration of the spans called `name`, in the timed window or
    * under probes. */
  def seconds(name: String, probe: Boolean = false): Double =
    named(name).filter(inProbe(_) == probe).map(_.dur).sum / 1e9
  /** Analysis, optimization and planning time of the timed window. */
  def planningSeconds: Double = windowPlanningMs.getOrElse(0L) / 1e3

  private def ns(epochMs: Long): Long = epochMs * 1000000L + originNs

  /** Span ids whose subtree includes `root` (root itself included). */
  private def subtree(root: Long): Set[Long] = {
    var ids = Set(root)
    var grew = true
    while (grew) {
      val more = spans.filter(s => ids.contains(s.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  def stagesUnder(names: Seq[String]): Seq[StageRec] = {
    val groups = spans.filter(s => names.contains(s.name)).flatMap(s => subtree(s.id)).map(i => s"span-$i").toSet
    engine.stages.filter(st => groups.contains(st.group)).toSeq
  }

  def jobsUnder(names: Seq[String]): Int = {
    val groups = spans.filter(s => names.contains(s.name)).flatMap(s => subtree(s.id)).map(i => s"span-$i").toSet
    engine.jobs.count(j => groups.contains(j._1))
  }

  /** Wall time of [lo, hi) that no stage was running in: driver-side
    * planning, scheduling and result handling. */
  def driverGapSeconds(lo: Long, hi: Long): Double = {
    val busy = Intervals.unionLength(Intervals.clip(
      engine.stages.map(s => (ns(s.start), ns(s.end))).toSeq, lo, hi))
    (hi - lo - busy) / 1e9
  }

  /** Engine counters of every stage and job in [lo, hi). */
  def engineMetrics(lo: Long, hi: Long): Map[String, Double] = {
    val st = engine.stages.filter(s => ns(s.end) > lo && ns(s.start) < hi).toSeq
    val mb = 1024.0 * 1024.0
    Map(
      "engine.jobs" -> engine.jobs.count(j => ns(j._2) >= lo && ns(j._2) < hi).toDouble,
      "engine.stages" -> st.size.toDouble,
      "engine.tasks" -> st.map(_.tasks).sum.toDouble,
      "engine.exec_run_s" -> st.map(_.runMs).sum / 1e3,
      "engine.exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "engine.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "engine.shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / mb,
      "engine.spill_mb" -> st.map(_.spillBytes).sum / mb,
      "engine.driver_gap_s" -> driverGapSeconds(lo, hi))
  }

  /** Writes spans with their self time and attributed engine counters
    * as one JSON object per line. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val byGroup = engine.stages.groupBy(_.group)
    val lines = spans.sortBy(_.start).map { s =>
      val st = byGroup.getOrElse(s"span-${s.id}", Nil)
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"dur_s":${s.dur / 1e9},""" +
        s""""self_s":${Spans.selfTime(s, spans.toSeq) / 1e9},"stages":${st.size},""" +
        s""""tasks":${st.map(_.tasks).sum},"exec_cpu_s":${st.map(_.cpuNs).sum / 1e9}}"""
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
