package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task-metric sums for one job group (or for the whole session). */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var shuffleStages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskMaxMs = 0L
  /** task durations (ms) per stage, for straggler ratios */
  val stageTaskMs = mutable.TreeMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Slowest task over the median task of the span's busiest stage (the
    * most summed task time), or 0 with no tasks: the straggler ratio.
    */
  def busiestStageMaxOverMedian: Double =
    stageTaskMs.values.filter(_.nonEmpty).maxByOption(_.sum) match {
      case Some(ds) =>
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med > 0) ds.max / med else 0.0
      case None => 0.0
    }

  def copy(): Totals = {
    val t = new Totals
    t.jobs = jobs; t.stages = stages; t.shuffleStages = shuffleStages
    t.tasks = tasks; t.runMs = runMs; t.cpuNs = cpuNs; t.gcMs = gcMs
    t.inputBytes = inputBytes; t.inputRecords = inputRecords
    t.outputBytes = outputBytes; t.outputRecords = outputRecords
    t.shuffleWriteBytes = shuffleWriteBytes
    t.spillBytes = spillBytes; t.taskMaxMs = taskMaxMs
    stageTaskMs.foreach { case (k, v) => t.stageTaskMs(k) = v.clone() }
    t
  }

  /** this minus an earlier snapshot of the same accumulator */
  def minus(before: Totals): Totals = {
    val t = new Totals
    t.jobs = jobs - before.jobs; t.stages = stages - before.stages
    t.shuffleStages = shuffleStages - before.shuffleStages
    t.tasks = tasks - before.tasks; t.runMs = runMs - before.runMs
    t.cpuNs = cpuNs - before.cpuNs; t.gcMs = gcMs - before.gcMs
    t.inputBytes = inputBytes - before.inputBytes
    t.inputRecords = inputRecords - before.inputRecords
    t.outputBytes = outputBytes - before.outputBytes
    t.outputRecords = outputRecords - before.outputRecords
    t.shuffleWriteBytes = shuffleWriteBytes - before.shuffleWriteBytes
    t.spillBytes = spillBytes - before.spillBytes
    stageTaskMs.foreach { case (k, v) =>
      if (!before.stageTaskMs.contains(k)) {
        t.stageTaskMs(k) = v.clone(); t.taskMaxMs = math.max(t.taskMaxMs, v.max)
      }
    }
    t
  }
}

/** Sums task metrics per Spark job group, plus a session-wide total.
  *
  * A job's group is read from its properties when it starts, so every stage
  * and task of that job is charged to the group that was set on the calling
  * thread. Jobs started without a group go to the "" group.
  */
class SpanListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, Totals]
  private val all = new Totals

  private def charge(group: String)(f: Totals => Unit): Unit = {
    f(all); f(groups.getOrElseUpdate(group, new Totals))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    charge(g)(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    charge(stageGroup.getOrElse(info.stageId, "")) { t =>
      t.stages += 1
      if (org.apache.spark.PerfbenchInternals.isShuffleMapStage(info)) t.shuffleStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val dur = e.taskInfo.duration
      charge(stageGroup.getOrElse(e.stageId, "")) { t =>
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.outputRecords += m.outputMetrics.recordsWritten
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.taskMaxMs = math.max(t.taskMaxMs, dur)
        t.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
      }
    }
  }

  def group(name: String): Totals = synchronized {
    groups.get(name).map(_.copy()).getOrElse(new Totals)
  }

  def total: Totals = synchronized(all.copy())
}

/** JVM-wide counters: cumulative GC and JIT compile time, in seconds. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Resident-set high-water mark of this process in MB (Linux VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One recorded span: a named call into a layer, its wall time and the
  * task metrics of every Spark job it started.
  */
final case class Span(name: String, startS: Double, wallS: Double,
    jitS: Double, totals: Totals)

/** Span recorder. Each span runs its body under its own Spark job group,
  * waits for the listener bus to drain, and keeps the result in memory
  * until [[write]] is called at the end of the run.
  */
class Spans(sc: SparkContext, listener: SpanListener) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private var seq = 0

  def apply[T](name: String)(body: => T): T = {
    seq += 1
    val group = s"$name#$seq"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val jit0 = Jvm.jitSeconds
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      org.apache.spark.PerfbenchInternals.drain(sc)
      recorded += Span(name, (t0 - origin) / 1e9, wall, Jvm.jitSeconds - jit0,
        listener.group(group))
    }
  }

  def all: Seq[Span] = recorded.toSeq

  /** spans whose name equals `name` or starts with `name.` */
  def under(name: String): Seq[Span] =
    recorded.filter(s => s.name == name || s.name.startsWith(name + ".")).toSeq

  def wall(name: String): Double = under(name).map(_.wallS).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = recorded.map { s =>
      val t = s.totals
      Json.obj(Seq(
        "name" -> Json.str(s.name), "start_s" -> Json.num(s.startS),
        "wall_s" -> Json.num(s.wallS), "jit_s" -> Json.num(s.jitS),
        "jobs" -> Json.num(t.jobs), "tasks" -> Json.num(t.tasks),
        "run_s" -> Json.num(t.runMs / 1e3), "cpu_s" -> Json.num(t.cpuNs / 1e9),
        "gc_s" -> Json.num(t.gcMs / 1e3), "input_bytes" -> Json.num(t.inputBytes),
        "input_records" -> Json.num(t.inputRecords),
        "output_bytes" -> Json.num(t.outputBytes),
        "output_records" -> Json.num(t.outputRecords),
        "shuffle_write_bytes" -> Json.num(t.shuffleWriteBytes),
        "spill_bytes" -> Json.num(t.spillBytes)))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
