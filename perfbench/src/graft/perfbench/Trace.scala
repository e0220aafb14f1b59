package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.format.{CommitLog, FileSkipping}

/** One traced interval: a public call (or a structural phase such as a
  * cycle) as seen from the benchmark's call site. `op` is the id of the
  * measured operation the span belongs to, -1 for structural spans.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimeNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(Stats.clip(
        children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** One JSON object per span, its self time included. */
  def toJson(spans: Seq[Span]): String = {
    val self = selfTimeNs(spans)
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** One measured call, with the counters read around it (traced run). */
final case class OpRecord(id: Int, kind: String, startMs: Long, endMs: Long,
                          commitReads: Long, prunedFiles: Long, gcMs: Long)

/** Spark's view of the traced run: every job tagged with the op that
  * submitted it (a local property, inherited by the threads Spark starts
  * for the call), and the stage and task totals under each job.
  */
final class JobLog extends SparkListener {
  final class Job(val op: Int, val start: Long) { @volatile var end: Long = -1 }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stagesRun = ConcurrentHashMap.newKeySet[Int]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpProp)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new Job(op, e.time))
    // a stage runs under the first job that lists it; later jobs skip it
    e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stagesRun.add(e.stageInfo.stageId); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Spark totals of one op: (jobs, stages, tasks, cpu ms, shuffle read
    * bytes, shuffle write bytes, job intervals in epoch ms).
    */
  def forOp(op: Int): (Int, Int, Long, Double, Long, Long, Seq[(Long, Long)]) = {
    val mine = jobs.asScala.filter(_._2.op == op)
    val ids = mine.keySet
    val stages = stageOwner.asScala.collect {
      case (s, j) if ids.contains(j) && stagesRun.contains(s) => s
    }
    val aggs = stages.flatMap(s => Option(stageAgg.get(s)))
    (mine.size, stages.size, aggs.map(_.tasks).sum, aggs.map(_.cpuNs).sum / 1e6,
      aggs.map(_.shuffleRead).sum, aggs.map(_.shuffleWrite).sum,
      mine.values.map(j => (j.start, j.end)).toSeq)
  }
}

/** Thrown when a measured public call fails: the call is counted as
  * failed and never timed, its cycle is not timed either, and the
  * measurement stops there.
  */
final class OpFailed(kind: String, cause: Throwable)
    extends RuntimeException(s"$kind failed: $cause", cause)

/** Times every public call the benchmark makes. Untraced, a call costs
  * two clock reads and two process-CPU-time reads. Traced, each call also gets a span, an op id that
  * tags its Spark jobs, and before/after deltas of the engine's public
  * counters; that bookkeeping is timed too (`traceSelfNs`), so the
  * traced run states its own overhead.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  /** Only calls made while measuring count as attempted and are timed. */
  var measuring = false
  var attempted = 0L
  var failed = 0L
  val latencyMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Each cycle's time with the hypervisor's CPU steal taken out. */
  val cycleMs = ArrayBuffer.empty[Double]
  /** Each cycle's time as measured. */
  val cycleRawMs = ArrayBuffer.empty[Double]
  /** Process CPU time (all JVM threads) spent inside each cycle's calls. */
  val cycleCpuMs = ArrayBuffer.empty[Double]
  /** Cycles left untimed because one of their calls failed or was refused. */
  var cyclesDropped = 0
  private var cycleAcc = 0.0
  private var cycleCpuAcc = 0.0
  private var cycleSpoiled = false
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRecord]
  private val measuredSpans = mutable.Set.empty[Int]
  private val stack = mutable.Stack.empty[Int]
  private var curOp = -1
  private var nextId = 0
  var traceSelfNs = 0L
  /** Largest heap in use at the end of any traced call. */
  var heapPeakBytes = 0L

  val jobLog: Option[JobLog] = if (traced) {
    val l = new JobLog
    spark.sparkContext.addSparkListener(l)
    Some(l)
  } else None

  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** A span around `body`; a no-op untraced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = open(name)
      try body finally close(id)
    }

  private def open(name: String): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, stack.headOption.getOrElse(-1), curOp, name, System.nanoTime(), -1L)
    if (measuring) measuredSpans += id
    stack.push(id)
    id
  }

  private def close(id: Int): Unit = {
    stack.pop()
    spans(id) = spans(id).copy(endNs = System.nanoTime())
  }

  /** One measured public call (or a fixed group of them) of `kind`. */
  def op[T](kind: String, spanName: String)(body: => T): T = {
    if (measuring) attempted += 1
    var id = -1
    var reads0, pruned0, gc0, startMs = 0L
    if (traced) {
      val s0 = System.nanoTime()
      id = nextId
      curOp = id
      spark.sparkContext.setLocalProperty(Recorder.OpProp, id.toString)
      reads0 = CommitLog.commitReads.get(); pruned0 = FileSkipping.prunedFiles.get()
      gc0 = gcMs()
      startMs = System.currentTimeMillis()
      open(spanName)
      traceSelfNs += System.nanoTime() - s0
    }
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val result =
      try body
      catch {
        case e: Throwable =>
          if (traced) finishTraced(id, kind, startMs, reads0, pruned0, gc0, keep = false)
          if (measuring) failed += 1
          cycleSpoiled = true
          throw new OpFailed(kind, e)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    if (traced) finishTraced(id, kind, startMs, reads0, pruned0, gc0, keep = measuring)
    if (measuring) {
      latencyMs.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      cycleAcc += ms
      cycleCpuAcc += cpuMs
    }
    result
  }

  /** A call of `kind` the workload refused to make (its input was not in
    * the state the call needs): attempted and failed, and its cycle, now
    * shorter by one call, is not timed.
    */
  def refuse(kind: String): Unit = {
    if (measuring) { attempted += 1; failed += 1 }
    cycleSpoiled = true
  }

  private def finishTraced(id: Int, kind: String, startMs: Long, reads0: Long,
                           pruned0: Long, gc0: Long, keep: Boolean): Unit = {
    val endMs = System.currentTimeMillis()
    val s0 = System.nanoTime()
    close(id)
    spark.sparkContext.setLocalProperty(Recorder.OpProp, null)
    curOp = -1
    heapPeakBytes = math.max(heapPeakBytes,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    if (keep) ops += OpRecord(id, kind, startMs, endMs,
      CommitLog.commitReads.get() - reads0, FileSkipping.prunedFiles.get() - pruned0,
      gcMs() - gc0)
    traceSelfNs += System.nanoTime() - s0
  }

  /** A closed-loop cycle: its time is the sum of its calls' times. A
    * cycle with a failed or refused call is not timed, so a failure can
    * never read as a faster cycle.
    */
  def cycle[T](body: => T): T = {
    cycleAcc = 0.0
    cycleCpuAcc = 0.0
    cycleSpoiled = false
    val ticks0 = Steal.ticks()
    val r = span("cycle")(body)
    if (measuring && cycleSpoiled) cyclesDropped += 1
    else if (measuring) {
      cycleRawMs += cycleAcc
      cycleMs += cycleAcc * (1 - Steal.share(ticks0, Steal.ticks()))
      cycleCpuMs += cycleCpuAcc
    }
    r
  }

  /** Durations (ms) of the measured spans named `name`. */
  def spanMs(name: String, measuredOnly: Boolean = true): Seq[Double] =
    spans.filter(s => s.name == name && s.endNs > 0 &&
        (!measuredOnly || measuredSpans.contains(s.id)))
      .map(_.durNs / 1e6).toSeq
}

/** CPU steal: time this machine's virtual CPUs were ready to run while
  * the hypervisor ran another guest. On a shared host it inflates every
  * wall time by its share, and that share drifts from minute to minute;
  * taking it out leaves the time the calls take on the machine itself.
  */
object Steal {
  /** (busy ticks, steal ticks) of all CPUs from /proc/stat; None where
    * there is no such file, and then nothing is taken out.
    */
  def ticks(): Option[(Long, Long)] =
    scala.util.Try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      (f(0) + f(1) + f(2) + f(4) + f(5) + f(6), f(7))
    }.toOption

  /** Share of the CPU time wanted between two readings that was stolen. */
  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((b0, s0)), Some((b1, s1))) if (b1 - b0) + (s1 - s0) > 0 =>
        (s1 - s0).toDouble / ((b1 - b0) + (s1 - s0))
      case _ => 0.0
    }
}

object Recorder {
  val OpProp = "graft.perfbench.op"
}
