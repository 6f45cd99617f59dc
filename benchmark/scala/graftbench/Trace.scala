package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON for the run record: Jackson with its Scala module, both in
  * Spark's jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One wall clock for everything the record holds: epoch milliseconds
  * with sub-millisecond resolution, anchored once so it lines up with
  * the epoch-millisecond times Spark stamps on listener events. */
object Clock {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** Everything the traced run observes through Spark's public listener
  * APIs: job spans with their job group, per-stage task totals, and the
  * planning-phase times of each SQL execution. Events arrive on the
  * listener bus asynchronously; [[drain]] waits until every started job
  * has ended before the record is read. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  final class StageAcc(val id: Int) {
    @volatile var name: String = ""
    @volatile var submitMs: Long = -1L
    @volatile var completeMs: Long = -1L
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val recordsRead = new AtomicLong
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()
  @volatile private var lastEventMs: Double = Clock.nowMs

  private def stage(id: Int): StageAcc =
    stages.computeIfAbsent(id, i => new StageAcc(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.stageIds))
    e.stageInfos.foreach(si => stage(si.stageId).name = si.name)
    lastEventMs = Clock.nowMs
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.ok = e.jobResult == JobSucceeded
      j.endMs = e.time
    }
    lastEventMs = Clock.nowMs
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    e.stageInfo.submissionTime.foreach(t => s.submitMs = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.submitMs = t)
    e.stageInfo.completionTime.foreach(t => s.completeMs = t)
    lastEventMs = Clock.nowMs
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.runMs.addAndGet(m.executorRunTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.get("analysis").orElse(ph.values.headOption)
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    phases.add(PhaseRec(at, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPhases(qe)

  /** Wait (bounded) until every started job has ended and the bus has
    * been quiet for a moment, so the record is complete. */
  def drain(maxWaitMs: Long = 10000L): Unit = {
    val deadline = Clock.nowMs + maxWaitMs
    def pending = jobs.values.asScala.exists(_.endMs < 0)
    while (Clock.nowMs < deadline &&
      (pending || Clock.nowMs - lastEventMs < 300)) Thread.sleep(20)
  }

  def jobRecords: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stageIds)
    }

  def stageRecords: Seq[Map[String, Any]] =
    stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "submit_ms" -> s.submitMs,
        "complete_ms" -> s.completeMs, "tasks" -> s.tasks.get,
        "cpu_ns" -> s.cpuNs.get, "run_ms" -> s.runMs.get,
        "gc_ms" -> s.gcMs.get, "shuffle_write" -> s.shuffleWrite.get,
        "shuffle_read" -> s.shuffleRead.get, "spill" -> s.spill.get,
        "records_read" -> s.recordsRead.get)
    }

  def phaseRecords: Seq[Map[String, Any]] =
    phases.asScala.toSeq.sortBy(_.atMs).map { p =>
      Map("at_ms" -> p.atMs, "analysis_ms" -> p.analysisMs,
        "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs)
    }
}

object Recorder {
  final case class JobRec(id: Int, group: String, startMs: Long,
      stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
  }

  final case class PhaseRec(atMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
}

/** Process-wide JVM counters read at span boundaries. */
object JvmStats {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def heapUsedMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0

  /** Hadoop `file:` storage statistics: (bytesRead, bytesWritten),
    * summed over every registered statistics object for the scheme. */
  def fsBytes: (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** The host-speed probe: a fixed unit of host work, run in a separate
  * small JVM that shares nothing with the program's JVM but the host.
  *
  * The shared host's speed drifts by a quarter and more over minutes;
  * the probe's wall time tracks that drift. Running it in its own
  * process keeps the program's heap, GC, cached blocks, shuffle files
  * and listener backlog out of it, so a program regression of that kind
  * is not cancelled when `benchmark/metrics.py` scales the timings by
  * the probe. One unit is [[Rounds]] rounds of one small sort task per
  * thread of a pool, waited for round by round: like that many tiny
  * Spark jobs, it costs mostly hand-off latency. */
object HostProbe {
  val Rounds = 32
  val ArrayLen = 1 << 13

  /** Sidecar entry: `HostProbe THREADS`; for each line on stdin it runs
    * one unit and prints its milliseconds. It ends at end of input, that
    * is when the benchmark JVM closes the pipe or dies. */
  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val task: java.util.concurrent.Callable[Long] = () => {
      val r = new java.util.Random(42L)
      val a = Array.fill(ArrayLen)(r.nextLong())
      java.util.Arrays.sort(a)
      a(a.length / 2)
    }
    try {
      while (in.readLine() != null) {
        val t0 = System.nanoTime()
        var round = 0
        while (round < Rounds) {
          val fs = (0 until threads).map(_ => pool.submit(task))
          fs.foreach(_.get())
          round += 1
        }
        System.out.println((System.nanoTime() - t0) / 1e6)
        System.out.flush()
      }
    } finally pool.shutdownNow()
  }

  private def location(c: Class[_]): String =
    new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
}

/** The benchmark JVM's handle on one probe sidecar. */
final class HostProbe(threads: Int) extends AutoCloseable {
  private val proc = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = Seq(classOf[HostProbe], classOf[scala.Option[_]])
      .map(c => HostProbe.location(c)).distinct.mkString(java.io.File.pathSeparator)
    new ProcessBuilder(javaBin, "-Xmx64m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
      "-cp", cp, "graftbench.HostProbe", threads.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  }
  private val toProbe = new java.io.PrintStream(proc.getOutputStream, true)
  private val fromProbe = new java.io.BufferedReader(
    new java.io.InputStreamReader(proc.getInputStream))

  /** Run one unit in the sidecar; its wall time in milliseconds. */
  def sample(): Double = {
    toProbe.println("run")
    val line = fromProbe.readLine()
    require(line != null, "host probe ended")
    line.toDouble
  }

  /** Close the pipe and wait until the sidecar has ended. */
  def close(): Unit = {
    toProbe.close()
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}
