package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage task metrics of every job the session runs since the last
  * [[reset]] — the one SparkListener behind `graft.Bench`'s diagnostics
  * file, `graft.Profile`'s stage table and `graft.ScaleProbe`'s spill
  * tags. Spark delivers a listener's events on one bus thread; the
  * readers here run on the driver's main thread, so every access is
  * synchronized.
  */
final class StageMetrics extends SparkListener {
  import StageMetrics.Stage

  private val stages = mutable.Map.empty[Int, Stage]
  private def update(id: Int)(f: Stage => Stage): Unit =
    stages(id) = f(stages.getOrElse(id, Stage()))

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    js.stageInfos.foreach(si => update(si.stageId)(_.copy(jobId = js.jobId)))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) update(te.stageId) { s =>
      s.copy(
        runMs = s.runMs + m.executorRunTime,
        cpuMs = s.cpuMs + m.executorCpuTime / 1000000L,
        gcMs = s.gcMs + m.jvmGCTime,
        spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        tasks = s.tasks + 1,
        rowsIn = s.rowsIn + m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead,
        rowsOut = s.rowsOut + m.shuffleWriteMetrics.recordsWritten +
          m.outputMetrics.recordsWritten)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    val ops = info.rddInfos.flatMap(_.scope.map(_.name)).distinct
    update(info.stageId)(_.copy(name = info.name, ops = ops, callSite = info.details))
  }

  /** Forget every stage seen so far. Call after `ListenerFlush.drain`,
    * or events of earlier jobs still in flight land after the reset. */
  def reset(): Unit = synchronized(stages.clear())

  /** Stages that ran tasks since the last reset, by id (a job also
    * lists the stages it skips). Call after `ListenerFlush.drain` so
    * every finished task is counted. */
  def byStage: Seq[(Int, Stage)] =
    synchronized(stages.toSeq.filter(_._2.tasks > 0).sortBy(_._1))
}

object StageMetrics {
  final case class Stage(
      jobId: Int = -1,
      runMs: Long = 0L,
      cpuMs: Long = 0L,
      gcMs: Long = 0L,
      spillBytes: Long = 0L,
      tasks: Long = 0L,
      rowsIn: Long = 0L,
      rowsOut: Long = 0L,
      name: String = "",
      ops: Seq[String] = Nil,
      callSite: String = "")

  def install(sc: SparkContext): StageMetrics = {
    val m = new StageMetrics
    sc.addSparkListener(m)
    m
  }
}

/** JVM and host counters read around a timed run; each is cumulative,
  * so a run's cost is the difference of two reads. */
object JvmProbes {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMillis: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Classes Spark's code generator compiled with Janino; a cached
    * generated class is reused without a compile. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def codeCachePools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
  def codeUsedMB: Long = codeCachePools.map(_.getUsage.getUsed).sum >> 20
  def codeMaxMB: Long = codeCachePools.map(_.getUsage.getMax).sum >> 20

  def classesLoaded: Long =
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def procCpuMs: Long = {
    val d = ProcessHandle.current.info.totalCpuDuration
    if (d.isPresent) d.get.toMillis else 0L
  }

  /** The aggregate "cpu" line of /proc/stat: user nice system idle
    * iowait irq softirq steal ..., in 10 ms jiffies summed over all
    * CPUs; empty if unreadable (non-Linux). */
  private def procStat: Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Throwable => Array.empty }

  /** Whole-machine busy time, ms — catches contention from OTHER
    * processes that task metrics cannot see. */
  def osBusyMs: Long = {
    val f = procStat
    if (f.length < 4) 0L else (f.sum - f(3) - (if (f.length > 4) f(4) else 0L)) * 10L
  }

  /** Hypervisor steal time, ms. On a VM guest whose vCPUs the host
    * preempts, guest thread CPU time (taskCpuMs/procCpuMs) KEEPS
    * TICKING while a vCPU is preempted, so a stolen window reads as
    * "the same stage burned 20x CPU with zero GC/JIT/classload" —
    * exactly the signature of the r9 spike and the r20 score gap. A
    * nonzero stealMs delta on an anomalous run attributes the spike to
    * the host, not the plan. */
  def osStealMs: Long = {
    val f = procStat
    if (f.length > 7) f(7) * 10L else 0L
  }
}
