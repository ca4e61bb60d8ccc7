package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Engine

/** Spark-side totals for one request, keyed by its `sn`. */
final class SnStats {
  var jobs, constructJobs, tasks = 0L
  var taskCpuNs, taskGcMs, shuffleRead, shuffleWrite, spill, input = 0L
  val stages = scala.collection.mutable.Set.empty[Int]
  var lastJobEndMs = Long.MinValue
}

/** Per-layer tracing through public entry points only.
  *
  *  - Every catalog handler is re-registered through `Engine.register`,
  *    wrapped so it records when the handler was entered and when it
  *    returned its DataFrame (the construct span). While it runs, the
  *    wrapper sets a local property that Spark copies into every job the
  *    handler starts, so construct-time jobs are told apart.
  *  - A SparkListener groups jobs, stages and task metrics by the job
  *    group, which `Engine.withQueryFrame` sets to the request's `sn`.
  */
final class Trace extends SparkListener {
  import Trace._

  /** sn -> (handler entered, handler returned), System.nanoTime. */
  val spans = new ConcurrentHashMap[String, (Long, Long)]()
  private val bySn = new ConcurrentHashMap[String, SnStats]()
  private val jobSn = new ConcurrentHashMap[Int, String]()
  private val stageSn = new ConcurrentHashMap[Int, String]()

  def stats(sn: String): Option[SnStats] = Option(bySn.get(sn))

  private def acc(sn: String) = bySn.computeIfAbsent(sn, _ => new SnStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { sn =>
      val s = acc(sn)
      s.synchronized {
        s.jobs += 1
        if (e.properties.getProperty(PhaseKey) == "construct") s.constructJobs += 1
      }
      jobSn.put(e.jobId, sn)
      e.stageIds.foreach(stageSn.put(_, sn))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSn.remove(e.jobId)).foreach { sn =>
      val s = acc(sn)
      s.synchronized { s.lastJobEndMs = math.max(s.lastJobEndMs, e.time) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (sn <- Option(stageSn.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = acc(sn)
      s.synchronized {
        s.tasks += 1
        s.stages += e.stageId
        s.taskCpuNs += m.executorCpuTime
        s.taskGcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }

  /** Re-register every catalog handler with the construct-span wrapper.
    * The wrapped call is exactly what `SparkEntry.engineFor` registers. */
  def wrapHandlers(engine: Engine): Unit =
    SparkEntry.catalog.foreach { case (name, q) =>
      engine.register(name) { (s, _, args) =>
        val sc = s.sparkContext
        val sn = sc.getLocalProperty(JobGroupKey)
        val t0 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, "construct")
        try q.fn(s, args.head.toString)
        finally {
          sc.setLocalProperty(PhaseKey, null)
          if (sn != null) spans.put(sn, (t0, System.nanoTime()))
        }
      }
    }
}

object Trace {
  /** The local property Spark sets from `setJobGroup`. */
  val JobGroupKey = "spark.jobGroup.id"
  val PhaseKey = "perfbench.phase"

  def install(spark: SparkSession, engine: Engine): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    t.wrapHandlers(engine)
    t
  }
}
