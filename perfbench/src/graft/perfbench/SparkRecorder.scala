package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one timed call (its own job group). */
final case class CallStats(kind: String, wallMs: Double, jobs: Int,
                           stages: Int, tasks: Int, singleTaskStages: Int,
                           shuffleWriteBytes: Long, shuffleReadBytes: Long,
                           spillBytes: Long, gcMs: Long,
                           schedulerDelayMs: Long, taskSkew: Double,
                           jobBusyMs: Double) {
  /** Wall time while no job of this call was running: driver-side work
    * and waiting between jobs. */
  def driverMs: Double = math.max(0.0, wallMs - jobBusyMs)
}

/** Times calls into the engine and attributes Spark jobs, stages, tasks,
  * shuffle, spill, GC and scheduler delay to each call. Every call runs
  * under a job group of its own; the listener maps job -> group at job
  * start and stage -> group through the job's stage ids. Calls are leaves:
  * a nested call takes the jobs it starts, the enclosing call the rest. */
final class SparkRecorder(sc: SparkContext, tracer: Tracer)
    extends SparkListener {

  private final class Acc {
    var jobs, stages, tasks, single = 0
    var shufW, shufR, spill, gc, sched = 0L
    var skew = 1.0
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private final case class Call(kind: String, group: String, ms: Double)

  private val byGroup = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageDurations = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private val calls = mutable.ArrayBuffer[Call]()
  private var seq = 0L
  private var lastWallMs = 0.0

  sc.addSparkListener(this)

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkRecorder.JobGroupKey)))
      .filter(_.startsWith(SparkRecorder.Prefix)).foreach { g =>
        synchronized {
          acc(g).jobs += 1
          jobStart(e.jobId) = (g, e.time)
          e.stageIds.foreach(stageGroup(_) = g)
        }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      acc(g).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gc += m.jvmGCTime
        a.sched += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageGroup.get(id).foreach { g =>
      val a = acc(g)
      a.stages += 1
      if (e.stageInfo.numTasks == 1) a.single += 1
      stageDurations.remove(id).filter(_.nonEmpty).foreach { ds =>
        val s = ds.sorted
        a.skew = math.max(a.skew, s.last.toDouble / math.max(1L, s(s.length / 2)))
      }
    }
  }

  /** Runs `body` as one timed call of `kind` ("<layer>.<call>"), inside a
    * trace span of the same name. */
  def apply[T](kind: String)(body: => T): T = {
    seq += 1
    val group = s"${SparkRecorder.Prefix}$seq"
    val prev = sc.getLocalProperty(SparkRecorder.JobGroupKey)
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try tracer(kind)(body)
    finally {
      lastWallMs = (System.nanoTime() - t0) / 1e6
      if (prev == null) sc.clearJobGroup()
      else sc.setLocalProperty(SparkRecorder.JobGroupKey, prev)
      calls += Call(kind, group, lastWallMs)
    }
  }

  /** Wall time of the call that finished last, in ms. */
  def lastMs: Double = lastWallMs

  def wallMs(kind: String): Seq[Double] =
    calls.iterator.filter(_.kind == kind).map(_.ms).toSeq

  /** kind -> (calls, median ms, total ms), in first-call order. */
  def summary: Seq[(String, Int, Double, Double)] =
    calls.map(_.kind).distinct.toSeq.map { k =>
      val xs = wallMs(k)
      (k, xs.size, Stats.median(xs), xs.sum)
    }

  /** Per-call Spark statistics of every call of `kind`; drains the
    * listener bus first. */
  def stats(kind: String): Seq[CallStats] = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      calls.iterator.filter(_.kind == kind).map { c =>
        val a = byGroup.getOrElse(c.group, new Acc)
        CallStats(c.kind, c.ms, a.jobs, a.stages, a.tasks, a.single,
          a.shufW, a.shufR, a.spill, a.gc, a.sched, a.skew,
          SparkRecorder.unionMs(a.jobSpans.toSeq))
      }.toSeq
    }
  }
}

object SparkRecorder {
  val Prefix = "perfbench-"
  private val JobGroupKey = "spark.jobGroup.id"

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
