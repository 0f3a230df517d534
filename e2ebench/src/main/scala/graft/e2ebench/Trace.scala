package graft.e2ebench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Cluster-side work counted by one SparkListener for the whole run. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  def snapshot(sc: SparkContext): Counters.Snap = {
    BusDrain(sc)
    Counters.Snap(jobs.get, taskMs.get, shuffleWriteBytes.get, spillBytes.get)
  }
}

object Counters {
  final case class Snap(jobs: Long, taskMs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, taskMs - o.taskMs,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  }
}

/** In-memory span recorder. A span is (id, parent, name, start, end,
  * jobs) inside one run id; spans nest through a stack, so a layer's
  * self time is its duration minus the time its child spans cover.
  * With `on = false` every call is a plain pass-through.
  */
final class Tracer(val on: Boolean, runId: String, sc: SparkContext, counters: Counters) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val j0 = counters.snapshot(sc).jobs
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val j1 = counters.snapshot(sc).jobs
        val t1 = System.nanoTime()
        open = open.tail
        done += Span(id, parent, name, t0, t1, j1 - j0)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time of every span: its duration minus its children's. */
  def selfNs: Map[Int, Long] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    done.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  def jsonLines: Seq[String] = {
    val self = selfNs
    done.toSeq.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},"jobs":${s.jobs}}"""
    }
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, jobs: Long) {
    def durNs: Long = endNs - startNs
  }
}
