package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into a graft module. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counts kept in memory; written out when the run ends.
  * While inactive it times nothing and records nothing.
  */
final class Trace {
  var active = false
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def count(name: String, v: Double): Unit =
    if (active) counts.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(s => s != null && s.name == name).map(_.ms).toSeq

  /** Self time of every span: its duration minus the part of it that its
    * children cover.
    */
  def selfMs: Seq[(String, Double)] = {
    val done = spans.filter(_ != null)
    val kids = done.groupBy(_.parent)
    done.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).sortBy(_.startNs)
        .foldLeft((0L, s.startNs)) { case ((acc, edge), c) =>
          val lo = math.max(c.startNs, edge); val hi = math.min(c.endNs, s.endNs)
          if (hi > lo) (acc + (hi - lo), hi) else (acc, edge)
        }._1
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }
  }

  def toJson: String = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.filter(_ != null).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"counts\":{")
    counts.zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(',')
      sb.append(s""""$k":[${v.mkString(",")}]""")
    }
    sb.append("}}").toString
  }
}

/** Spark execution counters for the jobs whose `graftbench.phase`
  * local property is "op" (or unset: jobs the broker starts on its own
  * threads). Replays that only exist to split an op into layers set the
  * property to "replay" and are not counted. Events arrive on Spark's
  * listener bus after the fact, so `counting` may only change once the
  * bus is drained (`drain`).
  */
final class ExecListener extends SparkListener {
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val jobs = new java.util.concurrent.atomic.LongAdder
  val stages = new java.util.concurrent.atomic.LongAdder
  val tasks = new java.util.concurrent.atomic.LongAdder
  val failedTasks = new java.util.concurrent.atomic.LongAdder
  val cpuNs = new java.util.concurrent.atomic.LongAdder
  val shuffleWrite = new java.util.concurrent.atomic.LongAdder
  val shuffleRead = new java.util.concurrent.atomic.LongAdder
  val spill = new java.util.concurrent.atomic.LongAdder
  @volatile var counting = false

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("graftbench.phase"))).getOrElse("op")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ph = phaseOf(e.properties)
    e.stageIds.foreach(id => stagePhase.put(id, ph))
    if (counting && ph == "op") jobs.increment()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val ph = phaseOf(e.properties)
    stagePhase.put(e.stageInfo.stageId, ph)
    if (counting && ph == "op") stages.increment()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (counting && stagePhase.getOrDefault(e.stageId, "op") == "op") {
      tasks.increment()
      if (!e.taskInfo.successful) failedTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

object ExecListener {
  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.GraftbenchListenerBus.drain(sc)

  def withPhase[A](sc: SparkContext, phase: String)(body: => A): A = {
    val prev = sc.getLocalProperty("graftbench.phase")
    sc.setLocalProperty("graftbench.phase", phase)
    try body finally sc.setLocalProperty("graftbench.phase", prev)
  }
}

object Alloc {
  /** Bytes allocated by all threads of this JVM so far. */
  def bytes: Long = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes
}

/** Whole-stage codegen compile counters (Spark's CodegenMetrics). The
  * mean compile time comes from a sampling reservoir.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def meanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** A percentile that pools no op kinds: the geometric mean over kinds
    * of each kind's own percentile. With one kind it is the percentile.
    */
  def pctByKind(xs: Seq[Double], kinds: Seq[String], p: Double): Double = {
    val per = xs.zip(kinds).groupBy(_._2).values.map(g => pct(g.map(_._1), p)).toSeq
    math.exp(per.map(math.log).sum / per.size)
  }
}
