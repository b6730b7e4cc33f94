package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans for the traced run, written out when the run ends.
  *
  * Driver-side spans are opened by the benchmark around each call into a
  * layer; every span of one operation carries that operation's id. Spark
  * jobs and stages become child spans through [[SparkTrace]], a listener
  * that tags each job with the operation id set as a local property. With
  * tracing off, [[span]] only runs its body. */
final class Tracer(var enabled: Boolean) {
  import Tracer._

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  /** Wall clock in milliseconds, on the same base as Spark's event times. */
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var currentOp: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, name, layer, nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
      }
    }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        layer: String, start: Double, var end: Double)

  /** One interval of the attribution sweep. */
  final case class Interval(start: Double, end: Double, depth: Int,
                            layer: String)

  /** Splits the time inside `regions` among layers: each instant goes to
    * the deepest interval open at that instant (the latest-started one on
    * a tie). The result is each layer's self time, and the parts add up
    * to the regions' total length by construction. */
  def selfTimes(intervals: Seq[Interval],
                regions: Seq[(Double, Double)]): Map[String, Double] = {
    val cuts = (intervals.flatMap(i => Seq(i.start, i.end)) ++
      regions.flatMap(r => Seq(r._1, r._2))).distinct.sorted.toArray
    val byStart = intervals.sortBy(_.start).toArray
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var open = List.empty[Interval]
    var next = 0
    for (k <- 0 until cuts.length - 1) {
      val a = cuts(k)
      val b = cuts(k + 1)
      while (next < byStart.length && byStart(next).start <= a) {
        open = byStart(next) :: open
        next += 1
      }
      open = open.filter(_.end > a)
      if (regions.exists(r => r._1 <= a && b <= r._2)) {
        val live = open.filter(i => i.start <= a && i.end >= b)
        if (live.nonEmpty) {
          val top = live.maxBy(i => (i.depth, i.start))
          out(top.layer) += (b - a)
        }
      }
    }
    out.toMap
  }
}

/** Job, stage and task accounting from Spark's listener bus. */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, op: Int, start: Long, var end: Long,
                       stages: Seq[Int])
  final class StageAgg(val id: Int) {
    var submit = -1L
    var complete = -1L
    var tasks = 0
    var runMs = 0L
    var maxRunMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var fetchWaitMs = 0L
    var outBytes = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkTrace.OpProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, op, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).submit =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).complete =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.maxRunMs = math.max(s.maxRunMs, m.executorRunTime)
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

object SparkTrace {
  val OpProperty = "perfbench.op"
}
