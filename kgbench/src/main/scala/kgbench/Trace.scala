package kgbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Spans around the benchmark's calls into each engine layer, plus Spark task
 * metrics grouped by the span that launched them.
 *
 * A span sets its name as the Spark job group, so the [[Tasks]] listener can
 * attribute every job, stage and task to the innermost open span. Spans are
 * kept in memory and written out once, when the run ends.
 */
final class Trace(sc: SparkContext) {
  import Trace.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var iteration = 0
  val tasks = new Tasks
  sc.addSparkListener(tasks)

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
      iteration, System.nanoTime())
    spans += s
    open = s :: open
    setGroup(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => setGroup(p)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def setGroup(s: Span): Unit = {
    val g = Tasks.groupId(s.name, s.iteration)
    sc.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Totals of a span name in one iteration, after every pending listener
    * event has been delivered. */
  def totals(name: String, iter: Int): Tasks#Totals = {
    org.apache.spark.kgbench.Internals.drainListeners(sc)
    tasks.totals(Tasks.groupId(name, iter))
  }

  /** Span duration minus the part covered by its direct children, seconds. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => k.endNs - k.startNs).sum
    (s.endNs - s.startNs - kids) / 1e9
  }

  def json(t0Ns: Long): String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iteration":${s.iteration},""" +
      f""""start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,"end_ms":${(s.endNs - t0Ns) / 1e6}%.3f,""" +
      f""""self_ms":${selfSeconds(s) * 1e3}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, iteration: Int,
                        startNs: Long, var endNs: Long = -1L)
}

object Tasks {
  def groupId(name: String, iteration: Int): String = s"kgbench:$name@$iteration"
}

/** Task metrics summed per job group: one group per span name and iteration. */
final class Tasks extends SparkListener {

  final class Totals {
    var jobs = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var ioBytes = 0L
    var retries = 0
    // task durations per Spark stage, for the skew of the heaviest stage
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** max / median task time of the stage with the most total task time. */
    def skew: Double =
      if (durations.isEmpty) 1.0
      else {
        val d = durations.values.maxBy(_.sum).sorted
        val med = d(d.length / 2)
        if (med <= 0) 1.0 else d.last.toDouble / med
      }
  }

  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def totals(group: String): Totals = synchronized {
    byGroup.getOrElse(group, new Totals)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Totals).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { key =>
      val t = byGroup.getOrElseUpdate(key, new Totals)
      if (!e.taskInfo.successful) t.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
      }
      t.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}
