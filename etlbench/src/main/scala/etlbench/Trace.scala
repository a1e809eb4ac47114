package etlbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory span recorder. Spans are opened by the benchmark around each
  * call into a layer of the program; a span's trace id is the pipeline
  * run's run_id. While a span is open, Spark jobs submitted from this thread
  * carry the span's name as the `etlbench.layer` local property, which is
  * how [[LayerListener]] attributes jobs and tasks to layers. Disabled, it
  * only runs the body.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def apply[T](trace: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(trace, id, open.headOption.getOrElse(-1), name, System.nanoTime(), -1L)
      val prevLayer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, name)
      open = id :: open
      try body
      finally {
        open = open.tail
        sc.setLocalProperty(LayerKey, prevLayer)
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  /** Seconds spent in spans named `name`, and their self time: each span's
    * duration minus the part of it its child spans cover.
    */
  def totals: Map[String, (Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map(s => s.end - s.start - covered(children.getOrElse(s.id, Nil).toSeq)).sum
      name -> ((total / 1e9, self / 1e9))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"trace":"${s.trace}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LayerKey = "etlbench.layer"
  final case class Span(trace: String, id: Int, parent: Int, name: String, start: Long, end: Long)

  /** Length of the union of the children's intervals. */
  private def covered(cs: Seq[Span]): Long = {
    var sum = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    cs.sortBy(_.start).foreach { c =>
      if (c.start > curE) { sum += curE - curS; curS = c.start; curE = c.end }
      else curE = math.max(curE, c.end)
    }
    sum + (curE - curS)
  }
}

/** Counts Spark jobs, tasks, task time and shuffle bytes per layer (the
  * `etlbench.layer` local property of the submitting thread).
  */
final class LayerListener extends SparkListener {
  final class Counts { var jobs = 0L; var tasks = 0L; var taskMaxS = 0.0; var shuffleBytes = 0L }
  private val byLayer = mutable.Map.empty[String, Counts]
  private val stageLayer = mutable.Map.empty[Int, String]

  private def of(layer: String) = byLayer.getOrElseUpdate(layer, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
      .getOrElse("none")
    of(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageLayer.getOrElse(e.stageId, "none"))
    c.tasks += 1
    c.taskMaxS = math.max(c.taskMaxS, e.taskInfo.duration / 1e3)
    if (e.taskMetrics != null)
      c.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
  }

  def reset(): Unit = synchronized { byLayer.clear(); stageLayer.clear() }

  def counts(layer: String): Counts = synchronized(byLayer.getOrElse(layer, new Counts))
  /** Counts of every layer, leaving out jobs submitted outside any span. */
  def traced: Seq[Counts] = synchronized(byLayer.filter(_._1 != "none").values.toSeq)
}
