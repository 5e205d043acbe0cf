package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Spark-side counters attributed to one span. */
final case class Counters(jobs: Long = 0, tasks: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** One recorded span. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, parent: Option[Int],
    start: Long, end: Long, counts: Map[String, Double])

/** Counts jobs, tasks, shuffle-write bytes and spill bytes per span label.
  * Jobs carry the label of the span open on the submitting thread as a
  * local property (Spark copies local properties to the threads it starts
  * for a query, e.g. broadcast builds), so late listener events still land
  * on the right span.
  */
final class SpanListener extends SparkListener {
  private val byLabel = new ConcurrentHashMap[String, Counters]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()

  private def add(label: String, c: Counters): Unit =
    byLabel.merge(label, c, (a: Counters, b: Counters) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Property))).getOrElse(Tracer.NoSpan)
    e.stageIds.foreach(stageLabel.put(_, label))
    add(label, Counters(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val label = Option(stageLabel.get(e.stageId)).getOrElse(Tracer.NoSpan)
    val m = e.taskMetrics
    val c =
      if (m == null) Counters(tasks = 1)
      else Counters(tasks = 1,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    add(label, c)
  }

  def counters(label: String): Counters =
    Option(byLabel.get(label)).getOrElse(Counters())
}

/** In-memory span recorder. Spans are kept until the run ends; nothing is
  * written while a run measures.
  */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener
  sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  // per-span counts, computed by `finish` once the traced pass has ended
  private val pending = ArrayBuffer.empty[(Int, () => Map[String, Double])]

  /** Run `body` inside a span named `name`. `counts(result)` adds per-span
    * counts (rows, bytes, ...); it runs in `finish`, after the traced pass,
    * so its own jobs add to no span's time.
    */
  def span[A](name: String)(body: => A): A = spanWith(name)(body)(_ => Map.empty)

  def spanWith[A](name: String)(body: => A)(counts: A => Map[String, Double]): A = {
    val id = nextId
    nextId += 1
    val label = s"$name#$id"
    val parent = stack.headOption.map(_._1)
    stack = (id, label) :: stack
    sc.setLocalProperty(Tracer.Property, label)
    val t0 = System.nanoTime()
    val result =
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Property, stack.headOption.map(_._2).orNull)
        spans += Span(id, name, parent, t0, t1, Map.empty)
      }
    pending += (id -> (() => counts(result)))
    result
  }

  /** End of the traced pass: compute the deferred per-span counts with no
    * span label (their jobs are charged to no span), then wait for the
    * listener bus so every span's Spark counters are complete.
    */
  def finish(): Unit = {
    require(stack.isEmpty, "finish with a span still open")
    sc.setLocalProperty(Tracer.Property, null)
    pending.foreach { case (id, counts) =>
      val i = spans.indexWhere(_.id == id)
      spans(i) = spans(i).copy(counts = counts())
    }
    pending.clear()
    drain()
  }

  /** Wait until every listener event posted so far has been handled. */
  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  /** Spark counters of a span including its descendants. */
  def inclusive(s: Span): Counters = {
    val kids = spans.filter(_.parent.contains(s.id))
    kids.foldLeft(listener.counters(s"${s.name}#${s.id}"))((c, k) => c + inclusive(k))
  }

  def selfSeconds(s: Span): Double = Stats.selfTime(s.start, s.end,
    spans.filter(_.parent.contains(s.id)).map(k => (k.start, k.end)).toSeq) / 1e9

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Per-layer values of `spans`: `.s` is the span's wall time (for a leaf
    * layer, its self time), Spark counters include descendants, and a
    * span's own counts are prefixed with its name.
    */
  def layerValues(spans: Seq[Span]): Map[String, Double] = spans.flatMap { s =>
    val c = inclusive(s)
    Seq(s"${s.name}.s" -> seconds(s),
      s"${s.name}.jobs" -> c.jobs.toDouble,
      s"${s.name}.shuffle_bytes" -> c.shuffleBytes.toDouble,
      s"${s.name}.spill_bytes" -> c.spillBytes.toDouble) ++
      s.counts.map { case (k, x) => s"${s.name}.$k" -> x }
  }.toMap

  /** All spans as JSON lines (name, start, end, parent, self time, counts). */
  def toJson: String = {
    drain()
    spans.map { s =>
      val c = inclusive(s)
      val extra = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse(-1)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_s":${selfSeconds(s)},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}""" +
        (if (extra.isEmpty) "}" else s",$extra}")
    }.mkString("\n")
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val Property = "graft.perfbench.span"
  val NoSpan = "-"
}
