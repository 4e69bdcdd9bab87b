package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for traced runs. A span is (name, start, end,
  * parent, batch): `batch` is the shared id of the document batch, query
  * or bucket the span works on. Spans stay in memory until `write`; self
  * time is a span's duration minus its direct children's. A disabled
  * recorder runs the body and records nothing, so the same workload code
  * serves traced and untraced runs.
  */
final class Trace(val enabled: Boolean) {
  final case class SpanRec(id: Int, name: String, start: Long, var end: Long,
                           parent: Int, batch: String)
  private val spans = new ArrayBuffer[SpanRec]()
  private var stack: List[Int] = Nil

  def span[A](name: String, batch: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val rec = SpanRec(id, name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1),
        if (batch.nonEmpty) batch else stack.headOption.map(spans(_).batch).getOrElse(""))
      spans += rec
      stack = id :: stack
      try body
      finally { rec.end = System.nanoTime(); stack = stack.tail }
    }

  private def dur(s: SpanRec): Long = s.end - s.start

  /** Self seconds summed per span name. */
  def selfSeconds: Map[String, Double] = {
    val childSum = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childSum(s.parent) += dur(s))
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0L, dur(s) - childSum(s.id))).sum / 1e9
    }
  }

  def write(f: java.io.File): Unit = if (enabled) {
    f.getParentFile.mkdirs()
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val sb = new StringBuilder("[\n")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":${graft.text.Json.quote(s.name)},""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000},""" +
        s""""parent":${s.parent},"batch":${graft.text.Json.quote(s.batch)}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}
