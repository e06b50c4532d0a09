package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One recorded span: times are `System.nanoTime` values; `parent` is
  * 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** In-memory span recorder for the traced run. Nothing is written
  * until [[write]], so recording costs an allocation and a lock. When
  * disabled every call is a no-op and returns id 0. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(name: String, start: Long, end: Long, parent: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.synchronized { spans += Span(id, parent, name, start, end) }
      id
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per span name: count, total duration and total self time (ms). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val snapshot = all
    val children = snapshot.filter(_.parent != 0).groupBy(_.parent)
    snapshot.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        Stats.selfTime(s.start, s.end,
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum
      (name, ss.size, total / 1e6, self / 1e6)
    }
  }

  /** Write every span plus the per-name summary as one JSON file. */
  def write(path: Path, origin: Long, extra: Json.Obj): Unit = {
    val spanJson = all.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.start - origin) / 1e6, "end_ms" -> (s.end - origin) / 1e6)
    }
    val sum = summary.map { case (n, c, t, self) =>
      Json.obj("name" -> n, "count" -> c, "total_ms" -> t, "self_ms" -> self)
    }
    Files.createDirectories(path.getParent)
    Files.write(path, Json.render(extra ++ Json.obj(
      "summary" -> Json.Arr(sum), "spans" -> Json.Arr(spanJson)))
      .getBytes(StandardCharsets.UTF_8)): Unit
  }
}
