package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span and op recorder. Times are milliseconds since the
  * recorder was made (one clock for every thread). Spans are kept in
  * memory and written out once, when the run ends.
  */
final class Rec(val traced: Boolean) {
  val t0: Long = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  @volatile var spark: org.apache.spark.sql.SparkSession = _

  def now(): Double = (System.nanoTime() - t0) / 1e6

  /** Time `body` as span `name` under the calling thread's open span.
    * Jobs the body starts carry the span id as a local property, so the
    * listener can attribute them. Untraced runs record only spans with
    * `always` set (the operations the end-to-end metrics are made of).
    */
  def span[T](name: String, always: Boolean = false,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!traced && !always) return body
    val id = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val sc = Option(spark).map(_.sparkContext)
    sc.foreach(_.setLocalProperty(Rec.SpanProp, id.toString))
    val io0 = if (traced) Proc.threadIo() else Map.empty[String, Long]
    val start = now()
    var ok = true
    try body
    catch { case e: Throwable => ok = false; throw e }
    finally {
      val end = now()
      val io1 = if (traced) Proc.threadIo() else Map.empty[String, Long]
      current.set(parent)
      sc.foreach(_.setLocalProperty(Rec.SpanProp,
        if (parent == 0) null else parent.toString))
      spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start" -> start, "end" -> end, "ok" -> ok,
        "thread" -> Thread.currentThread().getName) ++
        io1.map { case (k, v) => s"io.$k" -> (v - io0.getOrElse(k, 0L)) } ++ attrs)
    }
  }

  def op(rec: Map[String, Any]): Unit = ops.add(rec)

  def spansOut: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_("id").asInstanceOf[Long])
  def opsOut: Seq[Map[String, Any]] = ops.asScala.toSeq
}

object Rec {
  val SpanProp = "perfbench.span"
}

/** Readers of the Linux /proc counters the benchmark reports. */
object Proc {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }

  /** `key: value` lines as longs (the first number on each line). */
  def fields(text: String): Map[String, Long] =
    text.linesIterator.flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None
      else l.substring(i + 1).trim.split("\\s+").headOption
        .flatMap(_.toLongOption).map(l.substring(0, i).trim -> _)
    }.toMap

  /** I/O counters (rchar, wchar, read_bytes, ...) of the calling thread. */
  def threadIo(): Map[String, Long] =
    read("/proc/thread-self/io").map(fields).getOrElse(Map.empty)

  def status(): Map[String, Long] = read("/proc/self/status").map(fields).getOrElse(Map.empty)

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs(): Long = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(-1L)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case n: java.lang.Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case a: Array[_] => write(sb, a.toSeq)
    case other => str(sb, other.toString)
  }
  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
