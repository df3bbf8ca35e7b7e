package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. Times are epoch microseconds from a
  * monotonic clock, so they line up with the listener's job times. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
    var endUs: Long = -1L, var ok: Boolean = true,
    attrs: scala.collection.mutable.Map[String, Double] =
      scala.collection.mutable.Map.empty) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spans around every public call the benchmark makes, kept in memory.
  * With `listeners` on, one SparkListener and one QueryExecutionListener
  * attribute each Spark job (and its tasks' metrics) and each query's
  * Catalyst phase times to the span active when the work was submitted;
  * `write` dumps everything as JSONL when the run ends. With it off only
  * the span clocks run, which is what the end-to-end numbers use. */
final class Trace(spark: SparkSession, val runId: String, val listeners: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  private case class JobRec(id: Int, span: Int, startMs: Long, desc: String,
      var endMs: Long = -1L, var ok: Boolean = true, var cpuNs: Long = 0L,
      var runMs: Long = 0L, var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var spill: Long = 0L, var bytesOut: Long = 0L, var recordsOut: Long = 0L)
  private case class QeRec(atMs: Long, func: String, phases: Map[String, Long], ok: Boolean)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val qes = ArrayBuffer.empty[QeRec]

  if (listeners) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val span = p.flatMap(x => Option(x.getProperty(Trace.SpanKey)))
          .map(_.toInt).getOrElse(-1)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, span, e.time, desc))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j.synchronized {
            j.endMs = e.time
            j.ok = e.jobResult == org.apache.spark.scheduler.JobSucceeded
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
          .foreach { j =>
            j.synchronized {
              j.cpuNs += m.executorCpuTime
              j.runMs += m.executorRunTime
              j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              j.bytesOut += m.outputMetrics.bytesWritten
              j.recordsOut += m.outputMetrics.recordsWritten
            }
          }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        record(func, qe, ok = true)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        record(func, qe, ok = false)
    })
  }

  // Catalyst phases are attributed by time: the listener is called on
  // the listener bus, not the submitting thread, but each phase carries
  // its own wall-clock interval. Planning is the last phase before the
  // action's jobs, so its start places the query in the right span.
  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val at = phases.get("planning").orElse(phases.values.headOption)
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    qes.synchronized {
      qes += QeRec(at, func, phases.map { case (k, v) => k -> v.durationMs }, ok)
    }
  }

  private def open(name: String, parent: Int, startUs: Long): Span = spans.synchronized {
    val s = Span(spans.size, parent, name, startUs)
    spans += s
    s
  }

  /** Time `f` as a span named `name`, nested under the open span. The
    * span id rides a local property, which threads started inside `f`
    * (the stream's execution thread) inherit. Exceptions propagate;
    * the span is closed and marked failed first. */
  def span[T](name: String)(f: Span => T): T = {
    val s = open(name, stack.headOption.map(_.id).getOrElse(-1), nowUs)
    val cpu0 = Steal.ticks()
    stack = s :: stack
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try f(s)
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.endUs = nowUs
      s.attrs("steal") = Steal.share(cpu0, Steal.ticks())
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Record an interval measured elsewhere (one stream micro-batch,
    * bounded by successive callbacks) as a child of `parent`. */
  def interval(name: String, parent: Span, startUs: Long, endUs: Long,
      steal: Double): Span = {
    val s = open(name, parent.id, startUs)
    s.endUs = endUs
    s.attrs("steal") = steal
    s
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Wait for the listener bus, then write spans, jobs and queries as
    * JSONL (one object per line, `kind` first). */
  def write(path: java.nio.file.Path): Unit = {
    if (listeners) org.apache.spark.graftbench.Bus.drain(sc)
    val out = ArrayBuffer.empty[String]
    all.foreach { s =>
      out += Json.obj("kind" -> "span", "run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "ok" -> s.ok, "attrs" -> s.attrs.toMap)
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      out += Json.obj("kind" -> "job", "run" -> runId, "id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok,
        "listing" -> j.desc.startsWith("Listing leaf files"),
        "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "bytes_out" -> j.bytesOut, "records_out" -> j.recordsOut)
    }
    qes.synchronized(qes.toList).foreach { q =>
      out += Json.obj("kind" -> "qe", "run" -> runId, "at_ms" -> q.atMs,
        "func" -> q.func, "phases_ms" -> q.phases, "ok" -> q.ok)
    }
    java.nio.file.Files.write(path, out.asJava)
  }
}

object Trace {
  val SpanKey = "graftbench.span"
}

/** CPU time the hypervisor gave to other guests while this VM wanted
  * it, from the first line of /proc/stat. */
object Steal {
  /** (steal, busy + steal) jiffies over all CPUs; zeros where unknown. */
  def ticks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + f(2) + f(5) + f(6)
      (f(7), busy + f(7))
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of the CPU time wanted between two readings that was stolen. */
  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** Minimal JSON writer for the flat records the benchmark emits. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
