package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds; `parent` 0 = root. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, attrs: Map[String, Any] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span store for one run (one `runId`), written out at exit. */
final class Trace(val runId: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, start: Long, end: Long, parent: Long,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = nextId()
    spans.add(Span(id, name, start, end, parent, attrs))
    id
  }

  /** Run `f` (given the span's id, for its children) as a span; returns
    * its result and the span id. */
  def span[T](name: String, parent: Long)(f: Long => T): (T, Long) = {
    val id = nextId()
    val s = Out.nowNs()
    val r = f(id)
    spans.add(Span(id, name, s, Out.nowNs(), parent))
    (r, id)
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval its children cover, summed over spans of that name. */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Vector.empty)
          .map(c => (c.start max s.start, c.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (cs0, ce0) = (Long.MinValue, Long.MinValue)
        cs.foreach { case (a, b) =>
          if (a > ce0) { if (ce0 > cs0) covered += ce0 - cs0; cs0 = a; ce0 = b }
          else ce0 = ce0 max b
        }
        if (ce0 > cs0) covered += ce0 - cs0
        (s.dur - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toVector.sortBy(_.start).foreach { s =>
      w.println(Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent) ++
        s.attrs.toSeq.sortBy(_._1)))
    } finally w.close()
  }
}

/** Per-job task totals from the SparkListener. */
final case class JobRec(jobId: Int, start: Long, var end: Long,
    batchId: Option[Long], var taskS: Double = 0, var gcS: Double = 0,
    var shuffleBytes: Long = 0, var spillBytes: Long = 0,
    var inputBytes: Long = 0)

/** SparkListener: job spans and task metrics, keyed by job. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val b = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs(e.jobId) = JobRec(e.jobId, e.time * 1000000L, e.time * 1000000L, b)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.taskS += m.executorRunTime / 1e3
      j.gcS += m.jvmGCTime / 1e3
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def snapshot: Vector[JobRec] = synchronized { jobs.values.map(_.copy()).toVector }
}

/** Minimal JSON rendering for results and spans. */
object Json {
  def v(x: Any): String = x match {
    case null | None => "null"
    case Some(y) => v(y)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => v(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(v).mkString("[", ",", "]")
    case other => v(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => v(k) + ":" + v(x) }.mkString("{", ",", "}")
}
