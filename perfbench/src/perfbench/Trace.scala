package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One recorded call into a layer. Times are epoch milliseconds with a
  * fractional part, so they line up with the listener's job times.
  * `stream` is the (query id, batch id) of the streaming micro-batch the
  * call waited for, when the work ran on a stream thread. */
final class Span(val id: Long, val name: String, val parent: Long,
    val request: Long, val startMs: Double, val endMs: Double,
    val elems: Long, val filesWritten: Int, val bytesWritten: Long) {
  var stream: Option[(String, Long)] = None
  var batchMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
}

final class JobRec(val jobId: Int, val span: Long,
    val stream: Option[(String, Long)], val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Records every job, stage and task end the scheduler reports. Jobs are
  * tied to a span through the local property the benchmark sets before
  * each call, or, for jobs that run on a streaming thread, through the
  * query id and batch id Spark itself sets there. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageTasks = new ConcurrentHashMap[Int, Int]()
  val stageShuffle = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(-1L)
    val stream = for {
      x <- p
      q <- Option(x.getProperty("sql.streaming.queryId"))
      b <- Option(x.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)
    jobs.put(e.jobId, new JobRec(e.jobId, span, stream, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageTasks.put(i.stageId, i.numTasks)
    stageShuffle.put(i.stageId,
      Option(i.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
  }
}

/** Per-call Spark counts attributed to one span. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Long, shuffleBytes: Long,
    jobIntervals: Seq[(Long, Long)])

object SparkCounts {
  val Zero = SparkCounts(0, 0, 0L, 0L, Nil)
}

/** Times every call into a layer. When `on`, the call is also recorded as
  * a span: a local property ties the call's Spark jobs to it, and the
  * given layout directories are listed before and after to count the
  * files and bytes it wrote. Spans stay in memory until [[dump]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val listener: Option[JobListener] =
    if (!enabled) None
    else {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
  /** Whether the current closed-loop step records spans. */
  var on: Boolean = false
  var request: Long = 0L
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack = List.empty[Long]
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def epochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  /** Run `body`, returning its value and its wall time in ns. */
  def call[T](name: String, elems: Long = 0L, dirs: Seq[String] = Nil)(body: => T): (T, Long) = {
    if (!on) {
      val s = System.nanoTime()
      val v = body
      return (v, System.nanoTime() - s)
    }
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val before = if (dirs.isEmpty) null else Files.snapshot(dirs)
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val s = System.nanoTime()
    var e = s
    try {
      val v = body
      e = System.nanoTime()
      (v, e - s)
    } finally {
      if (e == s) e = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
      val (files, bytes) =
        if (before == null) (0, 0L) else Files.written(before, Files.snapshot(dirs))
      spans += new Span(id, name, parent, request, epochMs(s), epochMs(e), elems, files, bytes)
    }
  }

  /** Tag the last span of `name` with the last streaming batch that
    * carried rows: the batch the call waited for. */
  def tagStream(q: org.apache.spark.sql.streaming.StreamingQuery, name: String): Unit =
    if (on) {
      val p = q.recentProgress.reverseIterator.find(_.numInputRows > 0).orNull
      spans.reverseIterator.find(_.name == name).filter(_ => p != null).foreach { sp =>
        sp.stream = Some((q.id.toString, p.batchId))
        sp.batchMs = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(Double.NaN)
      }
    }

  /** Spark counts of every recorded span, after the listener bus drains. */
  def counts(): Map[Long, SparkCounts] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val bySpan = scala.collection.mutable.Map.empty[Long, ArrayBuffer[JobRec]]
      val byStream = l.jobs.values().asScala.filter(_.stream.isDefined).groupBy(_.stream.get)
      // a stream thread inherits the local properties of the thread that
      // started it, so its jobs are tied to spans by batch id only
      l.jobs.values().asScala.filter(j => j.span > 0 && j.stream.isEmpty).foreach { j =>
        bySpan.getOrElseUpdate(j.span, ArrayBuffer.empty) += j
      }
      spans.iterator.map { sp =>
        val js = bySpan.getOrElse(sp.id, Nil).toSeq ++
          sp.stream.flatMap(byStream.get).map(_.toSeq).getOrElse(Nil)
        val stageIds = js.flatMap(j => j.stageIds.filter(s => l.stageJob.get(s) == j.jobId))
        val submitted = stageIds.filter(l.stageTasks.containsKey)
        sp.id -> SparkCounts(js.size, submitted.size,
          submitted.map(s => l.stageTasks.get(s).toLong).sum,
          submitted.map(s => l.stageShuffle.get(s)).sum,
          js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)))
      }.toMap
  }

  /** Write every span with its Spark counts and self time as JSON lines:
    * self time is the span's duration minus what its child spans and its
    * own jobs cover. */
  def dump(file: File, counts: Map[Long, SparkCounts]): Unit = {
    file.getParentFile.mkdirs()
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val c = counts.getOrElse(s.id, SparkCounts.Zero)
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> Tracer.gapMs(s, c, kids),
        "stream_batch" -> s.stream.map(_._2).getOrElse(-1L),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_bytes" -> c.shuffleBytes, "files_written" -> s.filesWritten,
        "bytes_written" -> s.bytesWritten, "driver_gap_ms" -> Tracer.gapMs(s, c, Nil))))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Time within the span covered by none of its jobs and none of the
    * `other` intervals (its child spans, for self time). */
  def gapMs(s: Span, c: SparkCounts, other: Seq[(Double, Double)]): Double = {
    val iv = (c.jobIntervals.map { case (a, b) => (a.toDouble, b.toDouble) } ++ other)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, s.durMs - covered)
  }
}

/** File-system measurements of the layouts a workload keeps on disk.
  * Checksum sidecars (`*.crc`) of the local file system are left out. */
object Files {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
    else if (f.isFile && !f.getName.endsWith(".crc")) Iterator.single(f)
    else Iterator.empty

  def snapshot(dirs: Seq[String]): Map[String, (Long, Long)] =
    dirs.iterator.flatMap(d => walk(new File(d)))
      .map(f => f.getPath -> ((f.length, f.lastModified))).toMap

  /** Files new or changed between two snapshots, and their bytes. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size, changed.valuesIterator.map(_._1).sum)
  }

  def bytes(dirs: Seq[String]): Long = dirs.iterator.flatMap(d => walk(new File(d))).map(_.length).sum
  def count(dirs: Seq[String]): Int = dirs.iterator.flatMap(d => walk(new File(d))).size

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
