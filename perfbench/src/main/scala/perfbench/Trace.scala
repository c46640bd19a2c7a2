package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval at a layer boundary. `track` is the thread of
  * control it ran on (a query's micro-batch thread, the churn client);
  * `trace` groups the spans of one batch or one operation. Times are
  * nanoseconds on the [[Trace.nowNs]] clock. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, track: String, startNs: Long, endNs: Long)

/** In-memory span recorder and counters. Disabled (every call a plain
  * pass-through) unless the run is traced, so timed runs carry none of
  * it. Spans recorded here come from the benchmark's own code around
  * each call into a layer, plus spans synthesised from engine events
  * (micro-batch progress, job start/end). */
object Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  @volatile private var sc: SparkContext = _

  /** nanoTime minus epoch-ns, so engine timestamps (epoch ms) map onto
    * the span clock. */
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nowNs: Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  val SpanProp = "perfbench.span"
  val TrackProp = "perfbench.track"

  def attach(context: SparkContext): Unit = sc = context

  /** Time `body` as a span on `track`; jobs it submits inherit the span
    * id through a SparkContext local property and become its children. */
  def span[T](name: String, layer: String, track: String, trace: String = "")(
      body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevSpan = if (sc != null) sc.getLocalProperty(SpanProp) else null
      val prevTrack = if (sc != null) sc.getLocalProperty(TrackProp) else null
      stack.set(id :: parents)
      if (sc != null) {
        sc.setLocalProperty(SpanProp, id.toString)
        sc.setLocalProperty(TrackProp, track)
      }
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(-1L), trace, name,
          layer, track, t0, nowNs))
        stack.set(parents)
        if (sc != null) {
          sc.setLocalProperty(SpanProp, prevSpan)
          sc.setLocalProperty(TrackProp, prevTrack)
        }
      }
    }

  /** Record a span whose interval is known after the fact. */
  def record(parent: Long, trace: String, name: String, layer: String,
      track: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), parent, trace, name, layer, track,
        startNs, math.max(startNs, endNs)))

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def counterValues: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** Per-job engine counters (traced runs). A job's parent span is the
  * benchmark span open on the submitting thread; streaming-internal
  * jobs carry the query id instead. */
final class JobListener extends SparkListener {
  import JobListener.JobRec

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val skews = new ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, JobRec(e.jobId,
      prop(Trace.SpanProp).map(_.toLong).getOrElse(-1L),
      prop(Trace.TrackProp).getOrElse(""),
      prop("sql.streaming.queryId").getOrElse(""), e.time))
    e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTaskMs.remove(e.stageInfo.stageId)).foreach { q =>
      val ds = q.asScala.toVector.sorted
      if (ds.size >= 2) {
        val med = ds(ds.size / 2).toDouble
        skews.add(ds.last / math.max(1.0, med))
      }
    }

  def records: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def taskSkews: Seq[Double] = skews.asScala.toSeq
}

object JobListener {
  final case class JobRec(jobId: Int, parent: Long, track: String,
      queryId: String, startMs: Long, var endMs: Long = -1L,
      var tasks: Long = 0L, var runMs: Long = 0L, var gcMs: Long = 0L,
      var shuffleWrite: Long = 0L, var spill: Long = 0L)
}

/** Micro-batch progress of every query on the session: always kept
  * (the workloads read batch counts and state sizes from it); in
  * traced runs each batch also becomes a span tree. */
final class ProgressRecorder extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  // MicroBatchExecution's order of the timed phases inside a trigger
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
  private def layerOf(phase: String) = phase match {
    case "latestOffset" | "getBatch" => "sources"
    case _ => "microbatch"
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    all.add(p)
    if (Trace.enabled) {
      val start = Trace.fromEpochMs(
        java.time.Instant.parse(p.timestamp).toEpochMilli)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val total = d.getOrElse("triggerExecution", 0L)
      val trace = s"${p.name}:${p.batchId}"
      Trace.record(-1L, trace, "microbatch.trigger", "microbatch", p.name,
        start, start + total * 1000000L)
      var t = start
      for (ph <- phases; ms <- d.get(ph)) {
        Trace.record(-1L, trace, s"microbatch.$ph", layerOf(ph), p.name, t,
          t + ms * 1000000L)
        t += ms * 1000000L
      }
    }
  }

  def queryNames: Map[String, String] =
    all.asScala.map(p => p.id.toString -> p.name).toMap
  def progress(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    all.asScala.filter(_.name == name).toSeq
  def clear(): Unit = all.clear()
}

/** [[graft.fs.FastLocalFileSystem]] with per-operation counters, for
  * the traced run's `fs.*` metrics. Counts are taken at the outer
  * (checksummed) API the engine calls. */
class CountingFileSystem extends graft.fs.FastLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    Trace.count("fs.creates")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.count("fs.renames"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.count("fs.deletes"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.count("fs.mkdirs"); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    Trace.count("fs.mkdirs"); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.count("fs.lists"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    Trace.count("fs.stats"); super.getFileStatus(f)
  }
}
