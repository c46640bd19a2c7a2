package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-run settings and the hooks the workloads report through. */
final case class RunContext(workload: String, seed: Long, seconds: Double,
    work: String, setupReps: Int, minDrains: Int, progress: ProgressRecorder) {
  @volatile var windowNs: (Long, Long) = (0L, 0L)
  @volatile var countersAt: (Map[String, Long], Map[String, Long]) = (Map.empty, Map.empty)
  @volatile var bytesAt: (Long, Long) = (0L, 0L)

  /** Mark the timed window's edges; counters are read at each. */
  def startWindow(t0: Long): Unit = {
    Main.phase("timed window opens")
    windowNs = (t0, t0)
    countersAt = (Trace.counterValues, Map.empty)
    bytesAt = (Main.fsBytesWritten(), 0L)
  }
  def endWindow(t1: Long): Unit = {
    Main.phase("timed window closed")
    windowNs = (windowNs._1, t1)
    countersAt = (countersAt._1, Trace.counterValues)
    bytesAt = (bytesAt._1, Main.fsBytesWritten())
  }

  def progressRecord(t0: Long)(p: StreamingQueryProgress): Map[String, Any] = Map(
    "batch" -> p.batchId,
    "start_s" -> (Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli) - t0) / 1e9,
    "rows" -> p.numInputRows,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
    "state" -> p.stateOperators.map(o => Map("rows" -> o.numRowsTotal,
      "bytes" -> o.memoryUsedBytes, "commit_ms" -> o.commitTimeMs)).toSeq)
}

/** Runs one workload in this JVM and writes its raw record (samples,
  * counters, spans) as JSON for `run.py` to reduce.
  *
  * {{{
  * perfbench.Main --workload <neel_stream|neel_dataset|index_churn>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--cpus <n>] [--setup-reps <n>] [--min-drains <n>]
  * }}}
  */
object Main {
  private val bootNs = Trace.nowNs
  /** Progress line on stderr, seconds since start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(Trace.nowNs - bootNs) / 1e9}%7.2fs $what")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String, d: String) = opts.getOrElse(k, d)
    val workload = opts("workload")
    val traced = opt("trace", "0") == "1"
    val cpus = opt("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    Trace.enabled = traced

    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.stagingDir", s"$work/staging")
    val spark = (if (traced) b.config("spark.hadoop.fs.file.impl",
        classOf[CountingFileSystem].getName)
      else graft.SessionFs.configure(b)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.attach(spark.sparkContext)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val jobs = new JobListener
    if (traced) spark.sparkContext.addSparkListener(jobs)
    val sessionS = (Trace.nowNs - bootNs) / 1e9
    phase(s"session ready ($workload, local[$cpus], trace=$traced)")

    val ctx = RunContext(workload, opt("seed", "1").toLong, opt("seconds", "10").toDouble,
      work, setupReps = opt("setup-reps", "3").toInt,
      minDrains = opt("min-drains", "3").toInt, progress = progress)

    val body: Map[String, Any] = workload match {
      case "neel_stream" => NeelStream.run(spark, ctx)
      case "neel_dataset" => NeelDataset.run(spark, ctx)
      case "index_churn" => IndexChurn.run(spark, ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val (w0, w1) = ctx.windowNs
    def rel(ns: Long) = (ns - w0) / 1e9
    val record = body ++ Map(
      "workload" -> workload, "seed" -> ctx.seed, "cpus" -> cpus,
      "session_s" -> sessionS,
      "window_s" -> (w1 - w0) / 1e9,
      "vm_hwm_mb" -> vmHwmMb,
      "trace" -> (if (!traced) Map.empty else Map(
        "spans" -> Trace.allSpans.filter(sp => sp.endNs > w0 && sp.startNs < w1).map(sp =>
          Seq(sp.id, sp.parent, sp.trace, sp.name, sp.layer, sp.track,
            rel(sp.startNs), rel(sp.endNs))),
        "jobs" -> jobs.records.filter(j => j.endMs >= 0 &&
            Trace.fromEpochMs(j.endMs) > w0 && Trace.fromEpochMs(j.startMs) < w1)
          .map(j => Map("id" -> j.jobId, "parent" -> j.parent, "track" -> j.track,
            "query" -> j.queryId, "start_s" -> rel(Trace.fromEpochMs(j.startMs)),
            "end_s" -> rel(Trace.fromEpochMs(j.endMs)), "tasks" -> j.tasks,
            "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "shuffle_write" -> j.shuffleWrite,
            "spill" -> j.spill)),
        "queries" -> progress.queryNames,
        "task_skews" -> jobs.taskSkews,
        "counters" -> {
          val (a, z) = ctx.countersAt
          z.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
        },
        "fs_bytes_written" -> (ctx.bytesAt._2 - ctx.bytesAt._1))))
    Files.write(Paths.get(opts("out")), Json.write(record).getBytes("UTF-8"))
    phase("record written")
    spark.stop()
    phase("session stopped")
  }

  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
