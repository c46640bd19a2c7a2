package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.ProcessedTweet
import graft.operators.NeelPipeline
import graft.streaming.Sources

/** Open-loop tweet generator: one thread landing tweet-JSON files on a
  * fixed schedule (tweet i is due at t0 + i/rate) that does not slow
  * when the system does. Each 100 ms tick writes every tweet that has
  * come due as one file, atomically (hidden temp file, then rename). */
final class TweetGenerator(dir: String, rate: Double, docs: Vector[(Long, String)],
    firstId: Long, seed: Long, results: AtomicLong, isValid: Long => Boolean)
  extends Thread("perfbench-generator") {
  setDaemon(true)
  private val tickNs = 100L * 1000000L
  private val r = new Random(seed)
  @volatile private var stopAtNs = Long.MaxValue
  @volatile private var halted = false
  @volatile var t0: Long = 0L
  override def start(): Unit = { t0 = Trace.nowNs; super.start() }
  private val dueNs = ArrayBuffer.empty[Long]
  private val landNs = ArrayBuffer.empty[Long]
  private val ids = ArrayBuffer.empty[Long]
  val texts = new ConcurrentHashMap[Long, String]()
  /** (time, valid offered so far, results so far), sampled every tick. */
  val backlog = ArrayBuffer.empty[(Long, Long, Long)]
  val files = ArrayBuffer.empty[Long]
  private var validOffered = 0L

  def due(i: Int): Long = t0 + (i * 1e9 / rate).toLong
  def stopAt(ns: Long): Unit = stopAtNs = ns
  def halt(): Unit = { halted = true; join() }
  def offered: Seq[(Long, Long, Long)] = synchronized {
    ids.indices.map(i => (ids(i), dueNs(i), landNs(i)))
  }

  override def run(): Unit = {
    var file = 0
    var next = t0
    while (!halted && next < stopAtNs) {
      val now = Trace.nowNs
      var n = ids.size
      val lines = ArrayBuffer.empty[String]
      val batchIds = ArrayBuffer.empty[Long]
      while (due(n) <= now && due(n) < stopAtNs) {
        val id = firstId + n
        val text = docs(r.nextInt(docs.size))._2
        texts.put(id, text)
        lines += Gen.tweetJson(id, text)
        batchIds += id
        n += 1
      }
      if (lines.nonEmpty) {
        val tmp = Paths.get(dir, f".f-$file%06d.json.tmp")
        Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        Files.move(tmp, Paths.get(dir, f"f-$file%06d.json"),
          StandardCopyOption.ATOMIC_MOVE)
        file += 1
        val landed = Trace.nowNs
        synchronized {
          for (id <- batchIds) {
            ids += id
            dueNs += due(ids.size - 1)
            landNs += landed
            if (isValid(id)) validOffered += 1
          }
        }
        files += landed
      }
      backlog += ((Trace.nowNs, validOffered, results.get()))
      next += tickNs
      val sleepNs = next - Trace.nowNs
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
    }
  }
}

/** neel_stream: the live mode, open loop at a fixed offered rate,
  * through the service leg and the fan-in under processing-time
  * triggers. */
object NeelStream {
  /** Offered tweets per second: low enough that the per-batch floor of
    * the two legs, not per-row work, sets the latency. */
  val Rate = 50.0
  /** Wait between the last set-up and the window, so the start-up
    * backlog has cleared. */
  val SettleMs = 4000L
  /** Trigger interval of both legs. The service leg's per-batch floor
    * is 0.8-1.1 s here, so under a 1 s trigger it straddles the
    * interval and latency flips between two modes a second apart from
    * run to run; 2 s (the reference batches in 3 s windows) keeps
    * every batch inside its interval. */
  val TriggerMs = 2000L

  final case class Arrival(ns: Long, tweet: ProcessedTweet)

  def run(s: SparkSession, ctx: RunContext): Map[String, Any] = {
    val rate = Rate
    val r = new Random(ctx.seed)
    val docs = Gen.documents(r, 2000)
    val kbB = NeelLegs.kb(s)
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val reps = ctx.setupReps
    val setupS = ArrayBuffer.empty[Double]
    var nextId = 1000000L + (ctx.seed % 1000) * 1000000L

    final class Pipeline(rep: Int) {
      val root = s"${ctx.work}/stream-$rep"
      val in = s"$root/in"
      Files.createDirectories(Paths.get(in))
      val results = new ConcurrentHashMap[Long, Arrival]()
      val resultCount = new AtomicLong(0)
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
      val firstId = nextId
      nextId += 10000000L
      val gen = new TweetGenerator(in, rate, docs, firstId, ctx.seed * 31 + rep,
        resultCount, id => Gen.kindOf(id) == Gen.Valid)
      private val raw = Sources.csvDatasetStream(s, in,
        StructType(Seq(StructField("value", StringType))),
        maxFilesPerTrigger = 1000000, sep = "\u0001", header = false)
      val service: StreamingQuery = NeelLegs.startService(s,
        NeelPipeline.parseTweets(raw), s"$root/parts", s"$root/ck-service",
        trigger, kbB)
      val fanIn: StreamingQuery = NeelLegs.startFanIn(s, s"$root/parts",
          s"$root/ck-fanin", trigger) { (ds: Dataset[ProcessedTweet], id: Long) =>
        val got = Trace.span("fanin.sink", "fanin", NeelLegs.FanInQuery,
          s"${NeelLegs.FanInQuery}:$id") { ds.collect() }
        val now = Trace.nowNs
        got.foreach(p => results.putIfAbsent(p.status.id, Arrival(now, p)))
        resultCount.addAndGet(got.length)
        if (got.nonEmpty) batches.add((now, got.length))
        ()
      }

      /** Wait until both queries have run their first trigger. */
      def awaitFirstTriggers(limitS: Double): Unit = {
        val deadline = Trace.nowNs + (limitS * 1e9).toLong
        while ((service.lastProgress == null || fanIn.lastProgress == null) &&
            Trace.nowNs < deadline) Thread.sleep(5)
        require(service.lastProgress != null && fanIn.lastProgress != null,
          s"queries did not trigger within ${limitS}s of start")
      }

      def stop(): Unit = {
        gen.halt()
        service.stop()
        fanIn.stop()
      }
    }

    def awaitFirstResult(p: Pipeline, limitS: Double): Unit = {
      val deadline = Trace.nowNs + (limitS * 1e9).toLong
      while (p.resultCount.get() == 0 && Trace.nowNs < deadline) Thread.sleep(10)
      require(p.resultCount.get() > 0, s"no result within ${limitS}s of start")
    }

    // set-up: start both queries through their first trigger (it fires
    // at once; later ones align to the trigger grid, which would
    // quantise a set-up time measured to the first result). Repeated;
    // the first and the kept pipeline are then warmed with load until
    // their first assembled result reaches the sink.
    var live: Pipeline = null
    for (rep <- 0 until reps) {
      val t = Trace.nowNs
      val p = new Pipeline(rep)
      p.awaitFirstTriggers(30)
      setupS += (Trace.nowNs - t) / 1e9
      if (rep == 0 || rep == reps - 1) {
        p.gen.start()
        awaitFirstResult(p, 60)
      }
      Main.phase(f"set-up $rep done in ${setupS.last}%.2fs")
      if (rep < reps - 1) p.stop() else live = p
    }
    ctx.progress.clear()
    // settle: let the start-up backlog clear before the window opens
    Thread.sleep(SettleMs)
    val t0 = Trace.nowNs
    val t1 = t0 + (ctx.seconds * 1e9).toLong
    live.gen.stopAt(t1)
    ctx.startWindow(t0)
    while (Trace.nowNs < t1) Thread.sleep(20)
    ctx.endWindow(t1)
    live.gen.join()
    // drain: every offered valid tweet's result, or the fan-in timeout
    // plus slack
    val offered = live.gen.offered
    val valid = offered.filter { case (id, _, _) => Gen.kindOf(id) == Gen.Valid }
    val drainDeadline = Trace.nowNs + (NeelLegs.FanInTimeoutMs + 5000L) * 1000000L
    while (valid.exists(v => !live.results.containsKey(v._1)) &&
        Trace.nowNs < drainDeadline) Thread.sleep(20)
    val drainedNs = Trace.nowNs
    val svcProgress = ctx.progress.progress(NeelLegs.ServiceQuery)
    val fanProgress = ctx.progress.progress(NeelLegs.FanInQuery)
    live.stop()

    Main.phase("checking results")
    // correctness, untimed: every offered valid tweet's result must equal
    // the relational reference over the same tweets
    import s.implicits._
    val raw = offered.map { case (id, _, _) => Gen.tweetJson(id, live.gen.texts.get(id)) }
      .toDF("value")
    val ref = NeelLegs.reference(s, raw)
    val validIds = valid.map(_._1).toSet
    var missing, wrong, timedOut = 0L
    val latencies = ArrayBuffer.empty[Double]
    for ((id, due, _) <- valid) {
      Option(live.results.get(id)) match {
        case None => missing += 1
        case Some(a) =>
          val lat = (a.ns - due) / 1e6
          if (lat >= NeelLegs.FanInTimeoutMs) timedOut += 1
          else if (!ref.get(id).contains(NeelLegs.canon(a.tweet))) wrong += 1
          if (due >= t0 && due < t1) latencies += lat
      }
    }
    val unexpected = live.results.keySet().asScala.count(id => !validIds.contains(id))
    require(ref.keySet == validIds,
      s"reference parse disagrees with the generator on ${(ref.keySet diff validIds).size + (validIds diff ref.keySet).size} tweets")
    val inWindow = valid.count { case (_, due, _) => due >= t0 && due < t1 }
    val results = live.results.values().asScala.toSeq
    Map(
      "setup_reps_s" -> setupS.toSeq,
      "rate" -> rate,
      "window_s" -> ctx.seconds,
      "latencies_ms" -> latencies.toSeq,
      "attempted" -> valid.size,
      "attempted_in_window" -> inWindow,
      "failed" -> (missing + wrong + timedOut + unexpected),
      "missing" -> missing, "wrong" -> wrong, "timed_out" -> timedOut,
      "unexpected" -> unexpected,
      "dropped_retweets" -> offered.count(o => Gen.kindOf(o._1) == Gen.Retweet),
      "dropped_malformed" -> offered.count(o => Gen.kindOf(o._1) == Gen.Malformed),
      "offered" -> offered.size,
      "drain_s" -> (drainedNs - t1) / 1e9,
      "gen_late_ms" -> offered.filter(o => o._2 >= t0 && o._2 < t1)
        .map(o => (o._3 - o._2) / 1e6),
      "backlog" -> live.gen.backlog.filter(b => b._1 >= t0 && b._1 <= t1)
        .map { case (t, off, res) => Seq((t - t0) / 1e9, off, res) },
      "sink_batches" -> live.batches.asScala.toSeq
        .map { case (ns, n) => Seq((ns - t0) / 1e9, n) },
      "file_land_s" -> live.gen.files.toSeq.map(ns => (ns - t0) / 1e9),
      "entities_per_tweet" -> (if (results.isEmpty) 0.0
        else results.map(_.tweet.entities.size).sum.toDouble / results.size),
      "emitted_timeout" -> timedOut,
      "emitted_complete" -> (results.size - timedOut),
      "source_query" -> NeelLegs.ServiceQuery,
      "progress" -> Map(
        NeelLegs.ServiceQuery -> svcProgress.map(ctx.progressRecord(t0)),
        NeelLegs.FanInQuery -> fanProgress.map(ctx.progressRecord(t0))))
  }
}
