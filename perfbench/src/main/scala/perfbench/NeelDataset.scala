package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.model.ProcessedTweet
import graft.operators.NeelPipeline
import graft.sinks.Export

/** neel_dataset: the dataset mode. A backlog TSV in the reference's flat
  * layout is drained through `graft-rate-csv` under
  * `Trigger.AvailableNow`, re-nested to tweet JSON, run through the same
  * service leg and fan-in, and exported as a twitter-neel-challenge
  * TSV with `Export.writeSingleTsv`. */
object NeelDataset {
  val BacklogRows = 2000
  val flatSchema: StructType = StructType(
    Seq("id", "text", "user__id", "user__screen_name").map(StructField(_, StringType)))
  private val casts = Map("id" -> "long", "user__id" -> "long")

  /** Backlog rows in the flat layout. Every 50th row has an empty text
    * (an expected drop, like a malformed tweet in the live feed). */
  def writeBacklog(path: String, docs: Vector[(Long, String)], firstId: Long,
      n: Int, r: Random): Seq[Long] = {
    val ids = (0 until n).map(i => firstId + i)
    val lines = ids.map { id =>
      val text = if (Gen.kindOf(id) == Gen.Malformed) "" else docs(r.nextInt(docs.size))._2
      s"$id\t$text\t${id % 100}\tu${id % 100}"
    }
    Files.write(Paths.get(path),
      ("id\ttext\tuser__id\tuser__screen_name" +: lines).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    ids
  }

  final case class Drain(seconds: Double, exportMs: Double, exportBytes: Long,
      exportDir: String, resultsDir: String, startNs: Long)

  /** One drain of `backlog` with fresh checkpoints and outputs. */
  def drain(s: SparkSession, backlog: String, dir: String, rowsPerTrigger: Int,
      kbB: org.apache.spark.broadcast.Broadcast[Map[String, graft.model.Resource]]): Drain = {
    val t0 = Trace.nowNs
    val flat = s.readStream.format("graft-rate-csv").schema(flatSchema)
      .option("path", backlog).option("sep", "\t").option("header", "true")
      .option("rowsPerTrigger", rowsPerTrigger.toString).load()
    val parsed = NeelPipeline.parseTweets(NeelLegs.renest(flat, casts))
    Trace.span("wait.service", "wait", "client") {
      NeelLegs.startService(s, parsed, s"$dir/parts", s"$dir/ck-service",
        Trigger.AvailableNow(), kbB).awaitTermination()
    }
    // a bounded drain needs no timer batches: with them the fan-in's
    // processing-time timeout keeps an AvailableNow query running
    // no-data batches forever
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try Trace.span("wait.fanin", "wait", "client") {
      NeelLegs.startFanIn(s, s"$dir/parts", s"$dir/ck-fanin", Trigger.AvailableNow()) {
      (ds: Dataset[ProcessedTweet], id: Long) =>
        Trace.span("fanin.sink", "fanin", NeelLegs.FanInQuery,
          s"${NeelLegs.FanInQuery}:$id") {
          ds.write.mode(SaveMode.Append).parquet(s"$dir/results")
        }
        ()
      }.awaitTermination()
    } finally s.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    val e0 = Trace.nowNs
    Trace.span("sinks.export", "sinks", "client") {
      import s.implicits._
      Export.writeSingleTsv(
        NeelLegs.challengeRows(s.read.parquet(s"$dir/results").as[ProcessedTweet]),
        s"$dir/export")
    }
    val end = Trace.nowNs
    val bytes = Option(new java.io.File(s"$dir/export").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Drain((end - t0) / 1e9, (end - e0) / 1e6, bytes, s"$dir/export",
      s"$dir/results", t0)
  }

  def run(s: SparkSession, ctx: RunContext): Map[String, Any] = {
    val r = new Random(ctx.seed)
    val docs = Gen.documents(r, 2000)
    val kbB = NeelLegs.kb(s)
    val n = BacklogRows
    val perTrigger = math.max(1, n / 4)
    val firstId = 1000000L + (ctx.seed % 1000) * 1000000L
    val setupS = ArrayBuffer.empty[Double]
    var backlog: String = null
    var ids: Seq[Long] = Nil
    var drainNo = 0
    def nextDir(): String = { drainNo += 1; s"${ctx.work}/drain-$drainNo" }
    // set-up: land the backlog and drain one admission batch's worth of
    // it as a warm-up
    for (rep <- 0 until ctx.setupReps) {
      val t = Trace.nowNs
      val path = s"${ctx.work}/backlog-$rep.tsv"
      ids = writeBacklog(path, docs, firstId, n, new Random(ctx.seed * 17 + rep))
      val warm = s"${ctx.work}/warm-$rep.tsv"
      writeBacklog(warm, docs, firstId, perTrigger, new Random(rep))
      drain(s, warm, nextDir(), perTrigger, kbB)
      setupS += (Trace.nowNs - t) / 1e9
      Main.phase(f"set-up $rep done in ${setupS.last}%.2fs")
      backlog = path
    }
    ctx.progress.clear()
    val drains = ArrayBuffer.empty[Drain]
    val t0 = Trace.nowNs
    ctx.startWindow(t0)
    val budget = (ctx.seconds * 1e9).toLong
    while (drains.size < ctx.minDrains || Trace.nowNs - t0 < budget)
      drains += drain(s, backlog, nextDir(), perTrigger, kbB)
    val t1 = Trace.nowNs
    ctx.endWindow(t1)
    val svcProgress = ctx.progress.progress(NeelLegs.ServiceQuery)
    val fanProgress = ctx.progress.progress(NeelLegs.FanInQuery)

    Main.phase("checking results")
    // correctness, untimed: each drain's fan-in results and exported TSV
    // against the relational reference over the backlog's tweets
    import s.implicits._
    val rawRef = NeelLegs.renest(s.read.schema(flatSchema).option("sep", "\t")
      .option("header", "true").csv(backlog), casts)
    val ref = NeelLegs.reference(s, rawRef)
    val refChallenge = NeelLegs.referenceChallenge(s, rawRef).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val challengeSchema = StructType(Seq(StructField("tweet_id", LongType),
      StructField("pos_start", IntegerType), StructField("pos_end", IntegerType),
      StructField("resource_uri", StringType), StructField("confidence", DoubleType),
      StructField("category", StringType)))
    var failed = 0L
    var attempted = 0L
    var entities = 0L
    var results = 0L
    for (d <- drains) {
      val got = s.read.parquet(d.resultsDir).as[ProcessedTweet].collect()
      val byId = got.groupBy(_.status.id)
      attempted += ref.size
      failed += ref.count { case (id, c) =>
        byId.get(id).forall(ps => ps.length != 1 || NeelLegs.canon(ps.head) != c)
      }
      failed += byId.keySet.count(id => !ref.contains(id))
      val exported = s.read.schema(challengeSchema).option("sep", "\t")
        .option("header", "true").csv(d.exportDir).collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      if (exported != refChallenge) failed += 1
      entities += got.map(_.entities.size).sum
      results += got.length
    }
    Map(
      "setup_reps_s" -> setupS.toSeq,
      "backlog_rows" -> n,
      "rows_per_trigger" -> perTrigger,
      "valid_rows" -> ref.size,
      "drain_s" -> drains.map(_.seconds),
      "tweets_per_s" -> drains.map(d => n / d.seconds),
      "export_ms" -> drains.map(_.exportMs),
      "export_bytes" -> drains.map(_.exportBytes),
      "drain_start_s" -> drains.map(d => (d.startNs - t0) / 1e9),
      "attempted" -> attempted,
      "failed" -> failed,
      "dropped_invalid" -> ids.count(id => Gen.kindOf(id) == Gen.Malformed),
      "entities_per_tweet" -> (if (results == 0) 0.0 else entities.toDouble / results),
      "emitted_complete" -> results,
      "emitted_timeout" -> 0,
      "source_query" -> NeelLegs.ServiceQuery,
      "progress" -> Map(
        NeelLegs.ServiceQuery -> svcProgress.map(ctx.progressRecord(t0)),
        NeelLegs.FanInQuery -> fanProgress.map(ctx.progressRecord(t0))))
  }
}
