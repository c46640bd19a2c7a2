package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.operators.{Neel, NeelPipeline}
import graft.streaming.FanIn

/** The two chained streaming queries of the reference topology, built
  * from the program's public entry points: a service leg (tweet JSON →
  * `NeelPipeline.parseTweets` → NER / NEL / KB / geo stages → the four
  * `TaggedPartial` kinds, landed as files: the response topic) and a
  * fan-in (`FanIn.fanInStream` over those files → a sink). */
object NeelLegs {
  val ServiceQuery = "neel_service"
  val FanInQuery = "neel_fanin"
  val FanInTimeoutMs = 15000L

  val partialSchema = Encoders.product[TaggedPartial].schema

  def kb(s: SparkSession): Broadcast[Map[String, Resource]] = {
    import s.implicits._
    s.sparkContext.broadcast(
      Neel.kbResources(s).as[Resource].collect().map(r => r.url -> r).toMap)
  }

  /** One parsed tweet with its linked entities and decoded location. */
  final case class TweetEnriched(tweet_id: Long, text: String, user_id: Long,
      user_name: String, screen_name: String, user_location: Option[String],
      ents: Option[Seq[FanIn.EntityRow]], latitude: Option[Double],
      longitude: Option[Double])

  /** The four partial kinds for a batch of parsed, valid tweets. Every
    * tweet gets all four; tweets without entities or location get the
    * empty forms, as the reference's synthesizers do. One grouping of
    * the NER/NEL rows per tweet feeds both the linkedTweet and the
    * resource partial. */
  def partials(s: SparkSession, valid: DataFrame,
      kbB: Broadcast[Map[String, Resource]]): Dataset[TaggedPartial] = {
    import s.implicits._
    val ents = Neel.nelLinked(Neel.nerEntities(s, valid))
      .groupBy($"tweet_id".as("e_id"))
      .agg(collect_list(struct($"tweet_id", $"pos_start", $"pos_end", $"link",
        $"is_nil", $"nil_cluster", $"confidence", $"category")).as("ents"))
    val geo = Neel.geoDecoded(valid).withColumnRenamed("tweet_id", "g_id")
    valid.join(broadcast(ents), $"tweet_id" === $"e_id", "left")
      .join(broadcast(geo), $"tweet_id" === $"g_id", "left")
      .select($"tweet_id", $"text", $"user_id", $"user_name", $"screen_name",
        $"user_location", $"ents", $"latitude", $"longitude")
      .as[TweetEnriched]
      .flatMap { t =>
        val tag = t.tweet_id.toString
        val rows = t.ents.getOrElse(Nil)
        val es = rows.map { r =>
          LinkedEntity(EntityPosition(r.pos_start, r.pos_end), value = null,
            r.link, r.is_nil, r.nil_cluster, r.confidence, r.category,
            resource = None)
        }.sortBy(e => (e.position.start, e.category))
        val res = rows.flatMap(_.link).distinct.sorted.flatMap(kbB.value.get)
        val loc = for (la <- t.latitude; lo <- t.longitude) yield Coordinates(la, lo)
        Iterator(
          TaggedPartial(tag, StreamKinds.Status,
            Some(TweetStatus(t.tweet_id, t.text, None, isRetweet = false,
              TweetUser(t.user_id, t.user_name, t.screen_name, t.user_location))),
            None, None, None),
          TaggedPartial(tag, StreamKinds.LinkedTweet, None, Some(es), None, None),
          TaggedPartial(tag, StreamKinds.ResourceKind, None, None, Some(res), None),
          TaggedPartial(tag, StreamKinds.DecodedLocation, None, None, None, loc))
      }
  }

  /** Service leg: parsed tweets → partial files under `partsDir`. */
  def startService(s: SparkSession, parsed: DataFrame, partsDir: String,
      ckpt: String, trigger: Trigger,
      kbB: Broadcast[Map[String, Resource]]): StreamingQuery =
    parsed.writeStream.queryName(ServiceQuery)
      .option("checkpointLocation", ckpt).trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val trace = s"$ServiceQuery:$id"
        // one partition per batch: a batch is small, and one partial file
        // per trigger keeps the fan-in's file listing proportional to
        // batches rather than to landed input files
        val valid = batch.coalesce(1).persist(StorageLevel.MEMORY_ONLY)
        try {
          val parts = Trace.span("neel.plan", "neel", ServiceQuery, trace) {
            partials(s, valid, kbB)
          }
          Trace.span("neel.leg", "neel", ServiceQuery, trace) {
            parts.write.mode("append").parquet(partsDir)
          }
          if (Trace.enabled) Trace.count("neel.rows_valid", valid.count())
        } finally valid.unpersist(blocking = false)
        ()
      }.start()

  /** Fan-in: partial files → `FanIn.fanInStream` → `sink`. */
  def startFanIn(s: SparkSession, partsDir: String, ckpt: String,
      trigger: Trigger)(sink: (Dataset[ProcessedTweet], Long) => Unit): StreamingQuery = {
    import s.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(partsDir))
    val parts = s.readStream.schema(partialSchema).parquet(partsDir).as[TaggedPartial]
    FanIn.fanInStream(parts, FanInTimeoutMs).writeStream.queryName(FanInQuery)
      .option("checkpointLocation", ckpt).trigger(trigger)
      .foreachBatch(sink).start()
  }

  /** #19 re-nesting: `a__b` flat columns become nested struct fields. */
  def renest(flat: DataFrame, casts: Map[String, String]): DataFrame = {
    def col1(n: String): Column = casts.get(n).fold(col(n))(t => col(n).cast(t))
    def nest(names: Seq[Seq[String]], prefix: Seq[String]): Seq[Column] =
      names.groupBy(_.head).toSeq.sortBy { case (h, _) =>
        names.indexWhere(_.head == h)
      }.map { case (h, group) =>
        if (group.forall(_.size == 1)) col1((prefix :+ h).mkString("__")).as(h)
        else struct(nest(group.map(_.tail), prefix :+ h): _*).as(h)
      }
    flat.select(to_json(struct(nest(flat.columns.toSeq.map(_.split("__").toSeq),
      Nil): _*)).as("value"))
  }

  /** Canonical per-tweet result: sorted entity strings plus location. */
  final case class Canon(entities: Seq[String], location: Option[(Double, Double)])

  private def entityString(start: Int, end: Int, value: String, link: String,
      isNil: Boolean, nil: String, conf: Double, cat: String, url: String,
      name: String, thumb: String): String =
    Seq(start, end, value, link, isNil, nil, conf, cat, url, name, thumb).mkString("|")

  def canon(p: ProcessedTweet): Canon = Canon(
    p.entities.map { e =>
      val r = e.resource
      entityString(e.position.start, e.position.end, e.value, e.link.orNull,
        e.isNil, e.nilCluster.orNull, e.confidence, e.category,
        r.map(_.url).orNull, r.map(_.name).orNull, r.map(_.thumb).orNull)
    }.sorted,
    p.location.map(c => (c.latitude, c.longitude)))

  /** Reference results for raw tweet JSON, computed in batch by the
    * relational formulation (`NeelPipeline.parseTweets` +
    * `Neel.resolved` + `Neel.geoDecoded`, the q23 path). */
  def reference(s: SparkSession, raw: DataFrame): Map[Long, Canon] = {
    val valid = NeelPipeline.parseTweets(raw).persist(StorageLevel.MEMORY_ONLY)
    try {
      val ids = valid.select("tweet_id").collect().map(_.getLong(0))
      def str(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) null else r.getString(i)
      val ents = Neel.resolved(s, valid).select("tweet_id", "pos_start", "pos_end",
          "value", "link", "is_nil", "nil_cluster", "confidence", "category",
          "url", "name", "thumb").collect()
        .groupBy(_.getLong(0)).map { case (id, rows) =>
          id -> rows.map(r => entityString(r.getInt(1), r.getInt(2), str(r, 3),
            str(r, 4), r.getBoolean(5), str(r, 6), r.getDouble(7), str(r, 8),
            str(r, 9), str(r, 10), str(r, 11))).toSeq.sorted
        }
      val geo = Neel.geoDecoded(valid).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      ids.map(id => id -> Canon(ents.getOrElse(id, Nil), geo.get(id))).toMap
    } finally valid.unpersist(blocking = false)
  }

  /** twitter-neel-challenge rows of assembled results. */
  def challengeRows(out: Dataset[ProcessedTweet]): DataFrame = {
    import out.sparkSession.implicits._
    out.flatMap { p =>
      p.entities.map { e =>
        (p.status.id, e.position.start, e.position.end,
          if (e.isNil) e.nilCluster.orNull else e.link.orNull,
          e.confidence, e.category)
      }
    }.toDF("tweet_id", "pos_start", "pos_end", "resource_uri", "confidence",
      "category")
  }

  /** The same rows computed relationally (q23's projection). */
  def referenceChallenge(s: SparkSession, raw: DataFrame): DataFrame =
    Neel.resolved(s, NeelPipeline.parseTweets(raw))
      .select(col("tweet_id"), col("pos_start"), col("pos_end"),
        when(col("is_nil"), col("nil_cluster")).otherwise(col("link"))
          .as("resource_uri"),
        col("confidence"), col("category"))
}
