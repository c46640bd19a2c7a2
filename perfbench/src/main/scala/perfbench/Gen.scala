package perfbench

import scala.util.Random

/** Seeded input generation. Everything a workload feeds the program is
  * derived from `--seed` here; the program sees only these inputs.
  *
  * Documents follow the shape of the `documents` test table (30-word
  * vocabulary, 10-100 words, occasional near-duplicates); tweets are
  * built from documents with the q28 rules keyed on a fresh tweet id. */
object Gen {
  val vocab: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def text(r: Random): String =
    Vector.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** A near-duplicate: one or two words replaced, so MinHash bands of
    * the pair usually collide. */
  def nearDup(r: Random, t: String): String = {
    val w = t.split(' ')
    for (_ <- 0 until 1 + r.nextInt(2)) w(r.nextInt(w.length)) = "dup"
    w.mkString(" ")
  }

  /** `n` documents with ids from `firstId`; every fifth is a near
    * duplicate of an earlier one. */
  def documents(r: Random, n: Int, firstId: Long = 0L): Vector[(Long, String)] = {
    val out = Vector.newBuilder[(Long, String)]
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) = if (i >= 5 && i % 5 == 0) nearDup(r, texts(r.nextInt(i))) else text(r)
      out += ((firstId + i, texts(i)))
    }
    out.result()
  }

  sealed trait Kind
  case object Valid extends Kind
  case object Retweet extends Kind
  case object Malformed extends Kind

  /** What the program should do with tweet `id`: parse and process it,
    * skip it as a retweet (q28: id % 7 = 0), or drop it as malformed
    * (every 50th is cut short, the q136 truncation). */
  def kindOf(id: Long): Kind =
    if (id % 50 == 1) Malformed else if (id % 7 == 0) Retweet else Valid

  private def quote(s: String): String = Json.write(s)

  /** The twitter4j-shaped JSON of tweet `id` carrying `text`, with the
    * q28 user/location/retweet derivations. */
  def tweetJson(id: Long, text: String): String = {
    val u = id % 100
    val loc = if (id % 5 != 0) s""","location":"city_${id % 20}"""" else ""
    val json = s"""{"id":$id,"text":${quote(text)},"retweeted":${id % 7 == 0},""" +
      s""""user":{"id":$u,"name":"user_$u","screen_name":"u$u"$loc}}"""
    if (kindOf(id) == Malformed) json.take(20) else json
  }
}
