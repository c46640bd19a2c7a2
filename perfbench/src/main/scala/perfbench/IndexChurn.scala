package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.plans.{MinHashIndex, Snapshots}

/** index_churn: writes beside reads on the committed MinHash-LSH
  * snapshot index, as one closed-loop client. Each round appends a
  * batch of near-duplicate documents (`appendCommitRetrying`), then
  * serves a probe batch as of the new version (`localize` +
  * `serveRowsAsOf`, materialised); every `deleteEvery`-th round deletes
  * (`deleteCommit`), every `purgeEvery`-th purges and expires, so
  * version and file counts stay level. The window's docs/s excludes
  * purge + expire (timed on their own) and the checks. */
object IndexChurn {
  val Track = "client"
  val CorpusDocs = 2000
  val BatchDocs = 20
  val ProbeDocs = 20
  /** Rough length of one delete/purge cycle: the window runs
    * `seconds / CycleSeconds` whole cycles, so every run holds the same
    * operations (appends after a delete check tombstones, after a purge
    * they do not). */
  val CycleSeconds = 5.0

  def run(s: SparkSession, ctx: RunContext): Map[String, Any] = {
    import s.implicits._
    val r = new Random(ctx.seed)
    val corpus = Gen.documents(r, CorpusDocs)
    val batchDocs = BatchDocs
    val deleteEvery = 2
    val purgeEvery = 4
    def frame(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

    // the benchmark's ledger: live docs now, and per committed version
    val live = mutable.LinkedHashMap.empty[Long, String]
    val versions = mutable.LinkedHashMap.empty[Int, Set[Long]]
    var idx: String = null
    var nextId = corpus.size.toLong
    def freshBatch(n: Int): Seq[(Long, String)] = {
      val liveDocs = live.valuesIterator.toIndexedSeq
      (0 until n).map { _ =>
        nextId += 1
        nextId -> Gen.nearDup(r, liveDocs(r.nextInt(liveDocs.size)))
      }
    }
    def probeBatch(): Seq[(Long, String)] = {
      val liveDocs = live.valuesIterator.toIndexedSeq
      (0 until ProbeDocs).map(i =>
        (-1L - i) -> Gen.nearDup(r, liveDocs(r.nextInt(liveDocs.size))))
    }
    def bands = s"$idx/bands"
    def saveCommit(dir: String, docs: Seq[(Long, String)]): Int = {
      MinHashIndex.save(s, frame(docs), s"$dir/docs", dir)
      Snapshots.commit(s, s"$dir/bands")
    }

    val commitMs = ArrayBuffer.empty[Double]
    val appendMs, deleteMs, purgeMs, expireMs, serveMs = ArrayBuffer.empty[Double]
    val candidates, pairs = ArrayBuffer.empty[Long]
    val filesLive, versionsLive = ArrayBuffer.empty[Long]
    var conflicts = 0L
    var docsChurned = 0L
    var attempted, failed = 0L
    var checkNs = 0L
    // purge + expire are maintenance: timed on their own, outside the
    // window's churn time (like the checks)
    var maintNs = 0L
    val errors = ArrayBuffer.empty[String]
    def timed[T](into: ArrayBuffer[Double], name: String, trace: String)(body: => T): T = {
      val t = Trace.nowNs
      val out = Trace.span(name, "plans", Track, trace)(body)
      into += (Trace.nowNs - t) / 1e6
      out
    }
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
      }
    }
    def commitDone(v: Int, trace: String): Unit = {
      val cur = Trace.span("plans.current", "plans", Track, trace) {
        Snapshots.current(s, bands)
      }
      require(cur.contains(v), s"v$v is not current")
      versions(v) = live.keySet.toSet
    }

    /** Each still-unchecked version's doc-id set must equal the ledger:
      * the band-0 rows of its manifested band files minus its
      * tombstones. One read covers every pending version's files. */
    val checked = mutable.Set.empty[Int]
    def checkVersions(): Unit = Trace.span("bench.check", "bench", Track) {
      val t = Trace.nowNs
      val pending = versions.filter { case (v, _) => !checked(v) }
      val filesOf = pending.keys.map(v => v -> Snapshots.files(s, bands, v)
        .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)).toMap
      def idsIn(files: Seq[String], base: Option[String]): Map[String, Set[Long]] =
        if (files.isEmpty) Map.empty
        else base.fold(s.read)(b => s.read.option("basePath", b))
          .parquet(files: _*).select(input_file_name(), col("doc_id")).collect()
          .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
          .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSet }
      val all = filesOf.values.flatten.toSeq.distinct
      val idsOf = idsIn(all.filter(_.contains("/band_id=0/")), Some(bands)) ++
        idsIn(all.filter(_.contains("/deletes/")), None)
      for ((v, expect) <- pending) {
        checked += v
        val (tomb, band) = filesOf(v).partition(_.contains("/deletes/"))
        val got = band.flatMap(idsOf.getOrElse(_, Set.empty)).toSet --
          tomb.flatMap(idsOf.getOrElse(_, Set.empty))
        attempted += 1
        if (got != expect) {
          failed += 1
          errors += s"v$v holds ${got.size} docs, ledger ${expect.size}"
        }
      }
      checkNs += Trace.nowNs - t
    }

    def round(i: Int, trace: String): Unit = {
      val batch = freshBatch(batchDocs)
      op("append") {
        val t = Trace.nowNs
        val (v, c) = timed(appendMs, "plans.append_commit", trace) {
          MinHashIndex.appendCommitRetrying(s, idx, frame(batch))
        }
        batch.foreach(live += _)
        commitDone(v, trace)
        commitMs += (Trace.nowNs - t) / 1e6
        conflicts += c
        docsChurned += batch.size
        v
      }.foreach { v =>
        op("serve") {
          val probe = probeBatch()
          val served = timed(serveMs, "plans.serve", trace) {
            val rows = MinHashIndex.localize(s, frame(probe))
            val out = MinHashIndex.serveRowsAsOf(s, idx, v, rows)
            val got = out.collect()
            (out, got)
          }
          pairs += served._2.length
          if (Trace.enabled) candidates += joinRows(served._1)
        }
      }
      if (i % deleteEvery == deleteEvery - 1) op("delete") {
        val doomed = r.shuffle(live.keys.toVector).take(batchDocs / 2)
        val t = Trace.nowNs
        val v = timed(deleteMs, "plans.delete_commit", trace) {
          MinHashIndex.deleteCommit(s, idx, doomed.toDF("doc_id"))
        }
        doomed.foreach(live -= _)
        commitDone(v, trace)
        commitMs += (Trace.nowNs - t) / 1e6
        docsChurned += doomed.size
      }
      if (i % purgeEvery == purgeEvery - 1) op("purge") {
        val m0 = Trace.nowNs
        val c0 = checkNs
        val v = timed(purgeMs, "plans.purge_commit", trace) {
          MinHashIndex.purgeCommit(s, idx)
        }
        versions(v) = live.keySet.toSet
        checkVersions()
        timed(expireMs, "plans.expire", trace) {
          Snapshots.expire(s, bands, keepFrom = v)
        }
        versions.keys.filter(_ < v).toSeq.foreach(versions -= _)
        if (Trace.enabled) {
          filesLive += Snapshots.files(s, bands, v).size
          versionsLive += Snapshots.versions(s, bands).size
        }
        maintNs += Trace.nowNs - m0 - (checkNs - c0)
      }
    }

    val setupS = ArrayBuffer.empty[Double]
    for (rep <- 0 until ctx.setupReps) {
      val t = Trace.nowNs
      val dir = s"${ctx.work}/index-$rep"
      live.clear(); versions.clear(); checked.clear()
      corpus.foreach(live += _)
      nextId = corpus.size.toLong + 1000000L * rep
      idx = dir
      versions(saveCommit(dir, corpus)) = live.keySet.toSet
      round(0, "warmup")
      round(1, "warmup")
      setupS += (Trace.nowNs - t) / 1e9
      Main.phase(f"set-up $rep done in ${setupS.last}%.2fs")
    }
    // the timed window starts from clean sample sets
    Seq(commitMs, appendMs, deleteMs, purgeMs, expireMs, serveMs).foreach(_.clear())
    Seq(candidates, pairs, filesLive, versionsLive).foreach(_.clear())
    conflicts = 0; docsChurned = 0; attempted = 0; failed = 0
    val t0 = Trace.nowNs
    ctx.startWindow(t0)
    val rounds = purgeEvery * math.max(1, math.round(ctx.seconds / CycleSeconds).toInt)
    var i = 1
    checkNs = 0L
    maintNs = 0L
    while (i <= rounds) {
      round(i, s"round:$i")
      i += 1
    }
    val t1 = Trace.nowNs
    ctx.endWindow(t1)
    val timedS = (t1 - t0 - checkNs - maintNs) / 1e9

    Main.phase("checking results")
    // correctness, untimed: remaining versions against the ledger, and
    // the final serve against a serve over a fresh save + commit of the
    // ledger's documents
    checkVersions()
    val probe = probeBatch()
    val cur = Snapshots.current(s, bands).get
    def serveSet(dir: String, v: Int) =
      MinHashIndex.serveRowsAsOf(s, dir, v, MinHashIndex.localize(s, frame(probe)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = s"${ctx.work}/fresh"
    val freshV = saveCommit(fresh, live.toSeq)
    attempted += 1
    val finalServe = serveSet(idx, cur)
    if (finalServe != serveSet(fresh, freshV)) {
      failed += 1
      errors += "final serve differs from a fresh save + commit of the ledger"
    }
    Map(
      "setup_reps_s" -> setupS.toSeq,
      "corpus_docs" -> corpus.size,
      "batch_docs" -> batchDocs,
      "probe_docs" -> ProbeDocs,
      "rounds" -> (i - 1),
      "timed_s" -> timedS,
      "commit_ms" -> commitMs.toSeq,
      "append_ms" -> appendMs.toSeq,
      "delete_ms" -> deleteMs.toSeq,
      "purge_ms" -> purgeMs.toSeq,
      "expire_ms" -> expireMs.toSeq,
      "serve_ms" -> serveMs.toSeq,
      "serve_pairs" -> pairs.toSeq,
      "serve_candidates" -> candidates.toSeq,
      "occ_conflicts" -> conflicts,
      "docs_churned" -> docsChurned,
      "files_live" -> filesLive.toSeq,
      "versions_live" -> versionsLive.toSeq,
      "final_serve_pairs" -> finalServe.size,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq)
  }

  /** Candidate pairs of an executed serve: output rows of its broadcast
    * join, before the band gate and the est-Jaccard threshold. */
  private def joinRows(df: DataFrame): Long = {
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => plans(a.executedPlan)
      case q: QueryStageExec => plans(q.plan)
      case other => other +: other.children.flatMap(plans)
    }
    plans(df.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec => j.metrics("numOutputRows").value
    }.sum
  }
}
