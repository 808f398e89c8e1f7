package perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}

import graft.operators.TextOps
import graft.streaming.Streams

/** Open loop: one generator thread offers pseudo-JSON rating lines on a
  * fixed schedule into a `MemoryStream` read by `Streams.recommendLoop`,
  * with the rest of `events` as the static history. Each event is one
  * `addData` call, so a stream offset names exactly one event, and a
  * batch's offset range (from the query's progress reports) names the
  * events it answered.
  */
object RatingStream {
  val K = 25
  val MinCnt = 25L
  val WarmEvents = 8

  final case class Emit(batch: Long, end: Double, recs: Array[(Int, Int, Long)])

  def run(h: Harness): Map[String, Any] = {
    val a = h.a
    val heldOut = Harness.heldOut(a.seed)
    val spark = h.session()
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val lines = TextOps.pseudoJsonWire(spark, a.data).where(heldOut)
      .orderBy($"event_id").select($"event_id", $"value").as[(Long, String)].collect()
    val history = TextOps.pseudoJsonRoundtrip(spark, a.data).where(s"NOT ($heldOut)")
      .selectExpr("userid AS userId", "songid AS songId", "CAST(rating AS FLOAT) AS rating")
    val in = MemoryStream[String](spark)
    val emitted = new ConcurrentLinkedQueue[Emit]()
    val query = Streams.recommendLoop(in.toDF(), history,
      Paths.get(a.run, "stream_ck").toString, K, MinCnt) { (recs, id) =>
      val rows = recs.selectExpr("userId", "songId", "cnt").as[(Int, Int, Long)].collect()
      emitted.add(Emit(id, h.now(), rows))
    }.start()
    // the loop is ready once its first micro-batch has run (one addData
    // call per event, so stream offset i is lines(i))
    lines.take(WarmEvents).foreach(l => in.addData(Seq(l._2)))
    query.processAllAvailable()
    val setup = h.sinceStart()
    val calib = h.calibrate()

    // the schedule: event i is due at t0 + i / rate
    val offered = lines.drop(WarmEvents)
    val due = mutable.ArrayBuffer.empty[(Long, Double, Double, Long)] // id, due, late, offset
    h.heap.start()
    h.tracer.foreach(_.takeHookSeconds())
    val t0 = h.now()
    val gen = new Thread(() => {
      var i = 0
      while (i < offered.length && i / a.rate < a.seconds) {
        val d = i / a.rate
        val wait = t0 + d - h.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        val late = h.now() - t0 - d
        val off = in.addData(Seq(offered(i)._2)).asInstanceOf[LongOffset].offset
        due += ((offered(i)._1, d, late, off))
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val window = h.now() - t0
    val hookS = h.tracer.map(_.takeHookSeconds()).getOrElse(0.0)
    val drain = new Thread(() => query.processAllAvailable(), "perfbench-drain")
    drain.setDaemon(true)
    drain.start()
    drain.join(120000)
    h.heap.stop()
    val progress = query.recentProgress.toSeq
    query.stop()

    val batches = progress.filter(p => p.sources.nonEmpty && p.sources(0).endOffset != null)
      .map { p =>
        val s = p.sources(0)
        val start = Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L)
        val d = p.durationMs.asScala
        Map("id" -> p.batchId, "start" -> start, "end" -> s.endOffset.trim.toLong,
          "trigger_ms" -> d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          "add_batch_ms" -> d.get("addBatch").map(_.longValue).getOrElse(0L))
      }.filter(b => b("end") != b("start"))
    val emits = emitted.asScala.toSeq
    val (failures, badBatches) = check(history, lines, emits, batches, due.map(_._4).toSeq)

    val extra = if (!a.trace) Map.empty[String, Any] else layerProbes(h, history, lines)
    val tr = h.tracer.map { t => t.flush(); Map("tags" -> t.byTag, "hook_s" -> hookS) }

    Map(
      "setup_s" -> setup,
      "calib_s" -> calib,
      "window_s" -> window,
      "rate" -> a.rate,
      "events" -> due.map { case (id, d, late, off) =>
        Map("event_id" -> id, "due" -> d, "late" -> late, "offset" -> off) },
      "batches" -> batches,
      "emits" -> emits.map(e => Map("batch" -> e.batch, "end" -> (e.end - t0),
        "users" -> e.recs.map(_._1).distinct.length, "rows" -> e.recs.length)),
      "check_failures" -> failures,
      "bad_batches" -> badBatches,
      "heap_live_mb" -> h.heap.liveMb,
      "gc_s" -> h.heap.gcSeconds,
      "probes" -> extra,
      "trace" -> tr)
  }

  /** Verifies every emitted batch against a model of what the loop saw:
    * the history plus that batch's events. Each user gets at most K
    * distinct songs (exactly min(K, eligible unrated)), none rated,
    * each with the song's true count of at least MinCnt; and every
    * offered event falls in exactly one emitted batch. Returns the
    * failures and the ids of the batches whose answers were wrong.
    */
  def check(history: DataFrame, lines: Array[(Long, String)], emits: Seq[Emit],
      batches: Seq[Map[String, Any]], offsets: Seq[Long]): (Seq[String], Seq[Long]) = {
    val spark = history.sparkSession
    import spark.implicits._
    val bad = mutable.ArrayBuffer.empty[String]
    val badBatches = mutable.Set.empty[Long]
    val hist = history.select($"userId", $"songId").as[(Int, Int)].collect()
    val decoded = Streams.decodeRateEvents(lines.map(_._2).toSeq.toDF("value"))
      .select($"userid", $"songid").as[(Int, Int)].collect()
    val byBatch = batches.map(b => b("id").asInstanceOf[Long] -> b).toMap
    val seen = mutable.Set.empty[Long]
    for (e <- emits) {
      val before = bad.size
      if (!seen.add(e.batch)) bad += s"batch ${e.batch} emitted twice"
      byBatch.get(e.batch) match {
        case None => bad += s"batch ${e.batch} has no progress report"
        case Some(b) =>
          val (lo, hi) = (b("start").asInstanceOf[Long], b("end").asInstanceOf[Long])
          val fresh = decoded.slice((lo + 1).toInt, (hi + 1).toInt)
          val all = hist ++ fresh
          val cnt = all.groupMapReduce(_._2)(_ => 1L)(_ + _)
          val rated = all.map { case (u, s) => (u.toLong << 32) | (s & 0xffffffffL) }.toSet
          val eligible = cnt.filter(_._2 >= MinCnt).keySet
          val got = e.recs.groupBy(_._1)
          for (u <- fresh.map(_._1).distinct) {
            val rows = got.getOrElse(u, Array.empty)
            val want = math.min(K, eligible.count(s => !rated((u.toLong << 32) | (s & 0xffffffffL))))
            if (rows.length != want) bad += s"batch ${e.batch} user $u: ${rows.length} songs, want $want"
            if (rows.map(_._2).distinct.length != rows.length) bad += s"batch ${e.batch} user $u: repeated song"
            rows.foreach { case (_, s, c) =>
              if (rated((u.toLong << 32) | (s & 0xffffffffL))) bad += s"batch ${e.batch} user $u: rated song $s"
              if (c != cnt.getOrElse(s, 0L) || c < MinCnt) bad += s"batch ${e.batch} song $s: cnt $c"
            }
          }
          if ((got.keySet -- fresh.map(_._1)).nonEmpty) bad += s"batch ${e.batch}: recs for users not in the batch"
      }
      if (bad.size > before) badBatches += e.batch
    }
    val ranges = emits.flatMap(e => byBatch.get(e.batch))
      .map(b => (b("start").asInstanceOf[Long], b("end").asInstanceOf[Long]))
    offsets.foreach { o =>
      val n = ranges.count { case (lo, hi) => o > lo && o <= hi }
      if (n != 1) bad += s"offset $o answered $n times"
    }
    (bad.take(50).toSeq, badBatches.toSeq.sorted)
  }

  /** Traced runs only: the public `ml` and `functions` calls timed on the
    * history plus one typical batch, after the window.
    */
  def layerProbes(h: Harness, history: DataFrame, lines: Array[(Long, String)]): Map[String, Any] = {
    val spark = h.spark
    import spark.implicits._
    val typical = lines.slice(WarmEvents, WarmEvents + math.max(1, h.a.rate.toInt * 5)).map(_._2).toSeq
    val fresh = Streams.decodeRateEvents(typical.toDF("value"))
      .selectExpr("userid AS userId", "songid AS songId", "CAST(rating AS FLOAT) AS rating")
    val all = history.unionByName(fresh).cache()
    all.count()
    val users = fresh.select("userId").distinct()
    def time[T](body: => T): (T, Double) = { val t0 = h.now(); val r = body; (r, h.now() - t0) }
    val (model, trainS) = time(h.op("ml/train")(graft.ml.Recommender.train(all, rank = 4)))
    val (_, topkS) = time(h.op("ml/topk")(
      graft.ml.Recommender.recommendTopKUsers(model, all, users, K, MinCnt).collect()))
    all.unpersist()
    val wire = TextOps.pseudoJsonWire(spark, h.a.data).select($"value").cache()
    wire.count()
    val (_, decodeS) = time(h.op("functions/decode")(
      Streams.decodeRateEvents(wire).write.format("noop").mode("overwrite").save()))
    wire.unpersist()
    Map("train_s" -> trainS, "topk_s" -> topkS, "topk_users" -> users.count(),
      "decode_s" -> decodeS)
  }
}
