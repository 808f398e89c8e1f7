package graft

import graft.streaming.{InMemoryKvSink, KvSink, MarkerBuffer, Streams}
import graft.streaming.Streams.RateEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Streaming layer (SURVEY §2.10) driven through MemoryStream — the
  * same incremental plans a Kafka source would feed.
  */
class StreamingSpec extends AnyFunSuite {

  test("streaming incremental minhash equals the one-shot batch query") {
    val sf = TestSpark.sf
    // each qualifying pair must be emitted exactly ONCE — in the batch
    // where its later member arrives — so the accumulated stream output
    // is the one-shot incremental result (this is also what licenses
    // reusing dedup_incremental's oracle). 3 batches exercises
    // new-vs-standing, new-vs-earlier-batch, and new-vs-same-batch pairs.
    val streamed = Streams.incrementalMinhashQuery(spark, sf, numBatches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val oneShot = graft.operators.Dedup.minhashIncremental(spark, sf)
      .orderBy("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(oneShot.nonEmpty, "corpus must contain near-dup pairs to compare")
    assert(streamed == oneShot)
  }
  private val spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_ckpt").toString

  test("pseudo-JSON wire format decodes to typed rating events") {
    import spark.implicits._
    val lines = Seq(
      "{'userid': 88888,'music': ('m1', 1038), 'rating': 1}",
      "{'userid': 7,'music': ('m3', 42), 'rating': 5}").toDF("value")
    val got = Streams.decodeRateEvents(lines).as[RateEvent].collect().sortBy(_.userid)
    assert(got.toSeq == Seq(RateEvent(7, "m3", 42, 5), RateEvent(88888, "m1", 1038, 1)))
  }

  test("word count is per-batch stateless (reference DStream semantics)") {
    import spark.implicits._
    val in = MemoryStream[String](spark)
    val perBatch = mutable.Map[Long, Map[String, Long]]()
    val q = Streams.wordCountStream(in.toDF(), tmp(),
      Trigger.AvailableNow()) { (counts, id) =>
      perBatch.synchronized {
        perBatch(id) = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }.start()
    in.addData("the cat and the hat")
    q.awaitTermination()
    val q2 = Streams.wordCountStream(in.toDF(), tmp(), Trigger.AvailableNow()) {
      (counts, id) => perBatch.synchronized {
        perBatch(100 + id) = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }.start()
    in.addData("the dog")
    q2.awaitTermination()
    val first = perBatch.filterKeys(_ < 100).values.flatten.toMap
    assert(first("the") == 2L && first("cat") == 1L)
    // second run (fresh checkpoint reprocesses all): 'the' counts both lines
    val second = perBatch.filterKeys(_ >= 100).values.flatten.toMap
    assert(second("the") == 3L && second("dog") == 1L)
  }

  test("marker flush buffers per-user events until m3 arrives") {
    import spark.implicits._
    val in = MemoryStream[RateEvent](spark)
    val out = MarkerBuffer.markerFlush(in.toDS())
    val q = out.writeStream.format("memory").queryName("flushed")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()

    in.addData(RateEvent(1, "m1", 10, 3), RateEvent(2, "m1", 11, 4))
    q.processAllAvailable()
    assert(spark.table("flushed").count() == 0, "nothing flushes before a marker")

    in.addData(RateEvent(1, "m2", 12, 5))
    in.addData(RateEvent(1, "m3", 13, 1)) // user 1's marker
    q.processAllAvailable()
    val flushed1 = spark.table("flushed").as[MarkerBuffer.Flushed].collect()
    assert(flushed1.length == 3, "user 1's three buffered events flush together")
    assert(flushed1.forall(f => f.userid == 1 && f.flushSeq == 1))
    assert(flushed1.map(_.songid).sorted.toSeq == Seq(10, 12, 13))

    // second cycle for user 1; user 2 still buffered
    in.addData(RateEvent(1, "m3", 14, 2))
    q.processAllAvailable()
    val flushed2 = spark.table("flushed").as[MarkerBuffer.Flushed].collect()
    assert(flushed2.count(_.flushSeq == 2) == 1, "second flush carries only the new event")
    assert(flushed2.count(_.userid == 2) == 0, "user 2 never flushed")
    q.stop()
  }

  test("watermarked window: counts by event time, drops data past the horizon") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = MemoryStream[(Timestamp, String)](spark)
    val agg = Streams.windowedEventCounts(
      in.toDF().toDF("ts", "k"), "ts", "k",
      windowLen = "10 seconds", lateness = "10 seconds")
    val name = "win_counts"
    val q = agg.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmp())
      .outputMode("append").start()

    def t(s: Long) = new Timestamp(s * 1000L)
    in.addData((t(5), "a"), (t(7), "a"), (t(12), "b"))
    q.processAllAvailable()
    // advance the watermark far past both windows -> they finalize
    in.addData((t(100), "c"))
    q.processAllAvailable()
    val rows = spark.table(name)
      .selectExpr("window.start AS ws", "k", "count").as[(Timestamp, String, Long)]
      .collect().map { case (ws, k, c) => (ws.getTime / 1000, k, c) }.toSet
    assert(rows.contains((0L, "a", 2L)), "window [0,10) holds both a events")
    assert(rows.contains((10L, "b", 1L)))

    // an event far behind the watermark (now ~90s) must be dropped
    in.addData((t(6), "a"))
    q.processAllAvailable()
    in.addData((t(200), "c")) // push watermark so late window would emit if counted
    q.processAllAvailable()
    val after = spark.table(name)
      .selectExpr("window.start AS ws", "k", "count").as[(Timestamp, String, Long)]
      .collect().map { case (ws, k, c) => (ws.getTime / 1000, k, c) }
    assert(!after.contains((0L, "a", 3L)) && !after.contains((0L, "a", 1L)),
      "late event past the watermark is dropped, not re-aggregated")
    q.stop()
  }

  test("streaming session_window groups events by inactivity gap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, session_window}
    import java.sql.Timestamp
    val in = MemoryStream[(Timestamp, String)](spark)
    def t(s: Long) = new Timestamp(s * 1000L)
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "5 seconds"), col("k"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sessions")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    // two bursts for k=a separated by > 5s gap, one event for b
    in.addData((t(1), "a"), (t(3), "a"), (t(20), "a"), (t(2), "b"))
    q.processAllAvailable()
    in.addData((t(100), "c")) // advance watermark, finalize sessions
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .selectExpr("session_window.start AS s", "k", "n")
      .as[(Timestamp, String, Long)].collect()
      .map { case (s, k, n) => (s.getTime / 1000, k, n) }.toSet
    assert(rows.contains((1L, "a", 2L)), "burst [1,3] is one session of 2")
    assert(rows.contains((20L, "a", 1L)), "event past the gap opens a new session")
    assert(rows.contains((2L, "b", 1L)))
    q.stop()
  }

  test("session_window boundary: a gap of exactly `gap` MERGES " +
    "(closed boundary); gap + 1ms starts a new session (the oracle's " +
    "strict-> mirror)") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = MemoryStream[(Timestamp, Long)](spark)
    val q = Streams.sessionWindowCounts(
        in.toDF().toDF("ts", "user_id"), "ts", "user_id",
        gap = "5 seconds", lateness = "0 seconds")
      .writeStream.format("memory").queryName("sess_boundary")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    // user 1: events at 0ms and exactly 5000ms — the second event sits
    // ON the first session's end and Spark MERGES it (closed
    // boundary): one session [0, 10000]. user 2: 0ms and 4999ms merge
    // trivially. user 3: 0ms and 5001ms — strictly past the boundary,
    // two sessions. This pins the island rule the DuckDB oracle
    // mirrors: new island iff diff > gap, NOT >=.
    in.addData((new Timestamp(0L), 1L), (new Timestamp(5000L), 1L),
      (new Timestamp(0L), 2L), (new Timestamp(4999L), 2L),
      (new Timestamp(0L), 3L), (new Timestamp(5001L), 3L))
    q.processAllAvailable()
    in.addData((new Timestamp(100000L), 99L)) // finalize all
    q.processAllAvailable()
    val rows = spark.table("sess_boundary")
      .filter($"user_id" =!= 99L)
      .selectExpr("user_id", "session_window.start AS s",
        "session_window.end AS e", "count")
      .as[(Long, Timestamp, Timestamp, Long)].collect()
      .map { case (u, s, e, n) => (u, s.getTime, e.getTime, n) }.toSet
    assert(rows == Set(
      (1L, 0L, 10000L, 2L),
      (2L, 0L, 9999L, 2L),
      (3L, 0L, 5000L, 1L), (3L, 5001L, 10001L, 1L)))
    q.stop()
  }

  test("session windows survive a kill/restart on the same checkpoint: " +
    "an open session extends across the outage") {
    import spark.implicits._
    import java.sql.Timestamp
    val in = MemoryStream[(Timestamp, Long)](spark)
    val ckpt = tmp()
    val buf = mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    def start() = Streams.sessionWindowCounts(
        in.toDF().toDF("ts", "user_id"), "ts", "user_id",
        gap = "5 seconds", lateness = "0 seconds")
      .selectExpr("user_id", "session_window.start AS s",
        "session_window.end AS e", "count")
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r => (r.getLong(0),
            r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
            r.getLong(3)))
        }: Unit
      }.start()
    val q1 = start()
    in.addData((new Timestamp(0L), 1L), (new Timestamp(2000L), 1L))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty, "session still open -> stays in state, not output")
    // arrives while the query is DOWN, within the gap of the open
    // session: the restarted query must EXTEND the recovered session
    in.addData((new Timestamp(4000L), 1L))
    val q2 = start()
    q2.processAllAvailable()
    in.addData((new Timestamp(60000L), 99L)) // advance watermark, finalize
    q2.processAllAvailable()
    q2.stop()
    val got = buf.synchronized(buf.filter(_._1 != 99L).toList)
    assert(got == List((1L, 0L, 9000L, 3L)),
      s"one merged session [0, 4000+gap) of 3 events, not fragments: $got")
  }

  test("streaming SCD2: closed versions across 3 triggers equal the " +
    "batch form's non-current rows") {
    import spark.implicits._
    val sf = TestSpark.sf
    val got = Streams.scd2StreamQuery(spark, sf, numBatches = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    // the sf0.001 corpus sits entirely under HarnessFeedCap, so the
    // batch operator over the full table IS the capped-feed reference
    assert(Tables.events(spark, sf)
      .filter($"event_id" >= Streams.HarnessFeedCap).count() == 0L)
    val want = graft.operators.Relational.scd2Dimension(spark, sf)
      .filter($"is_current" === 0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == want)
  }

  test("idempotent parquet sink: a replayed batch overwrites its own " +
    "partition - no duplicates, other batches untouched") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_idem_sink").toString + "/t"
    val sink = Streams.idempotentParquetSink(path)
    sink(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    // crash-replay of batch 1 with different task-level row order
    sink(Seq((3L, "c")).toDF("id", "v").repartition(3), 1L)
    val rows = spark.read.parquet(path)
      .select($"id", $"v", $"batch_id".cast("long"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(rows == Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)),
      s"replay must not duplicate: $rows")
  }

  test("streaming dedup drops redelivered events within the watermark") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val in = MemoryStream[(Timestamp, Int)](spark)
    val dd = Streams.dedupEvents(
      in.toDF().toDF("ts", "event_id"), "ts", Seq("event_id"),
      lateness = "1 minute")
    val q = dd.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    in.addData((t(1), 1), (t(1), 1), (t(2), 2)) // same-batch duplicate
    q.processAllAvailable()
    in.addData((t(3), 1)) // cross-batch redelivery, inside the horizon
    q.processAllAvailable()
    val got = spark.table("dedup_out").as[(Timestamp, Int)].collect()
      .map(_._2).sorted.toSeq
    assert(got == Seq(1, 2), "each event id must survive exactly once")
    q.stop()
  }

  test("marker state and source offsets survive a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    // the exactly-once claim (Streams scaladoc): kill a query mid-flight,
    // restart on the SAME checkpoint, and the flushed output equals what
    // one uninterrupted run would emit — buffered state is recovered
    // from the state store and committed offsets are not re-read.
    val in = MemoryStream[RateEvent](spark)
    val ckpt = tmp()
    val buf = mutable.ArrayBuffer[MarkerBuffer.Flushed]()
    def start() = MarkerBuffer.markerFlush(in.toDS()).writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: Dataset[MarkerBuffer.Flushed], _: Long) =>
        buf.synchronized { buf ++= b.collect() }: Unit
      }.start()
    val q1 = start()
    in.addData(RateEvent(1, "m1", 10, 3), RateEvent(1, "m2", 11, 4),
      RateEvent(2, "m1", 20, 2))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty, "no marker yet -> all three events buffered in state")
    in.addData(RateEvent(2, "m3", 21, 1)) // arrives while the query is DOWN
    val q2 = start()
    in.addData(RateEvent(1, "m3", 12, 5))
    q2.processAllAvailable()
    q2.stop()
    val got = buf.synchronized(buf.sortBy(f => (f.userid, f.songid)).toSeq)
    val want = Seq(
      MarkerBuffer.Flushed(1, "m1", 10, 3, 1), MarkerBuffer.Flushed(1, "m2", 11, 4, 1),
      MarkerBuffer.Flushed(1, "m3", 12, 5, 1), MarkerBuffer.Flushed(2, "m1", 20, 2, 1),
      MarkerBuffer.Flushed(2, "m3", 21, 1, 1))
    assert(got == want,
      "restart must recover pre-restart buffers and flush them exactly once")
  }

  test("windowed counts survive a kill/restart on the same checkpoint") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    // the streaming guarantee a deployment leans on: kill the query
    // while windows are still open (state unflushed), restart on the
    // SAME checkpoint, and the finalized output equals what one
    // uninterrupted run would emit — partial counts are recovered from
    // the state store, the watermark resumes from the commit log, and
    // no window emits twice.
    val in = MemoryStream[(Timestamp, String)](spark)
    val ckpt = tmp()
    val buf = mutable.ArrayBuffer[(Long, String, Long)]()
    def start() = Streams.windowedEventCounts(
        in.toDF().toDF("ts", "k"), "ts", "k",
        windowLen = "10 seconds", lateness = "10 seconds")
      .selectExpr("window.start AS ws", "k", "count")
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r =>
            (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
        }: Unit
      }.start()
    val q1 = start()
    in.addData((t(5), "a"), (t(7), "a"), (t(12), "b"))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty, "watermark behind window ends -> all counts still in state")
    in.addData((t(100), "c")) // arrives while the query is DOWN
    val q2 = start()
    q2.processAllAvailable()
    in.addData((t(200), "c")) // finalize c's window too
    q2.processAllAvailable()
    q2.stop()
    val got = buf.synchronized(buf.toList)
    assert(got.toSet == Set((0L, "a", 2L), (10L, "b", 1L), (100L, "c", 1L)),
      s"restart must recover partial counts and finalize each window once: $got")
    assert(got.size == got.toSet.size, "no window may emit twice across the restart")
  }

  test("stream-stream join state survives a kill/restart on the same checkpoint") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    // impressions buffered in join state before the kill must still
    // match clicks that arrive after the restart (same checkpoint),
    // each pair exactly once.
    val imp = MemoryStream[(Timestamp, String)](spark)
    val clk = MemoryStream[(Timestamp, String)](spark)
    val ckpt = tmp()
    val buf = mutable.ArrayBuffer[(String, Long, Long)]()
    def start() = Streams.streamStreamJoin(
        imp.toDF().toDF("its", "k"), clk.toDF().toDF("cts", "k"),
        "k", "its", "cts", window = "10 seconds")
      .selectExpr("l.k AS k", "its", "cts")
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r => (r.getString(0),
            r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000))
        }: Unit
      }.start()
    val q1 = start()
    imp.addData((t(1), "a"), (t(2), "b"))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty, "no clicks yet -> both impressions buffered in join state")
    clk.addData((t(5), "a")) // arrives while the query is DOWN
    val q2 = start()
    clk.addData((t(8), "b"),  // in-window match for b's buffered impression
      (t(30), "a"))           // 29s after a's impression -> outside the window
    q2.processAllAvailable()
    q2.stop()
    val got = buf.synchronized(buf.toList)
    assert(got.toSet == Set(("a", 1L, 5L), ("b", 2L, 8L)),
      s"pre-kill impressions must join post-restart clicks exactly once: $got")
    assert(got.size == got.toSet.size, "no pair may emit twice across the restart")
  }

  test("stream-stream join matches events within the time window only") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val imp = MemoryStream[(Timestamp, String)](spark) // impressions
    val clk = MemoryStream[(Timestamp, String)](spark) // clicks
    val joined = Streams.streamStreamJoin(
      imp.toDF().toDF("its", "k"), clk.toDF().toDF("cts", "k"),
      "k", "its", "cts", window = "10 seconds")
      .selectExpr("l.k AS k", "its", "cts")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    imp.addData((t(1), "a"), (t(1), "b"))
    clk.addData((t(5), "a"),   // within 10s of a's impression -> match
      (t(30), "b"))            // 29s later -> outside the window
    q.processAllAvailable()
    val got = spark.table("ss_join").as[(String, Timestamp, Timestamp)]
      .collect().map(_._1).toSeq
    assert(got == Seq("a"), s"only the in-window click may join: $got")
    q.stop()
  }

  test("end-to-end stream: decode -> watermark dedup -> marker flush") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    // the reference's topology (wire decode -> stateful buffer) with
    // the dedup stage a replayed Kafka feed needs, chained as TWO
    // stateful operators in ONE incremental query
    val in = MemoryStream[(Timestamp, String)](spark)
    val deduped = Streams.dedupEvents(
      in.toDF().toDF("ts", "value"), "ts", Seq("value"), lateness = "1 minute")
    val events = Streams.decodeRateEvents(deduped).as[Streams.RateEvent]
    val q = MarkerBuffer.markerFlush(events)
      .writeStream.format("memory").queryName("e2e_flush")
      .option("checkpointLocation", tmp())
      .outputMode("append").start()
    val e1 = "{'userid': 1,'music': ('m1', 10), 'rating': 3}"
    val e2 = "{'userid': 1,'music': ('m2', 11), 'rating': 4}"
    in.addData((t(1), e1), (t(1), e1), (t(2), e2)) // e1 delivered twice
    q.processAllAvailable()
    in.addData((t(3), e1), // redelivered again across batches
      (t(4), "{'userid': 1,'music': ('m3', 12), 'rating': 5}"))
    q.processAllAvailable()
    val got = spark.table("e2e_flush").as[MarkerBuffer.Flushed].collect()
      .sortBy(_.songid).toSeq
    assert(got == Seq(
      MarkerBuffer.Flushed(1, "m1", 10, 3, 1),
      MarkerBuffer.Flushed(1, "m2", 11, 4, 1),
      MarkerBuffer.Flushed(1, "m3", 12, 5, 1)),
      s"duplicates must not reach the buffer; one flush of 3: $got")
    q.stop()
  }

  test("KV sink folds a batch into one JSON upsert per user, executor-side") {
    import spark.implicits._
    val recs = Seq((1, 100, 4.5f), (1, 101, 4.0f), (2, 102, 3.5f),
      (3, 200, 4.0f), (3, 199, 4.0f))
      .toDF("userId", "songId", "prediction")
    val sink = new InMemoryKvSink
    KvSink.writeBatch(recs, sink)
    assert(sink.store.size() == 3)
    val u1 = sink.store.get("1")
    assert(u1.contains("100") && u1.contains("101"))
    assert(u1.indexOf("100") < u1.indexOf("101"),
      "list is ranked by prediction descending")
    assert(sink.store.get("2").contains("102"))
    // tied predictions order songId ASCENDING, matching recommendLoop's
    // rank window — a plain descending struct sort would flip this
    val u3 = sink.store.get("3")
    assert(u3.indexOf("199") < u3.indexOf("200"),
      s"tie order must be songId asc to match the rank window: $u3")
  }

  test("streaming HLL equals the one-shot batch sketch on the fed slice") {
    import spark.implicits._
    val streamed = Streams.hllStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val batch = graft.operators.Sketches.hllDistinctOf(
      Tables.events(spark, TestSpark.sf)
        .filter($"event_id" < Streams.HarnessFeedCap),
      $"event_type", $"user_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(streamed.nonEmpty, "feed must produce sketch rows")
    assert(streamed == batch,
      "max-merged micro-batch registers must finish to the one-shot estimate")
  }

  test("streaming funnel equals the batch walk on the fed slice") {
    import spark.implicits._
    val streamed = Streams.funnelStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Relational.funnelStepsOf(
      Tables.events(spark, TestSpark.sf)
        .filter($"event_id" < Streams.HarnessFeedCap),
      graft.operators.Relational.FunnelStages)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "feed must produce funnel rows")
    assert(streamed == batch,
      "per-user state folded across micro-batches must equal the one-shot walk")
  }

  test("streaming EWMA equals the one-shot batch fold on the fed slice") {
    import spark.implicits._
    val streamed = Streams.ewmaStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Temporal.ewmaValueOf(
      Tables.events(spark, TestSpark.sf)
        .filter($"event_id" < Streams.HarnessFeedCap))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty, "feed must produce ewma rows")
    assert(streamed == batch,
      "one long of per-user state folded across triggers == one-shot fold")
  }

  test("streaming exact dedup suppresses re-sent rows across triggers") {
    import spark.implicits._
    val streamed = Streams.dedupStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect()
    val distinct = Tables.events(spark, TestSpark.sf)
      .filter($"event_id" < Streams.HarnessFeedCap).count()
    assert(streamed.nonEmpty)
    assert(streamed.length.toLong == distinct,
      "every event exactly once despite every slice being re-sent")
    assert(streamed.map(_.getLong(0)).distinct.length == streamed.length)
  }

  test("streaming HLL registers survive a kill/restart on the same checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.Streams.{HllProgress, KeyedId}
    import graft.operators.Sketches
    val in = MemoryStream[KeyedId](spark)
    val ckpt = tmp()
    val out = mutable.ArrayBuffer[(String, Long, Seq[Int])]()
    def start() = in.toDS()
      .groupByKey(_.k)
      .mapGroupsWithState[(Vector[Int], Long), HllProgress](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedId],
         gs: GroupState[(Vector[Int], Long)]) =>
          val (st0, seq0) = gs.getOption
            .getOrElse((Vector.fill(Sketches.HllRegisters)(0), 0L))
          var st = st0; var n = 0L
          it.foreach { e =>
            val (reg, rho) = Sketches.regRhoJvm(e.v.toString)
            if (rho > st(reg)) st = st.updated(reg, rho)
            n += 1
          }
          gs.update((st, seq0 + n))
          HllProgress(key, seq0 + n, st)
      }
      .toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getString(0), r.getLong(1),
            r.getSeq[Int](2)))
        }: Unit
      }.start()
    val q1 = start()
    in.addData((0 until 500).map(i => KeyedId("k", i.toLong)))
    q1.processAllAvailable()
    q1.stop()
    in.addData((500 until 1000).map(i => KeyedId("k", i.toLong))) // while DOWN
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val g = out.synchronized(out.toList)
    val after = g.find(_._2 == 1000L)
      .getOrElse(fail(s"restart must process the down-time batch: $g"))._3
    // the recovered registers must equal the one-shot fold of all 1000
    var whole = Vector.fill(Sketches.HllRegisters)(0)
    (0 until 1000).foreach { i =>
      val (reg, rho) = Sketches.regRhoJvm(i.toString)
      if (rho > whole(reg)) whole = whole.updated(reg, rho)
    }
    assert(after == whole,
      "registers recovered from the checkpoint must resume exactly")
  }

  test("streaming CMS equals the one-shot batch sketch on the fed slice") {
    import spark.implicits._
    val streamed = Streams.cmsStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Sketches.cmsHeavyHittersOf(
      graft.operators.Relational.ratings(spark, TestSpark.sf)
        .filter($"event_id" < Streams.HarnessFeedCap)
        .select($"song_id".cast("long").as("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty, "feed must produce sketch rows")
    assert(streamed == batch,
      "additive counters across micro-batches must equal the one-shot build")
  }

  test("streaming quantiles equal the one-shot batch histogram on the fed slice") {
    import spark.implicits._
    val streamed = Streams.histStreamQuery(spark, TestSpark.sf, numBatches = 3)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Sketches.histogramQuantilesOf(
      Tables.events(spark, TestSpark.sf)
        .filter($"event_id" < Streams.HarnessFeedCap),
      $"event_type", $"value")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "additive bins across micro-batches must equal the one-shot histogram")
  }

  test("streaming CMS counters survive a kill/restart on the same checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.Streams.CmsProgress
    import graft.operators.Sketches
    val in = MemoryStream[(Int, Long)](spark)
    val ckpt = tmp()
    val out = mutable.ArrayBuffer[(Int, Long, Seq[Long])]()
    def start() = in.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[(Vector[Long], Long), CmsProgress](
        GroupStateTimeout.NoTimeout) {
        (j: Int, it: Iterator[(Int, Long)],
         gs: GroupState[(Vector[Long], Long)]) =>
          val (a, b) = Sketches.CmsParams(j)
          val (st0, seq0) = gs.getOption
            .getOrElse((Vector.fill(Sketches.CmsWidth)(0L), 0L))
          var st = st0; var n = 0L
          it.foreach { case (_, v) =>
            val bkt = Sketches.cmsBucketJvm(v, a, b)
            st = st.updated(bkt, st(bkt) + 1); n += 1
          }
          gs.update((st, seq0 + n))
          CmsProgress(j, seq0 + n, st)
      }
      .toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getInt(0), r.getLong(1),
            r.getSeq[Long](2)))
        }: Unit
      }.start()
    def feed(vals: Range) = vals.flatMap(v => Seq((0, v.toLong % 7)))
    val q1 = start()
    in.addData(feed(0 until 300))
    q1.processAllAvailable()
    q1.stop()
    in.addData(feed(300 until 600)) // while DOWN
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val g = out.synchronized(out.toList)
    val after = g.find(t => t._1 == 0 && t._2 == 600L)
      .getOrElse(fail(s"restart must process the down-time batch: ${g.map(t => (t._1, t._2))}"))._3
    var whole = Vector.fill(Sketches.CmsWidth)(0L)
    val (a, b) = Sketches.CmsParams(0)
    (0 until 600).foreach { v =>
      val bkt = Sketches.cmsBucketJvm(v.toLong % 7, a, b)
      whole = whole.updated(bkt, whole(bkt) + 1)
    }
    assert(after == whole,
      "counters recovered from the checkpoint must resume exactly")
  }

  test("streaming funnel state survives a kill/restart on the same checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.streaming.Streams.{FunnelProgress, StampedType}
    // kill the query with users mid-funnel, restart on the SAME
    // checkpoint, feed the remaining stages: the recovered state must
    // resume the walk exactly where it stopped (no stage lost, no
    // stage double-counted)
    val stages = graft.operators.Relational.FunnelStages.toIndexedSeq
    val in = MemoryStream[StampedType](spark)
    val ckpt = tmp()
    val rows = mutable.ArrayBuffer[(Long, Long, Int)]() // (user, seq, n_stages)
    def start() = in.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Vector[Long], Long), FunnelProgress](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[StampedType],
         gs: GroupState[(Vector[Long], Long)]) =>
          val (st0, seq0) = gs.getOption.getOrElse((Vector.empty[Long], 0L))
          val batch = it.toIndexedSeq.sortBy(e => (e.tsu, e.event_type))
          val st = batch.foldLeft(st0) { (s, e) =>
            if (s.length < stages.length && e.event_type == stages(s.length) &&
              (s.isEmpty || e.tsu > s.last)) s :+ e.tsu else s
          }
          gs.update((st, seq0 + batch.length))
          FunnelProgress(uid, seq0 + batch.length, st.length,
            st.lift(0), st.lift(1), st.lift(2), st.lift(3))
      }
      .toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r => (r.getAs[Long]("user_id"),
            r.getAs[Long]("seq"), r.getAs[Int]("n_stages")))
        }: Unit
      }.start()
    val q1 = start()
    in.addData(StampedType(1, 10, "signup"), StampedType(1, 20, "view"))
    q1.processAllAvailable()
    q1.stop()
    // these arrive while the query is DOWN
    in.addData(StampedType(1, 30, "click"), StampedType(1, 40, "purchase"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val g = rows.synchronized(rows.toList)
    assert(g.contains((1L, 2L, 2)), s"pre-kill progress: $g")
    assert(g.contains((1L, 4L, 4)),
      s"restart must resume the recovered walk to completion: $g")
  }

  test("recommend loop: batch body unions stream with history and emits top-K") {
    import spark.implicits._
    val history = Seq(
      (1, 100, 4.0f), (1, 101, 5.0f), (2, 100, 3.0f), (2, 102, 4.0f),
      (3, 101, 2.0f), (3, 102, 5.0f), (4, 100, 4.5f), (4, 101, 1.5f))
      .toDF("userId", "songId", "rating")
    val in = MemoryStream[String](spark)
    val emitted = mutable.ArrayBuffer[(Int, Int)]() // (userId, songId)
    val q = Streams.recommendLoop(in.toDF(), history, tmp(),
      k = 5, minCnt = 1, trigger = Trigger.AvailableNow()) { (recs, _) =>
      emitted.synchronized {
        emitted ++= recs.select("userId", "songId").collect()
          .map(r => (r.getInt(0), r.getInt(1)))
      }
    }.start()
    in.addData("{'userid': 9,'music': ('m1', 102), 'rating': 5}")
    q.awaitTermination()
    assert(emitted.nonEmpty, "recommendations emitted for the batch user")
    assert(emitted.forall(_._1 == 9))
    assert(!emitted.map(_._2).contains(102), "rated song must not be recommended")
  }

  test("recommend loop releases a complete first pass's cached top-K") {
    import spark.implicits._
    // 90 songs > max(4k, 64): the first pass ranks 64 songs, proves
    // complete and returns its result cached
    val history = (for (u <- 1 to 6; s <- 100 until 190)
        yield (u, s, ((u * 7 + s) % 5 + 1).toFloat))
      .toDF("userId", "songId", "rating")
    val in = MemoryStream[String](spark)
    val seen = new java.util.concurrent.atomic.AtomicReference[DataFrame]
    val q = Streams.recommendLoop(in.toDF(), history, tmp(),
      k = 5, minCnt = 1, trigger = Trigger.AvailableNow()) { (recs, _) =>
      assert(recs.count() == 5)
      seen.set(recs)
    }.start()
    in.addData("{'userid': 9,'music': ('m1', 102), 'rating': 5}")
    q.awaitTermination()
    val recs = seen.get
    assert(recs != null, "the batch emitted")
    import org.apache.spark.sql.classic
    val cached = spark.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(recs.asInstanceOf[classic.Dataset[_]])
    assert(cached.isEmpty, "the batch's recommendations stayed cached")
  }

  test("recommend loop: a batch of many addData blocks adds at most " +
      "defaultParallelism tasks to a stage") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val history = Seq(
      (1, 100, 4.0f), (1, 101, 5.0f), (2, 100, 3.0f), (2, 102, 4.0f),
      (3, 101, 2.0f), (3, 102, 5.0f), (4, 100, 4.5f), (4, 101, 1.5f))
      .toDF("userId", "songId", "rating")
    val bound = history.rdd.getNumPartitions + sc.defaultParallelism
    // (job group, stage name, tasks) of every stage submitted
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull, e.stageInfo.name, e.stageInfo.numTasks))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == "stage_width_marker"))
          drained.countDown()
    }
    val in = MemoryStream[String](spark)
    // one addData block per event: 12 input partitions in one batch
    val rated = (9 to 20).map(u => u -> (100 + u % 3))
    rated.foreach { case (u, s) =>
      in.addData(s"{'userid': $u,'music': ('m1', $s), 'rating': 5}")
    }
    val emitted = mutable.ArrayBuffer[(Long, Int, Int)]() // (batch, user, song)
    sc.addSparkListener(listener)
    val q = try {
      val q = Streams.recommendLoop(in.toDF(), history, tmp(),
        k = 2, minCnt = 1, trigger = Trigger.AvailableNow()) { (recs, id) =>
        emitted.synchronized {
          emitted ++= recs.select("userId", "songId").collect()
            .map(r => (id, r.getInt(0), r.getInt(1)))
        }
      }.start()
      q.awaitTermination()
      // listener events arrive in order: once a later job's start is
      // seen, every stage of the stream has been recorded
      sc.setJobGroup("stage_width_marker", "drain the listener bus")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      q
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val mine = stages.asScala.filter(_._1 == q.runId.toString).toSeq
    assert(mine.nonEmpty, "the stream's stages carry its run id as job group")
    val wide = mine.filter(_._3 > bound)
    assert(wide.isEmpty, s"stages wider than $bound tasks: $wide")
    assert(emitted.map(_._1).distinct.size == 1, "the 12 events form one batch")
    assert(emitted.map(_._2).toSet == rated.map(_._1).toSet)
    assert(emitted.forall { case (_, u, s) => !rated.contains(u -> s) },
      "a rated song must not be recommended")
  }

  test("streaming incremental IVF equals the batch form row for row") {
    val sf = TestSpark.sf
    val streamed = graft.streaming.Streams.incrementalIvfQuery(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = graft.operators.Similarity
      .incrementalIvfTopK(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "per-batch probes of the standing index must union to the batch relation")
  }

  test("left-outer stream-stream join equals the batch left join and " +
    "emits watermark-expired unmatched clicks") {
    import spark.implicits._
    val sf = TestSpark.sf
    val got = graft.streaming.Streams.streamStreamLeftJoinQuery(spark, sf)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(got.nonEmpty)
    assert(got.exists(_._2 == -1L),
      "unconverted clicks must surface as NULL purchase rows")
    assert(got.exists(_._2 >= 0L), "matched rows must still be present")
    // batch reference: the same time-bounded left join
    val ev = Tables.events(spark, sf).filter($"event_id" < 10000L)
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("cu"),
        org.apache.spark.sql.functions.expr("ts div 1000000").as("c_ms"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"),
        org.apache.spark.sql.functions.expr("ts div 1000000").as("p_ms"))
    val want = c.join(p, $"cu" === $"pu" && $"p_ms" >= $"c_ms" &&
        $"p_ms" <= $"c_ms" + 1800000L, "left_outer")
      .select($"click_id",
        org.apache.spark.sql.functions.coalesce($"purchase_id", org.apache.spark.sql.functions.lit(-1L)).as("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted)
  }
  test("complete-mode top-k equals the one-shot batch aggregate after " +
    "multi-trigger accumulation") {
    import spark.implicits._
    val sf = TestSpark.sf
    val got = graft.streaming.Streams.topkCompleteQuery(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.nonEmpty)
    val want = graft.Tables.documents(spark, sf)
      .filter($"doc_id" < 200L)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("word"))
      .groupBy($"word").count()
      .orderBy($"count".desc, $"word").limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want,
      "final Complete-mode table must equal the batch aggregate")
  }
  test("streaming anomaly: expanding z-score state accumulates across " +
    "triggers and flags match the batch expanding-window form") {
    import spark.implicits._
    val sf = TestSpark.sf
    val got = graft.streaming.Streams.anomalyStreamQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(got.nonEmpty)
    assert(got.exists(_._3), "some anomaly must fire on the corpus")
    assert(got.exists(t => !t._3))
    // batch reference: per-user expanding window over prior events
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = ev
      .withColumn("n", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(w))
      .withColumn("s", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum($"cents").over(w),
        org.apache.spark.sql.functions.lit(0L)))
      .withColumn("s2", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum($"cents" * $"cents").over(w),
        org.apache.spark.sql.functions.lit(0L)))
      .select($"event_id", $"n",
        ($"n" >= 5 && ($"n" * $"cents" - $"s") * ($"n" * $"cents" - $"s")
          > org.apache.spark.sql.functions.lit(9L) * ($"n" * $"s2" - $"s" * $"s"))
          .as("flag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === want.toSeq)
  }
  test("file-source streaming drains the landing dir in multiple real " +
    "micro-batches and equals the batch aggregate") {
    import spark.implicits._
    val sf = TestSpark.sf
    val got = graft.streaming.Streams.fileSourceQuery(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Tables.events(spark, sf)
      .select($"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"cents").as("sum_cents"))
      .orderBy($"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
  }
  test("streaming CDC merge equals the one-shot batch merge row for row") {
    import spark.implicits._
    val sf = TestSpark.sf
    val streamed = graft.streaming.Streams.mergeApplyStreamQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val batch = graft.sources.Maintenance.mergeApplyQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "per-trigger merges must converge to the one-shot merged table")
  }

  test("transformWithState running stats equal the batch aggregate; " +
    "state accumulates across triggers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf
    val got = graft.streaming.Streams.twsRunningStatsQuery(spark, sf, 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val want = Tables.events(spark, sf)
      .filter($"event_id" < graft.streaming.Streams.HarnessFeedCap)
      .select($"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"), min($"c"), max($"c"))
      .orderBy($"user_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got === want,
      "RocksDB ValueState must fold all three feed slices exactly")
    // with 3 slices over sf0.001, at least one user spans triggers —
    // otherwise the cross-trigger accumulation claim is untested
    assert(got.exists(_._2 > 1L))
  }

  test("tws event-time timers: streamed sessions equal the batch lag form " +
    "(every user's final session can only close via its timer)") {
    val sf = TestSpark.sf
    import spark.implicits._
    val got = Streams.twsTimerSessionsQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val cap = Streams.HarnessFeedCap
    val want = graft.operators.Relational.sessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // sf0.001 has all event_ids < cap, so batch over the full table IS
    // the capped feed
    assert(Tables.events(spark, sf)
      .filter($"event_id" >= cap).isEmpty, "feed-cap premise")
    assert(got == want)
    assert(got.nonEmpty)
    // multi-session users exist, so IN-BATCH closes ran too — both
    // close paths are exercised, not just the timer flush
    assert(got.exists(_._2 > 0L), "no user ever re-sessioned: gap never bit")
  }

  test("tws initial state: batch-seeded history composes with streamed " +
    "increments — totals equal the whole-feed aggregate") {
    val sf = TestSpark.sf
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val got = Streams.twsInitialStateQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.nonEmpty)
    val x = Tables.events(spark, sf)
      .filter($"event_id" < Streams.HarnessFeedCap)
      .select($"user_id", $"event_id",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val half = x.agg(expr("(max(event_id) + 1) div 2")).head().getLong(0)
    // every reported user's totals cover history + stream
    val whole = x.groupBy($"user_id")
      .agg(expr("count(1)").as("n"), expr("sum(cents)").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got.foreach { case (u, t) => assert(t == whole(u), s"user $u") }
    // and the seed genuinely contributed: some user has MORE events in
    // the final total than the stream half alone delivered
    val streamOnly = x.filter($"event_id" >= half).groupBy($"user_id")
      .agg(expr("count(1)").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.exists { case (u, (n, _)) => n > streamOnly.getOrElse(u, 0L) },
      "warm-start state never observed: split left no history")
  }

  test("tws ListState/MapState: slicing is invisible — 3-batch == 1-batch") {
    val sf = TestSpark.sf
    def s(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(s(Streams.twsRecentItemsQuery(spark, sf, numBatches = 3)) ==
      s(Streams.twsRecentItemsQuery(spark, sf, numBatches = 1)))
    assert(s(Streams.twsMapCountsQuery(spark, sf, numBatches = 3)) ==
      s(Streams.twsMapCountsQuery(spark, sf, numBatches = 1)))
    // the recent list truly trims: nobody carries more than K items
    val items = Streams.twsRecentItemsQuery(spark, sf).collect()
    assert(items.forall(_.getString(1).split(',').length <= Streams.RecentK))
    assert(items.exists(_.getString(1).split(',').length == Streams.RecentK),
      "some user must hit the cap or the trim path went unexercised")
  }

  test("dedupWithinWatermark: suppresses close duplicates, equals batch distinct") {
    val sf = TestSpark.sf
    import spark.implicits._
    val got = Streams.dedupWithinWatermarkQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = graft.Tables.events(spark, sf)
      .filter($"event_id" < Streams.HarnessFeedCap)
      .select($"event_id", $"user_id", $"value").distinct()
      .orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  test("dedupWithinWatermark EVICTS key state at the watermark " +
    "(a re-send after the delay re-emits — the bounded-state contract)") {
    import spark.implicits._
    import graft.streaming.Streams.StampedRow
    def row(id: Long, tMin: Long) =
      StampedRow(id, 1L, new java.sql.Timestamp(tMin * 60000L), 1.0)
    val in = MemoryStream[StampedRow](spark)
    val ck = java.nio.file.Files.createTempDirectory("wm_evict").toString
    val q = in.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("wm_evict_t")
      .option("checkpointLocation", ck)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      in.addData(row(1, 0));   q.processAllAvailable() // first arrival: emit
      in.addData(row(1, 1));   q.processAllAvailable() // dup inside delay: suppressed
      in.addData(row(99, 60)); q.processAllAvailable() // advance watermark to ~50min
      in.addData(row(1, 61));  q.processAllAvailable() // id 1 state evicted: re-emit
      val emitted = spark.table("wm_evict_t")
        .filter($"event_id" === 1L).count()
      assert(emitted == 2L,
        "state for id 1 must be evicted once the watermark passes it")
      // and plain dropDuplicates never would have: that's the
      // unbounded-state tradeoff this operator exists to avoid
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS wm_evict_t")
    }
  }

  test("state TTL evicts between slices; a lapsed-free TTL accumulates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf
    // batch truth over the same capped feed
    val batchCounts = graft.Tables.events(spark, sf)
      .filter($"event_id" < Streams.HarnessFeedCap)
      .groupBy($"user_id").agg(count(lit(1)).as("n_batch"))
    // (a) TTL 200ms, 2s gap: every slice-1 value is store-evicted, so
    // summed emissions == the batch count for EVERY user
    val evicted = Streams.twsTtlCountsQuery(spark, sf)
    assert(evicted.join(batchCounts, "user_id")
      .filter($"n_events" =!= $"n_batch").count() == 0)
    assert(evicted.filter($"n_flushes" === 2).count() > 0,
      "some user must span both slices or the TTL was never exercised")
    // (b) TTL 1h, no gap: nothing expires, the second emission is a
    // RUNNING count — summed emissions now OVERCOUNT slice 1 for every
    // user that appears in both slices
    val kept = Streams.twsTtlCountsQuery(spark, sf,
      ttlMs = 3600L * 1000, gapMs = 0L)
    val over = kept.filter($"n_flushes" === 2)
      .join(batchCounts, "user_id")
      .filter($"n_events" <= $"n_batch").count()
    assert(over == 0,
      "without eviction every 2-slice user must double-count slice 1")
  }

  test("e2e lifecycle emits top-25 payloads that round-trip the sink codec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val recs = Streams.streamingRecommendE2eQuery(spark, TestSpark.sf)
    val rows = recs.collect()
    assert(rows.length == 25, "top-25 cut must fill at sf0.001")
    assert(recs.select($"userid").distinct().count() == 1,
      "one most-active stream user per lifecycle run")
    // F4 sink payload is the exact inverse of the from_json decode —
    // the Kafka value a downstream consumer would parse back
    val decoded = recs.select(from_json($"payload",
        org.apache.spark.sql.types.StructType.fromDDL(
          "userid INT, songid INT, score_uppm BIGINT")).as("j"), $"userid",
        $"songid", $"score_uppm")
      .filter($"j.userid" === $"userid" && $"j.songid" === $"songid" &&
        $"j.score_uppm" === $"score_uppm")
    assert(decoded.count() == 25)
    // every recommended song clears the M6 gates: >= 5 ratings in the
    // union relation and never rated by the chosen user
    val f = graft.operators.TextOps.pseudoJsonRoundtrip(spark, TestSpark.sf)
      .filter($"event_id" < Streams.HarnessFeedCap)
    val u = rows.head.getInt(0)
    val counts = f.groupBy($"songid").agg(count(lit(1)).as("cnt"))
    val gated = recs.join(counts, "songid").filter($"cnt" >= 5)
    assert(gated.count() == 25)
    val ratedByU = f.filter($"userid" === u).select($"songid").distinct()
    assert(recs.join(ratedByU, "songid").count() == 0)
  }
}
