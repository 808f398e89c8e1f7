package graft

import graft.streaming.{Streams, TemporalState}
import graft.streaming.TemporalState.{AsofIn, Attributed}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming as-of enrichment: in-trigger event-time semantics,
  * cross-trigger processing-time semantics, one-row-per-key state.
  */
class TemporalStateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def runBatches(batches: Seq[Seq[AsofIn]]): Seq[Attributed] = {
    val name = Streams.replay(spark, "asof_spec", batches, OutputMode.Append)(
      TemporalState.asofEnrich(_).toDF())
    spark.table(name).as[Attributed].collect().toSeq.sortBy(_.event_id)
  }

  test("in-trigger: event-time order, <= visibility, tie to max id") {
    val out = runBatches(Seq(Seq(
      AsofIn(1, 100, 0, 50, 0), // click at t=100
      AsofIn(1, 100, 0, 51, 0), // same-µs click, greater id wins
      AsofIn(1, 100, 1, 90, 7.0), // purchase AT t=100 sees click 51
      AsofIn(1, 60, 1, 91, 8.0), // purchase BEFORE any click: unmatched
      AsofIn(2, 10, 1, 92, 9.0) // key with no clicks at all
    )))
    assert(out == Seq(
      Attributed(90, 1, 100, 7.0, Some(51), Some(100)),
      Attributed(91, 1, 60, 8.0, None, None),
      Attributed(92, 2, 10, 9.0, None, None)))
  }

  test("cross-trigger: state is the newest arrived update (processing time)") {
    val out = runBatches(Seq(
      Seq(AsofIn(1, 200, 0, 60, 0)), // trigger 1: update at t=200
      Seq(AsofIn(1, 150, 1, 95, 1.0)), // trigger 2: event at t=150 — sees it
      Seq(AsofIn(1, 100, 0, 61, 0), // trigger 3: OLDER update can't regress
        AsofIn(1, 300, 1, 96, 2.0))
    ))
    assert(out == Seq(
      Attributed(95, 1, 150, 1.0, Some(60), Some(200)),
      Attributed(96, 1, 300, 2.0, Some(60), Some(200))))
  }

  test("single-trigger feed equals the batch as-of join on corpus data") {
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "ts div 1000 AS tsu", "value",
        "event_type")
      .filter($"event_type".isin("click", "purchase"))
    val feed = ev.collect().map(r => AsofIn(r.getLong(1), r.getLong(2),
      if (r.getString(4) == "click") 0 else 1, r.getLong(0), r.getDouble(3)))
    val got = runBatches(Seq(feed.toIndexedSeq))
      .map(a => (a.event_id, a.click_id, a.click_tsu))
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"tsu")
      .agg(org.apache.spark.sql.functions.max($"event_id").as("click_id"))
      .select($"user_id", $"tsu".as("click_tsu"), $"click_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"tsu", $"value")
    val want = graft.operators.Temporal.asofJoin(purchases, clicks,
        Seq("user_id"), "tsu", "click_tsu", "event_id", "click_id",
        Seq("click_id", "click_tsu"), prefix = "")
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).toSeq
    assert(got.nonEmpty && got == want)
  }
}
