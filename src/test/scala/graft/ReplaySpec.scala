package graft

import graft.sources.Sources
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, StreamingQueryException, TimeMode,
  TimerValues, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** The feed both failing plans share: slice 2 carries the poison row. */
object Poisoned {
  val Row = 13L
  val Message = "poisoned slice"
  val Feed: Seq[Seq[Long]] = Seq(Seq(1L, 2L, 3L), Seq(4L, Row))
  def check(v: Long): Long =
    if (v == Row) throw new IllegalStateException(Message) else v
}

/** Running sum per key on transformWithState; throws on the poison row. */
class PoisonedSumProcessor extends StatefulProcessor[Long, Long, Long] {
  @transient private var sum: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sum = getHandle.getValueState[Long]("sum",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Long],
      tv: TimerValues): Iterator[Long] = {
    val s = (if (sum.exists()) sum.get() else 0L) + rows.map(Poisoned.check).sum
    sum.update(s)
    Iterator.single(s)
  }
}

/** The guarantees of [[Streams.replay]] when its feed fails mid-way. */
class ReplaySpec extends AnyFunSuite {
  import TestSpark.spark

  private val partitionsKey = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def checkpoints: Set[String] =
    new java.io.File(Sources.scratchBase).list()
      .filter(_.startsWith("graft_ckpt")).toSet

  private def failingReplay(plan: Dataset[Long] => DataFrame): Unit = {
    import spark.implicits._
    val prevPartitions = spark.conf.get(partitionsKey)
    // a session value the replay's own state partitions (4) differ from
    spark.conf.set(partitionsKey, "3")
    try {
      val prevProvider = spark.conf.getAll.get(providerKey)
      val before = checkpoints
      val e = intercept[StreamingQueryException] {
        Streams.replay(spark, "poisoned", Poisoned.Feed, OutputMode.Update)(plan)
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => Option(c.getMessage).exists(_.contains(Poisoned.Message))),
        s"the feed's exception must reach the caller: $e")
      assert(spark.streams.active.isEmpty, "the failed query must be stopped")
      assert(spark.conf.get(partitionsKey) == "3")
      assert(spark.conf.getAll.get(providerKey) == prevProvider)
      assert(checkpoints == before, "the scratch checkpoint must be deleted")
    } finally spark.conf.set(partitionsKey, prevPartitions)
  }

  test("replay: a transformWithState feed failing on its second slice " +
    "surfaces, stops, restores the conf and deletes the checkpoint") {
    import spark.implicits._
    failingReplay(_.groupByKey(_ % 2)
      .transformWithState(new PoisonedSumProcessor, TimeMode.None(),
        OutputMode.Update())
      .toDF())
  }

  test("replay: a mapGroupsWithState feed failing on its second slice " +
    "surfaces, stops, restores the conf and deletes the checkpoint") {
    import spark.implicits._
    failingReplay(_.groupByKey(_ % 2)
      .mapGroupsWithState[Long, Long](GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Long], st: GroupState[Long]) =>
          val s = st.getOption.getOrElse(0L) + rows.map(Poisoned.check).sum
          st.update(s)
          s
      }
      .toDF())
  }
}
