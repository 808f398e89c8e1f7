package graft

import graft.Fx.{FxMaterialize, materializeAll}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The contract of [[Fx.materializeAll]]: results in argument order,
  * the first failure rethrown with no sibling job left running, and
  * the caller's job group on every job the call starts.
  */
class MaterializeAllSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def within(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime + seconds * 1000000000L
    while (!cond && System.nanoTime < deadline) Thread.sleep(50)
    cond
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).toSeq.sorted

  test("results come back in argument order and equal sequential " +
      "materializations") {
    val builds: Seq[() => DataFrame] = Seq(
      () => spark.range(0, 1000).selectExpr("id", "id % 7 AS m"),
      () => spark.range(0, 50).selectExpr("id * 3 AS x"),
      () => Tables.orders(spark, sf)
        .selectExpr("o_orderkey % 13 AS k").groupBy("k").count())
    val want = builds.map(_().materialized)
    val got = materializeAll(builds: _*)
    assert(got.map(_.schema) == want.map(_.schema))
    assert(got.map(rows) == want.map(rows))
  }

  test("the first failure is rethrown as itself and cancels the " +
      "sibling builds' jobs") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("build failed on purpose")
    // a one-task job that only a cancel ends early
    val slow: () => DataFrame = () => spark.range(0, 1, 1, 1).map { x =>
      val ctx = TaskContext.get
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!ctx.isInterrupted && System.nanoTime < deadline) Thread.sleep(50)
      x.longValue
    }.toDF()
    val failing: () => DataFrame = () => {
      within(10)(sc.statusTracker.getActiveJobIds.nonEmpty)
      throw boom
    }
    val t0 = System.nanoTime
    val e = intercept[IllegalStateException](materializeAll(slow, failing))
    val seconds = (System.nanoTime - t0) / 1e9
    assert(e eq boom)
    assert(seconds < 15, s"the failure surfaced after $seconds s")
    assert(within(10)(sc.statusTracker.getActiveJobIds.isEmpty),
      s"jobs still active: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
  }

  test("every job the call starts carries the caller's job group") {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(job.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("materialize_all_spec", "job group carry-over")
    try {
      materializeAll(() => spark.range(0, 100).toDF(),
        () => spark.range(0, 10).selectExpr("id * 2 AS y"))
      assert(within(10)(groups.size >= 2), s"jobs seen: ${groups.size}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.asScala.toSet == Set("materialize_all_spec"))
  }
}
