package graft

import graft.sources.Sources
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** S8 executed (not just spec'd): the JDBC sink running against an
  * embedded Derby database — the in-JVM stand-in for the reference's
  * SQL-Server target (rating_data_to_longdb.txt:4–30). Derby ships
  * with Spark's jars, so this is a real DriverManager/JDBC round-trip
  * through Spark's JDBC source/sink, no extra dependency.
  */
class JdbcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // keep derby.log (and any on-disk db) out of the repo working dir
  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("graft_derby").toString)

  private def props() = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("writeJdbc round-trips the ratings schema through a real database") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_rt;create=true"
    val df = Seq((1, 100, 4.5), (2, 101, 3.0), (3, 102, 5.0))
      .toDF("userId", "songId", "rating")
    Sources.writeJdbc(df, url, "ratings", props())
    // append mode appends (the reference's INSERT loop semantics)
    Sources.writeJdbc(df.filter($"userId" === 1), url, "ratings", props())
    val back = spark.read.jdbc(url, "ratings", props())
    assert(back.columns.toSeq == Seq("userId", "songId", "rating"))
    val rows = back.as[(Int, Int, Double)].collect().sorted.toSeq
    assert(rows == Seq((1, 100, 4.5), (1, 100, 4.5), (2, 101, 3.0), (3, 102, 5.0)))
  }

  test("jdbcBatchSink lands each micro-batch as one batched write") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_stream;create=true"
    val in = MemoryStream[(Int, Int, Double)](spark)
    in.addData((7, 700, 1.0), (8, 800, 2.0))
    val q = in.toDF().toDF("userId", "songId", "rating").writeStream
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
      .foreachBatch(Streams.jdbcBatchSink(url, "stream_ratings", props()))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.jdbc(url, "stream_ratings", props())
      .as[(Int, Int, Double)].collect().sorted.toSeq
    assert(back == Seq((7, 700, 1.0), (8, 800, 2.0)))
  }
}
