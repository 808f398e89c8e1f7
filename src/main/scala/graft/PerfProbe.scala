package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1: measure first).
  * Not part of the driver contract — a dev tool that answers, for one
  * or more declared queries, WHERE the wall-clock goes:
  *
  *   - construct: building the DataFrame (for dsv2/streaming contract
  *     queries this runs scratch DDL/writes — the "setup" half);
  *   - plan: analysis + optimization + physical planning + codegen
  *     prep (driver-side, single-threaded — invisible in stage
  *     metrics but fully charged to the bench);
  *   - exec: the noop-sink run, with a per-stage breakdown (duration,
  *     task count, shuffle bytes) from a StageCompleted listener.
  *
  * Usage: runMain graft.PerfProbe [explain] q1 q2 ...
  * With `explain` as the first arg, also writes
  * plans/r15/<q>_<tag>.txt (tag from SPARK_GRAFT_PLAN_TAG, default
  * "before").
  */
object PerfProbe {

  private final case class StageRow(id: Int, name: String, ms: Long,
      tasks: Int, shufRead: Long, shufWrite: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val doExplain = args.headOption.contains("explain")
    val names = (if (doExplain) args.drop(1) else args).toSeq
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = Session.local()
    Session.warmUp(spark, sfDir)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stages.add(StageRow(si.stageId, si.name, ms, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    })

    val all = SparkEntry.queries
    for (name <- names) all.get(name) match {
      case None => println(s"== $name: UNKNOWN QUERY")
      case Some(fn) =>
        // round 1 of 3 absorbs first-plan codegen; report each round
        for (round <- 1 to 3) {
          stages.clear()
          spark.sparkContext.setJobDescription(s"$name r$round")
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          val _ = df.queryExecution.executedPlan // force plan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          spark.catalog.clearCache()
          def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.3f"
          println(f"== $name r$round construct=${s(t0, t1)} plan=${s(t1, t2)} exec=${s(t2, t3)} total=${s(t0, t3)}")
          if (round == 3) {
            import scala.jdk.CollectionConverters._
            val rows = stages.asScala.toSeq.sortBy(-_.ms)
            val top = rows.take(14)
            println(f"   stages=${rows.size} totalStageMs=${rows.map(_.ms).sum}")
            top.foreach { r =>
              println(f"   stage ${r.id}%4d ${r.ms}%6dms tasks=${r.tasks}%3d " +
                f"sr=${r.shufRead / 1024}%7dK sw=${r.shufWrite / 1024}%7dK in=${r.input / 1024}%7dK ${r.name.take(60)}")
            }
          }
          if (doExplain && round == 1) {
            val out = java.nio.file.Paths.get(s"plans/r16/${name}_$tag.txt")
            java.nio.file.Files.createDirectories(out.getParent)
            java.nio.file.Files.write(out,
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
          }
        }
    }
    spark.stop()
  }
}
