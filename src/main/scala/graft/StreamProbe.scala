package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Optimization-round measurement harness for the STREAMING contract
  * queries (guide §1: measure first; companion to [[PerfProbe]]). The
  * bench shows their cost is ~all construction (the stream runs during
  * DataFrame construction); this probe attaches a
  * StreamingQueryListener and prints, per micro-batch, the engine's
  * own durationMs split (triggerExecution / queryPlanning / getBatch /
  * walCommit / commitOffsets / addBatch / stateCommit), so the
  * per-trigger overhead is attributable instead of guessed.
  *
  * Usage: runMain graft.StreamProbe q1 q2 ...
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Session.warmUp(spark, sfDir)

    @volatile var batches =
      List.empty[(String, Long, Map[String, Long], Long)]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        batches synchronized {
          batches = (p.name, p.batchId,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows) :: batches
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val all = SparkEntry.queries
    for (name <- args.toSeq) all.get(name) match {
      case None => println(s"== $name: UNKNOWN QUERY")
      case Some(fn) =>
        for (round <- 1 to 2) {
          batches synchronized { batches = Nil }
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          spark.catalog.clearCache()
          println(f"== $name r$round construct=${(t1 - t0) / 1e9}%.3f " +
            f"noop=${(t2 - t1) / 1e9}%.3f")
          if (round == 2) {
            val bs = batches.synchronized(batches.reverse)
            println(s"   triggers=${bs.size} " +
              f"sumTrigger=${bs.map(_._3.getOrElse("triggerExecution", 0L)).sum}%dms")
            bs.foreach { case (_, id, d, rows) =>
              val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
                "latestOffset", "walCommit", "commitOffsets", "addBatch")
              val s = keys.flatMap(k => d.get(k).map(v => s"$k=$v")).mkString(" ")
              println(f"   batch $id%3d rows=$rows%6d $s")
            }
          }
        }
    }
    spark.stop()
  }
}
