package graft
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.Sort

object Bench {

  /** Drop a query's final presentation ORDER BY (the total global sort
    * every oracle-compared query carries so the driver's hash compare
    * sees deterministic row order). The sort is harness overhead, not
    * operator work — at scale nobody totally orders a 60 M-row result —
    * so the bench also reports each query with the top-level Sort
    * stripped.
    */
  private def stripTopSort(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case s: Sort if s.global => GraftBridge.ofRows(df.sparkSession, s.child)
      case _ => df
    }

  private def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val ok = try {
      // noop write forces full evaluation of every column and sort — a
      // bare count() would let Catalyst prune the projections (JSON
      // decode, regex, HOFs) that ARE the workload in many queries.
      df.write.format("noop").mode("overwrite").save(); true
    } catch { case _: Throwable => false }
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** Like [[timeNoop]] but split at the DataFrame's construction:
    * (setup seconds, query seconds). For the dsv2/streaming contract
    * queries, CONSTRUCTION is where the scratch-table DDL, writes,
    * and procedures run (write-dominated, I/O-noisy on a shared box)
    * while the noop pass is the read-back — reporting them separately
    * lets round-over-round adjudication see which half moved instead
    * of needing a same-box A/B per outlier. (-1, -1) marks failure.
    */
  private def timeSplit(mk: => DataFrame): (Double, Double) = {
    val t0 = System.nanoTime()
    try {
      val df = mk
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    } catch { case _: Throwable => (-1.0, -1.0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Session.warmUp(spark, sfDir)

    // dev knob: SPARK_GRAFT_QUERIES=a,b,c restricts the run for quick
    // single-query iteration; unset = the full driver surface
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val queries = (SparkEntry.queries -- SparkEntry.benchExcluded).toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // three INTERLEAVED rounds (q1..qN, q1..qN, q1..qN), min per query:
    // a transient stall (GC, page cache eviction, a noisy neighbor)
    // lands on different queries in different rounds instead of hitting
    // the same query's back-to-back runs, so one bad window can't
    // distort a query's reported time. Min-of-3 also sheds first-run
    // codegen/JIT, which amortizes away at real scale.
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val setups = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to 3; (name, fn) <- queries) {
      val (su, qu) = timeSplit(fn(spark, sfDir))
      val dt = if (su < 0) -1.0 else su + qu
      // untimed: drop any intra-query .cache() blocks so one query's
      // leftovers don't GC-pressure the next measurement
      spark.catalog.clearCache()
      times(name) = dt :: times.getOrElse(name, Nil)
      setups(name) = su :: setups.getOrElse(name, Nil)
    }
    // operator-only passes: same plans minus the final presentation
    // sort, showing what each operator costs without the oracle's
    // total-order overhead (dominant for wide row-level outputs).
    // Min-of-3 interleaved like the timed pass — a single-measurement
    // pass let one shared-box contention window inflate a contiguous
    // alphabetical run of queries (phantom per-query spikes).
    val noSortTimes = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to 3; (name, fn) <- queries) {
      val dt = timeNoop(stripTopSort(fn(spark, sfDir)))
      spark.catalog.clearCache()
      noSortTimes(name) = dt :: noSortTimes.getOrElse(name, Nil)
    }
    val noSort = noSortTimes.map { case (name, ts) =>
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap

    val best = times.toSeq.sortBy(_._1).map { case (name, ts) =>
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    def r3(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    def jmap(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    // -1 marks a failed query. The totals leave it out, so a failure
    // shrinks them; `n_failed` and `failed` (the queries with a -1 in
    // either pass) sit before the totals in both records to say so.
    val total = best.collect { case (_, v) if v >= 0 => v }.sum
    val totalNoSort = noSort.values.filter(_ >= 0).sum
    val failed = best.collect { case (n, v) if v < 0 || noSort(n) < 0 => n }
    val failures = s""""n_failed":${failed.size},"failed":""" +
      failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness that records this run keeps only the LAST ~2000
    // chars of output, so layout is deliberate: inside the (long)
    // metric line both per-query maps are ordered by time ASCENDING —
    // when the capture truncates the line's head, the surviving end
    // holds the SLOWEST (informative) queries — and the totals fields
    // sit at the very end of the line. Values are ms-rounded: at 23
    // chars/entry the capture retains the ~80 slowest entries instead
    // of an arbitrary alphabetical half.
    val qs = jmap(best.sortBy(_._2))
    val ns = jmap(noSort.toSeq.sortBy(_._2))
    println(s"""{"metric":"total","unit":"sec","queries_nosort":$ns,"queries":$qs,$failures,"nosort_value":${r3(totalNoSort)},"value":${r3(total)},"n_queries":${best.size},"sf":"$sfDir"}""")
    // setup/query split (min-of-3 setup seconds) for queries whose
    // construction does real work — the write-dominated dsv2/
    // streaming contract queries. Only entries with >= 0.1 s of setup
    // are recorded; query time = total - setup.
    val setupBest = setups.toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val s = if (ss.exists(_ < 0)) -1.0 else ss.min
      if (s >= 0.1) Some(name -> s) else None
    }
    // The COMPLETE per-query record also goes to a file in the repo
    // (committed at round end), so every query's time is recoverable
    // even when the stdout capture truncates the line above.
    val fullRecord =
      s"""{"metric":"total","unit":"sec",$failures,"value":${r3(total)},"nosort_value":${r3(totalNoSort)},"n_queries":${best.size},"sf":"$sfDir","queries":${jmap(best)},"queries_nosort":${jmap(noSort.toSeq.sortBy(_._1))},"queries_setup":${jmap(setupBest)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (fullRecord + "\n").getBytes("UTF-8"))
      println("BENCH_FULL_RECORD=BENCH_LOCAL.json")
      // ALSO a per-round copy of a full-surface run, under a name no
      // record has yet (N = 1 + the highest N of any BENCH_r*.json or
      // BENCH_LOCAL_r*.json), so round-over-round per-query diffs never
      // depend on a truncated stdout capture and a later run never
      // replaces a kept record. A SPARK_GRAFT_QUERIES subset is
      // not a round record.
      if (only.isEmpty) {
        val roundRe = "BENCH_(?:LOCAL_)?r(\\d+)\\.json".r
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        val round = try {
          ls.iterator().asScala.flatMap { p =>
            p.getFileName.toString match {
              case roundRe(n) => Some(n.toInt)
              case _ => None
            }
          }.maxOption.getOrElse(0) + 1
        } finally ls.close()
        val perRound = f"BENCH_LOCAL_r$round%02d.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(perRound),
          (fullRecord + "\n").getBytes("UTF-8"))
        println(s"BENCH_FULL_RECORD_ROUND=$perRound")
      }
    } catch { case _: Throwable => () } // bench must not fail on an RO cwd
    // Short, final, machine-greppable headline lines — small enough
    // that no tail-capture ever loses them (NOT a second "metric" JSON
    // record, which a parser aggregating metric lines would
    // double-count).
    println(f"BENCH_QUERIES_COUNT=${best.size}%d")
    println(f"BENCH_TOTAL_SECONDS=$total%.3f")
    println(f"BENCH_TOTAL_NOSORT_SECONDS=$totalNoSort%.3f")
    println(f"""{"bench_total_seconds":$total%.3f,"bench_total_nosort_seconds":$totalNoSort%.3f,"n_queries":${best.size}%d,"sf":"$sfDir%s"}""")
    spark.stop()
  }
}
