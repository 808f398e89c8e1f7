package graft

import graft.operators.{Dedup, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udaf}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether these
  * operators survive a 100 TB scale-up — filters and projections
  * reaching the parquet scan, small sides broadcast, aggregates
  * partial+final, top-K as TakeOrderedAndProject, hot paths inside
  * WholeStageCodegen.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Plan string after execution, when AQE has finalized stages and
    * whole-stage codegen boundaries are visible.
    */
  private def executedPlanOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter+project pushes predicates and prunes columns at the scan") {
    val p = plan(Relational.filterProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      "quantity predicate must reach the parquet reader")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "untouched columns must not be read")
  }

  test("recommend pipeline broadcasts the small sides, no sort-merge join") {
    val p = plan(Relational.recommendTop25(spark, sf, minCnt = 5))
    assert(p.contains("BroadcastHashJoin"), "catalog join should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "nothing here is big enough to justify a sort-merge shuffle")
  }

  test("count+avg aggregation is partial+final (map-side combine)") {
    val p = executedPlanOf(Relational.aggCountAvg(spark, sf))
    assert(p.contains("partial_"),
      "aggregate must pre-reduce before the shuffle (vs the reference's groupByKey)")
    assert(p.contains("*("), "agg pipeline must be codegen'd (starred stages)")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topk25Parts(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy.limit must plan as per-partition top-K + merge")
  }

  test("feature hash reads only (doc_id, text) and aggregates " +
    "partial+final") {
    val p = executedPlanOf(graft.operators.TextOps.featureHash(spark, sf))
    assert(p.contains("ReadSchema") && !p.contains("n_chars"),
      "untouched document columns must not be read")
    assert(p.contains("partial_"),
      "bucket counts must pre-reduce before the shuffle")
  }

  test("runtime-filter join plans shuffle-hash (not broadcast: the " +
    "premise is a beyond-broadcast dim) with the bloom filter below " +
    "the exchange") {
    val p = plan(graft.operators.RuntimeFilter.runtimeFilterJoin(spark, sf))
    assert(p.contains("ShuffledHashJoin"),
      "exact join must honor the shuffle_hash hint")
    // the bloom probe is a Filter on the fact scan side, pre-exchange
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx >= 0 && p.contains("Filter"),
      "fact side must carry the probe filter")
  }

  test("anti-join plans as a real join, not a driver-side IN list") {
    val p = plan(Relational.antiJoinUnrated(spark, sf))
    assert(p.contains("LeftAnti"), "NOT-IN semantics must be a distributed anti-join")
  }

  test("per-group top-k plans a partial WindowGroupLimit before the shuffle") {
    val p = plan(Relational.topkPerGroup(spark, sf))
    // Spark >=3.5 rewrites rank-filter windows so each map task keeps
    // only its local top-k per group — the property that makes the
    // declarative form shuffle O(groups x k) per task, not all rows
    assert(p.contains("WindowGroupLimit"),
      "rank <= k filter must trigger the group-limit rewrite")
    assert(p.contains("Partial"),
      "the group limit must run map-side before the exchange")
  }

  test("float dot product stays inside whole-stage codegen") {
    val df = Dedup.embeddingNearDupOf(
      Tables.widened(spark, Tables.embeddings(spark, sf)))
    val p = executedPlanOf(df)
    assert(p.contains("FloatDotProduct") || p.toLowerCase.contains("float_dot"))
    assert(p.contains("*("), "dot-product pipeline must be codegen'd (starred stages)")
  }

  test("df cap applies as a broadcast anti-join (sh is not re-shuffled)") {
    val p = plan(Dedup.ngramJaccard(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the hot-shingle cap must broadcast the tiny hot set, not shuffle the index:\n")
  }

  test("banded near-dup joins on integer band keys, never cartesian") {
    val p = plan(Dedup.embeddingNearDupLshOf(
      Tables.widened(spark, Tables.embeddings(spark, sf))))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be a hash join on (band, key):\n" + p)
  }

  test("k-means/IVF assignment is a projection — only the final top-k windows") {
    val p = plan(graft.operators.Similarity.ivfKmeansTopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the probe list is tiny and must broadcast to the assigned scan")
    assert(!p.contains("CartesianProduct"),
      "no stage may fall back to a cartesian product:\n")
    // round-2 verdict: assignment must not be a row_number window over
    // the vecs×cents product. The only Window left is the final top-k
    // over probe-bounded rows (WindowGroupLimit nodes belong to it, so
    // count window SPECS, not the substring "Window").
    val windows = p.split("windowspecdefinition", -1).length - 1
    assert(windows == 1,
      s"expected exactly one (final top-k) window, got $windows:\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan(Dedup.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark side is tiny and must broadcast — the corpus scan is never shuffled for the join")
  }

  test("bucketed-by-key tables join with zero exchanges") {
    import graft.sources.Bucketing
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val r = Relational.ratings(spark, sf)
      Bucketing.writeBucketed(r, "ratings_b", 4, Seq("song_id"))
      Bucketing.writeBucketed(
        r.groupBy("song_id").count(), "counts_b", 4, Seq("song_id"))
      val joined = Bucketing.readBucketed(spark, "ratings_b")
        .join(Bucketing.readBucketed(spark, "counts_b"), "song_id")
      val p = executedPlanOf(joined)
      assert(!p.contains("Exchange"),
        "same-bucketing join must not shuffle either side:\n" + p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ratings_b")
      spark.sql("DROP TABLE IF EXISTS counts_b")
    }
  }

  test("salted join equals plain join and spreads hot keys over salts") {
    import graft.operators.Skew
    import spark.implicits._
    // one pathologically hot key (0) + a tail
    val big = (1 to 2000).map(i => (if (i % 10 != 0) 0 else i % 50, s"p$i"))
      .toDF("k", "payload")
    val small = (0 until 50).map(i => (i, s"dim$i")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8, Seq("payload"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
    // the salt actually spreads key 0 across multiple sub-keys
    val spread = big.filter($"k" === 0)
      .select(Skew.salt(8, $"payload")).distinct().count()
    assert(spread > 1)
  }

  test("partitioned layout prunes directories via PartitionFilters") {
    import graft.sources.Sources
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Sources.writePartitioned(
      Tables.events(spark, sf).withColumn("etype", col("event_type")),
      dir, Seq("etype"))
    val scan = spark.read.parquet(dir).filter(col("etype") === "click")
    val p = plan(scan)
    assert(p.contains("PartitionFilters: [isnotnull(etype"),
      "partition-key filter must prune at plan time:\n" + p)
    assert(scan.count() > 0)
  }

  test("tfidf broadcasts the vocabulary-sized df side") {
    val p = plan(graft.operators.TextOps.tfidfTopTerms(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the df table is vocab-sized and must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("token packing windows are per-bucket, never one global task") {
    val p = plan(graft.operators.TextOps.tokenPack(spark, sf))
    assert("windowspecdefinition\\(bucket".r.findFirstIn(p).isDefined,
      s"the running-sum window must partition by bucket:\n$p")
    assert(!"windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined &&
      !"windowspecdefinition\\(, ".r.findFirstIn(p).isDefined,
      s"no unpartitioned (single-task) window allowed:\n$p")
  }

  test("round-4 ops prune untouched columns at the scan") {
    // tokenPack now eager-checkpoints its narrow (doc_id, n_tokens,
    // bucket) base, so the parquet scan happens inside the checkpoint
    // job and the visible plan reads the checkpointed RDD. The pruning
    // contract survives as: nothing wide (text) and nothing unrelated
    // (n_chars, lang) flows through the packing plan itself.
    val p1 = plan(graft.operators.TextOps.tokenPack(spark, sf))
    assert(!p1.contains("text#") && !p1.contains("n_chars") &&
      !p1.contains("lang"), s"tokenPack must carry only doc_id+n_tokens+bucket:\n$p1")
    val p2 = plan(graft.operators.Similarity.labelCentroids(spark, sf))
    assert(!p2.contains("vec_id"),
      s"labelCentroids must read only label+embedding:\n$p2")
    val p3 = plan(graft.operators.Temporal.asofAttributionQuery(spark, sf))
    assert(!p3.contains("props"),
      s"as-of attribution must not read the events props column:\n$p3")
  }

  test("extensions expose nfc_normalize to SQL, same expression") {
    graft.plans.GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT nfc_normalize('cafe\\u0301') AS s").collect().head.getString(0)
    assert(got == "caf\u00e9" && got.length == 4)
  }

  test("extensions expose float_dot/double_dot to SQL, same expression") {
    graft.plans.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      """SELECT double_dot(array(1.5d, 2.0d), array(3.0d, -0.5d)) AS d,
        |  float_dot(CAST(array(1.5, 2.0) AS ARRAY<FLOAT>),
        |            CAST(array(3.0, -0.5) AS ARRAY<FLOAT>)) AS f""".stripMargin)
      .head()
    assert(viaSql.getDouble(0) == 1.5 * 3.0 + 2.0 * -0.5)
    assert(viaSql.getDouble(1) == 1.5 * 3.0 + 2.0 * -0.5)
    // the production wiring path accepts the injector without error
    new graft.plans.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("round-6 ops keep their scale shapes: bm25 top-k, funnel single shuffle, profile single scan") {
    // bm25: corpus never shuffles — the only exchanges feed the 1-row
    // stats broadcast and the TakeOrderedAndProject
    val bm25 = graft.operators.Retrieval.bm25TopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(bm25.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!bm25.contains("SortMergeJoin") && !bm25.contains("CartesianProduct"))
    // funnel: ONE exchange (the per-user groupBy); the walk is a
    // projection over the collected list
    val funnel = Relational.funnelSteps(spark, sf)
      .queryExecution.executedPlan.toString
    assert(funnel.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"funnel must shuffle once (plus oracle-order sort at most):\n$funnel")
    // dup spans: pair work joins on the 8-byte gram hash, never cartesian
    val spans = graft.operators.Dedup.dupSpanCoverage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!spans.contains("CartesianProduct") &&
      !spans.contains("BroadcastNestedLoopJoin"))
  }

  test("round-7 operators keep their scale shapes: broadcasts, no cartesians") {
    // entity match: the canonical dimension broadcasts, candidates are
    // an equi join on the block key — never a nested-loop compare
    val em = plan(graft.operators.EntityResolution.entityMatch(spark, sf))
    assert(em.contains("BroadcastHashJoin"))
    assert(!em.contains("CartesianProduct") &&
      !em.contains("BroadcastNestedLoopJoin"), s"ER must stay blocked:\n$em")
    // triangle counting: oriented wedge-close is hash equi joins only
    val tc = plan(graft.operators.Graph.triangleCounts(spark, sf))
    assert(!tc.contains("CartesianProduct") &&
      !tc.contains("BroadcastNestedLoopJoin"))
    // moving window: exactly one exchange moves the events (user_id),
    // plus the final presentation sort's range exchange
    val mw = plan(Relational.movingWindowFeatures(spark, sf))
    assert(mw.contains("hashpartitioning(user_id"),
      "both window passes share the one user_id exchange")
    assert(!mw.contains("CartesianProduct"))
    // stratified sample: the rate table broadcasts; the corpus is a
    // filtered projection (no hash shuffle of the docs before the sort)
    val ss = plan(graft.operators.TextOps.stratifiedSample(spark, sf))
    assert(ss.contains("BroadcastHashJoin") && !ss.contains("SortMergeJoin"))
  }

  test("Q5 star join: dims broadcast, date filter reaches the orders " +
    "scan, no cartesian anywhere") {
    val p = plan(Relational.localSupplierVolume(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "region/nation pruning must ride broadcast joins")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the same-nation predicate must stay inside a hash join:\n" + p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      "the order-date range must reach the parquet reader")
  }

  test("quantile normalize joins the histogram back as a broadcast, " +
    "and the only window runs over distinct values") {
    val p = plan(Relational.quantileNormalize(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the value histogram is domain-bounded and must broadcast")
    // the rank window must sit above the per-(type,value) aggregate,
    // never above the raw event scan — partial_count proves the
    // histogram collapsed rows before any window saw them
    assert(p.contains("partial_count"),
      "histogram counts must pre-reduce map-side:\n" + p)
  }

  test("incremental agg merge: both the base build and the merge are " +
    "partial+final aggregates") {
    val p = executedPlanOf(
      graft.sources.Maintenance.incrementalAggMerge(spark, sf))
    assert(p.contains("partial_"),
      "the merge re-aggregate must pre-reduce before its shuffle")
  }

  test("k-per-group sample plans a partial WindowGroupLimit, and each " +
    "group yields exactly min(k, group size) rows") {
    val df = graft.operators.TextOps.sampleKPerGroup(spark, sf, k = 5)
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"),
      "rank filter must trigger the group-limit rewrite")
    import spark.implicits._
    val sizes = Tables.documents(spark, sf)
      .groupBy($"lang", $"source")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val picked = df.collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.length.toLong).toMap
    assert(picked.keySet == sizes.keySet)
    picked.foreach { case (g, n) => assert(n == math.min(5L, sizes(g))) }
  }

  test("Q6 scan pushes all three predicates and aggregates partial+final") {
    val df = Relational.forecastRevenueChange(spark, sf)
    val p = executedPlanOf(df)
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.contains(s"IsNotNull($c)") || p.contains(c),
        s"$c predicate must reach the reader")
    assert(p.contains("PushedFilters") && !p.contains("PushedFilters: []"),
      "filters must reach the parquet reader:\n" + p)
    assert(p.contains("partial_"), "single-scan agg must pre-reduce map-side")
    import spark.implicits._
    // exactly one row, non-null at this SF
    val r = df.collect()
    assert(r.length == 1 && !r(0).isNullAt(0) && r(0).getDouble(0) > 0)
  }

  test("typed CountAvg aggregator matches built-in count/avg") {
    import spark.implicits._
    val r = Relational.ratings(spark, sf)
    val typed = r.select($"song_id", $"rating").as[(Int, Double)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.CountAvg.toColumn)
      .map { case (k, (c, a)) => (k, c, a) }
      .toDF("song_id", "cnt", "avg_rating")
    val builtin = r.groupBy($"song_id").agg(
      org.apache.spark.sql.functions.count("rating").as("cnt"),
      org.apache.spark.sql.functions.avg("rating").as("avg_rating"))
    assert(typed.exceptAll(builtin).count() == 0 &&
      builtin.exceptAll(typed).count() == 0)
  }

  test("TPC-H tail shapes: Q15 broadcasts the 1-row max, Q21 semi/anti " +
    "are hash joins, Q22 pushes the lapse date, item-sim windows " +
    "partially") {
    // Q15: the max-revenue frame joins back as a broadcast, and the
    // winner filter never triggers a nested-loop compare
    val q15 = plan(Relational.topSupplierRevenue(spark, sf))
    assert(q15.contains("BroadcastHashJoin") &&
      !q15.contains("CartesianProduct"), s"Q15 max join must broadcast:\n$q15")
    // Q21: EXISTS/NOT EXISTS plan as real semi/anti hash joins with the
    // suppkey inequality as a residual condition, never nested loops
    val q21 = plan(Relational.waitingSupplierRanking(spark, sf))
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"Q21 must keep semi+anti joins:\n$q21")
    assert(!q21.contains("CartesianProduct") &&
      !q21.contains("BroadcastNestedLoopJoin"))
    // Q22: the lapse cutoff reaches the orders parquet scan, so dead
    // date ranges are skipped at the reader
    val q22 = plan(Relational.idleCustomerBalance(spark, sf))
    assert(q22.contains("PushedFilters") && q22.contains("o_orderdate"),
      s"Q22 lapse date must push down:\n$q22")
    assert(q22.contains("LeftAnti"))
    // item similarity: per-item top-k is a partial WindowGroupLimit
    // (never a global pair sort) and the count side broadcasts
    val sim = plan(graft.operators.Graph.itemSimilarityTopK(spark, sf))
    assert(sim.contains("WindowGroupLimit"),
      s"per-item top-k must rank-filter partially:\n$sim")
    assert(sim.contains("BroadcastHashJoin") &&
      !sim.contains("CartesianProduct"))
  }

  test("session-8 additions: no cartesian products anywhere; the " +
    "broadcast sides broadcast") {
    import graft.operators._
    val sf = TestSpark.sf
    val plans = Seq(
      "ranking_metrics" -> RankingEval.rankingMetrics(spark, sf),
      "hll_daily_merge" -> Sketches.hllDailyMerge(spark, sf),
      "ks_drift" -> Audit.ksDrift(spark, sf),
      "score_lift_table" -> Audit.scoreLiftTable(spark, sf),
      "rrf_fusion" -> Retrieval.rrfFusion(spark, sf),
      "link_prediction" -> Graph.linkPrediction(spark, sf),
      "crossval_folds" -> Audit.crossvalFolds(spark, sf),
      "unpivot_metrics" -> Relational.unpivotMetrics(spark, sf),
      "bpe_merges" -> TextOps.bpeMerges(spark, sf),
      "rec_coverage" -> Graph.recCoverage(spark, sf),
      "gate_agreement" -> TextOps.gateAgreement(spark, sf),
      "neyman_allocation" -> Audit.neymanAllocation(spark, sf),
      "ann_recall_report" -> Similarity.annRecallReport(spark, sf))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
    // the ranked-list join must broadcast the k-row list, and the KS
    // bucket offsets must broadcast (the two-level prefix contract)
    val rm = RankingEval.rankingMetrics(spark, sf)
      .queryExecution.executedPlan.toString
    assert(rm.contains("BroadcastHashJoin"))
    val ks = Audit.ksDrift(spark, sf).queryExecution.executedPlan.toString
    assert(ks.contains("BroadcastHashJoin"))
    // unpivot compiles to Expand (one pass), not a self-union of scans
    val up = Relational.unpivotMetrics(spark, sf)
      .queryExecution.executedPlan.toString
    assert(up.contains("Expand") && !up.contains("Union"))
  }

  test("dpp join: the fact scan carries a runtime dynamicpruning " +
    "subquery on the partition column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.sources.DataSkipping.dppJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruning partition filter on the fact scan")
    // pruning must be lossless: equals the direct-filter computation
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = Tables.orders(spark, sf)
      .filter(month($"o_orderdate")
        .isin(graft.sources.DataSkipping.PromoMonths.map(Int.box): _*))
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("int").as("month"))
      .agg(count(lit(1)).as("n"), graft.Fx.dsum($"o_totalprice").as("rev"))
      .orderBy($"month")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("Q19 decomposition: coarse envelopes reach both parquet scans," +
    "join stays equi, Q13 join is LEFT outer") {
    // the quantity envelope must reach the lineitem reader and the
    // brand IN-list the part reader — that's the whole point of
    // decomposing the disjunction; the join must stay a hash equi-join
    val q19 = plan(Relational.disjunctiveDiscountRevenue(spark, sf))
    assert(q19.contains("PushedFilters") && q19.contains("l_quantity"),
      s"Q19 quantity envelope must push to the lineitem scan:\n$q19")
    assert(q19.contains("p_brand"),
      s"Q19 brand IN-list must push to the part scan:\n$q19")
    assert(!q19.contains("CartesianProduct") &&
      !q19.contains("BroadcastNestedLoopJoin"),
      s"Q19 join must stay equi:\n$q19")
    // Q13's zero bucket depends on the outer join surviving optimization
    val q13 = plan(Relational.customerOrderDistribution(spark, sf))
    assert(q13.contains("LeftOuter"), s"Q13 must keep the LEFT join:\n$q13")
  }

  test("late-batch shapes: boilerplate anti-join hashes, bigram vocab " +
    "broadcasts, PQ LUT joins broadcast, phash dedup is one hash agg") {
    // boilerplate removal: the high-df line set joins back as a hash
    // anti-join on the line text — a nested-loop here would be
    // corpus × boilerplate
    val bp = plan(graft.operators.TextOps.boilerplateRemove(spark, sf))
    assert(bp.contains("LeftAnti"), s"boilerplate must anti-join:\n$bp")
    assert(!bp.contains("BroadcastNestedLoopJoin") &&
      !bp.contains("CartesianProduct"))
    // bigram coverage: the top-v vocabulary is a broadcast membership
    // join — the corpus side never shuffles for the score
    val bg = plan(graft.operators.TextOps.bigramCoverage(spark, sf))
    assert(bg.contains("BroadcastHashJoin"),
      s"bigram vocab must broadcast:\n$bg")
    assert(!bg.contains("CartesianProduct"))
    // PQ: every ADC lookup table attaches by broadcast hash join on
    // (query_id, code); the only nested-loop is the intended 8-row
    // query-id fan-out, and nothing is a cartesian product
    val pq = plan(graft.operators.Similarity.pqTopK(spark, sf))
    assert(pq.contains("BroadcastHashJoin"),
      s"PQ LUTs must broadcast-hash-join:\n$pq")
    assert(!pq.contains("CartesianProduct"))
    // phash dedup: executor-side hashing feeds ONE partial+final hash
    // aggregate; the group stats attach by a hash join, never a sort
    // of the full image set beyond the presentation order
    val ph = plan(graft.multimodal.Multimodal.mediaPhashDedup(spark, sf))
    assert(ph.contains("HashAggregate"), s"phash dedup must hash-agg:\n$ph")
    assert(!ph.contains("BroadcastNestedLoopJoin") &&
      !ph.contains("CartesianProduct"))
  }

  test("observe() rides the existing scan: dq metrics with zero extra passes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the production pattern for pipeline health counters: attach
    // accumulator-backed metrics to the SAME pass that does the work,
    // instead of a second count()/agg() scan of the input
    val df = Tables.lineitem(spark, sf)
      .observe("dq", count(lit(1)).as("rows_seen"),
        sum(($"l_quantity" <= 0).cast("long")).as("bad_qty"),
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .as("cents_seen"))
      .filter($"l_quantity" >= 30)
    // execute THIS dataframe's own queryExecution: metrics attach to
    // the executed plan (a .count() action plans a separate query and
    // would leave these observed metrics unpopulated)
    val kept = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics("dq")
    assert(m.getAs[Long]("rows_seen") > kept,
      "metrics must see PRE-filter rows — they ride the scan, not the result")
    assert(m.getAs[Long]("bad_qty") == 0L)
    // exact agreement with an independent aggregate over the table
    val want = Tables.lineitem(spark, sf).agg(count(lit(1)),
      sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")))
      .head()
    assert(m.getAs[Long]("rows_seen") == want.getLong(0))
    assert(m.getAs[Long]("cents_seen") == want.getLong(1))
    // and only ONE scan of lineitem in the executed plan
    val scans = plan(df).split('\n').count(_.contains("lineitem.parquet"))
    assert(scans == 1, s"observe must not add a scan ($scans seen)")
  }

  test("round-7 batch additions: no cartesian products, small sides broadcast") {
    val qs: Seq[(String, DataFrame)] = Seq(
      "min_cost_supplier" -> Relational.minCostSupplier(spark, sf),
      "product_profit" -> Relational.productProfit(spark, sf),
      "important_parts" -> Relational.importantParts(spark, sf),
      "hierarchy_rollup" -> graft.operators.Graph.hierarchyRollup(spark, sf),
      "ab_test_report" -> graft.operators.Audit.abTestReport(spark, sf),
      "video_scene_cuts" ->
        graft.multimodal.Multimodal.videoSceneCuts(spark, sf),
      "hilbert_key" -> graft.sources.Hilbert.hilbertKey(spark, sf),
      "curve_clustering" -> graft.sources.Hilbert.curveClustering(spark, sf),
      "bigram_surprisal" -> graft.operators.TextOps.bigramSurprisal(spark, sf),
      "interval_overlap_join" ->
        graft.operators.Temporal.intervalOverlapJoin(spark, sf),
      "funnel_windowed" -> Relational.funnelWindowed(spark, sf),
      "twap_value" -> Relational.twapValue(spark, sf),
      "posting_list_stats" ->
        graft.operators.Retrieval.postingListStats(spark, sf),
      "rfm_segments" -> Relational.rfmSegments(spark, sf),
      "excess_share_suppliers" -> Relational.excessShareSuppliers(spark, sf),
      "range_frame_revenue" -> Relational.rangeFrameRevenue(spark, sf),
      "l_diversity_audit" -> graft.operators.Audit.lDiversityAudit(spark, sf),
      "hll_sliding_window" ->
        graft.operators.Sketches.hllSlidingWindow(spark, sf))
    qs.foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      // single-row global scalars are the only sanctioned BNLJ shape
      // (important_parts total, rfm corpus-max) — anything else is a
      // join-condition bug
      val bnlj = p.split('\n').count(_.contains("BroadcastNestedLoopJoin"))
      val sanctioned = Set("important_parts", "rfm_segments")
      assert(bnlj == 0 || sanctioned(name),
        s"$name: unsanctioned BroadcastNestedLoopJoin\n$p")
    }
    // the dimension chains genuinely broadcast where claimed
    assert(plan(Relational.minCostSupplier(spark, sf))
      .contains("BroadcastHashJoin"))
    assert(plan(Relational.productProfit(spark, sf))
      .contains("BroadcastHashJoin"))
    // interval overlap join: candidates come from an equi-join on the
    // bucket id, not a nested-loop theta join
    val io = plan(graft.operators.Temporal.intervalOverlapJoin(spark, sf))
    assert(io.contains("bucket"), "bucket key missing from the plan")
  }

  test("multi-distinct report compiles to ONE Expand pass over one scan") {
    val p = plan(Relational.multiDistinctReport(spark, sf))
    assert(p.contains("Expand"),
      s"two COUNT(DISTINCT x≠y) must plan an Expand, not rescans:\n$p")
    assert(p.split('\n').count(_.contains("events.parquet")) == 1,
      "one scan of the fact table")
  }

  test("AQE re-plans a sort-merge join to broadcast from RUNTIME sizes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the small side is an aggregate (per-supplier totals): its STATIC
    // estimate is the child's full size, so the static planner picks
    // sort-merge; at runtime the shuffle materializes ~10 rows and AQE
    // swaps in a broadcast join mid-query — the mechanism that saves
    // every mis-estimated join at 100 TB without a manual hint
    val li = Tables.lineitem(spark, sf)
    val perSupp = li.groupBy($"l_suppkey")
      .agg(sum(graft.Fx.dec2($"l_extendedprice")).as("supp_total"))
    val joined = li.select($"l_suppkey", $"l_quantity")
      .join(perSupp, Seq("l_suppkey"))
    val statik = joined.queryExecution.executedPlan.toString
    assert(statik.contains("SortMergeJoin") || statik.contains("AdaptiveSparkPlan"),
      s"pre-execution plan should not already be broadcast:\n$statik")
    val after = executedPlanOf(joined)
    assert(after.contains("isFinalPlan=true"))
    assert(after.contains("BroadcastHashJoin"),
      s"AQE must flip to broadcast once runtime sizes are known:\n$after")
    assert(!after.contains("SortMergeJoin"))
  }

  test("CBO column stats flip a filtered-dim join to broadcast") {
    import org.apache.spark.sql.functions._
    val loc = java.nio.file.Files.createTempDirectory("cbo_part").toString
    Tables.part(spark, sf).write.mode("overwrite").parquet(loc)
    spark.sql("DROP TABLE IF EXISTS cbo_part")
    spark.sql(s"CREATE TABLE cbo_part USING parquet LOCATION '$loc'")
    val li = Tables.lineitem(spark, sf).select(col("l_partkey"), col("l_quantity"))
    // the dim keeps ALL columns through the join: the size-only
    // estimator scales sizeInBytes by projected column widths, so a
    // pre-projected dim would look broadcastable without any stats
    def joined = li.join(spark.table("cbo_part")
        .filter(col("p_type") === "ECONOMY"),
      col("l_partkey") === col("p_partkey"))
    val fileBytes = new java.io.File(loc).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    try {
      // threshold at 60% of the actual file size: the size-only
      // estimator (filter selectivity 1.0) sees the full file and
      // refuses to broadcast; the CBO estimate after ANALYZE is
      // ECONOMY's ~17% share and fits
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        math.max(2048L, fileBytes * 6 / 10).toString)
      val before = plan(joined)
      assert(before.contains("SortMergeJoin"),
        s"without column stats the filtered dim must look too big:\n$before")
      // ANALYZE: row count + p_type histogram → the equality filter's
      // selectivity is now known, the estimate drops under the
      // threshold, and the SAME query plans a broadcast with NO hint
      spark.sql("ANALYZE TABLE cbo_part COMPUTE STATISTICS FOR COLUMNS p_type, p_partkey")
      val after = plan(joined)
      assert(after.contains("BroadcastHashJoin"),
        s"column stats must flip the join to broadcast:\n$after")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS cbo_part")
    }
  }
}
