package graft.operators

import graft.Fx.FxMaterialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components
  * ([[Dedup.clustersOf]]): PageRank over the song co-rating graph
  * — the "related items" centrality a recommender sidecar computes.
  *
  * Determinism: ranks are SCALED INTEGERS (units of 1e-12) and every
  * step is integer floor arithmetic — contributions `r div out_deg`,
  * damping `(85 · Σ) div 100` — so partial aggregation order cannot
  * move a bit and the DuckDB oracle (the same five rounds unrolled)
  * matches exactly. 85·Σ ≤ 85·10^12·N stays far below 2^63 for any
  * realistic catalog.
  *
  * Scale shape: each round is ONE partial-aggregatable (dst,
  * Σ contrib) shuffle over the edge list — the same bound as label
  * propagation; the edge list and degree table are computed once and
  * cached. The co-rating edge build caps each user's contribution at
  * [[MaxItemsPerUser]] items BEFORE the per-user self-join (the same
  * hot-key bound as `Dedup.DefaultMaxDf` posting-list capping): a
  * power user with 10⁵ rated items contributes O(cap²) pairs, not
  * 10¹⁰. The kept items are each user's most-popular songs
  * (deterministic: popularity desc, song_id asc), so the capped graph
  * keeps the edges that carry rank mass.
  */
object Graph {

  /** Rank scale (1e12) and damping as exact integer percents. */
  val RankScale = 1000000000000L
  val DampingPct = 85L
  val Rounds = 5

  /** Per-user item cap for the co-rating edge build. 50 bites at the
    * test SFs (max 67 distinct songs/user) so the capped path is
    * oracle-exercised, and bounds any power user to ≤50·49 directed
    * pairs at production scale.
    */
  val MaxItemsPerUser = 50

  /** Distinct directed co-rating edges (a→b and b→a both present),
    * with each user's item set capped at `maxItemsPerUser` first.
    */
  def coRatingEdges(spark: SparkSession, dir: String,
      maxItemsPerUser: Int = MaxItemsPerUser): DataFrame = {
    import spark.implicits._
    val pos = Relational.ratings(spark, dir)
      .select($"user_id", $"song_id").distinct()
    coRatingEdgesOf(pos, maxItemsPerUser)
  }

  /** [[coRatingEdges]] over any (user_id, song_id) relation. The cap
    * runs before the self-join: per-user candidates are O(cap²)
    * regardless of how many items one user rated. Kept items are the
    * user's top-`maxItemsPerUser` by global popularity (ties by
    * song_id) — a deterministic selection both engines reproduce.
    */
  def coRatingEdgesOf(pos: DataFrame,
      maxItemsPerUser: Int = MaxItemsPerUser): DataFrame = {
    val spark = pos.sparkSession
    import spark.implicits._
    val popularity = pos.groupBy($"song_id")
      .agg(count(lit(1)).as("pop"))
    // materialize the capped per-user item list ONCE: the self-join
    // below evaluates its two sides independently (no exchange reuse
    // across a broadcast build), so without this the whole decode →
    // distinct → popularity → window chain ran twice per edge build
    // (measured as duplicated stage pairs in every co-rating graph
    // query). The capped relation is two longs per kept rating.
    val capped = pos.join(popularity, Seq("song_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"pop".desc, $"song_id")))
      .filter($"rn" <= maxItemsPerUser)
      .select($"user_id", $"song_id")
      .materialized
    capped.as("x").join(capped.as("y"),
        $"x.user_id" === $"y.user_id" && $"x.song_id" =!= $"y.song_id")
      .select($"x.song_id".as("src"), $"y.song_id".as("dst"))
      .distinct()
  }

  /** Five integer-scaled PageRank rounds over [[coRatingEdges]]. */
  def pagerank(spark: SparkSession, dir: String,
      rounds: Int = Rounds): DataFrame =
    pagerankOf(coRatingEdges(spark, dir), rounds)

  /** [[pagerank]] over any symmetric (src, dst) edge relation. */
  def pagerankOf(edgesIn: DataFrame, rounds: Int = Rounds): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // eager checkpoints, not cache: the per-round joins and their
    // broadcast builds run as independent concurrent jobs, and a lazy
    // cache lets each re-run the whole upstream edge build before the
    // first materialization lands (measured duplicate scans at sf0.1)
    val edges = edgesIn.materialized
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("out_deg"))
      .materialized
    // (src, dst, out_deg) is loop-invariant: join it ONCE and cache, so
    // each rank round is a single join with the ranks frame — not a
    // rebuild of the same edge×degree join five times over.
    val edgesDeg = edges.join(deg, Seq("src"))
      .select($"src", $"dst", $"out_deg").materialized
    val nodes = deg.select($"src".as("node")) // symmetric graph: src set == node set
    val n = nodes.count()
    var ranks = nodes.select($"node",
      lit(RankScale / n).as("r")) // integer floor, mirrored in the oracle
    val base = (RankScale * (100L - DampingPct) / 100L) / n
    for (_ <- 1 to rounds) {
      val contrib = edgesDeg
        .join(ranks, $"src" === $"node")
        .select($"dst", expr("r div out_deg").as("c"))
      ranks = contrib.groupBy($"dst")
        .agg((lit(base) +
          expr(s"($DampingPct * sum(c)) div 100")).as("r"))
        .select($"dst".as("node"), $"r")
    }
    ranks.select($"node".as("song_id"), $"r".as("rank_scaled"))
      .orderBy($"rank_scaled".desc, $"song_id")
  }

  /** Label-propagation rounds for [[labelPropagation]]. 3 keeps the
    * unrolled oracle readable; convergence on the small co-rating
    * graph is near-immediate.
    */
  val LpRounds = 3

  /** Deterministic label propagation over the capped co-rating graph —
    * the community-detection member of the graph family (PageRank =
    * centrality, triangles = clustering, CCF = components). Each round
    * every node adopts the PLURALITY label among its neighbors, ties
    * broken by smallest label — a total order, so the fixpoint walk is
    * engine-identical (vanilla LP's arbitrary tie-break is exactly
    * what makes it non-reproducible; pinning (count DESC, label ASC)
    * restores determinism without changing the algorithm).
    *
    * Scale shape per round: ONE partial-aggregatable (node, label)
    * count shuffle over the edge list, then a per-node top-1 window
    * (rank-filter form → WindowGroupLimit partial pass). Labels are
    * node ids (longs); state per round is one label per node.
    */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = LpRounds): DataFrame =
    labelPropagationOf(coRatingEdges(spark, dir), rounds)

  /** [[labelPropagation]] over any symmetric (src, dst) relation. */
  def labelPropagationOf(edgesIn: DataFrame,
      rounds: Int = LpRounds): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = edgesIn.materialized
    var labels = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    for (_ <- 1 to rounds) {
      val counted = edges.join(labels, $"src" === $"node")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"dst").orderBy($"c".desc, $"label")
      labels = counted
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"dst".as("node"), $"label")
    }
    labels.select($"node".as("song_id"), $"label".as("community"))
      .orderBy($"song_id")
  }

  /** DuckDB mirror of [[labelPropagation]]: the same rounds unrolled,
    * same (count DESC, label ASC) plurality tie-break, over the same
    * capped co-rating edges as [[pagerankSql]].
    */
  def labelPropagationSql(rounds: Int = LpRounds,
      maxItemsPerUser: Int = MaxItemsPerUser): String = {
    val iter = (1 to rounds).map { i =>
      s"""l$i AS (SELECT dst AS node, label FROM (
         |  SELECT e.dst, l.label, COUNT(*) AS c,
         |    ROW_NUMBER() OVER (PARTITION BY e.dst
         |      ORDER BY COUNT(*) DESC, l.label) AS rn
         |  FROM e JOIN l${i - 1} l ON e.src = l.node
         |  GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |e AS (SELECT DISTINCT x.song_id AS src, y.song_id AS dst
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id <> y.song_id),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$iter
       |SELECT node AS song_id, label AS community
       |FROM l$rounds ORDER BY song_id""".stripMargin
  }

  /** Connected components over the capped co-rating graph, with
    * per-component sizes — the graph family's components member made
    * first-class on the SONG graph (the dedup pipeline already runs
    * the same algorithm on near-dup pairs). Reuses
    * [[Dedup.clustersOf]]'s detected-fixpoint min-label
    * propagation with pointer jumping: O(log diameter) rounds, each a
    * partial-aggregatable (node, min label) shuffle, convergence
    * DETECTED by the monotone label-sum potential (never an unroll
    * count to keep in sync). The oracle states the genuine fixed point
    * as a recursive CTE, so there is no round-parity to maintain.
    * Isolated songs (no co-rating partner) have no component
    * membership and are absent on both sides.
    */
  def graphComponents(spark: SparkSession, dir: String): DataFrame =
    graphComponentsOf(coRatingEdges(spark, dir))

  /** [[graphComponents]] over any symmetric (src, dst) edge relation. */
  def graphComponentsOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.filter($"src" < $"dst")
      .select($"src".as("doc_a"), $"dst".as("doc_b"))
    val comp = Dedup.clustersOf(pairs)
      .select(col("doc_id").as("song_id"), col("cluster_id").as("component_id"))
    val sizes = comp.groupBy($"component_id")
      .agg(count(lit(1)).as("component_size"))
    comp.join(sizes, Seq("component_id"))
      .select($"song_id", $"component_id", $"component_size")
      .orderBy($"song_id")
  }

  /** DuckDB mirror of [[graphComponents]]: the capped co-rating pair
    * CTEs + the recursive-reach fixed point (the
    * `dedup_clusters` oracle shape on the song graph).
    */
  def componentsSql(maxItemsPerUser: Int = MaxItemsPerUser): String =
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |pairs AS (SELECT DISTINCT x.song_id AS src, y.song_id AS dst
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id < y.song_id),
       |verts AS (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs),
       |sym AS (SELECT src, dst FROM pairs
       |  UNION ALL SELECT dst, src FROM pairs),
       |comp AS (SELECT node AS song_id, MIN(label) AS component_id FROM (
       |  WITH RECURSIVE reach AS (
       |    SELECT id AS node, id AS label FROM verts
       |    UNION
       |    SELECT s.dst AS node, r.label
       |    FROM reach r JOIN sym s ON s.src = r.node
       |    WHERE r.label < s.dst)
       |  SELECT * FROM reach)
       |GROUP BY node),
       |sizes AS (SELECT component_id, CAST(COUNT(*) AS BIGINT) AS component_size
       |  FROM comp GROUP BY component_id)
       |SELECT song_id, component_id, component_size
       |FROM comp JOIN sizes USING (component_id)
       |ORDER BY song_id""".stripMargin

  /** Per-song triangle participation counts on the capped co-rating
    * graph — the local clustering signal a related-items pipeline uses
    * to separate genuine cliques from hub noise.
    *
    * The count enumerates each triangle once on ORIENTED edges
    * (src < dst): candidates for the wedge join are bounded by
    * Σ_v out_deg(v)², and out-degree is already bounded by the
    * [[MaxItemsPerUser]] edge-build cap upstream, so no hub can
    * explode the wedge stage. Each wedge (a<b<c via a→b, b→c) is
    * closed by ONE hash equi-join probe against the oriented edge
    * list — never a triangle-shaped theta join.
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsOf(coRatingEdges(spark, dir))

  /** [[triangleCounts]] over any symmetric (src, dst) edge relation. */
  def triangleCountsOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val elt = edges.filter($"src" < $"dst").materialized
    val tri = elt.as("ab")
      .join(elt.as("bc"), col("ab.dst") === col("bc.src"))
      .join(elt.as("ac"),
        col("ab.src") === col("ac.src") && col("bc.dst") === col("ac.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
    tri.select(explode(array($"a", $"b", $"c")).as("song_id"))
      .groupBy($"song_id")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy($"song_id")
  }

  /** Per-node neighbor-list cap for [[linkPrediction]] wedge
    * enumeration — the same hot-key bound as [[MaxItemsPerUser]], one
    * level up the graph.
    */
  val LinkMaxDeg = 30
  /** Emitted candidate count for [[linkPrediction]]. */
  val LinkTopK = 50

  /** Significance ratio for [[significantCoEdges]]: a pair is an edge
    * iff co-raters ≥ (SigNum/SigDen)·min(raters_a, raters_b) — a
    * RELATIVE gate, so the graph stays comparably sparse at every
    * corpus size (an absolute co-count threshold saturates as data
    * grows: every pair eventually crosses it and the graph completes,
    * measured on this corpus at 10× — which is also why the plain
    * [[coRatingEdges]] graph, near-complete by design, has no
    * non-adjacent pairs for link prediction to rank).
    */
  val SigNum = 4L
  val SigDen = 7L

  /** SIGNIFICANT co-rating edges: the capped per-user pair space of
    * [[coRatingEdgesOf]], kept only where the exact integer inequality
    * SigDen·co ≥ SigNum·min(ua, ub) holds. Symmetric, distinct.
    */
  def significantCoEdges(spark: SparkSession, dir: String,
      maxItemsPerUser: Int = MaxItemsPerUser): DataFrame = {
    import spark.implicits._
    val pos = Relational.ratings(spark, dir)
      .select($"user_id", $"song_id").distinct()
    val popularity = pos.groupBy($"song_id").agg(count(lit(1)).as("pop"))
    val capped = pos.join(popularity, Seq("song_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"pop".desc, $"song_id")))
      .filter($"rn" <= maxItemsPerUser)
      .select($"user_id", $"song_id")
      .materialized
    val users = capped.groupBy($"song_id").agg(count(lit(1)).as("u"))
    val co = capped.as("x").join(capped.as("y"),
        $"x.user_id" === $"y.user_id" && $"x.song_id" < $"y.song_id")
      .groupBy($"x.song_id".as("a"), $"y.song_id".as("b"))
      .agg(count(lit(1)).as("co"))
    val sig = co
      .join(users.select($"song_id".as("a"), $"u".as("ua")), Seq("a"))
      .join(users.select($"song_id".as("b"), $"u".as("ub")), Seq("b"))
      .filter($"co" * SigDen >= lit(SigNum) * least($"ua", $"ub"))
      .select($"a", $"b")
    sig.select($"a".as("src"), $"b".as("dst"))
      .union(sig.select($"b".as("src"), $"a".as("dst")))
  }

  /** Common-neighbor link prediction — "users who co-rated these also
    * co-rated that": for non-adjacent song pairs (a, b) of the
    * [[significantCoEdges]] graph, the Jaccard of their
    * co-recommender sets, ranked. The completion-suggestion operator
    * every graph store ships (and the classic LP baseline).
    *
    * Scale shape: wedges are enumerated per NODE over its CAPPED
    * neighbor list (top-[[LinkMaxDeg]] by neighbor degree, ties by id
    * — deterministic), so per-node work is O(cap²) no matter how
    * dense the graph gets — the [[coRatingEdgesOf]] bound one level
    * up. cn(a,b) therefore counts wedge CENTERS x with both a, b in
    * cappedN(x); the denominators are the matching capped in-degrees,
    * so the Jaccard is exact over the capped wedge space (the cap is
    * the operator's contract, mirrored in the oracle — not a silent
    * approximation). Direct edges are anti-joined out; ranking is an
    * integer ppm (no float decides order); top-k is a distributed
    * TakeOrderedAndProject.
    */
  def linkPrediction(spark: SparkSession, dir: String,
      k: Int = LinkTopK, maxDeg: Int = LinkMaxDeg): DataFrame =
    linkPredictionOf(significantCoEdges(spark, dir), k, maxDeg)

  /** [[linkPrediction]] over any symmetric (src, dst) edge relation. */
  def linkPredictionOf(edgesIn: DataFrame, k: Int = LinkTopK,
      maxDeg: Int = LinkMaxDeg): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // the edge relation is consumed three times (degrees, adjacency,
    // final anti-join) — without the cache the whole upstream edge
    // build re-runs for each (measured 12 s -> 4 s at sf0.1)
    val edges = edgesIn.materialized
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val adj = edges
      .join(deg.select($"src".as("dst"), $"deg".as("dst_deg")), Seq("dst"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"dst_deg".desc, $"dst")))
      .filter($"rn" <= maxDeg)
      .select($"src", $"dst")
      .materialized
    // capped in-degree: how many centers list this song
    val indeg = adj.groupBy($"dst").agg(count(lit(1)).as("ideg"))
    val cn = adj.as("l").join(adj.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .groupBy(col("l.dst").as("a"), col("r.dst").as("b"))
      .agg(count(lit(1)).as("cn"))
    val scored = cn
      .join(indeg.select($"dst".as("a"), $"ideg".as("da")), Seq("a"))
      .join(indeg.select($"dst".as("b"), $"ideg".as("db")), Seq("b"))
      .join(edges.select($"src".as("a"), $"dst".as("b")),
        Seq("a", "b"), "left_anti")
      .select($"a", $"b", $"cn",
        expr("(cn * 1000000) div (da + db - cn)").as("jaccard_ppm"))
    scored.orderBy($"jaccard_ppm".desc, $"a", $"b").limit(k)
  }

  /** DuckDB mirror of [[linkPrediction]]: significant edges, capped
    * adjacency, wedge-center enumeration, anti-join, identical ppm.
    */
  def linkPredictionSql(k: Int = LinkTopK, maxDeg: Int = LinkMaxDeg,
      maxItemsPerUser: Int = MaxItemsPerUser): String =
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |su AS (SELECT song_id, COUNT(*) AS u FROM pos GROUP BY song_id),
       |co AS (SELECT x.song_id AS a, y.song_id AS b, COUNT(*) AS co
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id < y.song_id GROUP BY 1, 2),
       |sig AS (SELECT a, b FROM co
       |  JOIN su ua ON co.a = ua.song_id
       |  JOIN su ub ON co.b = ub.song_id
       |  WHERE co.co * $SigDen >= $SigNum * LEAST(ua.u, ub.u)),
       |e AS (SELECT a AS src, b AS dst FROM sig
       |  UNION ALL SELECT b AS src, a AS dst FROM sig),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |adj AS (SELECT src, dst FROM (
       |    SELECT e.src, e.dst, ROW_NUMBER() OVER (
       |        PARTITION BY e.src ORDER BY d.deg DESC, e.dst) AS rn
       |    FROM e JOIN deg d ON e.dst = d.src)
       |  WHERE rn <= $maxDeg),
       |indeg AS (SELECT dst, COUNT(*) AS ideg FROM adj GROUP BY dst),
       |cn AS (SELECT l.dst AS a, r.dst AS b, COUNT(*) AS cn
       |  FROM adj l JOIN adj r ON l.src = r.src AND l.dst < r.dst
       |  GROUP BY 1, 2),
       |scored AS (SELECT cn.a, cn.b, cn.cn,
       |    (cn.cn * 1000000) // (da.ideg + db.ideg - cn.cn) AS jaccard_ppm
       |  FROM cn JOIN indeg da ON cn.a = da.dst
       |  JOIN indeg db ON cn.b = db.dst
       |  WHERE NOT EXISTS (SELECT 1 FROM e
       |    WHERE e.src = cn.a AND e.dst = cn.b))
       |SELECT a, b, cn, jaccard_ppm FROM scored
       |ORDER BY jaccard_ppm DESC, a, b LIMIT $k""".stripMargin

  /** DuckDB mirror of [[triangleCounts]]: same capped edge CTEs as
    * [[pagerankSql]], same oriented wedge-close enumeration.
    */
  def triangleSql(maxItemsPerUser: Int = MaxItemsPerUser): String =
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |e AS (SELECT DISTINCT x.song_id AS src, y.song_id AS dst
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id < y.song_id),
       |tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
       |  FROM e ab JOIN e bc ON ab.dst = bc.src
       |  JOIN e ac ON ab.src = ac.src AND bc.dst = ac.dst)
       |SELECT song_id, COUNT(*) AS n_triangles FROM (
       |  SELECT a AS song_id FROM tri UNION ALL
       |  SELECT b FROM tri UNION ALL
       |  SELECT c FROM tri)
       |GROUP BY song_id ORDER BY song_id""".stripMargin

  /** DuckDB mirror: the same rounds unrolled with the same integer
    * floor operations, and the same per-user popularity-ranked item
    * cap before the co-rating self-join.
    */
  /** Scale for the exact cosine² ranking metric (parts-per-million). */
  val SimScale = 1000000L

  /** Item-item similarity top-k — the neighborhood-based collaborative
    * filter (the classic alternative to the reference's ALS,
    * engine.py:24–38 trains the factor model; this is the
    * memory-based method over the same co-rating signal). For each
    * item, the k most-similar others by co-occurrence cosine
    * `c_ab / sqrt(c_a·c_b)` over the SAME capped per-user item sets
    * as [[coRatingEdgesOf]] — the cap bounds a power user's pair
    * contribution at O(cap²) before the self-join.
    *
    * Determinism: items are RANKED by the exact scaled integer
    * `cos2_ppm = (c_ab²·10⁶) div (c_a·c_b)` — monotone in cosine, all
    * floor arithmetic, so the ranking and the emitted metric are
    * bit-identical in both engines (ties broken by other-id asc, a
    * total order). The integer stays far below 2⁶³ while
    * `c_ab² · 10⁶ < 9.2e18`, i.e. co-rating counts up to ~3e6 users
    * per pair; past that, rescale SimScale or lift to DECIMAL.
    *
    * Scale shape: the oriented pair count is ONE (a, b) shuffle whose
    * input is cap-bounded per user; per-item counts broadcast
    * (catalog-sized); the per-item top-k is a rank-filter window
    * (WindowGroupLimit partial pass), never a global sort of pairs.
    */
  def itemSimilarityTopK(spark: SparkSession, dir: String,
      k: Int = 5, maxItemsPerUser: Int = MaxItemsPerUser): DataFrame = {
    import spark.implicits._
    val pos = Relational.ratings(spark, dir)
      .select($"user_id", $"song_id").distinct()
    itemSimilarityTopKOf(pos, k, maxItemsPerUser)
  }

  /** [[itemSimilarityTopK]] over any (user_id, song_id) relation. */
  def itemSimilarityTopKOf(pos: DataFrame, k: Int = 5,
      maxItemsPerUser: Int = MaxItemsPerUser): DataFrame = {
    val spark = pos.sparkSession
    import spark.implicits._
    val popularity = pos.groupBy($"song_id")
      .agg(count(lit(1)).as("pop"))
    val capped = pos.join(popularity, Seq("song_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"pop".desc, $"song_id")))
      .filter($"rn" <= maxItemsPerUser)
      .select($"user_id", $"song_id").materialized
    val cnt = capped.groupBy($"song_id").agg(count(lit(1)).as("n"))
    // oriented (a < b) so each pair is counted once, then mirrored
    val coc = capped.as("x").join(capped.as("y"),
        $"x.user_id" === $"y.user_id" && $"x.song_id" < $"y.song_id")
      .groupBy($"x.song_id".as("a"), $"y.song_id".as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val sym = coc.select($"a".as("item"), $"b".as("other"), $"c_ab")
      .unionByName(coc.select($"b".as("item"), $"a".as("other"), $"c_ab"))
    val scored = sym
      .join(broadcast(cnt.select($"song_id".as("item"), $"n".as("n_item"))),
        Seq("item"))
      .join(broadcast(cnt.select($"song_id".as("other"), $"n".as("n_other"))),
        Seq("other"))
      .select($"item", $"other", $"c_ab",
        expr(s"(c_ab * c_ab * $SimScale) div (n_item * n_other)")
          .as("cos2_ppm"))
    val w = Window.partitionBy($"item").orderBy($"cos2_ppm".desc, $"other")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"item", $"rank", $"other", $"c_ab", $"cos2_ppm")
      .orderBy($"item", $"rank")
  }

  /** Head size for [[recCoverage]]'s concentration share. */
  val CoverageTopN = 10

  /** Recommendation coverage & concentration audit — the dataset-card
    * numbers a recommender team watches next to accuracy: how much of
    * the catalog ever appears in a top-k list (coverage), and how
    * concentrated the recommendation SLOTS are on the most-recommended
    * items (the popularity-bias check). Computed over the
    * [[itemSimilarityTopK]] lists; every emitted number is an exact
    * integer (counts and two ppm divisions).
    *
    * Scale shape: one (item)-keyed count of the k·catalog-sized rec
    * relation, one distinct over ratings for the catalog, one
    * TakeOrdered head for the top-N share — no per-user state, no
    * full-list sort.
    */
  def recCoverage(spark: SparkSession, dir: String, k: Int = 5,
      topN: Int = CoverageTopN): DataFrame = {
    import spark.implicits._
    val recs = itemSimilarityTopK(spark, dir, k)
    // slots feeds three aggregates (totals, head share, coverage join);
    // cached so the item-similarity pipeline beneath runs once
    val slots = recs.groupBy($"other").agg(count(lit(1)).as("slots"))
      .materialized
    val tot = slots.agg(count(lit(1)).as("n_recommended"),
      sum($"slots").as("total_slots"))
    val top = slots.orderBy($"slots".desc, $"other").limit(topN)
      .agg(sum($"slots").as("top_slots"))
    val cat = Relational.ratings(spark, dir)
      .filter($"song_id".isNotNull).select($"song_id").distinct()
      .agg(count(lit(1)).as("catalog_size"))
    cat.crossJoin(tot).crossJoin(top)
      .select($"catalog_size", $"n_recommended",
        expr("(n_recommended * 1000000) div catalog_size")
          .as("coverage_ppm"),
        $"total_slots",
        expr("(top_slots * 1000000) div total_slots")
          .as(s"top${topN}_share_ppm"))
  }

  /** [[recCoverage]] oracle: [[itemSimilaritySql]] wrapped as the rec
    * relation, identical aggregates.
    */
  def recCoverageSql(k: Int = 5, topN: Int = CoverageTopN): String =
    s"""WITH recs AS (SELECT * FROM (${itemSimilaritySql(k)}) t),
       |slots AS (SELECT other, CAST(COUNT(*) AS BIGINT) AS slots
       |  FROM recs GROUP BY other),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recommended,
       |    CAST(SUM(slots) AS BIGINT) AS total_slots FROM slots),
       |top AS (SELECT CAST(SUM(slots) AS BIGINT) AS top_slots FROM (
       |    SELECT slots FROM slots ORDER BY slots DESC, other
       |    LIMIT $topN) h),
       |cat AS (SELECT CAST(COUNT(DISTINCT song_id) AS BIGINT)
       |    AS catalog_size FROM (
       |    SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER)
       |      AS song_id FROM events)
       |  WHERE song_id IS NOT NULL)
       |SELECT catalog_size, n_recommended,
       |  (n_recommended * 1000000) // catalog_size AS coverage_ppm,
       |  total_slots,
       |  (top_slots * 1000000) // total_slots AS top${topN}_share_ppm
       |FROM cat, tot, top""".stripMargin

  /** User-user collaborative similarity — the memory-based CF member
    * the item-item operator mirrors, via the SAME machinery TRANSPOSED:
    * feeding [[itemSimilarityTopKOf]] the (song, user) relation makes
    * the grouping key the song, so the cap becomes a per-SONG user cap
    * — exactly the hot-item bound user-user CF needs (a song everyone
    * likes would otherwise contribute a quadratic user-pair block, the
    * transposed twin of the power-user hazard). Output: each user's
    * top-k neighbors by the same exact integer cos²-ppm.
    */
  def userSimilarityTopK(spark: SparkSession, dir: String,
      k: Int = 5, maxUsersPerSong: Int = MaxItemsPerUser): DataFrame = {
    import spark.implicits._
    val pos = Relational.ratings(spark, dir)
      .select($"user_id", $"song_id").distinct()
    itemSimilarityTopKOf(
        pos.select($"song_id".as("user_id"), $"user_id".as("song_id")),
        k, maxUsersPerSong)
      .select($"item".as("user"), $"rank", $"other".as("other_user"),
        $"c_ab", $"cos2_ppm")
      .orderBy($"user", $"rank")
  }

  /** DuckDB mirror of [[userSimilarityTopK]] — the item-item SQL with
    * the roles transposed (cap per song, similarity between users).
    */
  def userSimilaritySql(k: Int = 5,
      maxUsersPerSong: Int = MaxItemsPerUser): String =
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT user_id, COUNT(*) AS pop FROM pos0 GROUP BY user_id),
       |pos AS (SELECT song_id, user_id FROM (
       |    SELECT p.song_id, p.user_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.song_id ORDER BY c.pop DESC, p.user_id) AS rn
       |    FROM pos0 p JOIN popc c USING (user_id))
       |  WHERE rn <= $maxUsersPerSong),
       |cnt AS (SELECT user_id, COUNT(*) AS n FROM pos GROUP BY user_id),
       |coc AS (SELECT x.user_id AS a, y.user_id AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM pos x JOIN pos y ON x.song_id = y.song_id
       |    AND x.user_id < y.user_id
       |  GROUP BY 1, 2),
       |sym AS (SELECT a AS "user", b AS other_user, c_ab FROM coc
       |  UNION ALL SELECT b AS "user", a AS other_user, c_ab FROM coc)
       |SELECT "user", rank, other_user, c_ab, cos2_ppm FROM (
       |  SELECT s."user", s.other_user, s.c_ab,
       |    CAST((s.c_ab * s.c_ab * $SimScale) // (ci.n * co.n) AS BIGINT)
       |      AS cos2_ppm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s."user"
       |      ORDER BY (s.c_ab * s.c_ab * $SimScale) // (ci.n * co.n) DESC,
       |        s.other_user) AS INTEGER) AS rank
       |  FROM sym s
       |  JOIN cnt ci ON s."user" = ci.user_id
       |  JOIN cnt co ON s.other_user = co.user_id)
       |WHERE rank <= $k
       |ORDER BY "user", rank""".stripMargin

  /** DuckDB mirror of [[itemSimilarityTopK]]: same capped sets, same
    * oriented pair count, same integer cos²-ppm ranking.
    */
  def itemSimilaritySql(k: Int = 5,
      maxItemsPerUser: Int = MaxItemsPerUser): String =
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |cnt AS (SELECT song_id, COUNT(*) AS n FROM pos GROUP BY song_id),
       |coc AS (SELECT x.song_id AS a, y.song_id AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id < y.song_id
       |  GROUP BY 1, 2),
       |sym AS (SELECT a AS item, b AS other, c_ab FROM coc
       |  UNION ALL SELECT b AS item, a AS other, c_ab FROM coc)
       |SELECT item, rank, other, c_ab, cos2_ppm FROM (
       |  SELECT s.item, s.other, s.c_ab,
       |    CAST((s.c_ab * s.c_ab * $SimScale) // (ci.n * co.n) AS BIGINT)
       |      AS cos2_ppm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.item
       |      ORDER BY (s.c_ab * s.c_ab * $SimScale) // (ci.n * co.n) DESC,
       |        s.other) AS INTEGER) AS rank
       |  FROM sym s
       |  JOIN cnt ci ON s.item = ci.song_id
       |  JOIN cnt co ON s.other = co.song_id)
       |WHERE rank <= $k
       |ORDER BY item, rank""".stripMargin

  /** Focus user whose taste personalizes the teleport set (exists at
    * every scale factor), and the recommendation list length.
    */
  val PprFocusUser = 1L
  val PprTopK = 20

  /** Personalized PageRank — the graph-walk recommender that completes
    * the family (ALS = latent factors, item-item cosine = memory CF,
    * PPR = random walk with restart): teleport mass returns to the
    * FOCUS USER's rated-song set instead of the whole catalog, so rank
    * concentrates around their taste neighborhood, and the output is
    * the top-K songs they have NOT rated. Same exact integer-scaled
    * arithmetic as [[pagerankOf]]; the per-round base term lands only
    * on seed nodes via a union + re-aggregate (both partial-
    * aggregatable), so a node reachable only later simply carries no
    * row until rank mass arrives — identical semantics in the unrolled
    * oracle. Seeds are the user's full rated set (the edge build stays
    * capped; a seed outside the capped graph receives teleport mass
    * but contributes nothing, in both engines).
    *
    * Scale shape: per round ONE (dst, Σ) shuffle over the edge list
    * plus a seed-sized union; seeds are one user's items (bounded);
    * the final anti-join removes the rated set.
    */
  def pagerankPersonalized(spark: SparkSession, dir: String,
      rounds: Int = Rounds, focusUser: Long = PprFocusUser,
      k: Int = PprTopK): DataFrame = {
    import spark.implicits._
    pagerankPersonalizedOf(
      Relational.ratings(spark, dir)
        .select($"user_id", $"song_id").distinct(),
      rounds, focusUser, k)
  }

  /** [[pagerankPersonalized]] over any distinct (user_id, song_id)
    * relation.
    */
  def pagerankPersonalizedOf(pos: DataFrame, rounds: Int = Rounds,
      focusUser: Long = PprFocusUser, k: Int = PprTopK): DataFrame = {
    val spark = pos.sparkSession
    import spark.implicits._
    val edges = coRatingEdgesOf(pos).materialized
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("out_deg"))
    val edgesDeg = edges.join(deg, Seq("src"))
      .select($"src", $"dst", $"out_deg").materialized
    val seeds = pos.filter($"user_id" === focusUser)
      .select($"song_id".as("node")).materialized
    val nSeeds = seeds.count()
    require(nSeeds > 0, s"focus user $focusUser has no rated songs")
    val base = (RankScale * (100L - DampingPct) / 100L) / nSeeds
    var ranks = seeds.select($"node", lit(RankScale / nSeeds).as("r"))
    for (_ <- 1 to rounds) {
      // one (node)-keyed aggregation per round instead of two: the
      // damped-contribution sum and the seed base term fold in a
      // single groupBy over a tagged union ((D*sum c) div 100 + sum b
      // == the former two-level union + re-aggregate exactly — seeds
      // are distinct, so sum(b) is base on seed nodes and 0 elsewhere)
      val contrib = edgesDeg
        .join(ranks, $"src" === $"node")
        .select($"dst".as("node"), expr("r div out_deg").as("c"),
          lit(0L).as("b"))
      ranks = contrib
        .unionByName(seeds.select($"node", lit(0L).as("c"),
          lit(base).as("b")))
        .groupBy($"node")
        .agg((expr(s"($DampingPct * sum(c)) div 100") + sum($"b")).as("r"))
    }
    // TakeOrderedAndProject first (distributed top-k), THEN number the
    // k survivors — never a global row_number over the whole catalog
    val top = ranks.join(seeds, Seq("node"), "left_anti")
      .orderBy($"r".desc, $"node").limit(k)
    top.select(row_number().over(
        Window.orderBy($"r".desc, $"node")).as("rank"),
      $"node".as("song_id"), $"r".as("rank_scaled"))
      .orderBy($"rank")
  }

  /** DuckDB mirror of [[pagerankPersonalized]] — the same rounds
    * unrolled with the union + re-aggregate base-term shape.
    */
  def pagerankPersonalizedSql(rounds: Int = Rounds,
      maxItemsPerUser: Int = MaxItemsPerUser,
      focusUser: Long = PprFocusUser, k: Int = PprTopK): String = {
    val iter = (1 to rounds).map { i =>
      s"""p$i AS (SELECT node, SUM(r) AS r FROM (
         |  SELECT e.dst AS node,
         |    ($DampingPct * SUM(p${i - 1}.r // d.out_deg)) // 100 AS r
         |  FROM e JOIN d USING (src) JOIN p${i - 1} ON e.src = p${i - 1}.node
         |  GROUP BY e.dst
         |  UNION ALL
         |  SELECT node,
         |    (($RankScale * ${100L - DampingPct} // 100) // (SELECT n FROM ns)) AS r
         |  FROM seeds) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |e AS (SELECT DISTINCT x.song_id AS src, y.song_id AS dst
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id <> y.song_id),
       |d AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
       |seeds AS (SELECT song_id AS node FROM pos0 WHERE user_id = $focusUser),
       |ns AS (SELECT COUNT(*) AS n FROM seeds),
       |p0 AS (SELECT node, $RankScale // (SELECT n FROM ns) AS r FROM seeds),
       |$iter
       |SELECT CAST(rank AS INTEGER) AS rank, song_id, rank_scaled FROM (
       |  SELECT ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rank,
       |    node AS song_id, CAST(r AS BIGINT) AS rank_scaled
       |  FROM p$rounds WHERE node NOT IN (SELECT node FROM seeds))
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  def pagerankSql(rounds: Int = Rounds,
      maxItemsPerUser: Int = MaxItemsPerUser): String = {
    val iter = (1 to rounds).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  (($RankScale * ${100L - DampingPct} // 100) // (SELECT n FROM nn))
         |    + ($DampingPct * SUM(r${i - 1}.r // d.out_deg)) // 100 AS r
         |  FROM e JOIN d USING (src) JOIN r${i - 1} ON e.src = r${i - 1}.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pos0 AS (SELECT DISTINCT user_id,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id
       |  FROM events),
       |popc AS (SELECT song_id, COUNT(*) AS pop FROM pos0 GROUP BY song_id),
       |pos AS (SELECT user_id, song_id FROM (
       |    SELECT p.user_id, p.song_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.user_id ORDER BY c.pop DESC, p.song_id) AS rn
       |    FROM pos0 p JOIN popc c USING (song_id))
       |  WHERE rn <= $maxItemsPerUser),
       |e AS (SELECT DISTINCT x.song_id AS src, y.song_id AS dst
       |  FROM pos x JOIN pos y ON x.user_id = y.user_id
       |    AND x.song_id <> y.song_id),
       |d AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM d),
       |r0 AS (SELECT src AS node, $RankScale // (SELECT n FROM nn) AS r FROM d),
       |$iter
       |SELECT node AS song_id, CAST(r AS BIGINT) AS rank_scaled FROM r$rounds
       |ORDER BY rank_scaled DESC, song_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Hierarchy closure by pointer doubling
  // ---------------------------------------------------------------------

  /** Number of roots in the synthetic document hierarchy: ids below
    * this are their own root; every other id's parent is `id div 2`
    * (a deterministic forest any engine can reconstruct — the oracle
    * walks it with WITH RECURSIVE).
    */
  val HierarchyRoots = 16L

  /** Pointer-doubling rounds. Each round composes the ancestor pointer
    * with itself, so round r covers 2^r parent steps; the halving
    * parent rule bounds depth by log2(maxId) < 63 < 2^6 for ANY 64-bit
    * id — 6 is a CONSTANT sufficient round count, not a tuned guess.
    */
  val DoublingRounds = 6

  /** Transitive ancestor closure of a parent forest in O(log depth)
    * self-joins — pointer doubling / path halving (Wyllie's list
    * ranking; same doubling idiom as [[Dedup]]'s CCF pointer jumping).
    *
    * `ptr0` rows are (node, anc, d): roots carry (r, r, 0) — a
    * self-loop of length 0, the fixed point — and non-roots carry
    * (n, parent(n), 1). Each round joins the relation with itself on
    * `anc = node`, replacing every pointer with its pointer's pointer
    * and summing the jump distances; a pointer that has reached its
    * root composes with the root's zero-length self-loop and stays
    * put. After r rounds every pointer has jumped min(2^r, depth)
    * steps, so `rounds ≥ log2(max depth)` yields (node, root, depth)
    * for every node.
    *
    * The scale contrast this operator exists for: a recursive-CTE /
    * naive-loop walk is O(depth) sequential joins — a depth-10⁴
    * linked chain (sessions, version lineages) needs 10⁴ barriers —
    * while doubling needs ⌈log2 10⁴⌉ = 14. Each round is one
    * equi-join shuffle of an n-row, 24-byte relation with no growth
    * between rounds (one row per node throughout).
    */
  def pointerDoublingClosure(ptr0: DataFrame,
      rounds: Int = DoublingRounds): DataFrame = {
    val spark = ptr0.sparkSession
    import spark.implicits._
    // materialize each round before the self-join (house idiom of
    // Dedup.scala:430): BOTH join sides then read one materialized
    // round-r relation and the plan stays constant-size per round. An
    // unmaterialized fold references round r−1 twice → 2^rounds plan
    // copies — the exponential-lineage trap of every self-joining
    // iteration (cache() alone doesn't save you: execution reuses the
    // cache but the LOGICAL tree still doubles, and analysis cost
    // explodes with it). On a cluster, swap localCheckpoint for
    // reliable checkpoint() if executor loss mid-iteration matters.
    (1 to rounds).foldLeft(ptr0) { (p, _) =>
      val pc = p.materialized
      val q = pc.select($"node".as("bn"), $"anc".as("banc"), $"d".as("bd"))
      // LEFT join: a pointer to a node absent from the relation (an
      // orphaned parent id — fixture gap, partial load) composes with
      // nothing and STAYS PUT instead of silently vanishing from the
      // closure; on well-formed input every anc matches and this is
      // exactly the inner self-join. Keeps the operator total without
      // a correctness-gating denseness assumption on ids.
      pc.join(q, pc("anc") === q("bn"), "left")
        .select(pc("node"), coalesce($"banc", pc("anc")).as("anc"),
          (pc("d") + coalesce($"bd", lit(0L))).as("d"))
    }
  }

  /** Per-root rollup of the synthetic document forest: members, depth
    * extremes, and subtree character mass — the org-chart / category-
    * tree report every hierarchy-owning pipeline runs. The closure is
    * 6 constant doubling rounds (see [[DoublingRounds]]); the final
    * rollup is one partial-aggregatable shuffle on the root key.
    */
  def hierarchyRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.widened(spark,
        graft.Tables.documents(spark, dir))
      .select($"doc_id", $"n_chars")
    val ptr0 = docs.select(
      $"doc_id".as("node"),
      when($"doc_id" < HierarchyRoots, $"doc_id")
        .otherwise(expr("doc_id div 2")).as("anc"),
      when($"doc_id" < HierarchyRoots, lit(0L)).otherwise(lit(1L)).as("d"))
    pointerDoublingClosure(ptr0)
      .join(docs, $"node" === $"doc_id")
      .groupBy($"anc".as("root"))
      .agg(count(lit(1)).as("n_members"),
        max($"d").as("max_depth"),
        sum($"d").as("sum_depth"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"root")
  }

  /** [[hierarchyRollup]] oracle: the same forest walked by a genuine
    * recursive CTE (depth-sequential — the thing doubling replaces),
    * so the hash match cross-validates the closure against an
    * independent traversal strategy, not a mirrored plan.
    */
  def hierarchyRollupSql(): String =
    s"""WITH RECURSIVE walk AS (
       |  SELECT doc_id AS node, doc_id AS anc, 0 AS d FROM documents
       |  UNION ALL
       |  SELECT node, anc // 2, d + 1 FROM walk WHERE anc >= $HierarchyRoots
       |)
       |SELECT w.anc AS root, COUNT(*) AS n_members,
       |  CAST(MAX(w.d) AS BIGINT) AS max_depth,
       |  CAST(SUM(w.d) AS BIGINT) AS sum_depth,
       |  CAST(SUM(d2.n_chars) AS BIGINT) AS total_chars
       |FROM walk w JOIN documents d2 ON w.node = d2.doc_id
       |WHERE w.anc < $HierarchyRoots
       |GROUP BY w.anc ORDER BY root""".stripMargin
}
