package graft.operators

import graft.Fx.{FxMaterialize, materializeAll}
import graft.Tables
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (north-star
  * extension set): exact, n-gram Jaccard, MinHash+LSH, embedding
  * cosine. Everything is shuffle-on-key dataflow — no driver-side
  * loops, no collect — so each op scales with partitions:
  *
  *  - exact: one hash aggregation on md5(text) (shuffle one 32-char key
  *    + counts per distinct doc, never the text bodies);
  *  - jaccard: inverted index join (shuffle keyed by shingle), the
  *    standard "similar pairs via shared token" plan;
  *  - minhash: 16 min() aggregates over the same inverted index, then a
  *    band-key equi-join — candidate generation cost is O(docs·bands),
  *    independent of the pair count, which is what makes near-dup
  *    feasible at 100 TB where all-pairs Jaccard is not.
  *
  * Every operator returns an UNORDERED relation: compositions consume
  * it as is, and a caller that needs an order sorts it (the declared
  * queries state theirs in [[graft.SparkEntry]]).
  */
object Dedup {

  /** Mersenne prime 2^31-1: the minhash universe. Affine-hash products
    * stay below 2^62, so the arithmetic is overflow-free (and therefore
    * bit-identical) in both Spark and the DuckDB oracle.
    */
  val P: Long = 2147483647L

  /** Fixed affine hash params (a_j, b_j) for the 16 minhash functions. */
  val hashParams: Seq[(Long, Long)] =
    (0 until 16).map(j => ((j * 2654435761L + 1) % P, (j * 40503L + 7) % P))

  /** Cross-engine-stable 60-bit hash of a string: the first 15 hex chars
    * of its md5, as a non-negative BIGINT. DuckDB mirror:
    * `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`.
    */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Posting-list (document-frequency) cap for the pair-generation
    * joins: a shingle shared by d documents contributes O(d²) rows to a
    * shared-shingle self-join, so ONE ubiquitous boilerplate shingle
    * (d ≈ corpus size) turns the join cartesian. Dropping shingles with
    * df > maxDf before any pair join bounds the per-shingle cost at
    * maxDf² while leaving results bit-identical whenever no shingle
    * exceeds the cap (true of this corpus — the oracle mirrors the cap,
    * so the check stays exact either way). Pairs whose ONLY overlap is
    * capped shingles are the standard accepted loss of this trick.
    */
  val DefaultMaxDf = 1000L

  /** Word n-gram shingle set, exploded as distinct (doc_id, h) with the
    * shingle hashed to a 60-bit int: downstream shuffles (distinct,
    * inverted-index joins, minhash aggregation) move 8-byte keys instead
    * of 32-char md5 strings. One md5 per shingle total; collisions in a
    * 2^60 universe are negligible and, being deterministic, identical in
    * the oracle.
    */
  private[graft] def shingleSetOf(docs: DataFrame, n: Int): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val sh = when(size(t) < n, array(hash60(col("text"))))
      .otherwise(transform(
        sequence(lit(1), size(t) - lit(n - 1)),
        i => hash60(concat_ws(" ", slice(t, i, lit(n))))))
    docs.select(col("doc_id"), explode(sh).as("h"))
      .distinct()
  }

  private[graft] def shingleSet(spark: SparkSession, dir: String, n: Int): DataFrame =
    shingleSetOf(Tables.widened(spark, Tables.documents(spark, dir)), n)

  /** (doc_id, h) restricted to shingles with document frequency
    * <= maxDf — the inverted-index side of every pair join. The df
    * aggregation shuffles 8-byte keys with partial aggregation; the
    * restriction is an anti-join against the HOT set (df > maxDf),
    * which is tiny by construction — it broadcasts, so `sh` itself is
    * never re-shuffled to apply the cap.
    */
  private[graft] def capDf(sh: DataFrame, maxDf: Long): DataFrame =
    applyCap(sh, hotSet(sh, maxDf))

  /** The df > maxDf HOT shingle set of a (doc_id, h) relation — the
    * census half of [[capDf]], exposed so an incrementally-maintained
    * index ([[MinhashIndex]]) can carry it forward instead of
    * re-aggregating the whole accumulated relation every batch.
    */
  private[graft] def hotSet(sh: DataFrame, maxDf: Long): DataFrame =
    sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h"))

  /** Apply a precomputed hot set: the cap's anti-join half. */
  private[graft] def applyCap(sh: DataFrame, hot: DataFrame): DataFrame =
    sh.join(broadcast(hot), Seq("h"), "left_anti")
      .select(sh.columns.map(col): _*) // using-join moves h first; keep the input shape

  /** Exact dedup: group identical texts (by md5), keep the smallest
    * doc_id as the canonical representative.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupOf(Tables.documents(spark, dir))

  /** [[exactDedup]] over an arbitrary (doc_id, text) relation. */
  def exactDedupOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
  }

  /** N-gram Jaccard near-dup pairs >= minJ via inverted-index join.
    * Set sizes count ALL shingles; only the pair-generation index is
    * df-capped (see [[DefaultMaxDf]]).
    */
  def ngramJaccard(spark: SparkSession, dir: String, n: Int = 3,
      minJ: Double = 0.3, maxDf: Long = DefaultMaxDf): DataFrame =
    ngramJaccardOf(Tables.widened(spark, Tables.documents(spark, dir)),
      n, minJ, maxDf)

  /** [[ngramJaccard]] over an arbitrary (doc_id, text) relation:
    * unordered (doc_a, doc_b, jaccard) pairs with doc_a < doc_b.
    */
  def ngramJaccardOf(docs: DataFrame, n: Int = 3, minJ: Double = 0.3,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val (common, sizes) = sharedShingles(docs, n, maxDf)
    jaccardOf(docs.sparkSession, common, sizes)
      .filter(col("jaccard") >= minJ)
  }

  /** The all-pairs inverted-index core of [[ngramJaccardOf]] and
    * [[containmentDedupOf]]: (doc_a, doc_b, common) for every pair with
    * doc_a < doc_b sharing at least one df-capped shingle, plus the
    * (doc_id, sz) sizes over ALL of each doc's shingles.
    */
  private def sharedShingles(docs: DataFrame, n: Int,
      maxDf: Long): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // eager checkpoint, not cache: sizes/capDf/pair-join all read sh
    // from independent (concurrent) jobs — a lazy cache lets each
    // recompute the md5 shingle scan before first materialization
    val sh = shingleSetOf(docs, n).materialized
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val shc = capDf(sh, maxDf)
    val common = shc.as("a").join(shc.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("common"))
    (common, sizes)
  }

  /** Containment threshold (ppm of the smaller doc's shingles) for
    * [[containmentDedup]].
    */
  val ContainmentMinPpm = 800000L

  /** Containment near-dup detection — the ASYMMETRIC member of the
    * dedup family: containment(A→B) = |S_A ∩ S_B| / |S_A| flags a
    * short document embedded inside a longer one (quotes, mirrored
    * excerpts, boilerplate-wrapped reposts) that symmetric Jaccard
    * misses by construction (a 50-shingle doc inside a 1000-shingle
    * doc has Jaccard ≤ 0.05 but containment 1.0 — the Broder
    * distinction). Emits each candidate pair once, oriented so the
    * MORE-contained side is `doc_small`, with both directions' exact
    * ppm scores; kept when either direction clears
    * [[ContainmentMinPpm]].
    *
    * Scale shape: identical to [[ngramJaccardOf]] — the pair space
    * comes from the SAME df-capped inverted index (one posting-list
    * self-join), and the scores are integer divisions; no new shuffle
    * class.
    */
  def containmentDedup(spark: SparkSession, dir: String, n: Int = 3,
      minPpm: Long = ContainmentMinPpm,
      maxDf: Long = DefaultMaxDf): DataFrame =
    containmentDedupOf(Tables.widened(spark, Tables.documents(spark, dir)),
      n, minPpm, maxDf)

  /** [[containmentDedup]] over an arbitrary (doc_id, text) relation. */
  def containmentDedupOf(docs: DataFrame, n: Int = 3,
      minPpm: Long = ContainmentMinPpm,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (common, sizes) = sharedShingles(docs, n, maxDf)
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "nb"), "doc_b")
      .select($"doc_a", $"doc_b", $"common", $"na", $"nb",
        expr("(common * 1000000) div na").as("containment_a_ppm"),
        expr("(common * 1000000) div nb").as("containment_b_ppm"))
      .filter($"containment_a_ppm" >= minPpm ||
        $"containment_b_ppm" >= minPpm)
      .select(
        when($"containment_a_ppm" >= $"containment_b_ppm", $"doc_a")
          .otherwise($"doc_b").as("doc_small"),
        when($"containment_a_ppm" >= $"containment_b_ppm", $"doc_b")
          .otherwise($"doc_a").as("doc_large"),
        $"common",
        greatest($"containment_a_ppm", $"containment_b_ppm")
          .as("containment_ppm"),
        least($"containment_a_ppm", $"containment_b_ppm")
          .as("reverse_ppm"))
  }

  /** (doc_a, doc_b, common) + per-doc sizes -> Jaccard = c/(na+nb-c);
    * shared by the all-pairs and LSH-candidate paths so both stay
    * bit-identical to the oracle formula.
    */
  private def jaccardOf(spark: SparkSession, common: DataFrame,
      sizes: DataFrame): DataFrame = {
    import spark.implicits._
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "nb"), "doc_b")
      .select($"doc_a", $"doc_b",
        ($"common".cast("double") / ($"na" + $"nb" - $"common")).as("jaccard"))
  }

  /** MinHash signature columns: sig_j = min over shingles of the affine
    * hash (a_j * (h % P) + b_j) % P. One aggregation pass computes all
    * 16 mins as pure BIGINT arithmetic (no per-shingle re-hashing) — no
    * per-doc arrays, fully partial-aggregatable.
    */
  private def minhashSigs(sh: DataFrame, numHashes: Int): DataFrame = {
    val hp = col("h") % P
    // the set size rides along in the SAME aggregation pass (it is the
    // jaccard denominator) — a separate sizes groupBy would re-shuffle
    // the whole shingle relation for one count
    val aggs = hashParams.take(numHashes).zipWithIndex.map { case ((a, b), j) =>
      min((hp * a + b) % P).as(s"sig$j")
    } :+ count(lit(1)).as("sz")
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, k1, k2) band keys from a minhash signature frame:
    * each band's 4 sigs (< P < 2^31) pack into two BIGINT join keys
    * (s0·P+s1, s2·P+s3), so every candidate join shuffles 16 bytes per
    * band row, no string keys anywhere. Shared by the full self-join
    * detector and the incremental (new-batch) variant.
    */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until r).map(i => col(s"sig${b * r + i}"))
      val k1 = parts(0) * P + parts(1)
      val k2 = parts(2) * P + parts(3)
      struct(lit(b).as("band"), k1.as("k1"), k2.as("k2"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
  }

  /** MinHash+LSH candidate pairs with verified Jaccard. bands=4 bands of
    * r=4 rows over 16 hashes; a pair is a candidate iff all 4 sigs of
    * some band agree. Each band's 4 sigs (< P < 2^31) pack into two
    * BIGINT join keys (s0*P+s1, s2*P+s3) — the candidate join shuffles
    * 16 bytes per band row, no string keys anywhere. Output is fully
    * deterministic: candidates are a pure function of the md5-derived
    * minhashes, and the verified jaccard of integer set sizes.
    */
  def minhashLsh(spark: SparkSession, dir: String, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      maxDf: Long = DefaultMaxDf): DataFrame =
    minhashLshOf(Tables.widened(spark, Tables.documents(spark, dir)),
      n, numHashes, bands, maxDf)

  /** (doc_id, rep) with rep = the smallest doc_id among byte-identical
    * texts: the degenerate-corpus guard for the pair generators.
    * Identical texts have identical shingle sets, minhash signatures,
    * and band keys, so a feed of B copies of one document puts B rows
    * in every one of its band buckets — an O(B²) candidate blowup that
    * no df cap sees (the cap keys on shingles, not docs). Collapsing
    * banding to one representative per group makes that cost O(B), and
    * expanding results back through the groups is exact, not an
    * approximation. The mapping shuffles (doc_id, md5) rows only —
    * text bodies never move.
    */
  private[graft] def exactRepOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit("<null>"))).as("tkey"))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("tkey")))
      .select(col("doc_id"), col("rep"))
  }

  /** Rep-level LSH candidate pairs (band-key equi-join over one doc per
    * exact-duplicate group) plus the shared intermediates. Shingles
    * still cover every doc — the df cap must count duplicates exactly
    * as an unguarded run would — but only representatives are
    * signature-aggregated and enter the band join. Exposed for the
    * degeneracy spec, which asserts a feed of N identical docs yields
    * zero candidates here rather than N²/2.
    */
  private[graft] def lshCandidates(docs: DataFrame, n: Int,
      numHashes: Int, bands: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes == bands * 4,
      s"band-key packing assumes r=4 rows per band; got numHashes=$numHashes, bands=$bands")
    // Eager materialization, not cache(): these frames are read by
    // several INDEPENDENT jobs (broadcast builds run concurrently on
    // separate threads), and a lazily-populated cache lets every one
    // of them recompute the md5-heavy shingle scan before the first
    // materialization lands (measured: 8-10 duplicate document scans
    // per run at sf0.1). The exact-rep window and the shingle explode
    // are themselves independent document scans, so their two
    // materialization jobs run CONCURRENTLY (guide §2.6) instead of
    // back to back; the signature aggregate needs both and follows.
    val Seq(members, sh) = materializeAll(
      () => exactRepOf(docs), () => shingleSetOf(docs, n))
    val repIds = members.filter($"doc_id" === $"rep").select($"doc_id")
    val sigs = minhashSigs(sh.join(repIds, "doc_id"), numHashes).materialized
    val banded = bandKeys(sigs, numHashes, bands)
    val cand = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.k1" === $"y.k1" && $"x.k2" === $"y.k2" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    (members, cand, sh, sigs)
  }

  /** Expand rep-level verified pairs back through the exact groups.
    * Inter-group: every member pair inherits its reps' verified jaccard
    * (identical texts have identical capped shingle sets), re-normalized
    * with least/greatest because member ids need not order like their
    * reps. Intra-group: two identical docs score kept/(2·sz − kept)
    * where kept is the doc's post-cap shingle count — exactly what
    * verifying the pair directly computes (capped common = kept), and
    * exactly 1.0 when nothing was capped; a fully-capped doc (kept = 0)
    * emits nothing, matching the unguarded inner join on common
    * shingles.
    */
  private def expandThroughGroups(repPairs: DataFrame, members: DataFrame,
      sh: DataFrame, sigs: DataFrame, maxDf: Long): DataFrame = {
    val spark = repPairs.sparkSession
    import spark.implicits._
    val m = members.select($"doc_id", $"rep")
    val inter = repPairs
      .join(m.select($"doc_id".as("da"), $"rep".as("doc_a")), "doc_a")
      .join(m.select($"doc_id".as("db"), $"rep".as("doc_b")), "doc_b")
      .select(least($"da", $"db").as("doc_a"),
        greatest($"da", $"db").as("doc_b"), $"jaccard")
    val multiReps = m.groupBy($"rep").agg(count(lit(1)).as("gsz"))
      .filter($"gsz" > 1).select($"rep".as("doc_id"))
    val selfJ = capDf(sh, maxDf).join(multiReps, "doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("kept"))
      .join(sigs.select($"doc_id", $"sz"), "doc_id")
      .select($"doc_id".as("rep"),
        ($"kept".cast("double") / ($"sz" * 2 - $"kept")).as("jaccard"))
    val intra = m.as("p").join(m.as("q"),
        $"p.rep" === $"q.rep" && $"p.doc_id" < $"q.doc_id")
      .select($"p.rep".as("rep"), $"p.doc_id".as("doc_a"),
        $"q.doc_id".as("doc_b"))
      .join(selfJ, "rep")
      .select($"doc_a", $"doc_b", $"jaccard")
    inter.unionByName(intra)
  }

  /** [[minhashLsh]] over an arbitrary (doc_id, text) relation:
    * unordered (doc_a, doc_b, jaccard) pairs with doc_a < doc_b.
    */
  def minhashLshOf(docs: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val (members, cand, sh, sigs) = lshCandidates(docs, n, numHashes, bands)
    val repPairs = verifyCandidates(cand, sh, sigs, maxDf)
    expandThroughGroups(repPairs, members, sh, sigs, maxDf)
  }

  /** Verify ONLY candidate pairs (this is the point of LSH: the
    * all-pairs shared-shingle join never happens). Candidates are few,
    * so the shingle joins touch O(|cand| * shingles/doc) rows — and
    * the df cap bounds the (doc, h)-keyed match side the same way it
    * bounds the jaccard inverted index.
    */
  private def verifyCandidates(cand: DataFrame, sh: DataFrame,
      sigs: DataFrame, maxDf: Long): DataFrame =
    verifyCapped(cand, capDf(sh, maxDf), sigs)

  /** [[verifyCandidates]] with the df cap already applied — the entry
    * point for callers that maintain the hot set incrementally.
    */
  private def verifyCapped(cand: DataFrame, shc: DataFrame,
      sigs: DataFrame): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val sizes = sigs.select($"doc_id", $"sz")
    val common = cand
      .join(shc.select($"doc_id".as("doc_a"), $"h"), Seq("doc_a"))
      .join(shc.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("common"))
    jaccardOf(spark, common, sizes)
  }

  /** INCREMENTAL near-dup detection — the shape a production corpus
    * actually runs day to day: a new ingest batch is checked against
    * the standing corpus (and itself) without ever re-joining the
    * standing corpus against itself. The candidate join is
    * new-side × all-sides on the same packed band keys, so its cost is
    * O(|new| · bands) probe rows against the (bucketed, incrementally
    * maintainable) band index — at 100 TB the daily batch is GBs, not
    * the corpus. Emits exactly the [[minhashLsh]] pairs that touch at
    * least one new document, with identical verified jaccards; pair
    * orientation is normalized (least, greatest) because the new doc
    * may be either side.
    */
  def minhashIncremental(spark: SparkSession, dir: String,
      newMod: Long = 10L, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxDf: Long = DefaultMaxDf): DataFrame =
    minhashIncrementalOf(Tables.widened(spark, Tables.documents(spark, dir)),
      col("doc_id") % newMod === 0, n, numHashes, bands, maxDf)

  /** [[minhashIncremental]] over any (doc_id, text) relation; `isNew`
    * is a predicate over doc_id marking the fresh batch.
    */
  def minhashIncrementalOf(docs: DataFrame, isNew: Column, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      maxDf: Long = DefaultMaxDf): DataFrame =
    minhashIncrementalCore(docs, _.filter(isNew), n, numHashes, bands, maxDf)

  /** [[minhashIncrementalOf]] with the fresh batch given as a
    * (doc_id) RELATION instead of a Column predicate — the shape a
    * streaming ingest actually has (this batch's ids are a DataFrame,
    * not a literal list; `isin` over thousands of ids would not plan).
    * The probe side is a semi-join against the id relation, which
    * Spark broadcasts when the batch is small — identical output to
    * the predicate form for the same membership.
    */
  def minhashIncrementalIdsOf(docs: DataFrame, newIds: DataFrame,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val ids = newIds.select(col("doc_id"))
    minhashIncrementalCore(docs, _.join(ids, Seq("doc_id"), "left_semi"),
      n, numHashes, bands, maxDf)
  }

  /** Incrementally-maintained MinHash band index: the materialized
    * shingles, signatures, and band keys of the corpus indexed so far.
    * This is the state a day-2 deduplication service actually keeps —
    * the corpus TEXT is read exactly once, when a document first
    * arrives; every later batch only shingles ITSELF and probes /
    * extends these three relations. At 100 TB each is a bucketed table
    * keyed by doc_id (sh, sigs) / band key (banded); here they are
    * lineage-truncated DataFrames.
    */
  final case class MinhashIndex private[operators] (
      sh: DataFrame, sigs: DataFrame, banded: DataFrame, hot: DataFrame,
      n: Int, numHashes: Int, bands: Int, maxDf: Long)

  /** Build the index over a standing corpus — the one-time backfill.
    * The df > maxDf hot-shingle set is part of the maintained state:
    * the census over the standing corpus runs HERE, once, instead of
    * being re-aggregated from the whole accumulated shingle relation
    * on every probe batch.
    */
  def buildIndex(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, maxDf: Long = DefaultMaxDf): MinhashIndex = {
    require(numHashes == bands * 4,
      s"band-key packing assumes r=4 rows per band; got numHashes=$numHashes, bands=$bands")
    val sh = shingleSetOf(docs, n).materialized
    // sigs and hot are independent aggregates over the materialized
    // shingles — overlap their materialization jobs (guide §2.6)
    val Seq(sigs, hot) = materializeAll(
      () => minhashSigs(sh, numHashes), () => hotSet(sh, maxDf))
    // banded is a pure explode/projection of the checkpointed sigs —
    // recomputing it per probe is one cheap narrow pass, so an eager
    // materialization job here buys nothing
    val banded = bandKeys(sigs, numHashes, bands)
    MinhashIndex(sh, sigs, banded, hot, n, numHashes, bands, maxDf)
  }

  /** Probe the index with a fresh (doc_id, text) batch and fold the
    * batch in: returns (verified pairs touching the batch, extended
    * index). Only the BATCH is shingled and signed; the probe is
    * batch-bands × index-bands on the packed keys, so per-batch cost
    * is O(|batch| · bands) probe rows plus the candidate-bounded
    * verify — the standing corpus text is never re-read and never
    * self-joins. The df-cap hot set is maintained INCREMENTALLY: df
    * only grows, so the accumulated hot set is the carried one plus
    * the batch shingles whose index-df + batch-df now exceed the cap —
    * an index lookup filtered to the batch's (broadcast) shingles,
    * never a corpus-wide census shuffle per batch. Emits each
    * qualifying pair exactly once across a batch sequence: in the
    * batch where its later member arrives (per-batch row order is
    * unspecified; callers that need an order sort the accumulated
    * output).
    */
  def probeAndExtend(idx: MinhashIndex, batch: DataFrame): (DataFrame, MinhashIndex) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val shB = shingleSetOf(batch, idx.n).materialized
    // the batch signatures and the hot-set extension are INDEPENDENT
    // aggregates over the checkpointed batch shingles — their two
    // materialization jobs overlap (guide §2.6) instead of running
    // back to back inside every trigger
    val Seq(sigsB, hotAll) = materializeAll(
      () => minhashSigs(shB, idx.numHashes),
      () => {
        // only shingles PRESENT in the batch can newly cross the
        // cap, so the index df lookup scans idx.sh once,
        // restricted to the batch's shingles; the aggregate's
        // shuffle is batch-shingle-sized. dfB is a tiny aggregate
        // over the checkpointed batch shingles — recomputed by its
        // two consumers rather than paying another eager job
        val dfB = shB.groupBy($"h").agg(count(lit(1)).as("df_b"))
        val dfIdx = idx.sh
          .join(broadcast(dfB.select($"h")), Seq("h"), "left_semi")
          .groupBy($"h").agg(count(lit(1)).as("df_i"))
        val newHot = dfB.join(dfIdx, Seq("h"), "left")
          .filter($"df_b" + coalesce($"df_i", lit(0L)) > idx.maxDf)
          .select($"h")
        idx.hot.unionByName(newHot).distinct()
      })
    // lazy projection over checkpointed sigsB (see buildIndex)
    val bandedB = bandKeys(sigsB, idx.numHashes, idx.bands)
    // accumulated relations stay unions of checkpointed parts: each
    // part is already materialized, so no per-batch O(corpus) re-copy
    val allBanded = idx.banded.union(bandedB)
    val cand = bandedB.as("x").join(allBanded.as("y"),
        $"x.band" === $"y.band" && $"x.k1" === $"y.k1" && $"x.k2" === $"y.k2" &&
          $"x.doc_id" =!= $"y.doc_id")
      .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"))
      .distinct()
    val shAll = idx.sh.union(shB)
    val sigsAll = idx.sigs.union(sigsB)
    val pairs = verifyCapped(cand, applyCap(shAll, hotAll), sigsAll)
    (pairs, MinhashIndex(shAll, sigsAll, allBanded, hotAll,
      idx.n, idx.numHashes, idx.bands, idx.maxDf))
  }

  /** Shared core: `probe` selects the new-side band rows; everything
    * else (signatures, band join, candidate verify) is common to the
    * predicate and relation entry points.
    */
  private def minhashIncrementalCore(docs: DataFrame,
      probe: DataFrame => DataFrame, n: Int, numHashes: Int, bands: Int,
      maxDf: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes == bands * 4,
      s"band-key packing assumes r=4 rows per band; got numHashes=$numHashes, bands=$bands")
    val sh = shingleSetOf(docs, n).materialized
    val sigs = minhashSigs(sh, numHashes).materialized
    val banded = bandKeys(sigs, numHashes, bands)
    val cand = probe(banded).as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.k1" === $"y.k1" && $"x.k2" === $"y.k2" &&
          $"x.doc_id" =!= $"y.doc_id")
      .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(cand, sh, sigs, maxDf)
  }

  /** Hard cap on label-propagation rounds — a runaway guard, not a
    * tuning knob: [[clustersOf]] stops at its DETECTED fixed
    * point, and with the pointer-jumping step each round roughly
    * doubles the hop distance a label has travelled, so 50 rounds
    * covers components of diameter ~2^49 — i.e. any graph that can
    * physically exist.
    */
  val MaxClusterRounds = 50

  /** Near-duplicate CLUSTER resolution: pair lists (from any of the
    * dedup detectors) are only half the job — keeping one document per
    * duplicate GROUP needs the transitive closure. Computed as
    * min-label propagation (the CCF / large-star shape): every node
    * starts as its own label; each round, a node takes the min label
    * among itself and its neighbors; at the fixed point each node's
    * label is the smallest doc_id in its component — the canonical
    * keeper. Each round is one partial-aggregatable (dst, min(label))
    * shuffle over the EDGE list, which is candidate-bounded by
    * construction, so the whole pass scales with the number of
    * near-dup pairs, not the corpus.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
      maxRounds: Int = MaxClusterRounds): DataFrame =
    clustersOf(
      minhashLshOf(Tables.widened(spark, Tables.documents(spark, dir)))
        .select(col("doc_a"), col("doc_b")),
      maxRounds)

  /** One propagation round: every node takes the min label among its
    * in-neighbors on the symmetric+self-loop edge list. Kept as its
    * own method so the plan-shape spec audits exactly the stage the
    * loop repeats (partial-aggregated equi join, never cartesian).
    */
  private[graft] def propagateRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels, col("src") === col("node"))
      .groupBy(col("dst")).agg(min(col("label")).as("label"))
      .select(col("dst").as("node"), col("label"))

  /** [[nearDupClusters]] over any (doc_a, doc_b) pair relation,
    * iterated to a DETECTED fixed point rather than a fixed unroll —
    * a fixed round count silently under-merges any component whose
    * diameter exceeds it, and diameter is data-dependent at scale.
    *
    * Each round is neighbor-min propagation followed by one POINTER
    * JUMP (a node re-reads the label of its own label — both steps
    * keep every label ≤ the node and inside its component), so the
    * hop distance a label has travelled roughly doubles per round:
    * convergence in O(log diameter) rounds, the PRAM
    * pointer-doubling / CCF bound, instead of O(diameter) — at 100 TB
    * a duplicate chain of 10^4 documents resolves in ~15 rounds, not
    * 10^4.
    *
    * Detection is one tiny aggregate per round, no join against the
    * previous labels: both steps can only ever DECREASE a label, so
    * the exact integer label sum is a strictly monotone potential —
    * an unchanged sum IS the fixed point. The sum runs over the
    * round's already-materialized checkpoint (decimal(38,0): sums of
    * 10^9 vertices × 10^10 ids overflow a long, never a 38-digit
    * decimal).
    */
  def clustersOf(pairs: DataFrame,
      maxRounds: Int = MaxClusterRounds): DataFrame =
    clustersCounted(pairs, maxRounds)._1

  /** [[clustersOf]] plus the number of propagation rounds actually
    * executed (spec hook for convergence assertions).
    */
  private[graft] def clustersCounted(pairs: DataFrame,
      maxRounds: Int = MaxClusterRounds): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialize the pair list ONCE and drop its lineage: verts, the
    // symmetric edge list, and the initial labels all re-read this
    // relation, and without truncation every read re-runs the entire
    // upstream detector (minhash: shingle → signature → band join →
    // verify) — measured as ~4× the detector's cost inside one query
    // in the round-4 bench. The pair list itself is candidate-bounded
    // and tiny relative to the corpus, so the checkpoint is cheap.
    val e = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .materialized
    val verts = e.select($"src".as("id"))
      .union(e.select($"dst".as("id"))).distinct()
    val sym = e
      .union(e.select($"dst".as("src"), $"src".as("dst")))
      .union(verts.select($"id".as("src"), $"id".as("dst")))
      .cache()
    def labelSum(df: DataFrame): BigDecimal = {
      val s = df.agg(sum($"label".cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) BigDecimal(0) else BigDecimal(s)
    }
    // The convergence sum rides ON the job that materializes each
    // round's checkpoint (Dataset.observe → CollectMetrics): one
    // driver action per round instead of two. Rounds are latency-bound
    // at any scale (per-round data is pair-bounded), so the former
    // separate labelSum job was pure added round-trip latency. The
    // observed metric is the exact integer decimal sum — identical to
    // labelSum's value. obsSum waits with a generous timeout and
    // falls back to the direct aggregate if the metric somehow never
    // lands (it fires on eager checkpoints — verified — but
    // convergence must not hinge on a listener delivery).
    def obsSum(obs: org.apache.spark.sql.Observation): Option[BigDecimal] =
      try {
        import scala.concurrent.duration._
        val s = scala.concurrent.Await.result(obs.future, 30.seconds)
          .getAs[java.math.BigDecimal]("s")
        Some(if (s == null) BigDecimal(0) else BigDecimal(s))
      } catch { case _: java.util.concurrent.TimeoutException => None }
    def observed(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation(
        s"cluster_round_${java.util.UUID.randomUUID()}")
      (df.observe(obs, sum($"label".cast("decimal(38,0)")).as("s")), obs)
    }
    // one round: neighbor-min propagation + pointer jump, materialized.
    // The jump re-reads the (previous, checkpointed) label OF the
    // label. Every propagated label IS a node of the labels frame
    // (propagation mins over existing labels; the self-loop keeps
    // every node present), so the inner join is total, and
    // l_prev(x) <= x keeps the step monotone and in-component. If a
    // label has travelled k hops, propagate makes it k+1 and the jump
    // composes another k: reach ~doubles per round — this is what
    // turns O(diameter) rounds into O(log diameter). The checkpoint
    // truncates lineage between rounds (the GraphFrames iterative
    // idiom): without it every round replans, re-codegens, and re-runs
    // AQE over all prior rounds' stages.
    var rounds = 0
    var converged = false
    val (init, obs0) = observed(
      verts.select($"id".as("node"), $"id".as("label")))
    var labels = init.materialized
    var prevSum = obsSum(obs0).getOrElse(labelSum(labels))
    while (!converged && rounds < maxRounds) {
      val prop = propagateRound(sym, labels)
      val jumped = prop.as("c").join(labels.as("p"), $"c.label" === $"p.node")
        .select($"c.node".as("node"), $"p.label".as("label"))
      val (obsd, obs) = observed(jumped)
      labels = obsd.materialized
      rounds += 1
      val s = obsSum(obs).getOrElse(labelSum(labels))
      converged = s == prevSum
      prevSum = s
    }
    // the cap is a runaway guard, not a tuning knob: exiting on it
    // would silently return under-merged labels — the failure mode the
    // detected fixed point exists to eliminate. Unreachable with
    // pointer jumping (maxRounds=50 covers diameter ~2^49), so if it
    // ever fires something is genuinely broken — fail loudly.
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge in $maxRounds rounds")
    (labels.select($"node".as("doc_id"), $"label".as("cluster_id")), rounds)
  }

  /** Per-near-dup-cluster BEST-QUALITY keeper — the production keeper
    * policy ([[exactDedupOf]]'s min-id rule is only right when the
    * duplicates are byte-identical; near-dup members differ, and a
    * pipeline keeps the best copy, not the first). Members of each
    * resolved cluster rank by (quality DESC, doc_id ASC); the winner
    * is picked by ONE partial-aggregatable struct-max per cluster —
    * `max(struct(quality, -doc_id))` compares field-by-field, so the
    * exact quality double decides and the negated id breaks ties
    * toward the smallest doc_id, with no window, no sort, no
    * per-cluster state beyond one struct. Quality is the
    * already-oracle-checked [[graft.functions.TextFns.qualityScore]],
    * bit-identical in both engines, so the argmax is engine-identical
    * too. Singletons (docs in no pair) are not cluster members and do
    * not appear — they need no keeper decision.
    */
  def clusterBestKeeper(spark: SparkSession, dir: String): DataFrame =
    clusterBestKeeperOf(nearDupClusters(spark, dir),
      Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[clusterBestKeeper]] over any (doc_id, cluster_id) membership
    * and (doc_id, text) relation.
    */
  def clusterBestKeeperOf(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val spark = clusters.sparkSession
    import spark.implicits._
    val quality = docs
      .select($"doc_id", TextFns.qualityScore($"text").as("quality"))
    clusters.join(quality, Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"quality", (-$"doc_id").as("neg_id"))).as("best"))
      .select($"cluster_id", (-$"best.neg_id").as("keeper"),
        $"best.quality".as("quality"), $"n_members")
  }

  /** Benchmark decontamination — the standard pretraining hygiene
    * pass: flag corpus documents sharing at least one word n-gram
    * (default 8, the common contamination shingle size) with a
    * benchmark/holdout set, reporting how many of the document's
    * distinct shingles are contaminated. The benchmark shingle set is
    * tiny at any corpus scale (eval sets are MBs against TBs), so it
    * BROADCASTS — the corpus side is scanned once and never shuffled
    * before the per-doc count.
    */
  def decontaminateOf(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8): DataFrame = {
    val corpusSh = shingleSetOf(docs, n)
    val benchSh = shingleSetOf(benchmark, n).select(col("h")).distinct()
    corpusSh.join(broadcast(benchSh), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
  }

  /** Driver form: documents with doc_id % benchMod == 0 stand in for
    * the held-out benchmark, the rest are the training corpus.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8,
      benchMod: Long = 49L): DataFrame = {
    val d = Tables.widened(spark, Tables.documents(spark, dir))
    decontaminateOf(
      d.filter(col("doc_id") % benchMod =!= 0),
      d.filter(col("doc_id") % benchMod === 0), n)
  }

  /** Bloom-filter size/probes for [[decontaminateBloomOf]]: m bits as
    * 64-bit words, 2 probes from independent affine hashes over the
    * [[P]] universe (products stay < 2^62, overflow-free in both
    * engines). 2^16 bits keeps the false-positive rate < 1e-4 up to
    * ~300 benchmark shingles per 1e4 bits; callers with bigger
    * benchmarks raise `mBits`.
    */
  val BloomProbeParams: Seq[(Long, Long)] =
    Seq((981272653L, 12345L), (1327217885L, 67890L))

  private[graft] def bloomPos(h: Column, a: Long, b: Long, mBits: Int): Column =
    ((h % P) * a + b) % P % mBits

  /** Driver-side mirror of [[bloomPos]] ∘ hash60 for metadata-sized
    * planning (e.g. probing per-file Bloom indexes with a handful of
    * target keys): md5 → first 15 hex digits → 60-bit long, then the
    * same affine probe — bit-identical to the Column form.
    */
  private[graft] def hash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
  private[graft] def bloomPosLocal(h: Long, a: Long, b: Long, mBits: Int): Long =
    ((h % P) * a + b) % P % mBits

  /** Single-bit longs indexed by (pos & 63): a 64-entry literal lookup
    * replaces the dynamic shift (functions.shiftleft takes only a
    * constant shift) and keeps the whole probe integral in codegen.
    */
  private def bitOf(pos: Column): Column =
    element_at(typedLit((0 until 64).map(1L << _)),
      pos.bitwiseAND(63L).cast("int") + 1)

  /** Distributed Bloom build over a single-column relation `keys("h")`
    * of 60-bit hashes: probe positions → per-word `bit_or` (one
    * partial-aggregatable shuffle of <= mBits/64 rows), collected as
    * the words array — the broadcast-quantizer pattern: m/64 longs on
    * the driver, never the keys. Shared by decontamination and the
    * runtime-filter join reduction.
    */
  def bloomWordsOf(keys: DataFrame, mBits: Int): Array[Long] = {
    val spark = keys.sparkSession
    import spark.implicits._
    require(mBits % 64 == 0, "mBits must be 64-aligned")
    // one scan, not k: the k probe positions of one key are a
    // projection of the same row — explode them out of a single pass
    // instead of a union that re-runs the upstream per hash function
    val positions = keys.select(explode(array(
      BloomProbeParams.map { case (a, b) =>
        bloomPos($"h", a, b, mBits)
      }: _*)).as("pos"))
    val words = positions
      .select(shiftrightunsigned($"pos", 6).as("w"), bitOf($"pos").as("bit"))
      .groupBy($"w").agg(expr("bit_or(bit)").as("bits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // bounded: mBits/64 words
    Array.tabulate(mBits / 64)(i => words.getOrElse(i.toLong, 0L))
  }

  /** Membership probe over a built [[bloomWordsOf]] array, as a codegen
    * boolean column. No false negatives by construction; the
    * false-positive rate is set by mBits vs the key count.
    */
  def bloomHit(bitset: Array[Long], h: Column, mBits: Int): Column = {
    val bitsLit = typedLit(bitset.toSeq)
    BloomProbeParams.map { case (a, b) =>
      val pos = bloomPos(h, a, b, mBits)
      (element_at(bitsLit, shiftrightunsigned(pos, 6).cast("int") + 1)
        .bitwiseAND(bitOf(pos)) =!= 0L)
    }.reduce(_ && _)
  }

  /** Bloom-prefiltered decontamination — bit-identical output to
    * [[decontaminateOf]], built for the regime where the benchmark
    * shingle set is too large to broadcast as an equality set (an
    * exact set of 1e9 shingles is tens of GB; its Bloom filter at
    * 10 bits/key is ~1 GB of longs). The corpus side is cut to Bloom
    * survivors — true matches plus the filter's small false-positive
    * mass — BEFORE the only shuffle, then a shuffle hash join against
    * the exact benchmark set removes the false positives. Lossless by
    * construction (Bloom filters have no false negatives), so the
    * oracle is decontaminate's own SQL.
    */
  def decontaminateBloomOf(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, mBits: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchSh = shingleSetOf(benchmark, n).select($"h").distinct()
      .materialized
    val bitset = bloomWordsOf(benchSh, mBits)
    val survivors = shingleSetOf(docs, n).filter(bloomHit(bitset, $"h", mBits))
    // exact verify: shuffle hash join (NOT broadcast — the premise is
    // a benchmark beyond broadcast size; survivors are already a tiny
    // fraction of the corpus, so both shuffle sides are small)
    survivors.join(benchSh.hint("shuffle_hash"), Seq("h"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
  }

  /** Driver form of [[decontaminateBloomOf]] — same corpus/benchmark
    * split as [[decontaminate]], same rows out.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 8,
      benchMod: Long = 49L): DataFrame = {
    val d = Tables.widened(spark, Tables.documents(spark, dir))
    decontaminateBloomOf(
      d.filter(col("doc_id") % benchMod =!= 0),
      d.filter(col("doc_id") % benchMod === 0), n)
  }

  /** Cross-document duplicate n-gram SPAN coverage — the
    * substring-level dedup signal (word-8-gram granularity): for each
    * document, how many of its token positions sit inside at least one
    * n-gram that also occurs in a DIFFERENT document. Pipelines use
    * the fraction to route documents to span-removal vs whole-doc
    * drop.
    *
    * Dataflow: positional grams (one projection, the explode multiplies
    * rows not bytes), gram document-frequency on the 8-byte hash
    * (partial-aggregatable), duplicated grams join back on the hash —
    * corpus-scale shuffle on integer keys only — then per-doc interval
    * union via LEAD over (doc, pos): covered = Σ min(n, next_pos − pos)
    * with the last interval contributing n. The window is per-document
    * (bounded), never global. Integer output; the fraction is one IEEE
    * divide.
    */
  def dupSpanCoverage(spark: SparkSession, dir: String, n: Int = 8)
      : DataFrame =
    dupSpanCoverageOf(Tables.widened(spark, Tables.documents(spark, dir)), n)

  /** [[dupSpanCoverage]] over an arbitrary (doc_id, text) relation. */
  def dupSpanCoverageOf(docs: DataFrame, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = TextFns.tokens($"text")
    val base = docs.select($"doc_id", size(t).as("n_tokens"))
    // positional grams for docs long enough to have one (short docs
    // have no n-gram and so zero coverage by definition)
    val grams = docs.filter(size(t) >= n)
      .select($"doc_id", posexplode(transform(
        sequence(lit(1), size(t) - lit(n - 1)),
        i => hash60(concat_ws(" ", slice(t, i, lit(n)))))))
      .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("h"))
    val dupGrams = grams.select($"doc_id", $"h").distinct()
      .groupBy($"h").agg(count(lit(1)).as("dfh"))
      .filter($"dfh" >= 2).select($"h")
    val dupPos = grams.join(dupGrams, Seq("h"))
      .select($"doc_id", $"pos")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val cov = dupPos
      .withColumn("gap", coalesce(lead($"pos", 1).over(w) - $"pos", lit(n)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(least($"gap", lit(n))).as("covered_tokens"))
    base.join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_dup_grams", lit(0L)).as("n_dup_grams"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
        (coalesce($"covered_tokens", lit(0L)).cast("double") / $"n_tokens")
          .as("covered_frac"))
  }

  /** (doc_id, token-hash) pairs with multiplicity — the simhash
    * feature bag (classic simhash weights bits by term frequency, so
    * no distinct: the only shuffle left is the partial-aggregatable
    * signature groupBy).
    */
  private def tokenHashesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .select(col("doc_id"), hash60(col("w")).as("h"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Classic Charikar simhash over the token MULTISET — the sign-sums
    * are term-frequency-weighted (a token occurring 3× contributes ±3),
    * matching [[tokenHashes]] and the oracle, which deliberately keep
    * multiplicity: bit b of a doc's signature is the sign of
    * Σ_occurrences (±1 by bit b of the token hash). All `bits`
    * sign-sums compute in ONE partial-aggregatable
    * groupBy pass (pure integer codegen, like the minhash mins), so
    * signature cost is O(tokens), independent of pair count. Candidate
    * pairs come from 4×8-bit band equality — by pigeonhole any pair
    * within Hamming distance 3 of a 32-bit signature agrees on at
    * least one band — then one xor+bit_count verifies the distance.
    */
  /** Simhash geometry: 60 signature bits (the full h60 width — every
    * bit of the token hash is md5-unbiased) in 4 bands of 15; shared
    * with the oracle generator.
    */
  val SimhashBits = 60
  val SimhashBands = 4

  /** (doc_id, simhash) signatures — one partial-aggregatable pass.
    * Branchless: the per-bit sign-sum Σ±1 equals 2·popcount − n, so
    * each aggregate is a plain `sum((h >> b) & 1)` and the sign test
    * becomes the integer comparison 2·pop_b >= n.
    */
  private[graft] def simhashSignatures(spark: SparkSession, dir: String,
      bits: Int = SimhashBits): DataFrame =
    simhashSignaturesOf(
      Tables.widened(spark, Tables.documents(spark, dir)), bits)

  private[graft] def simhashSignaturesOf(docs: DataFrame,
      bits: Int = SimhashBits): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = tokenHashesOf(docs)
    val pops = (0 until bits).map(b =>
      sum(shiftright($"h", b).bitwiseAND(lit(1L))).as(s"p$b"))
    val aggs = pops :+ count(lit(1)).as("n")
    val sh = (0 until bits)
      .map(b => when(col(s"p$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", sh.as("simhash"))
  }

  def simhash(spark: SparkSession, dir: String, bits: Int = SimhashBits,
      bands: Int = SimhashBands, maxHamming: Int = 3): DataFrame =
    simhashOf(Tables.widened(spark, Tables.documents(spark, dir)),
      bits, bands, maxHamming)

  /** [[simhash]] over an arbitrary (doc_id, text) relation. */
  def simhashOf(docs: DataFrame, bits: Int = SimhashBits,
      bands: Int = SimhashBands, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(bits % bands == 0 && bits <= 60,
      s"bits ($bits) must be a multiple of bands ($bands) and <= the 60-bit hash width")
    require(maxHamming <= bands - 1,
      s"banding is only complete for hamming <= bands-1 (pigeonhole); got maxHamming=$maxHamming, bands=$bands")
    val bandBits = bits / bands
    val sig = simhashSignaturesOf(docs, bits).materialized
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      shiftright($"simhash", b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1)).as("key")))
    val banded = sig.select($"doc_id", explode(array(bandCols: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cand = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    cand
      .join(sig.select($"doc_id".as("doc_a"), $"simhash".as("sa")), "doc_a")
      .join(sig.select($"doc_id".as("doc_b"), $"simhash".as("sb")), "doc_b")
      .select($"doc_a", $"doc_b",
        bit_count($"sa".bitwiseXOR($"sb")).as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  /** Semantic dedup keeper — the cross-modal composition that makes
    * the embedding pipeline end in the same production decision as the
    * text pipeline: SRP-banded embedding near-dup pairs
    * ([[embeddingNearDupLshOf]], the scale path) resolve to clusters
    * via the detected-fixpoint pointer jumping ([[clustersOf]]),
    * and each cluster keeps its best-quality document via the same
    * struct-max argmax as [[clusterBestKeeperOf]]. The corpus contract
    * declares vectors indexed by the documents' id space (vec_id ≡
    * doc_id for embedded docs — the embeddings table is the embedded
    * SUBSET), which both the query and the oracle state explicitly.
    */
  def semanticDedupKeeper(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = embeddingNearDupLshOf(
        Tables.widened(spark, Tables.embeddings(spark, dir)))
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    clusterBestKeeperOf(clustersOf(pairs),
      Tables.widened(spark, Tables.documents(spark, dir)))
  }

  /** Duplicate rate by source — the per-provider hygiene report a
    * corpus intake publishes: for each source, document count, unique
    * content count (exact md5 identity), duplicate count and the
    * integer-ppm duplicate rate. One partial-aggregatable
    * (source, md5) shuffle + a source-sized rollup.
    */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .groupBy($"source", md5($"text").as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_docs"), count(lit(1)).as("n_unique"))
      .select($"source", $"n_docs", $"n_unique",
        ($"n_docs" - $"n_unique").as("n_dups"),
        expr("(n_docs - n_unique) * 1000000 div n_docs").as("dup_rate_ppm"))
  }

  /** Lexical-vs-semantic dedup agreement — the methodology audit a
    * dataset card reports: how much of the MinHash (surface-form) pair
    * set and the embedding (semantic) pair set overlap, as exact
    * counts plus the integer-ppm Jaccard of the two pair SETS. Both
    * detectors are the engine's own oracle-checked operators; the
    * lexical side is restricted to the embedded id space so the two
    * sets range over the same documents. One number to watch in
    * production: a collapsing agreement means one detector's
    * threshold drifted.
    */
  def dedupMethodAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.embeddings(spark, dir).select($"vec_id")
    // the two detectors run FULLY independently — each build makes
    // AND materializes its pair set (guide §2.6), so the whole
    // candidate-join + verify cost of both detectors overlaps; the
    // agreement aggregate below then folds two tiny checkpointed pair
    // relations. (Without the checkpoint the two detector pipelines
    // evaluated inside the final aggregate's one job, where their
    // stages largely serialized behind the union.) Results are
    // unchanged.
    val Seq(lex, sem) = materializeAll(
      () => minhashLshOf(
          Tables.widened(spark, Tables.documents(spark, dir)))
        .select($"doc_a", $"doc_b")
        .join(ids.select($"vec_id".as("doc_a")), Seq("doc_a"), "left_semi")
        .join(ids.select($"vec_id".as("doc_b")), Seq("doc_b"), "left_semi")
        .select($"doc_a", $"doc_b"),
      () => embeddingNearDupLshOf(
          Tables.widened(spark, Tables.embeddings(spark, dir)))
        .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
    // ONE action over a tagged union: each detector's (expensive) pair
    // pipeline evaluates exactly once — the former count()/count()/
    // join().count() sequence re-ran MinHash and SRP twice each
    // (measured 14 s -> this shape at sf0.1)
    val tagged = lex.select($"doc_a", $"doc_b", lit(1L).as("l"), lit(0L).as("s"))
      .unionByName(sem.select($"doc_a", $"doc_b", lit(0L).as("l"),
        lit(1L).as("s")))
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"l").as("l"), max($"s").as("s"))
    tagged.agg(sum($"l").as("n_lexical"), sum($"s").as("n_semantic"),
        sum($"l" * $"s").as("n_both"))
      .select($"n_lexical", $"n_semantic", $"n_both",
        expr("(n_both * 1000000) div (n_lexical + n_semantic - n_both)")
          .as("jaccard_ppm"))
  }

  /** Embedding cosine near-dup pairs >= minCos. Norms are precomputed
    * per vector (one pass) so the pair loop does a single dot product.
    * Brute-force all-pairs is the verification baseline; the scale path
    * is Similarity.ivfTopK's bucketing.
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
      minCos: Double = 0.4): DataFrame =
    embeddingNearDupOf(Tables.widened(spark, Tables.embeddings(spark, dir)), minCos)

  /** [[embeddingNearDup]] over any (vec_id, embedding ARRAY<FLOAT>):
    * unordered (vec_a, vec_b, cos) pairs with vec_a < vec_b.
    */
  def embeddingNearDupOf(embeddings: DataFrame,
      minCos: Double = 0.4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    import graft.plans.FloatDotProduct.floatDot
    val e = embeddings.select($"vec_id", $"embedding".as("v"))
    val withNorm = e.withColumn("nrm", sqrt(floatDot($"v", $"v")))
    val a = withNorm.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("na"))
    val b = withNorm.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nb"))
    val dot = floatDot($"va", $"vb")
    a.join(b, $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", (dot / $"na" / $"nb").as("cos"))
      .filter($"cos" >= minCos)
  }

  /** SRP-banded embedding near-dup — the bucketed scale path that
    * [[embeddingNearDup]] is the exact baseline for, mirroring the
    * minhash pattern exactly: band-key equality generates candidates
    * (a self-join on (band, 5-bit-key) integer keys, never all pairs),
    * then one [[graft.plans.FloatDotProduct]] cosine verifies each
    * candidate. Candidate cost is O(Σ_bucket |bucket|²) per band,
    * tuned by [[Similarity.NearDupRows]] (more sign bits → smaller
    * buckets); recall at the threshold by [[Similarity.NearDupBands]].
    * Output = the subset of brute-force pairs whose vectors share at
    * least one band — deterministic, so the DuckDB oracle mirrors it
    * exactly.
    */
  def embeddingNearDupLsh(spark: SparkSession, dir: String,
      minCos: Double = 0.4): DataFrame =
    embeddingNearDupLshOf(Tables.widened(spark, Tables.embeddings(spark, dir)), minCos)

  /** [[embeddingNearDupLsh]] over any (vec_id, embedding ARRAY<FLOAT>):
    * unordered (vec_a, vec_b, cos) pairs with vec_a < vec_b.
    */
  def embeddingNearDupLshOf(embeddings: DataFrame,
      minCos: Double = 0.4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    import graft.plans.FloatDotProduct.{doubleDot, floatDot}
    // plane dots in the double domain (3-decimal plane literals are
    // parse-exact as doubles): the codegen'd double_dot fold == DuckDB
    // list_inner_product on DOUBLE[], same left-to-right accumulation.
    // All 80 dots land in one projected array, computed once per row.
    val vd = $"v".cast("array<double>")
    val dots = array(Similarity.NearDupPlanes.map(p =>
      doubleDot(vd, typedLit(p))): _*)
    val bandCols = (0 until Similarity.NearDupBands).map { b =>
      val key = (0 until Similarity.NearDupRows).map { i =>
        when(element_at($"pd", b * Similarity.NearDupRows + i + 1) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }
    val e = embeddings.select($"vec_id", $"embedding".as("v"))
    // materialize the band keys ONCE: the self-join broadcasts one side
    // and probes with the other, and a broadcast build cannot reuse the
    // probe side's exchange — without this the 80-plane-dot projection
    // evaluated twice, once per side (measured as the two dominant
    // stages of the query). The banded relation is 16 small rows per
    // vector — far narrower than the vectors themselves.
    val banded = e.select($"vec_id", dots.as("pd"))
      .select($"vec_id", explode(array(bandCols: _*)).as("bk"))
      .select($"vec_id", $"bk.band".as("band"), $"bk.key".as("key"))
      .materialized
    val cand = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
          $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"))
      .distinct()
    val withNorm = e.withColumn("nrm", sqrt(floatDot($"v", $"v")))
    cand
      .join(withNorm.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("na")), "vec_a")
      .join(withNorm.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nb")), "vec_b")
      .select($"vec_a", $"vec_b",
        (floatDot($"va", $"vb") / $"na" / $"nb").as("cos"))
      .filter($"cos" >= minCos)
  }

  /** Jaccard threshold (ppm) for [[prefixJaccardJoin]] — matches the
    * [[ngramJaccard]] family's 0.3.
    */
  val PrefixTauPpm = 300000L

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08 — public algorithms). The third member of the near-dup
    * family's candidate-generation spectrum:
    *
    *  - inverted index ([[ngramJaccard]]): exact-ish, but needs the
    *    [[DefaultMaxDf]] posting-list cap to bound hot tokens — pairs
    *    overlapping ONLY in capped tokens are lost;
    *  - MinHash LSH ([[minhashLsh]]): probabilistic recall;
    *  - prefix filtering (this): EXACT with NO df cap and no
    *    probability. Each doc indexes only its `|T| − ⌈τ·|T|⌉ + 1`
    *    globally-RAREST tokens (ascending document frequency): two
    *    sets with Jaccard ≥ τ must share at least one prefix token
    *    (pigeonhole on the ⌈τ·|T|⌉ highest-df tokens), so joining
    *    prefixes alone generates a candidate superset. High-df
    *    boilerplate tokens sort to the END of every doc and thus never
    *    enter a posting list — the hot-key blowup the df cap exists to
    *    prevent cannot occur by construction (the one degenerate case,
    *    a corpus of verbatim copies where every token is high-df, is
    *    collapsed upstream by [[exactDedup]] — same contract as the
    *    LSH path's rep-compression).
    *
    * Plan: one df aggregation (8-byte keys, partial agg), one
    * row_number window per doc (shuffle by doc_id), prefix-prefix
    * equi-join on token with the pairwise length filter
    * `min(sz)·10⁶ ≥ τppm·max(sz)` applied IN the join condition, then
    * an exact overlap verify on the full token sets (pair-bounded:
    * Σ_pairs |T_a|). All arithmetic is integer ppm — the threshold
    * boundary classifies identically in DuckDB, whose oracle is the
    * SPEC (brute inverted-index Jaccard with no prefix filter), so a
    * green hash is an end-to-end completeness proof of the filter.
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String,
      tauPpm: Long = PrefixTauPpm, n: Int = 3): DataFrame =
    prefixJaccardJoinOf(
      Tables.widened(spark, Tables.documents(spark, dir)), tauPpm, n)

  /** [[prefixJaccardJoin]] over an arbitrary (doc_id, text) relation. */
  def prefixJaccardJoinOf(docs: DataFrame, tauPpm: Long = PrefixTauPpm,
      n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // both consumers of the shingle set (dfreq and the rollup join)
    // live inside the ONE docArr plan below, whose distinct exchange
    // they share (ReusedExchange) — so the md5 pass runs once without
    // its own checkpoint; only docArr, read by three downstream
    // subtrees across independent jobs, is materialized eagerly
    val sh = shingleSetOf(docs, n)
    val dfreq = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    // ONE (doc_id)-keyed aggregation replaces the former row_number
    // window AND the token-level verify joins: each doc's tokens land
    // rarest-first (df asc, h asc — the same total order the window
    // used; equal (df, h) within a doc's distinct set is impossible,
    // so the order is total) in a single sorted array. The prefix is
    // then a slice, and the exact verify an array_intersect at the
    // PAIR level — the old plan re-shuffled candidate × token rows
    // (Σ_pairs |T|) into a groupBy; this one moves each doc's array
    // once per candidate side and intersects in place.
    val docArr = sh.join(dfreq, "h")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"h"))).as("toks"))
      .select($"doc_id",
        transform($"toks", t => t.getField("h")).as("hs"),
        size($"toks").cast("long").as("sz"))
      .materialized
    // prefix length = sz − ⌈τ·sz⌉ + 1, in exact ppm arithmetic
    // The prefix-prefix join is compute-dense (O(Σ_h df(h)²) candidate
    // rows from few input bytes), which defeats AQE's byte-based
    // coalescing — it would fold the join down to a handful of 1 MB
    // tasks and serialize the candidate generation. An explicit
    // repartition on the join key at the session's shuffle parallelism
    // (the deployment-tuned, scale-adaptive knob) pins the join's
    // width; both sides share the one exchange (self-join), so this
    // adds no shuffle.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val prefix = docArr.select($"doc_id", $"sz",
      explode(slice($"hs", lit(1),
        ($"sz" - expr(s"(sz * $tauPpm + 999999) div 1000000") + 1)
          .cast("int"))).as("h"))
      .repartition(nPart, $"h")
    // shuffle-hash, not broadcast: at scale the prefix index is far too
    // large to broadcast (Catalyst only picks BHJ here because the
    // test corpus is tiny), and the hint makes the join consume the
    // pinned-width exchange directly — both sides reuse the ONE
    // repartition above, so candidate generation runs at full width
    val cand = prefix.as("a").hint("shuffle_hash").join(prefix.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
          $"b.sz" * 1000000L >= $"a.sz" * tauPpm &&
          $"a.sz" * 1000000L >= $"b.sz" * tauPpm)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      // same pinned width for the dedup of the candidate stream — its
      // exchange is as compute-dense per byte as the join above
      .repartition(nPart, $"doc_a", $"doc_b")
      .distinct()
    // exact verify on the FULL sets — candidates × their token arrays
    cand
      .join(docArr.select($"doc_id".as("doc_a"), $"hs".as("ha"),
        $"sz".as("sza")), "doc_a")
      .join(docArr.select($"doc_id".as("doc_b"), $"hs".as("hb"),
        $"sz".as("szb")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ha", $"hb")).cast("long").as("common"),
        $"sza", $"szb")
      .select($"doc_a", $"doc_b", $"common",
        expr("common * 1000000 div (sza + szb - common)").as("jaccard_ppm"))
      .filter($"jaccard_ppm" >= tauPpm)
  }

  /** Minimum reportable shared-run length (tokens) for
    * [[substringSpans]]. Lee et al. 2022 use 50 BPE tokens against web
    * corpora; this corpus' documents average ~55 words, so the
    * operator-default K is 8 — the knob scales with the deployment's
    * document length, not with corpus size.
    */
  val SubstringMinRun = 8

  /** EXACT-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — ExactSubstr): report, per
    * document pair, every MAXIMAL run of >= K consecutive shared
    * tokens, with dropped-span accounting. The family member the
    * n-gram/MinHash/simhash/containment ops all approximate but don't
    * implement: those score whole-document set similarity; this finds
    * the literal copied SPANS (boilerplate licenses, quoted passages,
    * syndicated paragraphs) even when the enclosing documents are
    * otherwise unrelated.
    *
    * Distributed shape — bucketed anchors, never a global suffix sort
    * (the paper's single-machine suffix array does not shard; this
    * plan is the shuffle-native equivalent):
    *
    *  1. ANCHORS: every K-token window of every doc, hashed to 60 bits
    *     with its start position — O(total tokens) rows, embarrassingly
    *     parallel.
    *  2. CANDIDATES: self-join on the anchor hash (da < db). COMPLETE
    *     by pigeonhole: a shared run of R >= K tokens contains a
    *     K-window at each of its R−K+1 start offsets, each an
    *     identical anchor in both docs at aligned positions — so no
    *     anchor match implies no shared run >= K (spec'd). An
    *     occurrence cap (maxDf, oracle-mirrored) bounds any one
    *     anchor's posting list, the same hot-key guard as
    *     [[DefaultMaxDf]].
    *  3. EXTENSION, relationally: an anchor match at (pa, pb) lies on
    *     diagonal pa − pb, and a maximal run of R tokens is exactly a
    *     run of R−K+1 CONSECUTIVE anchor positions on one diagonal
    *     (runs on the same diagonal are separated by a mismatching
    *     token, hence a gap >= 2 in anchor starts) — so gaps-and-islands
    *     over (pair, diagonal, pa) recovers every maximal run and its
    *     length without ever re-reading the texts: count + K − 1.
    *  4. ACCOUNTING: `n_runs`, `longest_run`, and `dup_tokens_b` = the
    *     interval-union size of the runs over doc_b's token axis (the
    *     tokens one copy of which ExactSubstr would drop from the
    *     later doc) via a second gaps-and-islands merge.
    *
    * Every stage is a keyed shuffle or a window — no driver loop, no
    * all-pairs scan; cost is O(tokens) + O(anchor-match rows), with
    * the match rows bounded by maxDf exactly like every other posting
    * join here. The DuckDB oracle restates the same algebra, so the
    * driver check is hash-exact end to end.
    */
  def substringSpans(spark: SparkSession, dir: String,
      k: Int = SubstringMinRun, maxDf: Long = DefaultMaxDf): DataFrame =
    substringSpansOf(
      Tables.widened(spark, Tables.documents(spark, dir)), k, maxDf)

  /** The maximal-shared-run relation (da, db, sb, run_tokens) both
    * substring operators derive from: anchors → df-capped hash-bucket
    * join → per-diagonal gaps-and-islands. sb is the run's 1-based
    * start on doc_b's token axis.
    */
  private[graft] def substringRuns(docs: DataFrame, k: Int,
      maxDf: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = TextFns.tokens($"text")
    // anchors: (doc_id, pos, g) — one 60-bit hash per K-token window,
    // 1-based start position; docs shorter than K can't hold a run
    val anchors = docs
      .select($"doc_id", t.as("toks"))
      .filter(size($"toks") >= k)
      .select($"doc_id", posexplode(transform(
        sequence(lit(1), size($"toks") - lit(k - 1)),
        i => hash60(concat_ws(" ", slice($"toks", i, lit(k)))))))
      .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("g"))
      // eager checkpoint: the hot-set broadcast build and both sides
      // of the match self-join otherwise each re-run the md5 anchor
      // explode (the concurrent-jobs cache-race class)
      .materialized
    // hot-anchor cap: same broadcast anti-join shape as capDf, but on
    // OCCURRENCES (positions), the quantity the match join squares
    val hot = anchors.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" > maxDf).select($"g")
    val idx = anchors.join(broadcast(hot), Seq("g"), "left_anti")
    val matches = idx.as("a").join(idx.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
        $"a.pos".as("pa"), ($"a.pos" - $"b.pos").as("diag"))
    // gaps-and-islands on (pair, diagonal): consecutive anchor starts
    // = one maximal run; its token length is count + K − 1
    val wd = Window.partitionBy($"da", $"db", $"diag").orderBy($"pa")
    matches
      .withColumn("grp", $"pa" - row_number().over(wd))
      .groupBy($"da", $"db", $"diag", $"grp")
      .agg(min($"pa").as("sa"), (count(lit(1)) + lit(k - 1)).as("run_tokens"))
      .select($"da", $"db", ($"sa" - $"diag").as("sb"), $"run_tokens")
  }

  /** [[substringSpans]] over an arbitrary (doc_id, text) relation. */
  def substringSpansOf(docs: DataFrame, k: Int = SubstringMinRun,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // materialized once: the per-pair rollup AND the interval-union
    // chain below both consume the runs relation
    val runs = substringRuns(docs, k, maxDf).materialized
    val perPair = runs.groupBy($"da", $"db")
      .agg(count(lit(1)).as("n_runs"), max($"run_tokens").as("longest_run"))
    // dropped-span accounting: interval-union of runs on doc_b's token
    // axis (runs from different diagonals overlap; union, don't sum)
    val wi = Window.partitionBy($"da", $"db").orderBy($"sb", $"eb")
    val iv = runs
      .select($"da", $"db", $"sb", ($"sb" + $"run_tokens" - 1).as("eb"))
      .withColumn("prev_max",
        max($"eb").over(wi.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when($"prev_max".isNull || $"sb" > $"prev_max" + 1, 1).otherwise(0))
      .withColumn("island",
        sum($"ni").over(wi.rowsBetween(Window.unboundedPreceding, 0)))
    val cover = iv.groupBy($"da", $"db", $"island")
      .agg((max($"eb") - min($"sb") + 1).as("cov"))
      .groupBy($"da", $"db").agg(sum($"cov").as("dup_tokens_b"))
    perPair.join(cover, Seq("da", "db"))
      .select($"da".as("doc_a"), $"db".as("doc_b"),
        $"n_runs", $"longest_run".cast("long").as("longest_run"),
        $"dup_tokens_b".cast("long").as("dup_tokens_b"))
  }

  /** Exact-substring SCRUB — the APPLY half of Lee et al. 2022 (the
    * paper's pipeline doesn't just report duplicated spans, it REMOVES
    * all but one copy): every token of a document covered by a shared
    * run >= K with any EARLIER document (keep-first policy, same
    * da < db orientation as [[substringSpans]]) is dropped, and the
    * survivors are re-joined in order. Emits every document —
    * untouched ones pass through verbatim — with the dropped-token
    * count, so `sum(n_dropped)` is the corpus-level dedup yield.
    *
    * Plan: the shared [[substringRuns]] relation, interval-union
    * merged PER TARGET DOC (one gaps-and-islands window over all its
    * pairs at once), collected to a per-doc interval array (bounded:
    * intervals per doc << tokens per doc), then one codegen'd
    * higher-order-function pass (`filter`/`exists`/`transform` over
    * the token sequence) rebuilds the text — the corpus is never
    * exploded to a token-per-row relation on the Spark side.
    */
  def substringScrub(spark: SparkSession, dir: String,
      k: Int = SubstringMinRun, maxDf: Long = DefaultMaxDf): DataFrame =
    substringScrubOf(
      Tables.widened(spark, Tables.documents(spark, dir)), k, maxDf)

  /** [[substringScrub]] over an arbitrary (doc_id, text) relation. */
  def substringScrubOf(docs: DataFrame, k: Int = SubstringMinRun,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val runs = substringRuns(docs, k, maxDf)
    // union the run intervals on each TARGET doc's token axis across
    // all of its earlier partners (one islands pass per db)
    val wi = Window.partitionBy($"db").orderBy($"sb", $"eb")
    val merged = runs
      .select($"db", $"sb", ($"sb" + $"run_tokens" - 1).as("eb"))
      .withColumn("prev_max",
        max($"eb").over(wi.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when($"prev_max".isNull || $"sb" > $"prev_max" + 1, 1).otherwise(0))
      .withColumn("island",
        sum($"ni").over(wi.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"db", $"island")
      .agg(min($"sb").as("s"), max($"eb").as("e"))
      // bounded: merged scrub intervals per doc (disjoint, length >= K
      // each) number at most tokens/K — a short array per row
      .groupBy($"db").agg(collect_list(struct($"s", $"e")).as("ivs"))
    docs.select($"doc_id", TextFns.tokens($"text").as("toks"))
      .join(merged, $"doc_id" === $"db", "left")
      .withColumn("kept", expr(
        "filter(sequence(1, size(toks)), " +
          "i -> ivs IS NULL OR NOT exists(ivs, v -> i >= v.s AND i <= v.e))"))
      .select($"doc_id",
        expr("concat_ws(' ', transform(kept, i -> element_at(toks, i)))")
          .as("scrubbed_text"),
        (size($"toks") - size($"kept")).cast("long").as("n_dropped"))
  }

  /** Shared CTE chain through the per-diagonal `runs` relation — the
    * oracle half of [[substringRuns]].
    */
  private def substringRunsCtes(k: Int, maxDf: Long): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |an AS (SELECT doc_id, i AS pos,
       |    CAST(('0x' || substr(md5(array_to_string(l[i:i+${k - 1}], ' ')), 1, 15)) AS BIGINT) AS g
       |  FROM d, UNNEST(generate_series(1, len(l) - ${k - 1})) t(i)
       |  WHERE len(l) >= $k),
       |hot AS (SELECT g FROM an GROUP BY g HAVING COUNT(*) > $maxDf),
       |idx AS (SELECT an.* FROM an ANTI JOIN hot USING (g)),
       |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
       |    a.pos - b.pos AS diag
       |  FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id),
       |isl AS (SELECT da, db, diag, pa,
       |    pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
       |  FROM m),
       |runs AS (SELECT da, db, diag, grp, MIN(pa) AS sa,
       |    COUNT(*) + ${k - 1} AS run_tokens
       |  FROM isl GROUP BY da, db, diag, grp)""".stripMargin

  /** [[substringScrub]] oracle: same runs algebra, then a genuinely
    * different reconstruction strategy — the corpus exploded to a
    * token-per-row relation, covered positions anti-joined out, and
    * the survivors re-agged in order — so the higher-order-function
    * rebuild on the Spark side is checked against a relational one.
    */
  def substringScrubSql(k: Int = SubstringMinRun,
      maxDf: Long = DefaultMaxDf): String =
    s"""WITH ${substringRunsCtes(k, maxDf)},
       |iv0 AS (SELECT db, sa - diag AS sb,
       |    sa - diag + run_tokens - 1 AS eb FROM runs),
       |iv AS (SELECT db, sb, eb,
       |    MAX(eb) OVER (PARTITION BY db ORDER BY sb, eb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM iv0),
       |num AS (SELECT db, sb, eb,
       |    SUM(CASE WHEN prev_max IS NULL OR sb > prev_max + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY db ORDER BY sb, eb
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM iv),
       |merged AS (SELECT db, island, MIN(sb) AS s, MAX(eb) AS e
       |  FROM num GROUP BY db, island),
       |covd AS (SELECT DISTINCT db, UNNEST(generate_series(s, e)) AS pos
       |  FROM merged),
       |tok AS (SELECT doc_id, i AS pos, l[i] AS tok
       |  FROM d, UNNEST(generate_series(1, len(l))) t(i)),
       |kept AS (SELECT tok.doc_id, tok.pos, tok.tok
       |  FROM tok LEFT JOIN covd ON tok.doc_id = covd.db AND tok.pos = covd.pos
       |  WHERE covd.pos IS NULL),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text,
       |    COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.scrubbed_text, '') AS scrubbed_text,
       |  CAST(len(d.l) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
       |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** [[substringSpans]] DuckDB oracle: the identical anchored
    * gaps-and-islands algebra restated over the same tables (the
    * brute per-pair recompute — no prefix structure, no shortcuts), so
    * a candidate missed, a run mis-extended, or an interval-union
    * miscount all hash-mismatch.
    */
  def substringSpansSql(k: Int = SubstringMinRun,
      maxDf: Long = DefaultMaxDf): String =
    s"""WITH ${substringRunsCtes(k, maxDf)},
       |iv0 AS (SELECT da, db, sa - diag AS sb,
       |    sa - diag + run_tokens - 1 AS eb, run_tokens FROM runs),
       |iv AS (SELECT da, db, sb, eb,
       |    MAX(eb) OVER (PARTITION BY da, db ORDER BY sb, eb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM iv0),
       |num AS (SELECT da, db, sb, eb,
       |    SUM(CASE WHEN prev_max IS NULL OR sb > prev_max + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY da, db ORDER BY sb, eb
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM iv),
       |merged AS (SELECT da, db, island, MAX(eb) - MIN(sb) + 1 AS cov
       |  FROM num GROUP BY da, db, island),
       |cover AS (SELECT da, db, CAST(SUM(cov) AS BIGINT) AS dup_tokens_b
       |  FROM merged GROUP BY da, db),
       |pair AS (SELECT da, db, COUNT(*) AS n_runs,
       |    CAST(MAX(run_tokens) AS BIGINT) AS longest_run
       |  FROM iv0 GROUP BY da, db)
       |SELECT pair.da AS doc_a, pair.db AS doc_b,
       |  CAST(n_runs AS BIGINT) AS n_runs, longest_run, dup_tokens_b
       |FROM pair JOIN cover ON pair.da = cover.da AND pair.db = cover.db
       |ORDER BY doc_a, doc_b""".stripMargin
}
