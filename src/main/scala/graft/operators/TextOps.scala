package graft.operators

import graft.Fx.FxMaterialize
import graft.Tables
import graft.functions.{Afinn, PseudoJson, TextFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the `documents` table + pseudo-JSON
  * round-trip over `events` (SURVEY.md §2.9 and the training-data
  * text operators). All scalar work is per-row HOFs inside whole-stage
  * codegen; the only shuffles are the final aggregations/sorts.
  */
object TextOps {

  /** A2/F1 word count (kafka_streaming.py:33-37, batch form):
    * explode(split) -> groupBy(word).count.
    */
  def wordcount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select(explode(TextFns.tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word")
  }

  /** F9 AFINN-style valence sum per document. */
  def sentimentAfinn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.sentimentSum($"text", Afinn.domain).as("sentiment"))
      .orderBy($"doc_id")
  }

  /** F8 TextBlob-style polarity per document. */
  def sentimentPolarity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.sentimentPolarity($"text", Afinn.domain).as("polarity"))
      .orderBy($"doc_id")
  }

  /** F7 first-token genre extraction (lyric.ipynb cell 13), applied to
    * part.p_type: split, take head, group count.
    */
  def genreFirstToken(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select(split($"p_type", " ").getItem(0).as("genre"))
      .groupBy($"genre").agg(count(lit(1)).as("cnt"))
      .orderBy($"genre")
  }

  /** Language-ID heuristic per document. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.langGuess($"text").as("lang_guess"))
      .orderBy($"doc_id")
  }

  /** Quality scoring per document. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.qualityScore($"text").as("quality"))
      .orderBy($"doc_id")
  }

  /** The composite training-corpus filter — the shape a 100 TB
    * pretraining pipeline actually runs: language gate + quality
    * threshold + exact-dedup keeper selection, all in one pass over
    * the documents scan plus one doc_id-keyed semi-join against the
    * dedup keepers. Every stage is the already-oracle-checked operator
    * (langGuess / qualityScore / exactDedup), so the composition is
    * oracle-checkable end-to-end.
    */
  def cleanCorpus(spark: SparkSession, dir: String,
      lang: String = "en", minQuality: Double = 0.41): DataFrame =
    cleanCorpusOf(Tables.widened(spark, Tables.documents(spark, dir)),
      lang, minQuality)

  /** [[cleanCorpus]] over an arbitrary (doc_id, text) relation. */
  def cleanCorpusOf(docs: DataFrame,
      lang: String = "en", minQuality: Double = 0.41): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keepers = docs
      .groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    docs
      .select($"doc_id", TextFns.langGuess($"text").as("lang_guess"),
        TextFns.qualityScore($"text").as("quality"),
        TextFns.whitespaceTokenCount($"text").as("n_tokens"))
      .filter($"lang_guess" === lang && $"quality" >= minQuality)
      .join(keepers, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"quality", $"n_tokens")
      .orderBy($"doc_id")
  }

  /** The FULL preprocessing funnel — the per-stage survivor report
    * every pretraining pipeline publishes (docs and tokens remaining
    * after each gate), composing the already-oracle-checked stages
    * cumulatively:
    *
    *   0_raw          the whole corpus
    *   1_gopher       the 5-rule Gopher gate ([[gopherQualityFilterOf]])
    *   2_lang_en      n-gram language gate (langGuess == "en")
    *   3_exact_dedup  min-doc_id keeper per md5(text) among survivors
    *   4_near_dedup   drop docs with an exact 3-gram Jaccard ≥ 0.5
    *                  near-dup of smaller id (full-corpus pair set —
    *                  the global-cluster convention, so the keeper is
    *                  stable under upstream gate changes)
    *   5_decontam     drop the benchmark slice (doc_id % 49 == 0) and
    *                  every doc sharing an 8-gram with it
    *
    * Scale shape: the report costs one tokenize pass per stage flag
    * plus the pair computations the dedup stages already need; nothing
    * here is new shuffle work beyond the stages themselves, and the
    * output is six rows.
    */
  def corpusFunnel(spark: SparkSession, dir: String): DataFrame =
    corpusFunnelOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[corpusFunnel]] over an arbitrary (doc_id, text) relation.
    *
    * ONE pass builds a per-doc flag relation (tokenize/langGuess/md5
    * evaluated once, gopher gate joined once, dedup/decontam drop sets
    * left-joined as flags); the six stage rows come from a single
    * 12-column aggregate unpivoted with stack() — the corpus is never
    * re-scanned per stage. (First cut ran each stage as its own
    * subplan — 6× the scan and 6× the gopher HOFs — at 6.4 s for
    * sf0.1; this shape measures 4.0 s, and the remainder is the
    * inherent near-dup pair + 8-gram decontam work the dedup stages
    * genuinely need.)
    */
  def corpusFunnelOf(docs: DataFrame, benchMod: Long = 49L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id", md5($"text").as("hh"),
      TextFns.whitespaceTokenCount($"text").cast("long").as("nt"),
      (TextFns.langGuess($"text") === "en").as("lang_ok"))
    val gop = gopherQualityFilterOf(docs)
      .select($"doc_id", $"keep".as("gopher_ok"))
    val near = graft.operators.Dedup.ngramJaccardOf(docs, 3, 0.5)
      .select($"doc_b".as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    val contam = graft.operators.Dedup.decontaminateOf(
        docs.filter($"doc_id" % benchMod =!= 0),
        docs.filter($"doc_id" % benchMod === 0))
      .select($"doc_id").withColumn("contam", lit(true))
    val flags = toks
      .join(gop, Seq("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("s1", $"gopher_ok")
      .withColumn("s2", $"s1" && $"lang_ok")
      // exact-dedup keeper among the s2 survivors: min surviving
      // doc_id per text hash, via a null-skipping window min
      .withColumn("mn",
        min(when($"s2", $"doc_id")).over(Window.partitionBy($"hh")))
      .withColumn("s3", $"s2" && $"doc_id" === $"mn")
      .withColumn("s4", $"s3" && !coalesce($"near_dup", lit(false)))
      .withColumn("s5", $"s4" && !coalesce($"contam", lit(false)) &&
        $"doc_id" % benchMod =!= 0)
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    def tok(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, $"nt").otherwise(0L)), lit(0L))
    flags.agg(
        count(lit(1)).as("c0"), coalesce(sum($"nt"), lit(0L)).as("t0"),
        cnt($"s1").as("c1"), tok($"s1").as("t1"),
        cnt($"s2").as("c2"), tok($"s2").as("t2"),
        cnt($"s3").as("c3"), tok($"s3").as("t3"),
        cnt($"s4").as("c4"), tok($"s4").as("t4"),
        cnt($"s5").as("c5"), tok($"s5").as("t5"))
      .selectExpr("""stack(6,
        0, '0_raw', c0, t0,
        1, '1_gopher', c1, t1,
        2, '2_lang_en', c2, t2,
        3, '3_exact_dedup', c3, t3,
        4, '4_near_dedup', c4, t4,
        5, '5_decontam', c5, t5) AS (stage_ord, stage, n_docs, sum_tokens)""")
      .orderBy($"stage_ord")
  }

  /** Per-language corpus statistics (doc counts, token volumes) — the
    * aggregate a pipeline reports after every filter stage. Token sums
    * are integer arithmetic, so the averages are cross-engine exact
    * without the decimal machinery.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStatsOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[corpusStats]] over an arbitrary (doc_id, text) relation. */
  def corpusStatsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(TextFns.langGuess($"text").as("lang"),
        TextFns.whitespaceTokenCount($"text").as("nt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("sum_tokens"))
      .select($"lang", $"n_docs", $"sum_tokens",
        ($"sum_tokens".cast("double") / $"n_docs").as("avg_tokens"))
      .orderBy($"lang")
  }

  /** Token counting (whitespace + BPE-ish subword estimate). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id",
        TextFns.whitespaceTokenCount($"text").as("n_tokens"),
        TextFns.subwordEstimate($"text").as("n_subwords"))
      .orderBy($"doc_id")
  }

  /** BPE-style pre-tokenizer counts (regex alternation of letter runs,
    * digit runs, single symbols).
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.bpeTokenCount($"text").as("n_bpe"))
      .orderBy($"doc_id")
  }

  /** Intra-document repetition audit (the Gopher/C4-style quality
    * signal): per doc, the duplicate-3-gram fraction and the hottest
    * word's frequency. Gram stats are a pure projection (one HOF pass
    * over the token array — no explode, no shuffle); only the
    * max-word-frequency side shuffles, partial-aggregated on
    * (doc_id, word). The ratio is a single IEEE divide of two exact
    * integers, so it is bit-identical across engines.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame =
    repetitionScoreOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[repetitionScore]] over an arbitrary (doc_id, text) relation. */
  def repetitionScoreOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = TextFns.tokens($"text")
    val grams = when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", slice(t, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val base = docs.select($"doc_id", size(t).as("total_words"),
      size(grams).as("total_3grams"),
      size(array_distinct(grams)).as("distinct_3grams"))
    val maxTf = docs.select($"doc_id", explode(t).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_word_tf"))
    base.join(maxTf, Seq("doc_id"))
      .select($"doc_id", $"total_words", $"max_word_tf",
        $"total_3grams", $"distinct_3grams",
        when($"total_3grams" > 0,
            lit(1.0) - $"distinct_3grams".cast("double") / $"total_3grams")
          .otherwise(lit(0.0)).as("dup3_frac"))
      .orderBy($"doc_id")
  }

  /** Top-k distinctive terms per document — TF-IDF's ordering without
    * its float log: rank by (tf desc, df asc, word asc), all integers,
    * so the ranking is exact in any engine. The vocabulary-sized df
    * table is broadcast (vocab ≪ corpus at any scale); the per-doc
    * window is bounded by the doc's own vocabulary.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfTopTermsOf(Tables.widened(spark, Tables.documents(spark, dir)), k)

  /** [[tfidfTopTerms]] over an arbitrary (doc_id, text) relation. */
  def tfidfTopTermsOf(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs.select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
      .orderBy($"tf".desc, $"df".asc, $"word".asc)
    tf.join(broadcast(df), Seq("word"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"doc_id", $"rank".cast("int").as("rank"), $"word", $"tf", $"df")
      .orderBy($"doc_id", $"rank")
  }

  /** Vocabulary truncation + OOV audit (tokenizer prep): the corpus
    * top-`v` words by (count desc, word), and each document's
    * out-of-vocabulary token fraction against that vocabulary. The
    * vocab is by construction tiny and broadcast; the OOV ratio is one
    * IEEE divide of exact integer counts.
    */
  def vocabOov(spark: SparkSession, dir: String, v: Int = 50): DataFrame =
    vocabOovOf(Tables.widened(spark, Tables.documents(spark, dir)), v)

  /** [[vocabOov]] over an arbitrary (doc_id, text) relation. */
  def vocabOovOf(docs: DataFrame, v: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the exploded (doc_id, word) projection feeds BOTH the vocab
    // aggregate and the per-doc OOV join; cached (two narrow columns —
    // the text is pruned before caching) so the corpus is scanned and
    // tokenized once, like tokenPack's 3-column block. Lives until the
    // caller clears the session cache (Bench/Verify do per query).
    val words = docs.select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .materialized
    val vocab = words.groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word").limit(v).select($"word")
    val perDoc = words.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("word"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
    perDoc.select($"doc_id", $"n_tokens", $"n_oov",
        ($"n_oov".cast("double") / $"n_tokens").as("oov_rate"))
      .orderBy($"doc_id")
  }

  /** Overlapping token-window chunking (the RAG / context-window prep
    * step): each document becomes ceil((n − overlap) / stride) chunks
    * of up to `chunkTokens` tokens, consecutive chunks sharing
    * `overlap` tokens. Chunk construction is a pure HOF projection
    * over the token array (no shuffle; the explode multiplies rows,
    * not bytes read), so it parallelizes per input split at any scale.
    */
  def chunkDocs(spark: SparkSession, dir: String, chunkTokens: Int = 16,
      overlap: Int = 4): DataFrame =
    chunkDocsOf(Tables.widened(spark, Tables.documents(spark, dir)),
      chunkTokens, overlap)

  /** [[chunkDocs]] over an arbitrary (doc_id, text) relation. */
  def chunkDocsOf(docs: DataFrame, chunkTokens: Int = 16,
      overlap: Int = 4): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      "need 0 <= overlap < chunkTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val stride = chunkTokens - overlap
    val t = TextFns.tokens($"text")
    val n = size(t)
    // at least one chunk per non-degenerate doc; last chunk may be short
    val num = greatest(lit(1),
      floor((n - lit(overlap) + lit(stride - 1)) / lit(stride)).cast("int"))
    docs.select($"doc_id",
        explode(transform(sequence(lit(0), num - 1), i =>
          struct(i.as("chunk_id"),
            concat_ws(" ", slice(t, i * stride + 1, lit(chunkTokens))).as("chunk"),
            least(lit(chunkTokens), n - i * stride).as("n_tokens")))).as("c"))
      .select($"doc_id", $"c.chunk_id", $"c.chunk", $"c.n_tokens")
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Token-budgeted shard packing (the sequence-packing/sharding step
    * before training): documents in doc_id order are assigned to
    * contiguous shards of ~`budget` tokens — shard = exclusive running
    * token sum div budget.
    *
    * The running sum is a GLOBAL prefix sum, which a naive
    * `Window.orderBy` would execute in one task over the whole corpus.
    * This computes it as the classic distributed multi-level prefix
    * sum: per-bucket local running sums in parallel (one shuffle on
    * `bucket`), an exclusive prefix over the per-bucket TOTALS —
    * itself two-level over super-buckets, so the one remaining
    * single-task window sees n_docs/bucketSize² rows — broadcast back
    * as offsets. The
    * (doc_id, n_tokens, bucket) projection feeding both branches is
    * cached (three longs per row — the text is pruned before caching),
    * so the corpus is scanned and tokenized ONCE; like the Dedup *Of
    * entry points, the block lives until the caller clears the session
    * cache (Bench/Verify do per query).
    */
  def tokenPack(spark: SparkSession, dir: String, budget: Long = 2000L,
      bucketSize: Long = 1000L): DataFrame =
    tokenPackOf(Tables.widened(spark, Tables.documents(spark, dir)),
      budget, bucketSize)

  /** [[tokenPack]] over an arbitrary (doc_id, text) relation. */
  def tokenPackOf(docs: DataFrame, budget: Long = 2000L,
      bucketSize: Long = 1000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = docs.select($"doc_id",
        TextFns.whitespaceTokenCount($"text").cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
      .materialized
    val wLocal = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exclusive prefix over the bucket totals, computed with the SAME
    // two-level trick one more time (super-buckets of bucketSize
    // buckets): the only single-task window left runs over the
    // super-bucket totals — n_docs/bucketSize² rows, i.e. 10 rows for
    // 10^10 docs at the default — so no stage is a one-task funnel at
    // ANY scale. Exclusive prefix sums regroup exact long additions,
    // so the result is bit-identical to the flat global window (the
    // property spec asserts exactly that equality).
    val wBucketLocal = Window.partitionBy($"b2").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSuper = Window.orderBy($"b2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bt = d.groupBy($"bucket").agg(sum($"n_tokens").as("bt"))
      .withColumn("b2", expr(s"bucket div $bucketSize"))
    val superOff = bt.groupBy($"b2").agg(sum($"bt").as("b2t"))
      .withColumn("off2", coalesce(sum($"b2t").over(wSuper), lit(0L)))
      .select($"b2", $"off2")
    val offsets = bt
      .withColumn("lo", coalesce(sum($"bt").over(wBucketLocal), lit(0L)))
      .join(broadcast(superOff), Seq("b2"))
      .select($"bucket", ($"lo" + $"off2").as("off"))
    d.withColumn("local_cum", sum($"n_tokens").over(wLocal))
      .join(broadcast(offsets), Seq("bucket"))
      .select($"doc_id", $"n_tokens",
        expr(s"(local_cum + off - n_tokens) div $budget").as("shard_id"))
      .orderBy($"doc_id")
  }

  /** The packing made real: write the token-packed corpus as a
    * shard_id-partitioned parquet layout (one directory per training
    * shard — the artifact a loader actually consumes) and read it
    * back. Round-trips through the hive-partitioned writer, so the
    * oracle (the plain packing SQL) also proves the layout preserves
    * every row and value.
    */
  def shardExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.sources.Sources.scratchDir(spark, "shard_export")
    // cluster by shard before the partitioned write: without this every
    // write task emits a fragment into every shard directory it touches
    // (tasks × shards small files); hash-clustering lands each shard in
    // one task → one well-sized file per shard directory, which is the
    // artifact a training loader actually wants (guide §6 file sizing)
    tokenPack(spark, dir).repartition($"shard_id").write.mode("overwrite")
      .partitionBy("shard_id").parquet(out)
    // partition-column discovery types shard_id as INT; restore BIGINT
    spark.read.parquet(out)
      .select($"doc_id", $"n_tokens", $"shard_id".cast("long").as("shard_id"))
      .orderBy($"doc_id")
  }

  /** PII scrub + audit count per document (training-data hygiene):
    * emails and long digit runs replaced with stable tags, plus the
    * hit count a corpus audit reports. Pure regexp work from the
    * frozen TextFns pattern constants (the oracle SQL is generated
    * from the same strings), all inside whole-stage codegen.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.redactPii($"text").as("redacted_text"),
        TextFns.piiHits($"text").as("pii_hits"))
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test assignment by content-independent
    * key hash (80/10/10): the standard leakage-safe corpus split — a
    * document lands in the same split on every run, every engine, every
    * re-shard, because the split is a pure function of doc_id (via the
    * same md5-prefix hash the dedup family uses). Pure projection, no
    * shuffle, no RNG state.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        (Dedup.hash60($"doc_id".cast("string")) % 100).cast("int").as("bucket"))
      .select($"doc_id", $"bucket",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Word-association mining (PMI ordering without the log): for
    * vocabulary words co-occurring in documents, the pointwise mutual
    * information ORDER is fully determined by the exact integer ratio
    * N·c(x,y) / (c(x)·c(y)) — the log is monotone, so ranking by the
    * ratio ranks by PMI while every input stays an exact integer and
    * the emitted score is ONE IEEE divide (the same no-libm trick as
    * BM25's rational idf).
    *
    * Scale shape: pair generation is restricted to the top-`v`
    * vocabulary (the standard association-mining move — the pair space
    * is bounded v²/2 per doc, not doc-length²), built as a per-doc
    * self-join of the distinct vocab-word sets; marginals and pair
    * counts are partial-aggregatable integer shuffles.
    */
  def wordAssociations(spark: SparkSession, dir: String, v: Int = 50,
      minPairDf: Long = 5L, k: Int = 100): DataFrame =
    wordAssociationsOf(Tables.widened(spark, Tables.documents(spark, dir)),
      v, minPairDf, k)

  /** [[wordAssociations]] over an arbitrary (doc_id, text) relation. */
  def wordAssociationsOf(docs: DataFrame, v: Int = 50,
      minPairDf: Long = 5L, k: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .distinct().materialized
    val vocab = words.groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word").limit(v)
    val vw = words.join(broadcast(vocab.select($"word")), Seq("word"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val singles = vw.groupBy($"word").agg(count(lit(1)).as("c"))
    val pairs = vw.as("x").join(vw.as("y"),
        $"x.doc_id" === $"y.doc_id" && $"x.word" < $"y.word")
      .groupBy($"x.word".as("w1"), $"y.word".as("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter($"c_xy" >= minPairDf)
    pairs
      .join(broadcast(singles.select($"word".as("w1"), $"c".as("c1"))), Seq("w1"))
      .join(broadcast(singles.select($"word".as("w2"), $"c".as("c2"))), Seq("w2"))
      .crossJoin(broadcast(n))
      .select($"w1", $"w2", $"c_xy", $"c1", $"c2",
        (($"n_docs" * $"c_xy").cast("double") / ($"c1" * $"c2"))
          .as("pmi_ratio"))
      .orderBy($"pmi_ratio".desc, $"w1", $"w2")
      .limit(k)
  }

  /** Leakage-safe train/val/test split: [[hashSplit]] with the split
    * decision keyed on the document's NEAR-DUP CLUSTER representative
    * instead of its own id. Hashing bare doc_ids strands near-copies
    * of one document on both sides of the train/test fence — the
    * dedup-leakage failure that inflates eval scores; assigning every
    * cluster member its representative's hash pins whole duplicate
    * groups to one side. Composition of two already-checked operators
    * ([[Dedup.nearDupClusters]] + the hash gate), so the whole thing
    * stays oracle-checkable; singleton docs (no near-dup) fall back to
    * their own id — for them this IS hashSplit (on the "cl:" salt).
    *
    * Cost at scale: the cluster relation is pair-bounded (tiny next to
    * the corpus) and the join is one broadcastable-or-shuffled
    * id-to-id equi join; everything else is a projection.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = Dedup.nearDupClusters(spark, dir)
      .select($"doc_id", $"cluster_id")
    Tables.documents(spark, dir).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("rep"))
      .select($"doc_id", $"rep",
        (Dedup.hash60(concat(lit("cl:"), $"rep".cast("string"))) % 100)
          .cast("int").as("bucket"))
      .select($"doc_id", $"rep", $"bucket",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Deterministic data-mixture rebalancing: downsample every stratum
    * (here: language — the corpus's genuinely skewed dimension, en ≈
    * 3× the rest) to the rarest stratum's share, the standard step
    * before training on a multi-source corpus so one slice doesn't
    * drown the rest.
    *
    * A doc survives iff hash(doc_id) % n_stratum < quota, where quota
    * is the smallest per-stratum count: the keep probability is the
    * EXACT integer fraction quota/n_stratum — no float rates, no RNG
    * state, and a doc's fate is a pure function of its id (stable
    * across runs, re-shards, and engines). The decision hash is salted
    * with its own key-space prefix ("mix:") so membership is
    * independent of [[hashSplit]]'s train/val/test assignment — the
    * same md5 would otherwise correlate the two decisions.
    *
    * Scale shape: one partial-aggregatable count per stratum (strata
    * number in the hundreds at any scale), broadcast back — the corpus
    * itself is filtered in place as a pure projection, never shuffled.
    */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame =
    mixtureRebalanceOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("stratum")))

  /** Budget denominator for [[temperatureMixture]]: the resample keeps
    * half the corpus, reallocated across sources by the α-smoothed
    * weights.
    */
  val TmixBudgetDenom = 2L

  /** Temperature-smoothed mixture resampling — the multilingual-
    * pretraining recipe (XLM-R, Conneau et al. 2020 §3; mT5, Xue et
    * al. 2021 §3.2): sample sources with probability ∝ n_s^α so big
    * sources stop drowning small ones without equalizing them flat
    * (α = 1 is proportional, α = 0 is [[mixtureRebalance]]'s uniform
    * floor). Here α = 1/2: per-source weight w_s = floor(√n_s), quota
    * q_s = min(n_s, (N div 2) · w_s div Σw) — a half-corpus budget
    * split by smoothed weight, all in exact integer arithmetic
    * (floor(√n) on a BIGINT is exact in both engines up to n ≈ 2^31,
    * far above any per-source document count the corpus reaches;
    * beyond that an integer Newton isqrt would replace it). Membership
    * is the house salted-hash gate: picked iff
    * hash60("tmix:" + doc_id) % n_s < q_s — a pure function of the
    * row, stable across runs, re-shards, and engines.
    *
    * Scale shape: one partial-aggregatable per-source count (sources
    * number in the hundreds at any corpus size), two broadcast-sized
    * side relations, and the corpus filtered in place as a pure
    * projection — never shuffled, nothing collected.
    */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    temperatureMixtureOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")))

  /** [[temperatureMixture]] over any (doc_id, source) relation. */
  def temperatureMixtureOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
      .withColumn("w",
        floor(sqrt($"n_src".cast("double"))).cast("long"))
    val totals = counts.agg(sum($"n_src").as("n_tot"), sum($"w").as("w_tot"))
    docs.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(totals))
      .withColumn("quota", least($"n_src",
        expr(s"(n_tot div ${TmixBudgetDenom}L) * w div w_tot")))
      .select($"doc_id", $"source", $"n_src", $"quota",
        (Dedup.hash60(concat(lit("tmix:"), $"doc_id".cast("string")))
          % $"n_src" < $"quota").as("picked"))
      .orderBy($"doc_id")
  }

  /** [[mixtureRebalance]] over any (doc_id, stratum) relation. */
  def mixtureRebalanceOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy($"stratum").agg(count(lit(1)).as("n_stratum"))
    val quota = counts.agg(min($"n_stratum").as("quota"))
    docs.join(broadcast(counts), Seq("stratum"))
      .crossJoin(broadcast(quota))
      .filter(Dedup.hash60(concat(lit("mix:"), $"doc_id".cast("string")))
        % $"n_stratum" < $"quota")
      .select($"doc_id", $"stratum", $"n_stratum", $"quota")
      .orderBy($"doc_id")
  }

  /** TABLESAMPLE-shaped deterministic stratified sampling — the
    * generalization of [[mixtureRebalanceOf]] from derived quotas to
    * ARBITRARY per-stratum target fractions: a row survives iff
    * hash("samp:" + doc_id) % denom < numer for its stratum's rate.
    * The keep probability is the EXACT integer fraction numer/denom —
    * no float rates, no RNG state — so a row's fate is a pure function
    * of its id: stable across runs, re-shards, and engines, and
    * subsetting is monotone (shrinking a stratum's fraction keeps a
    * subset of the previous sample when denom is fixed).
    *
    * Scale shape: the rate table is strata-sized and broadcasts; the
    * corpus is filtered in place as a pure projection — never
    * shuffled, nothing collected. This is the sampling you can push
    * beneath any downstream operator at 100 TB.
    */
  def stratifiedSampleOf(docs: DataFrame, rates: Map[String, (Int, Int)],
      defaultRate: (Int, Int)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(defaultRate._2 > 0 && rates.values.forall(_._2 > 0))
    val rateDf = rates.toSeq.map { case (s, (n, d)) => (s, n, d) }
      .toDF("stratum", "numer", "denom")
    docs.join(broadcast(rateDf), Seq("stratum"), "left")
      .select($"doc_id", $"stratum",
        coalesce($"numer", lit(defaultRate._1)).as("numer"),
        coalesce($"denom", lit(defaultRate._2)).as("denom"))
      .filter(Dedup.hash60(concat(lit("samp:"), $"doc_id".cast("string")))
        % $"denom" < $"numer")
      .orderBy($"doc_id")
  }

  /** Driver form over documents-by-language: downsample the dominant
    * stratum hard (en → 1/4), de → 1/2, everything else 3/4. The
    * "samp:" salt keeps this decision independent of the split / mix /
    * mix2 hash gates in this file.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang").as("stratum")),
      Map("en" -> (1, 4), "de" -> (1, 2)), (3, 4))

  /** Deterministic k-per-group sampling — the eval-set builder's
    * complement to rate-based [[stratifiedSampleOf]]: exactly
    * min(k, |group|) docs per (lang, source) cell, selected by the
    * salted 60-bit hash order so the draw is uniform-ish, RNG-free,
    * and rerun-identical. The rank-filter form compiles to Spark's
    * WindowGroupLimit (each map task keeps only its local top-k per
    * group BEFORE the exchange — the [[graft.operators.Relational.topkPerGroup]]
    * property), so the shuffle carries O(groups × k) rows per task at
    * any corpus size. `(hash, doc_id)` is a total order, making the
    * selected set engine-identical.
    */
  def sampleKPerGroup(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"source")
      .orderBy($"h", $"doc_id")
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", $"lang", $"source",
        Dedup.hash60(concat(lit("kpg:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"lang", $"source", $"doc_id", $"rn")
      .orderBy($"lang", $"source", $"rn")
  }

  /** TWO-dimensional mixture rebalance (lang × source): real corpora
    * are skewed along several axes at once, and balancing only one
    * leaves the other's skew intact inside every stratum. Cells are
    * the cross product; each cell's quota is the smallest cell count
    * WITHIN ITS LANGUAGE — sources are equalized inside each language
    * while languages keep their own (already [[mixtureRebalance]]-able)
    * relative sizes, so the two corrections compose instead of
    * fighting.
    *
    * Same exact-integer keep rule as the 1-D form, salted with its own
    * "mix2:" prefix so the three hash decisions in this file (split /
    * 1-D mix / 2-D mix) are pairwise independent. Scale shape is
    * unchanged: one partial-aggregatable count per cell (cells number
    * in the thousands at any scale, langs × sources), the per-lang min
    * computed on that tiny frame, broadcast back; the corpus is
    * filtered in place as a pure projection — never shuffled.
    */
  def mixtureRebalance2d(spark: SparkSession, dir: String): DataFrame =
    mixtureRebalance2dOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source")))

  /** [[mixtureRebalance2d]] over any (doc_id, lang, source) relation. */
  def mixtureRebalance2dOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the window runs over the #cells-row counts frame, not the corpus
    val cells = docs.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_cell"))
      .withColumn("quota", min($"n_cell").over(Window.partitionBy($"lang")))
    docs.join(broadcast(cells), Seq("lang", "source"))
      .filter(Dedup.hash60(concat(lit("mix2:"), $"doc_id".cast("string")))
        % $"n_cell" < $"quota")
      .select($"doc_id", $"lang", $"source", $"n_cell", $"quota")
      .orderBy($"doc_id")
  }

  /** Per-source distribution drift vs the corpus: total variation
    * distance between each source's language distribution and the
    * global one — the drift monitor a data pipeline alarms on when one
    * feed's mix shifts. TVD = ½·Σ_l |p_l − q_l| is computed as an EXACT
    * integer fraction: num = Σ_l |n_sl·N − n_l·N_s|, den = 2·N·N_s —
    * no floats, no logs (deliberately TVD and not KL: KL needs libm
    * and diverges cross-engine; TVD is selection + integer products).
    * Emitted un-divided (num, den) so the check is exact; callers
    * divide. Counts here are corpus-sized (products ≤ N², within
    * BIGINT for any corpus under ~3e9 docs; beyond that lift to
    * DECIMAL).
    *
    * Scale shape: two partial-aggregatable counts over one scan (cells
    * = sources × langs, tiny), a broadcast join of the two census
    * frames, and an integer aggregate on the cell frame — the corpus
    * itself is never shuffled.
    */
  def distributionDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"source", $"lang")
    val cells = docs.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_sl"))
    val bySource = cells.groupBy($"source").agg(sum($"n_sl").as("n_s"))
    val byLang = cells.groupBy($"lang").agg(sum($"n_sl").as("n_l"))
    val total = cells.agg(sum($"n_sl").as("n"))
    // every (source, lang) pair — including langs a source never emits,
    // where the |0·N − n_l·N_s| term still contributes
    bySource.crossJoin(broadcast(byLang))
      .join(cells, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("n_sl"))
      .crossJoin(broadcast(total))
      .groupBy($"source", $"n_s", $"n")
      .agg(sum(abs($"n_sl" * $"n" - $"n_l" * $"n_s")).as("drift_num"))
      .select($"source", $"drift_num",
        (lit(2L) * $"n" * $"n_s").as("drift_den"))
      .orderBy($"source")
  }

  /** Per-stratum quality top-p filter — the other standard curation
    * gate: instead of one global threshold (which [[cleanCorpus]]
    * applies, and which under-selects whole languages whose score
    * distribution sits lower), keep the best `p` fraction of each
    * language by [[TextFns.qualityScore]]. Deterministic: ranks are
    * made unique with a doc_id tiebreak, so the kept set is identical
    * across engines and runs — no RNG, no float-equality cliff.
    *
    * Scale shape: one shuffle, partitioned by lang — the partition key
    * is low-cardinality and skewed (one dominant language) by nature;
    * at 100 TB the rank-within-stratum is the operator's honest cost,
    * and the remedy is the usual two-phase trick (per-partition
    * pre-rank → per-stratum threshold from a sampled quantile sketch)
    * at the price of an approximate cut. This operator keeps the exact
    * contract; the approximate path composes from
    * [[Relational.quantileRatingLevels]]'s machinery when a deployment
    * wants it.
    */
  def qualityTopP(spark: SparkSession, dir: String,
      p: Double = 0.5): DataFrame =
    qualityTopPOf(Tables.widened(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text")), p)

  /** [[qualityTopP]] over any (doc_id, lang, text) relation. */
  def qualityTopPOf(docs: DataFrame, p: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang")
      .orderBy($"quality".desc, $"doc_id")
    docs
      .select($"doc_id", $"lang", TextFns.qualityScore($"text").as("quality"))
      .withColumn("q_rank", percent_rank().over(w))
      .filter($"q_rank" <= p)
      .select($"doc_id", $"lang", $"quality", $"q_rank")
      .orderBy($"doc_id")
  }

  /** Rolling-hash document fingerprint (min-MD5 over 5-gram shingles). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** CCNet-style line-level boilerplate removal (Wenzek et al. 2020's
    * per-line dedup, adapted to this newline-free corpus: a "line" is a
    * deterministic non-overlapping `span`-token slice). A line whose
    * text recurs in >= `minDf` distinct documents is boilerplate
    * (headers, nav bars, cookie banners at web scale) and is dropped
    * from EVERY document; each doc re-assembles from its kept lines in
    * order. Scale shape: line construction is a pure HOF projection
    * (no shuffle), the boilerplate census is one partial-aggregatable
    * count per distinct line, and the removal is a hash anti-join on
    * the line text — the classic high-df key set is tiny relative to
    * the corpus, and no per-doc state ever leaves its partition. The
    * in-order reassembly sorts each doc's OWN kept lines inside one
    * aggregate (array_sort over a collected struct — per-group work,
    * never a global sort).
    */
  def boilerplateRemove(spark: SparkSession, dir: String): DataFrame =
    boilerplateRemoveOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[boilerplateRemove]] over an arbitrary (doc_id, text) relation. */
  def boilerplateRemoveOf(docs: DataFrame, span: Int = 3,
      minDf: Long = 5L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (doc_id, line_no, line) feeds the census, the anti-join, and the
    // per-doc totals — cache so the corpus is tokenized once
    val lines = docs
      .select($"doc_id", TextFns.tokens($"text").as("ws"))
      .select($"doc_id", posexplode(
        transform(
          sequence(lit(0),
            ceil(size($"ws") / lit(span.toDouble)).cast("int") - 1),
          i => array_join(slice($"ws", i * span + 1, lit(span)), " "))))
      .toDF("doc_id", "line_no", "line")
      .materialized
    val boiler = lines.groupBy($"line")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= minDf)
      .select($"line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct($"line_no", $"line"))),
            s => s.getField("line")), " ").as("clean_text"))
    lines.groupBy($"doc_id").agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"clean_text", lit("")).as("clean_text"),
        $"n_lines",
        ($"n_lines" - coalesce($"n_kept", lit(0L))).as("n_removed"))
      .orderBy($"doc_id")
  }

  /** Bigram-coverage quality score: the fraction of a document's word
    * bigrams found in the corpus's top-`v` bigram vocabulary — a
    * fluency gate (vocabOov's unigram test passes scrambled text;
    * bigram coverage does not). Same two-pass shape as [[vocabOov]]:
    * the exploded (doc_id, bigram) projection is computed once
    * (cached), the vocabulary is one count-ordered aggregate with a
    * total (cnt, bigram) tie-break, and the per-doc score is a
    * broadcast membership join — the corpus never shuffles.
    */
  def bigramCoverage(spark: SparkSession, dir: String, v: Int = 100): DataFrame =
    bigramCoverageOf(Tables.widened(spark, Tables.documents(spark, dir)), v)

  /** [[bigramCoverage]] over an arbitrary (doc_id, text) relation. */
  def bigramCoverageOf(docs: DataFrame, v: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bigrams = docs
      .select($"doc_id", TextFns.tokens($"text").as("ws"))
      .select($"doc_id", explode(
        when(size($"ws") < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size($"ws") - 1),
            i => concat_ws(" ", element_at($"ws", i), element_at($"ws", i + 1)))))
        .as("bigram"))
      .materialized
    val vocab = bigrams.groupBy($"bigram").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram").limit(v).select($"bigram")
    bigrams.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("bigram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"in_vocab".isNotNull, 1L).otherwise(0L)).as("n_covered"))
      .select($"doc_id", $"n_bigrams", $"n_covered",
        ($"n_covered".cast("double") / $"n_bigrams").as("coverage"))
      .orderBy($"doc_id")
  }

  /** Length-proportional weighted sampling (importance sampling by
    * document size — the curriculum/mixing move that keeps token mass
    * rather than doc count representative): each doc survives with
    * probability min(n_chars, cap)/cap, decided by the same salted
    * integer hash gate as [[stratifiedSampleOf]] — `h % cap <
    * min(n_chars, cap)` is exact integer arithmetic, RNG-free,
    * rerun-identical, and engine-identical. Docs at or above `cap`
    * chars always survive; a doc half the cap survives half the time.
    * Pure projection at any scale — no shuffle, no census pass,
    * nothing collected.
    */
  def weightedSample(spark: SparkSession, dir: String,
      cap: Int = 512): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        least($"n_chars", lit(cap.toLong)).as("weight"))
      .filter(Dedup.hash60(concat(lit("wsamp:"), $"doc_id".cast("string")))
        % cap < $"weight")
      .orderBy($"doc_id")
  }

  /** Sequence-length bucketing audit (the training-batch efficiency
    * report): docs group into power-of-two token-length buckets (the
    * standard padded-batch layout) and each bucket reports its doc
    * count, real token mass, padded token mass (count × bucket width),
    * and padding waste. The power-of-two ceiling is computed from the
    * BINARY DIGIT COUNT (`1 << length(bin(n-1))`) — exact integer
    * arithmetic, no float log2 whose ulp error at exact powers of two
    * would mis-bucket in one engine and not the other. One
    * partial-aggregatable integer shuffle over at most ~40 buckets.
    */
  def lengthBucketAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = TextFns.whitespaceTokenCount($"text").cast("long")
    Tables.widened(spark, Tables.documents(spark, dir))
      .select(n.as("nt"))
      .select(when($"nt" <= 1, lit(1L))
        .otherwise(expr("shiftleft(1L, length(bin(nt - 1)))"))
        .as("bucket"), $"nt")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("sum_tokens"))
      .select($"bucket", $"n_docs", $"sum_tokens",
        ($"n_docs" * $"bucket").as("pad_tokens"),
        (lit(1.0) - $"sum_tokens".cast("double") / ($"n_docs" * $"bucket"))
          .as("waste_frac"))
      .orderBy($"bucket")
  }

  /** The Kafka-shaped wire relation feeding the pseudo-JSON decode:
    * (event_id, value) where value is the reference producer's
    * Python-dict-literal payload (spark_kafka.py:118 — single quotes,
    * a ('tag', songid) tuple, int rating) rebuilt deterministically
    * from the events table. Shared by the batch roundtrip query and
    * the streaming ingest paths so every consumer decodes the
    * identical bytes.
    */
  def pseudoJsonWire(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.events(spark, dir)).select(
      $"event_id",
      concat(
        lit("{'userid': "), $"user_id",
        lit(",'music': ('m"), pmod($"event_id", lit(3)) + lit(1),
        lit("', "), get_json_object($"props", "$.k").cast("int"),
        lit("), 'rating': "), floor($"value").cast("int"), lit("}")).as("value"))
  }

  /** F3/F4 round-trip: render each event as the reference's pseudo-JSON
    * wire format (`{'userid': 88888,'music': ('m1', 1038), 'rating': 1}`),
    * then decode it back with the engine's parser. The oracle computes
    * the fields directly from the source columns, so any parse defect
    * shows up as a mismatch.
    *
    * The relation is unordered: a caller that needs `event_id` order
    * sorts it (the declared `pseudo_json_roundtrip` query, the marker
    * flush feed). A stream's history needs none, and a sort there
    * costs a range-sampling job and a range exchange on every batch.
    */
  def pseudoJsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wire = pseudoJsonWire(spark, dir)
    val (userid, tag, songid, rating) = PseudoJson.parse($"value")
    wire.select($"event_id", userid.as("userid"), tag.as("tag"),
        songid.as("songid"), rating.as("rating"))
      // decoded once (eager): every consumer (the declared query's
      // sort, a stream's history scans, a feed collect) reads the
      // decoded rows instead of re-running the encode+parse roundtrip
      .materialized
  }

  /** Gopher/C4-style rule-suite document filter (Rae et al. 2021 §A1.1;
    * Raffel et al. 2020 §2.2) — the multi-rule gate a pretraining
    * pipeline runs BEFORE the expensive dedup/decontamination stages.
    * Five rules, each an exact integer comparison (cross-multiplied
    * rationals, no float thresholds), each emitted as its own flag so
    * the filter is auditable per rule, plus the conjunctive keep:
    *
    *   words_ok:    20 <= n_words <= 80      (Gopher's 50..100k scaled
    *                                          to this corpus's 10..99)
    *   mean_len_ok: 3.8 <= mean word length <= 5.0  (as chars*10 vs n)
    *   top_word_ok: most frequent word <= 20% of tokens
    *   distinct_ok: distinct words >= 30% of tokens
    *   stopword_ok: >= 2 distinct English function words (Gopher's
    *                "stop word" rule; non-English docs fail by design —
    *                the suite composes after a lang gate)
    *
    * Thresholds are calibrated so every rule has failing docs on the
    * driver corpus (~43% keep) — a rule that never fires is dead code.
    * Pure projection over one scan: O(n·distinct) per doc inside
    * codegen, no shuffle, survives any scale-up by partitioning alone.
    */
  def gopherQualityFilter(spark: SparkSession, dir: String): DataFrame =
    gopherQualityFilterOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[gopherQualityFilter]] over any (doc_id, text) relation. */
  def gopherQualityFilterOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = TextFns.tokens($"text")
    val n = size(t).cast("long")
    val chars = aggregate(t, lit(0L), (acc, w) => acc + length(w))
    val nd = size(array_distinct(t)).cast("long")
    val topc = array_max(
      transform(array_distinct(t), d => size(filter(t, w => w === d))))
      .cast("long")
    val en = typedLit(TextFns.stopwordProfiles("en"))
    val dstops = size(filter(array_distinct(t),
      w => array_contains(en, w))).cast("long")
    docs
      .select($"doc_id", n.as("n_words"),
        (n >= 20L && n <= 80L).as("words_ok"),
        (chars * 10L >= n * 38L && chars * 10L <= n * 50L).as("mean_len_ok"),
        (topc * 5L <= n).as("top_word_ok"),
        (nd * 10L >= n * 3L).as("distinct_ok"),
        (dstops >= 2L).as("stopword_ok"))
      .select($"doc_id", $"n_words", $"words_ok", $"mean_len_ok",
        $"top_word_ok", $"distinct_ok", $"stopword_ok",
        ($"words_ok" && $"mean_len_ok" && $"top_word_ok" &&
          $"distinct_ok" && $"stopword_ok").as("keep"))
      .orderBy($"doc_id")
  }

  /** Top-vocabulary size for [[unigramSurprisal]]. 1000 covers the
    * driver corpus's entire vocabulary; at web scale it is the cap
    * that keeps the census broadcastable — OOV words score as
    * singletons (maximum surprisal), which is the conservative
    * direction for a quality gate.
    */
  val SurprisalVocab = 1000

  /** Unigram-LM surprisal quality score — the cheap stand-in for the
    * KenLM perplexity filter (CCNet, Wenzek et al. 2020): per-token
    * surprisal in WHOLE BITS, floor(log2(total/count)), computed from
    * the BINARY DIGIT COUNT of the exact integer quotient
    * (`length(bin(total div cnt)) - 1`) — the same no-float-log2 idiom
    * as [[lengthBucketAudit]], so both engines bucket identically and
    * the per-doc sum is exact integer arithmetic. Rare-word-heavy docs
    * (here: non-English) score high; repetitive common-word docs score
    * low — exactly the perplexity filter's ordering.
    *
    * Scale shape: the census is one partial-aggregatable word shuffle
    * capped to the top-[[SurprisalVocab]] rows (ORDER BY cnt DESC,
    * word — deterministic tie-break), broadcast to the scoring join;
    * the corpus is tokenized once and re-aggregated per doc_id. No
    * all-pairs, no driver state beyond the bounded vocabulary.
    */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisalOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** Share of docs the [[textNormalize]] gate decorates with a
    * decomposed-Unicode suffix (the corpus is ASCII, so un-normalized
    * text must be injected deterministically for the operator to have
    * exercised behavior — the same salted-hash-gate idiom as
    * median_impute's injected missingness).
    */
  val NfcInjectMod = 10L
  val NfcInjectKeep = 3L

  /** The decomposed suffix: "cafe" + COMBINING ACUTE (U+0301) — 5 code
    * points that NFC-compose to "café" (4). Shared with the oracle as
    * `'cafe' || chr(769)`.
    */
  val NfcSuffix = " cafe\u0301"

  /** Unicode NFC canonicalization pass ([[graft.plans.NfcNormalize]],
    * a native codegen Expression — Spark has no built-in normalizer and
    * a UDF would leave whole-stage codegen). Emits per-doc code-point
    * counts before/after, the changed flag, and the md5 of the
    * normalized text so the oracle pins the exact output bytes.
    * Pure projection: no shuffle, scales by partitioning alone.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.widened(spark, Tables.documents(spark, dir))
      .select($"doc_id",
        when(Dedup.hash60(concat(lit("nfc:"), $"doc_id".cast("string")))
            % NfcInjectMod < NfcInjectKeep,
          concat($"text", lit(NfcSuffix)))
          .otherwise($"text").as("raw"))
      .select($"doc_id", length($"raw").as("n_chars_raw"),
        graft.plans.NfcNormalize.nfc($"raw").as("norm"))
      .select($"doc_id", $"n_chars_raw",
        length($"norm").as("n_chars_nfc"),
        ($"n_chars_nfc" =!= $"n_chars_raw").as("changed"),
        md5($"norm").as("norm_md5"))
      .orderBy($"doc_id")
  }

  /** Bucket count for [[featureHash]]: small enough to read, large
    * enough that collisions are the point (the hashing trick's fixed
    * dimensionality is its contract — Weinberger et al. 2009).
    */
  val FeatureHashBuckets = 32L

  /** Hashing-trick featurizer: every token hashes to one of
    * [[FeatureHashBuckets]] buckets (salted h60, the corpus-wide
    * deterministic hash family), per-doc bucket counts come out in
    * long form (doc_id, bucket, n) — the sparse fixed-dimension
    * feature vector a downstream linear model consumes without any
    * vocabulary census. One explode + one partial-aggregatable
    * (doc_id, bucket) shuffle; no vocabulary state anywhere.
    */
  def featureHash(spark: SparkSession, dir: String): DataFrame =
    featureHashOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[featureHash]] over any (doc_id, text) relation. */
  /** Bucket count for [[dsirSelect]]'s hashed n-gram models — the
    * paper's hashed generative model dimension, sized so bucket
    * statistics stay broadcast-sized at any corpus size.
    */
  val DsirBuckets = 4096L

  /** Fixed-point scale (2^20) for the DSIR log-ratio: multiplying the
    * smoothed target count by 2^20 before the exact integer division
    * keeps ratios below 1 representable, and shifts every score by a
    * constant +20 bits — rank-irrelevant, sign-free.
    */
  val DsirScale: Long = 1L << 20

  /** Share kept by [[dsirSelect]]: ceil(1/10) of the corpus. */
  val DsirKeepDenom = 10L

  /** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more
    * likely its hashed n-gram features are under a TARGET bag-of-ngrams
    * model than under the RAW pool's, then keep the top share. Target
    * here: the `lang = 'en'` slice (the paper's "formal text" target,
    * stood in by the corpus's own labeled slice); raw: the whole
    * corpus.
    *
    * Exactness: the per-bucket log importance ratio
    * log2(p_target/p_raw) is computed in WHOLE BITS as
    * `length(bin((t+1) * 2^20 div (r+1))) - 1` — the binary-digit-count
    * idiom of [[unigramSurprisal]] (no float log anywhere), with +1
    * smoothing on both models and the 2^20 fixed-point shift keeping
    * sub-unit ratios representable. A document's weight is the exact
    * integer sum over its feature OCCURRENCES; selection is the
    * deterministic top-ceil(N/10) by (weight, doc_id) — the paper's
    * Gumbel top-k at temperature → 0, which makes the whole selection
    * hash-checkable cross-engine.
    *
    * Scale shape: tokenize → hash to [[DsirBuckets]] buckets; ONE
    * partial-aggregatable shuffle builds both models at once (raw
    * count + target count per bucket, a 4096-row relation); scoring is
    * a broadcast join of that table onto a second tokenization pass
    * (no corpus-sized cache — re-scanning beats materializing at
    * 100 TB); the keep threshold is ONE TakeOrderedAndProject row, and
    * the picked flag is a pure projection against it — no global sort,
    * no window over the corpus, no data-sized collect.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[dsirSelect]] over any (doc_id, lang, text) relation. */
  def dsirSelectOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def feats = docs.select($"doc_id", $"lang",
        explode(TextFns.tokens($"text")).as("word"))
      .select($"doc_id", $"lang",
        (Dedup.hash60(concat(lit("dsir:"), $"word")) % DsirBuckets).as("b"))
    // both models in one shuffle: per bucket, raw occurrences r and
    // target (en) occurrences t — 4096 rows out, map-side combined
    val census = feats.groupBy($"b").agg(
      count(lit(1)).as("r"),
      count(when($"lang" === "en", 1)).as("t"))
    val sBits = (length(bin(expr(s"(t + 1L) * ${DsirScale}L div (r + 1L)"))) - 1)
      .cast("long")
    val weights = feats
      .join(broadcast(census.select($"b", sBits.as("s"))), Seq("b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), sum($"s").as("w_bits"))
    val k = ((docs.count() + DsirKeepDenom - 1L) / DsirKeepDenom).toInt
    // the k-th (weight, doc_id) pair IS the acceptance threshold: two
    // bounded sorts of k rows, then flagging is a projection
    val thr = weights.orderBy($"w_bits".desc, $"doc_id")
      .limit(k)
      .orderBy($"w_bits".asc, $"doc_id".desc)
      .first() // bounded: single threshold row of the k-th candidate
    val (thrBits, thrDoc) =
      (thr.getAs[Long]("w_bits"), thr.getAs[Long]("doc_id"))
    weights.select($"doc_id", $"n_feats", $"w_bits",
        ($"w_bits" > thrBits ||
          ($"w_bits" === thrBits && $"doc_id" <= thrDoc)).as("picked"))
      .orderBy($"doc_id")
  }

  def featureHashOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .select($"doc_id",
        (Dedup.hash60(concat(lit("fh:"), $"word")) % FeatureHashBuckets)
          .as("bucket"))
      .groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy($"doc_id", $"bucket")
  }

  /** [[unigramSurprisal]] over any (doc_id, text) relation. */
  def unigramSurprisalOf(docs: DataFrame,
      vocab: Int = SurprisalVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select($"doc_id",
      explode(TextFns.tokens($"text")).as("word"))
    // one tokenization pass feeds BOTH the total and the capped vocab:
    // the uncapped census is cached (vocabulary-sized, not corpus-sized),
    // the total is an aggregate over its rows, never a second corpus scan
    val censusAll = words.groupBy($"word").agg(count(lit(1)).as("cnt"))
      .materialized
    val total = censusAll.agg(sum($"cnt")).first().getLong(0)
    val census = censusAll
      .orderBy($"cnt".desc, $"word").limit(vocab)
    val bits = length(bin(expr(s"${total}L div coalesce(cnt, 1L)"))) - 1
    words.join(broadcast(census), Seq("word"), "left")
      .select($"doc_id", bits.cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"bits").as("sum_bits"))
      .select($"doc_id", $"n_tokens", $"sum_bits",
        ($"sum_bits".cast("double") / $"n_tokens").as("mean_bits"))
      .orderBy($"doc_id")
  }

  /** Merge rounds learned by [[bpeMerges]]. */
  val BpeRounds = 4

  /** Symbol boundary sentinel (U+0001) for the BPE rewrite. Every
    * symbol is stored WRAPPED -- `<a><b>` with <> = the sentinel -- so
    * the merge pattern `<l><r>` can only match at symbol STARTS: with
    * a bare space separator, merging (a, b) would also corrupt
    * `aa b` (its tail `a b` is a substring match across the symbol
    * boundary -- measured, not hypothetical). Adjacent matches share
    * no characters, so leftmost non-overlapping `replace` is exactly
    * the standard greedy BPE scan in both engines. The sentinel cannot
    * appear in corpus text (the tokenizer splits on space; the JSON
    * transport escapes control chars).
    */
  val BpeSep = "\u0001"

  /** Distributed BPE tokenizer training — the vocabulary-induction
    * job a 100 TB text pipeline runs before anything else tokenizes:
    * the classic byte-pair-encoding loop (Sennrich et al., public
    * algorithm) over the word-frequency table. Each round counts
    * adjacent symbol pairs weighted by word frequency, merges the
    * globally most frequent pair (ties: lexicographic — total and
    * engine-identical for this ASCII corpus), and rewrites the symbol
    * strings. Emitted: the learned merge table, one row per round —
    * the artifact a tokenizer ships.
    *
    * Scale shape per round: the pair census is ONE partial-aggregatable
    * (l, r) shuffle over the word TABLE (already collapsed to unique
    * words × freq — corpus text is read once, ever); the argmax is a
    * 1-row TakeOrdered broadcast back; the rewrite is a projection.
    * Rounds compose as plan operators — no driver-side loop state, no
    * action until the single final collect of [[BpeRounds]] rows.
    * `replace` merges occurrences leftmost-first without overlap in
    * both engines (the standard greedy BPE scan).
    */
  def bpeMerges(spark: SparkSession, dir: String,
      rounds: Int = BpeRounds): DataFrame =
    bpeMergesOf(Tables.widened(spark, Tables.documents(spark, dir)), rounds)

  /** [[bpeMerges]] over any (text) relation. The merge table is
    * materialized (eager, rounds-many rows) before the presentation
    * sort: the sort's range-sampling pass otherwise re-evaluates the
    * ENTIRE training chain a second time.
    */
  def bpeMergesOf(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeStateOf(docs, rounds)._1.materialized.orderBy($"round")
  }

  /** The shared training loop: returns (merge table, final word→symbol
    * vocabulary). The vocabulary frame is what [[bpeTokenizeOf]]
    * applies — tokenization cost scales with the VOCABULARY, never the
    * corpus (the corpus is only word-counted).
    */
  private[graft] def bpeStateOf(docs: DataFrame,
      rounds: Int = BpeRounds): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(TextFns.tokens($"text")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    // initial symbolization: every character sentinel-WRAPPED
    var sym = words.select($"word",
      regexp_replace($"word", "(.)", BpeSep + "$1" + BpeSep).as("sym"),
      $"freq")
    val merges = (1 to rounds).map { round =>
      val pairs = sym
        .select(split($"sym", BpeSep).as("ls0"), $"freq")
        .select(expr("filter(ls0, x -> x != '')").as("ls"), $"freq")
        .filter(size($"ls") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ls) - 1), " +
            "i -> struct(ls[i-1] AS l, ls[i] AS r))")).as("p"), $"freq")
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("c"))
      val top = pairs.orderBy($"c".desc, $"l", $"r").limit(1)
      sym = sym.crossJoin(broadcast(top))
        .withColumn("pat", concat(lit(BpeSep), $"l", lit(BpeSep),
          lit(BpeSep), $"r", lit(BpeSep)))
        .withColumn("rep", concat(lit(BpeSep), $"l", $"r", lit(BpeSep)))
        .select($"word", expr("replace(sym, pat, rep)").as("sym"), $"freq")
      top.select(lit(round).as("round"), $"l", $"r", $"c")
    }
    (merges.reduce(_.unionByName(_)), sym)
  }

  /** BPE APPLY — the training pair's other half: tokenize every
    * document with the merges [[bpeMerges]] just learned, reporting
    * per-doc char count, whitespace word count, BPE token count and
    * the compression in ppm (tokens·10⁶ div chars — the fertility
    * number a tokenizer card reports).
    *
    * Scale shape: the learned vocabulary (word → final symbol string)
    * is joined onto the per-doc WORD COUNTS — the rewrite chain runs
    * once per unique word, never per occurrence; the per-doc fold is
    * one integer shuffle keyed by doc_id.
    */
  def bpeTokenize(spark: SparkSession, dir: String,
      rounds: Int = BpeRounds): DataFrame =
    bpeTokenizeOf(Tables.widened(spark, Tables.documents(spark, dir)),
      rounds)

  /** [[bpeTokenize]] over any (doc_id, text) relation. */
  def bpeTokenizeOf(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = bpeStateOf(docs, rounds)._2
      .select($"word",
        size(expr(s"filter(split(sym, '${BpeSep}'), x -> x != '')"))
          .cast("long").as("n_sym"))
    val docWords = docs
      .select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("cnt"))
    docWords.join(vocab, Seq("word"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_words"),
        sum($"cnt" * length($"word")).as("n_chars"),
        sum($"cnt" * $"n_sym").as("n_tokens_bpe"))
      .select($"doc_id", $"n_words", $"n_chars", $"n_tokens_bpe",
        expr("(n_tokens_bpe * 1000000) div n_chars").as("compression_ppm"))
      .orderBy($"doc_id")
  }

  /** Inter-gate agreement audit — Cohen's kappa between two
    * INDEPENDENT quality gates (the Gopher rule bundle vs the weighted
    * quality score at the corpus-clean threshold): the
    * annotator-agreement number a dataset card reports when two
    * labeling policies disagree. Everything up to the final kappa is
    * an exact BIGINT: the confusion cells are counts,
    * agreement ppm is one integer division, and kappa — which can be
    * negative, where Spark's `div` (truncate) and DuckDB's `//`
    * (floor) would diverge — is ONE double division of the exact
    * integers n·(a+d) − E over n² − E (E the chance-agreement
    * numerator), the AUC contract. One joined pass, one single-row
    * aggregate.
    */
  def gateAgreement(spark: SparkSession, dir: String,
      minQuality: Double = 0.41): DataFrame = {
    import spark.implicits._
    val docs = Tables.widened(spark, Tables.documents(spark, dir))
    val g = gopherQualityFilterOf(docs)
      .select($"doc_id", $"keep".as("g_keep"))
    val q = docs.select($"doc_id",
      (TextFns.qualityScore($"text") >= minQuality).as("q_keep"))
    g.join(q, Seq("doc_id"))
      .agg(
        sum(when($"g_keep" && $"q_keep", 1L).otherwise(0L)).as("both_keep"),
        sum(when($"g_keep" && !$"q_keep", 1L).otherwise(0L)).as("gopher_only"),
        sum(when(!$"g_keep" && $"q_keep", 1L).otherwise(0L)).as("quality_only"),
        sum(when(!$"g_keep" && !$"q_keep", 1L).otherwise(0L)).as("both_drop"))
      .withColumn("n", $"both_keep" + $"gopher_only" + $"quality_only" +
        $"both_drop")
      .withColumn("e", ($"both_keep" + $"gopher_only") *
        ($"both_keep" + $"quality_only") +
        ($"quality_only" + $"both_drop") * ($"gopher_only" + $"both_drop"))
      .select($"both_keep", $"gopher_only", $"quality_only", $"both_drop",
        $"n",
        expr("((both_keep + both_drop) * 1000000) div n").as("agree_ppm"),
        ((($"n" * ($"both_keep" + $"both_drop")) - $"e").cast("double") /
          (($"n" * $"n") - $"e").cast("double")).as("kappa"))
  }

  /** [[gateAgreement]] oracle: both gates' published SQL forms joined,
    * identical confusion/kappa arithmetic.
    */
  def gateAgreementSql(stopwordsIn: String,
      minQuality: Double = 0.41): String =
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS l
       |  FROM documents),
       |s AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
       |    CAST(list_sum(list_transform(l, x -> len(x))) AS BIGINT) AS chars,
       |    CAST(len(list_distinct(l)) AS BIGINT) AS nd,
       |    CAST(list_max(list_transform(list_distinct(l),
       |      d -> len(list_filter(l, x -> x = d)))) AS BIGINT) AS topc,
       |    CAST(len(list_filter(list_distinct(l),
       |      x -> x IN $stopwordsIn)) AS BIGINT) AS dstops
       |  FROM w),
       |g AS (SELECT doc_id,
       |    ((n >= 20 AND n <= 80)
       |      AND (chars * 10 >= n * 38 AND chars * 10 <= n * 50)
       |      AND (topc * 5 <= n) AND (nd * 10 >= n * 3)
       |      AND (dstops >= 2)) AS g_keep FROM s),
       |q AS (SELECT doc_id,
       |    (LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
       |     + CAST(len(list_distinct(l)) AS DOUBLE)
       |       / CAST(len(l) AS DOUBLE) * 0.5
       |     + CAST(len(list_filter(l, x -> x IN $stopwordsIn)) AS DOUBLE)
       |       / CAST(len(l) AS DOUBLE) * 0.25) >= $minQuality AS q_keep
       |  FROM w),
       |cm AS (SELECT
       |    CAST(SUM(CASE WHEN g_keep AND q_keep THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
       |    CAST(SUM(CASE WHEN g_keep AND NOT q_keep THEN 1 ELSE 0 END) AS BIGINT) AS gopher_only,
       |    CAST(SUM(CASE WHEN NOT g_keep AND q_keep THEN 1 ELSE 0 END) AS BIGINT) AS quality_only,
       |    CAST(SUM(CASE WHEN NOT g_keep AND NOT q_keep THEN 1 ELSE 0 END) AS BIGINT) AS both_drop
       |  FROM g JOIN q USING (doc_id)),
       |x AS (SELECT *,
       |    both_keep + gopher_only + quality_only + both_drop AS n,
       |    (both_keep + gopher_only) * (both_keep + quality_only)
       |      + (quality_only + both_drop) * (gopher_only + both_drop) AS e
       |  FROM cm)
       |SELECT both_keep, gopher_only, quality_only, both_drop, n,
       |  ((both_keep + both_drop) * 1000000) // n AS agree_ppm,
       |  CAST(n * (both_keep + both_drop) - e AS DOUBLE)
       |    / CAST(n * n - e AS DOUBLE) AS kappa
       |FROM x""".stripMargin

  /** Shared training CTE chain for the BPE oracles: w → s0 → (qᵢ, pᵢ,
    * mᵢ, sᵢ)×rounds, with `word` carried through every sᵢ so the apply
    * oracle can join the final vocabulary back to documents. (The raw
    * U+0001 sentinel rides inside the SQL literals; the Verify JSON
    * dump escapes control characters in transport.)
    */
  private def bpeCtes(rounds: Int): String = {
    val S = BpeSep
    val roundCtes = (1 to rounds).map { i =>
      s"""q$i AS (SELECT list_filter(string_split(sym, '$S'),
         |    x -> x <> '') AS ls, freq FROM s${i - 1}),
         |p$i AS (SELECT ls[i] AS l, ls[i + 1] AS r,
         |    CAST(SUM(freq) AS BIGINT) AS c
         |  FROM q$i, UNNEST(generate_series(1, len(ls) - 1)) AS t(i)
         |  WHERE len(ls) >= 2 GROUP BY 1, 2),
         |m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         |s$i AS (SELECT word, replace(sym, '$S' || l || '$S$S' || r || '$S',
         |    '$S' || l || r || '$S') AS sym, freq
         |  FROM s${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE len(word) > 0 GROUP BY word),
       |s0 AS (SELECT word,
       |    regexp_replace(word, '(.)', '$S\\1$S', 'g') AS sym,
       |    freq FROM w),
       |$roundCtes""".stripMargin
  }

  /** DuckDB oracle for [[bpeMerges]]: the identical unrolled rounds. */
  def bpeMergesSql(rounds: Int = BpeRounds): String = {
    val out = (1 to rounds).map(i =>
      s"SELECT $i AS round, l, r, c FROM m$i").mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(rounds)}
       |$out
       |ORDER BY round""".stripMargin
  }

  /** DuckDB oracle for [[bpeTokenize]]: the same training chain, final
    * vocabulary joined onto per-doc word counts.
    */
  def bpeTokenizeSql(rounds: Int = BpeRounds): String = {
    val S = BpeSep
    s"""WITH ${bpeCtes(rounds)},
       |tok AS (SELECT word, CAST(len(list_filter(string_split(sym, '$S'),
       |    x -> x <> '')) AS BIGINT) AS n_sym FROM s$rounds),
       |dw AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |  CAST(SUM(cnt * len(word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens_bpe,
       |  (CAST(SUM(cnt * n_sym) AS BIGINT) * 1000000)
       |    // CAST(SUM(cnt * len(word)) AS BIGINT) AS compression_ppm
       |FROM dw JOIN tok USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Bigram-model state bounds: the conditional table keeps the top
    * [[BigramVocab]] pairs (the quadratic space is the one that needs
    * capping); a pair outside it BACKS OFF to the unigram code plus
    * [[BackoffPenaltyBits]] whole bits — the stupid-backoff shape
    * (Brants et al. 2007) in integer arithmetic.
    */
  val BigramVocab = 2000
  val BackoffPenaltyBits = 3L

  /** Bigram-LM surprisal — the perplexity-flavored quality filter one
    * step up from [[unigramSurprisalOf]]: each adjacent pair (w1, w2)
    * costs floor(log2(c(w1) / c(w1,w2))) whole bits — the integer
    * conditional code length P(w2|w1) — when the pair is in the top-V
    * bigram table, else the unigram code of w2 plus a fixed backoff
    * penalty. Fluent text (pairs the corpus has seen) scores low;
    * shuffled or boilerplate-stitched text scores high even when its
    * unigrams are common — the signal unigram surprisal cannot see.
    *
    * Scale shape: pair extraction is a PURE projection (tokens zipped
    * with their own shift — no positional self-join); the bigram table
    * is capped state (top-V, deterministic tie-break) and broadcasts;
    * the unigram census is vocabulary-sized (Heaps-sublinear in corpus
    * size) and broadcasts here — swap its two joins to shuffle joins
    * at vocabularies beyond broadcast reach, nothing else changes.
    * Whole-bit integers end to end; docs with fewer than 2 tokens have
    * no bigrams and are excluded by construction (mirrored in the
    * oracle).
    */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisalOf(Tables.widened(spark, Tables.documents(spark, dir)))

  /** [[bigramSurprisal]] over any (doc_id, text) relation. */
  def bigramSurprisalOf(docs: DataFrame,
      vocab: Int = BigramVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = TextFns.tokens($"text")
    val pairs = docs.filter(size(t) >= 2)
      .select($"doc_id", explode(transform(
        sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"),
          element_at(t, i + 1).as("w2")))).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val words = docs.select(explode(TextFns.tokens($"text")).as("word"))
    val ucensus = words.groupBy($"word").agg(count(lit(1)).as("ucnt"))
      .materialized
    val total = ucensus.agg(sum($"ucnt")).first().getLong(0)
    val bcensus = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("bcnt"))
      .orderBy($"bcnt".desc, $"w1", $"w2").limit(vocab)
    val bits =
      when($"bcnt".isNotNull, length(bin(expr("c1 div bcnt"))) - 1)
        .otherwise(length(bin(expr(s"${total}L div c2"))) - 1
          + lit(BackoffPenaltyBits))
    pairs
      .join(broadcast(bcensus), Seq("w1", "w2"), "left")
      .join(broadcast(ucensus.select($"word".as("w1"), $"ucnt".as("c1"))), Seq("w1"))
      .join(broadcast(ucensus.select($"word".as("w2"), $"ucnt".as("c2"))), Seq("w2"))
      .select($"doc_id", bits.cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bits").as("sum_bits"))
      .select($"doc_id", $"n_bigrams", $"sum_bits",
        expr("sum_bits * 100 div n_bigrams").as("centibits_per_bigram"))
      .orderBy($"doc_id")
  }

  /** [[bigramSurprisal]] oracle. */
  def bigramSurprisalSql(vocab: Int = BigramVocab): String =
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |uc AS (SELECT word, COUNT(*) AS ucnt FROM w GROUP BY word),
       |t AS (SELECT SUM(ucnt) AS total FROM uc),
       |d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |bg AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
       |  FROM d, unnest(generate_series(1, len(l) - 1)) AS g(i)
       |  WHERE len(l) >= 2),
       |bc AS (SELECT w1, w2, COUNT(*) AS bcnt FROM bg GROUP BY w1, w2
       |  ORDER BY bcnt DESC, w1, w2 LIMIT $vocab),
       |sc AS (SELECT bg.doc_id,
       |    CASE WHEN bc.bcnt IS NOT NULL
       |      THEN length(bin(u1.ucnt // bc.bcnt)) - 1
       |      ELSE length(bin((SELECT total FROM t) // u2.ucnt)) - 1
       |        + $BackoffPenaltyBits END AS bits
       |  FROM bg
       |  LEFT JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
       |  JOIN uc u1 ON bg.w1 = u1.word
       |  JOIN uc u2 ON bg.w2 = u2.word)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
       |  CAST(SUM(bits) AS BIGINT) * 100 // COUNT(*) AS centibits_per_bigram
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Case-insensitive vocabulary report via Spark 4 COLLATIONS: the
    * grouping key is `collate(token, 'UTF8_LCASE')`, so equality,
    * hashing, and the shuffle partitioner all honor the collation
    * natively — no lower() rewrite of the data ever materializes. The
    * corpus is all-lowercase ASCII, so a deterministic mixed-case
    * perturbation (first letter uppercased at even 0-based token
    * positions) is injected first and mirrored exactly in the oracle;
    * `variants` (binary-distinct spellings inside each collation
    * class) proves the collation really merged distinct byte strings
    * (tokens seen at both parities report 2). The emitted
    * representative is the BINARY min of the class — the collated key
    * itself would be a nondeterministic class member, which is why no
    * collated column leaves the query. One shuffle; count-distinct is
    * Spark's standard two-level expand — vocabulary-bounded output at
    * any corpus size.
    */
  def collationGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.widened(spark, Tables.documents(spark, dir))
      .select(posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .where($"tok" =!= "")
    val cased = toks.select(
      when($"pos" % 2 === 0,
        concat(upper(substring($"tok", 1, 1)),
          substring($"tok", 2, Int.MaxValue)))
        .otherwise($"tok").as("ctok"))
    cased.groupBy(collate($"ctok", "UTF8_LCASE").as("k"))
      .agg(min($"ctok").as("token"), count(lit(1)).as("cnt"),
        countDistinct($"ctok").as("variants"))
      .select($"token", $"cnt", $"variants")
      // class minima are distinct across classes, so this is total
      .orderBy($"token")
  }

  /** [[collationGroup]] oracle: DuckDB has no collated grouping, so the
    * class key is `lower(ctok)` — equivalent on the ASCII-lowercase
    * token domain (asserted by the corpus). 1-based list index i maps
    * to Spark's 0-based pos, so the perturbation parity is `i % 2 = 1`.
    */
  def collationGroupSql: String =
    """WITH d AS (SELECT string_split(text, ' ') AS l FROM documents),
      |t AS (SELECT l[i] AS tok, i
      |      FROM d, UNNEST(generate_series(1, len(l))) AS u(i)),
      |c AS (SELECT CASE WHEN i % 2 = 1
      |        THEN upper(substr(tok, 1, 1)) || substr(tok, 2)
      |        ELSE tok END AS ctok
      |      FROM t WHERE tok <> '')
      |SELECT min(ctok) AS token, COUNT(*) AS cnt,
      |  COUNT(DISTINCT ctok) AS variants
      |FROM c GROUP BY lower(ctok) ORDER BY token""".stripMargin
}
