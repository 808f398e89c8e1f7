package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EntityResolution
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("exact dedup covers all docs exactly once at this sf (no dups)") {
    val d = Dedup.exactDedup(spark, sf)
    val total = d.agg(org.apache.spark.sql.functions.sum("n_copies")).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("jaccard pairs are valid: 0 < j <= 1, a < b") {
    val j = Dedup.ngramJaccard(spark, sf)
    assert(j.filter("jaccard <= 0 OR jaccard > 1 OR doc_a >= doc_b").count() == 0)
  }

  test("df cap prunes a ubiquitous shingle from the pair join") {
    import spark.implicits._
    // 40 docs that share exactly one trigram (hot1 hot2 hot3) and are
    // otherwise disjoint: uncapped, the shared shingle alone produces
    // all C(40,2) pairs; with maxDf below 40 it is dropped from the
    // index, so the pair join generates NOTHING — the explosion a
    // boilerplate shingle would cause at corpus scale never starts.
    val docs = (0 until 40)
      .map(i => (i.toLong, s"u$i v$i w$i hot1 hot2 hot3"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardOf(docs, minJ = 0.0, maxDf = 1000000L)
    assert(uncapped.count() == 40L * 39 / 2)
    val capped = Dedup.ngramJaccardOf(docs, minJ = 0.0, maxDf = 10L)
    assert(capped.count() == 0)
    // docs sharing MORE than the hot shingle still pair up under the cap
    val twins = docs.union(Seq((100L, "u0 v0 w0 hot1 hot2 hot3"))
      .toDF("doc_id", "text"))
    val pairs = Dedup.ngramJaccardOf(twins, minJ = 0.5, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 100L)))
  }

  test("minhash candidates verify to real overlapping pairs") {
    val m = Dedup.minhashLsh(spark, sf)
    assert(m.filter("jaccard <= 0 OR doc_a >= doc_b").count() == 0)
  }

  test("minhash recall: every very-similar pair (j >= 0.7) is a candidate") {
    // with 4 bands of 4 rows, P(miss | j=0.7) = (1-0.7^4)^4 ~ 0.1;
    // the sf0.001 corpus near-dups are j ~ 0.98 where P(miss) ~ 1e-5
    val high = Dedup.ngramJaccard(spark, sf, minJ = 0.95).select("doc_a", "doc_b")
    val cand = Dedup.minhashLsh(spark, sf).select("doc_a", "doc_b")
    assert(high.exceptAll(cand).count() == 0)
  }

  test("degenerate corpus: N identical docs cost O(N), with exact pair output") {
    import spark.implicits._
    val n = 40
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((0 until n).map(i => (i.toLong, base)) :+
      (1000L, "a completely different text about something else entirely ok"))
      .toDF("doc_id", "text")
    // the band join sees one representative per exact group: zero
    // candidate pairs instead of n*(n-1)/2 — the O(N²) blowup the
    // guard exists to prevent
    val (_, cand, _, _) = Dedup.lshCandidates(docs, n = 3, numHashes = 16, bands = 4)
    assert(cand.count() == 0)
    // the expanded output is still the full exact pair list at j = 1.0
    val out = Dedup.minhashLshOf(docs).collect()
    assert(out.length == n * (n - 1) / 2)
    assert(out.forall(_.getDouble(2) == 1.0))
    val ids = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == (for (a <- 0 until n; b <- a + 1 until n)
      yield (a.toLong, b.toLong)).toSet)
  }

  test("mixed degenerate groups: cross-group pairs inherit the rep jaccard") {
    import spark.implicits._
    // two exact groups whose texts are near-duplicates of each other
    // (j = 115/121 ~ 0.95, so some band collides; fixed data => stable)
    val ta = (0 until 120).map(i => s"w$i").mkString(" ")
    val tb = (0 until 119).map(i => s"w$i").mkString(" ") + " wX"
    val docs = (Seq((0L, ta), (1L, ta), (2L, ta)) ++ Seq((10L, tb), (11L, tb)))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshOf(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // intra: C(3,2) + C(2,2) pairs at 1.0; inter: 3*2 pairs sharing the
    // verified rep jaccard
    assert(out.size == 3 + 1 + 6)
    assert(out((0L, 1L)) == 1.0 && out((0L, 2L)) == 1.0 &&
      out((1L, 2L)) == 1.0 && out((10L, 11L)) == 1.0)
    val interJ = out((0L, 10L))
    assert(interJ > 0 && interJ < 1)
    assert(Seq((0L, 11L), (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
      .forall(p => out(p) == interJ))
  }

  test("simhash equals brute-force all-pairs hamming <= 3 (banding is complete)") {
    // by pigeonhole, a pair within hamming 3 of a 4-band signature
    // agrees on >= 1 band, so LSH candidates lose nothing vs brute force
    val sigs = Dedup.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    val got = Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
  }

  test("invalid LSH geometries are rejected, not silently wrong") {
    intercept[IllegalArgumentException](Dedup.minhashLsh(spark, sf, bands = 8))
    intercept[IllegalArgumentException](Dedup.simhash(spark, sf, maxHamming = 4))
    intercept[IllegalArgumentException](Dedup.simhash(spark, sf, bands = 7))
  }

  test("decontamination flags docs sharing 8-grams with the benchmark") {
    import spark.implicits._
    val benchmark = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x a b c d e f g h i j y"), // contains the benchmark run
      (11L, "totally different words with no overlap at all here ok"),
      (12L, "a b c d e f g SEVEN only seven shared tokens here"))
      .toDF("doc_id", "text")
    val got = Dedup.decontaminateOf(corpus, benchmark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc 10 embeds the 10-token benchmark text -> shares its 3
    // distinct 8-grams; docs 11/12 share no full 8-gram
    assert(got == Seq((10L, 3L)), got.toString)
  }

  test("SRP-banded near-dup: subset of brute force, full recall on confident pairs") {
    val brute = Dedup.embeddingNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    // every LSH pair is a brute-force pair with the identical cosine
    lsh.foreach { case (p, c) =>
      assert(brute.get(p).contains(c), s"$p not in brute force / cos differs")
    }
    // recall: banding must catch every pair the geometry is built for
    // (cos >= 0.5 → per-plane agreement >= 2/3, miss < 8% per pair; on
    // this fixed corpus+planes the catch is deterministic and total)
    brute.filter(_._2 >= 0.5).keys.foreach { p =>
      assert(lsh.contains(p), s"confident pair $p missed by banding")
    }
  }

  test("cosine top-k: ranks 1..k per query, no self-match, descending cos") {
    val t = Similarity.cosineTopK(spark, sf).collect()
    assert(t.nonEmpty)
    t.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(3) >= b.getDouble(3); case _ => true })
      assert(rows.forall(r => r.getLong(2) != r.getLong(0)))
    }
  }

  test("SRP-LSH neighbors come from the query's bucket, cos bounded by brute force") {
    val brute = Similarity.cosineTopK(spark, sf, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val srp = Similarity.srpTopK(spark, sf)
    srp.collect().foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-12,
        "an approximate neighbor can never beat the exact best")
      assert(r.getLong(2) != r.getLong(0), "no self-match")
    }
  }

  test("trained IVF hits recall@5 >= 0.9 vs brute force at sf0.01") {
    // these embeddings are isotropic (random-pair cos ~ N(0, 0.125)),
    // so true top-5 neighbors sit near cos 0.35 with no cluster
    // structure — ANY coarse quantizer must probe a large fraction for
    // high recall; on clustered corpora the same index probes far
    // fewer. 10 trained centroids, 8 probes -> measured recall 0.95.
    val dir = "/root/testdata/sf0.01"
    val brute = Similarity.cosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfKmeansTopK(spark, dir,
      centroidEvery = 50, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("IVF top-1 with full probe coverage matches brute force on rank 1 cos bound") {
    val brute = Similarity.cosineTopK(spark, sf, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(spark, sf, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // IVF is approximate: its best-found cos is <= brute-force best
    ivf.foreach { case (q, c) => assert(c <= brute(q) + 1e-12) }
  }

  test("large-k broadcast-argmax fallback is bit-identical to the literal path") {
    // maxLiteralCents = 0 forces every assignment/probe through the
    // mapPartitions-over-broadcast path; results must match the plan-
    // literal projection bit-for-bit (doubleToLongBits on cos), ties
    // and NaN ordering included
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val emb = Tables.embeddings(spark, sf)
    assert(key(Similarity.ivfKmeansTopKOf(emb, maxLiteralCents = 0)) ==
      key(Similarity.ivfKmeansTopKOf(emb)))
    assert(key(Similarity.ivfTopKOf(emb, maxLiteralCents = 0)) ==
      key(Similarity.ivfTopKOf(emb)))
  }

  test("empty embedding input short-circuits to an empty, well-typed result") {
    val empty = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.lit(false))
    for (df <- Seq(Similarity.ivfKmeansTopKOf(empty), Similarity.ivfTopKOf(empty))) {
      assert(df.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cos"))
      assert(df.count() == 0)
    }
  }

  test("cluster resolution: transitive closure, min-id keeper, converged") {
    import spark.implicits._
    // chain 1-2-3 plus island 4-5: labels propagate across hops
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clustersOf(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // the corpus labels are a genuine fixed point: re-running the loop
    // from the returned labels changes nothing (detection, not unroll)
    val corpus = Dedup.minhashLshOf(Tables.widened(spark, Tables.documents(spark, sf)))
      .select($"doc_a", $"doc_b")
    val (df, rounds) = Dedup.clustersCounted(corpus)
    val labels = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rounds < Dedup.MaxClusterRounds, "corpus must converge before the cap")
    val again = Dedup.clustersOf(corpus).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(labels == again)
  }

  test("cluster resolution: diameter-100 chain fully merges to one component") {
    import spark.implicits._
    // the case a fixed unroll fails: a literal chain 0-1-2-...-100 where
    // each doc near-dups only its neighbor. Min-label propagation needs
    // rounds ≈ the diameter; the detected fixed point must land every
    // node on label 0, and must do so in more rounds than the old
    // 4-round unroll ever ran (proving the loop really is dynamic).
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (df, rounds) = Dedup.clustersCounted(chain)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 101)
    assert(got.forall(_._2 == 0L), s"under-merged: ${got.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds > 4, s"a 100-hop chain cannot converge in 4 rounds (ran $rounds)")
    assert(rounds <= Dedup.MaxClusterRounds)
  }

  test("cluster resolution: empty pair list yields an empty typed result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.clustersOf(empty)
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(out.count() == 0)
  }

  test("cluster propagation rounds stay partial-aggregated, never cartesian") {
    import spark.implicits._
    // the loop checkpoints each round, so the RETURNED frame's plan is
    // a checkpoint scan — audit the repeated round stage itself: the
    // propagate join+agg plus the pointer-jump self-join
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val e = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
    val verts = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      .union(verts.select($"id".as("src"), $"id".as("dst")))
    val labels = verts.select($"id".as("node"), $"id".as("label"))
    val prop = Dedup.propagateRound(sym, labels)
    val round = prop.as("c").join(labels.as("p"), $"c.label" === $"p.node")
      .select($"c.node".as("node"), $"p.label".as("label"))
    round.collect()
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"per-round min must map-side combine:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
      s"label propagation must stay an equi join:\n$p")
  }

  test("incremental minhash == full detector filtered to pairs touching the new batch") {
    import spark.implicits._
    val docs = Tables.widened(spark, Tables.documents(spark, sf))
    val newMod = 10L
    val full = Dedup.minhashLshOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 % newMod == 0 || p._2 % newMod == 0).toSet
    val inc = Dedup.minhashIncrementalOf(docs, $"doc_id" % newMod === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, "incremental must emit exactly the touching-new subset")
    // and it must emit SOMETHING here, or the property is vacuous
    assert(inc.nonEmpty)
  }

  test("int8 quantization: codes bounded, scale hit exactly, zero vector safe") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -2.0f, 1.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)), // no scale: all-zero codes
      (3L, Seq(3.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8Of(vecs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 2.0, "31;-127;63"), (2L, 0.0, "0;0;0"),
      (3L, 3.0, "127")))
    // corpus-wide: every code in [-127, 127] and the max-abs component
    // always maps to ±127 (the scale is tight)
    val all = Similarity.quantizeInt8(spark, sf).collect().map { r =>
      r.getString(2).split(";").map(_.toLong)
    }
    assert(all.forall(_.forall(c => c >= -127 && c <= 127)))
    assert(all.forall(cs => cs.exists(c => math.abs(c) == 127)))
  }

  test("incremental minhash: id-relation form matches the predicate form") {
    import spark.implicits._
    val docs = Tables.widened(spark, Tables.documents(spark, sf))
      .select($"doc_id", $"text")
    val byPredicate = Dedup
      .minhashIncrementalOf(docs, $"doc_id" % 10 === 0)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ids = docs.filter($"doc_id" % 10 === 0).select($"doc_id")
    val byRelation = Dedup.minhashIncrementalIdsOf(docs, ids)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byPredicate.nonEmpty, "feed must produce pairs for parity to bite")
    assert(byRelation == byPredicate)
  }

  test("bloom decontamination equals the broadcast-exact plan, and the " +
      "verify join removes forced false positives") {
    import spark.implicits._
    val exact = Dedup.decontaminate(spark, sf).orderBy("doc_id").collect().toSeq
    val bloom = Dedup.decontaminateBloom(spark, sf).orderBy("doc_id").collect().toSeq
    assert(exact.nonEmpty && bloom == exact)
    // 128-bit filter vs hundreds of distinct shingles: nearly every
    // probe is a false positive, so only the exact join keeps this
    // output right
    val d = Tables.documents(spark, sf)
    val tiny = Dedup.decontaminateBloomOf(
      d.filter($"doc_id" % 49 =!= 0), d.filter($"doc_id" % 49 === 0),
      n = 8, mBits = 128).orderBy("doc_id").collect().toSeq
    assert(tiny == exact)
  }

  test("bloom verify join is a shuffle join, not a broadcast") {
    val plan = Dedup.decontaminateBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"))
  }

  test("dup-span coverage: hand corpus with overlapping shared spans") {
    import spark.implicits._
    // A and B share two overlapping 8-grams (a..h at A:1/B:2, b..i at
    // A:2/B:3): interval union covers 9 of 10 tokens on each side; C
    // is untouched
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x a b c d e f g h i"),
      (2L, "p q r s t u v w y z")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverageOf(docs, n = 8).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      (0L, 10, 2L, 9L, 0.9),
      (1L, 10, 2L, 9L, 0.9),
      (2L, 10, 0L, 0L, 0.0)))
  }

  test("dup-span coverage: within-doc repetition alone is not a dup") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h a b c d e f g h"), // self-repeat only
      (1L, "m n o p q r s t u v")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverageOf(docs, n = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L))
  }

  test("leakage-safe split: every near-dup pair lands in one split; singletons = hash split") {
    import spark.implicits._
    val split = graft.operators.TextOps.leakageSafeSplit(spark, sf)
    val pairs = Dedup.minhashLsh(spark, sf).select($"doc_a", $"doc_b")
    assert(pairs.count() > 0, "corpus must contain near-dups for this to bite")
    val crossFence = pairs
      .join(split.select($"doc_id".as("doc_a"), $"split".as("sa")), Seq("doc_a"))
      .join(split.select($"doc_id".as("doc_b"), $"split".as("sb")), Seq("doc_b"))
      .filter($"sa" =!= $"sb")
    assert(crossFence.count() == 0,
      "a near-dup pair split across train/test is exactly the leakage this prevents")
    // singletons' fate is a pure function of their own id
    val members = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b")).distinct()
    val singleton = split.join(members, Seq("doc_id"), "left_anti")
    assert(singleton.filter($"rep" =!= $"doc_id").count() == 0)
  }

  test("label centroids are exact fixed-point means") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(0.5f, -0.25f)),
      (1, Seq(0.5f, 0.25f)),
      (2, Seq(1.0f, 0.0f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroidsOf(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1, 2L, "500000;0"), (2, 1L, "1000000;0")))
  }

  test("entity match: blocked levenshtein linkage, first-char miss, tie-break") {
    import spark.implicits._
    val canon = Seq("red widget", "red gadget", "blue bolt")
      .toDF("canon")
    val dirty = Seq(
      (1L, "red widet"),   // 1 deletion -> red widget (dist 1)
      (2L, "ed widget"),   // first char gone -> wrong block, unmatched
      (3L, "red wadget"),  // dist 1 to BOTH canons -> tie-break by name
      (4L, "zzz")          // nothing within distance anywhere
    ).toDF("p_partkey", "dirty_name")
    val got = EntityResolution.matchOf(dirty, canon).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3))).toSeq
    assert(got == Seq((1L, "red widget", 1), (3L, "red gadget", 1)),
      s"block-miss and no-match rows must be absent, ties by name: $got")
  }

  test("cluster best keeper: quality argmax wins, min-id breaks exact " +
    "ties, singletons excluded") {
    import spark.implicits._
    // cluster A = {1,2,3}: doc 3 has the longest text (highest length
    // term of qualityScore, identical token diversity) and must win
    // over the smaller ids; cluster B = {10,11}: identical texts tie
    // on quality, so the smaller id 10 wins; doc 99 is a singleton
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (10L, "same words here"),
      (11L, "same words here"),
      (99L, "lonely text")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.clusterBestKeeperOf(clusters, docs)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 3L), (10L, 10L, 2L)), got.toSeq.toString)
  }

  test("incremental IVF: neighbors only from the base, full-probe " +
    "coverage equals exact base-restricted top-k") {
    import spark.implicits._
    val nNew = 8
    // full probe coverage (nprobe >= #centroids) must equal the exact
    // top-k among BASE vectors — the approximation comes only from
    // probe truncation, never from the index structure
    val full = Similarity.incrementalIvfTopKOf(
        Tables.embeddings(spark, sf), nNew = nNew, nprobe = 1000)
      .collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(2) >= nNew, "neighbors must come from the base")
    }
    // exact recompute in the same fold order (floats -> double L2R)
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
    val base = vecs.filter(_._1 >= nNew)
    val wantTop = (0L until nNew).map { q =>
      val qv = vecs(q)
      q -> base.toSeq.map { case (id, v) =>
        (dot(qv, v) / nrm(qv) / nrm(v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
    }.toMap
    val gotTop = full.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.getLong(2)).toSet }
    assert(gotTop == wantTop, "full-probe incremental IVF must be exact")
  }

  test("PQ/ADC: codeword-per-vector PQ degenerates to exact search; " +
    "default index is structurally sound and rerun-identical") {
    // exactness limit: with centroidEvery=1 and no Lloyd refinement,
    // every vector is its own codeword, ADC reconstructs the quantized
    // vector exactly, and the top-k equals brute force
    val brute = Similarity.cosineTopK(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val exact = Similarity.pqTopKOf(
        Tables.embeddings(spark, sf), centroidEvery = 1, iters = 0,
        maxBook = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(exact == brute,
      s"degenerate PQ must equal brute force: ${exact.toSeq.diff(brute.toSeq)}")
    // default compressed index: every query gets k contiguous ranks,
    // never itself, and the build is deterministic
    val a = Similarity.pqTopK(spark, sf).collect()
    val b = Similarity.pqTopK(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "PQ build must be rerun-identical")
    val byQuery = a.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length).toSeq)
      rows.foreach(r => assert(r.getLong(2) != q, "no self-match"))
    }
  }
  test("semantic dedup keeper: keepers are cluster members with the " +
    "best quality, clusters come from the embedding pairs") {
    import spark.implicits._
    val keepers = graft.operators.Dedup.semanticDedupKeeper(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    assert(keepers.nonEmpty, "corpus must contain embedding near-dup clusters")
    assert(keepers.forall(_._4 >= 2), "a cluster has at least two members")
    // every keeper appears in some embedding near-dup pair
    val paired = graft.operators.Dedup.embeddingNearDupLsh(spark, sf)
      .select($"vec_a").union(
        graft.operators.Dedup.embeddingNearDupLsh(spark, sf).select($"vec_b"))
      .distinct().as[Long].collect().toSet
    assert(keepers.forall(k => paired.contains(k._2)))
    // keeper quality is the max over its cluster (re-derived independently)
    val clusters = graft.operators.Dedup.clustersOf(
      graft.operators.Dedup.embeddingNearDupLsh(spark, sf)
        .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
    val quality = Tables.documents(spark, sf).select($"doc_id",
      graft.functions.TextFns.qualityScore($"text").as("q"))
    val best = clusters.join(quality, Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(org.apache.spark.sql.functions.max($"q").as("qmax"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    keepers.foreach { case (cid, _, q, _) => assert(q === best(cid)) }
  }
  test("dedup method agreement: counts are consistent and the ppm " +
    "jaccard is the exact integer ratio") {
    val r = graft.operators.Dedup.dedupMethodAgreement(spark, sf)
      .collect().head
    val (nl, ns, nb, j) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(ns > 0, "semantic pairs must exist")
    assert(nb <= math.min(nl, ns))
    assert(j === nb * 1000000L / (nl + ns - nb))
  }

  test("containment: a short doc embedded in a long one is caught at " +
    "full containment while its Jaccard stays tiny") {
    import spark.implicits._
    val words = (1 to 200).map(i => s"w$i")
    val long = words.mkString(" ")
    val short = words.take(12).mkString(" ")   // 10 shingles, all shared
    val docs = Seq((1L, short), (2L, long), (3L, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentDedupOf(docs).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L,
      "the contained (small) doc leads the pair")
    assert(r.getLong(2) === 10L)
    assert(r.getLong(3) === 1000000L, "full containment")
    // reverse direction: 10 of 198 shingles
    assert(r.getLong(4) === 10L * 1000000L / 198L)
    // symmetric Jaccard would have rejected this pair at any usual gate
    val jac = graft.operators.Dedup.ngramJaccardOf(docs, minJ = 0.0)
      .collect().head.getDouble(2)
    assert(jac < 0.06)
    // corpus: exercised, oriented, bounded
    val corpus = graft.operators.Dedup.containmentDedup(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getLong(3) >= r.getLong(4))
      assert(r.getLong(3) >= graft.operators.Dedup.ContainmentMinPpm)
      assert(r.getLong(3) <= 1000000L)
    }
  }

  test("ann recall report: every (method, query) cell present, hits " +
    "reconcile against the underlying rankings") {
    val rows = Similarity.annRecallReport(spark, sf).collect()
    val methods = Set("ivf", "ivf_kmeans", "pq", "srp")
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet.size ===
      rows.length)
    assert(rows.map(_.getString(0)).toSet === methods)
    assert(rows.length === methods.size * 8)
    val truth = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    rows.filter(_.getString(0) == "ivf").foreach { r =>
      val want = ivf.count(p => p._1 == r.getLong(1) && truth.contains(p))
      assert(r.getLong(2) === want.toLong)
      assert(r.getLong(3) === want.toLong * 1000000L / 5L)
    }
    // the report must be exercised: some method imperfect somewhere,
    // some method perfect somewhere (else the eval corpus is degenerate)
    assert(rows.exists(_.getLong(3) < 1000000L))
    assert(rows.exists(_.getLong(3) === 1000000L))
  }

  test("prefix-filter join matches brute inverted-index jaccard (exactness)") {
    // the brute path with NO df cap and the matching ppm threshold is
    // the spec; prefix filtering must return the identical pair set
    val pre = Dedup.prefixJaccardJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.ngramJaccardOf(
        Tables.widened(spark, Tables.documents(spark, sf)),
        n = 3, minJ = 0.3, maxDf = Long.MaxValue / 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pre === brute)
    assert(pre.nonEmpty, "degenerate spec: no near-dup pairs at this sf")
  }

  test("prefix filter excludes the ubiquitous token by construction " +
    "(no df cap needed, still exact)") {
    import spark.implicits._
    // 40 docs sharing exactly one hot trigram, otherwise disjoint:
    // each doc's prefix (its 3 rarest of 4 shingles) omits the hot
    // one, so the candidate join generates ZERO pairs — and zero IS
    // the exact answer (true pairwise jaccard 1/7 < 0.3). Where the
    // inverted index needed the lossy DefaultMaxDf cap to avoid
    // C(40,2) candidates, prefix filtering is exact AND bounded.
    val docs = (0 until 40)
      .map(i => (i.toLong, s"u$i v$i w$i hot1 hot2 hot3"))
      .toDF("doc_id", "text")
    assert(Dedup.prefixJaccardJoinOf(docs).count() == 0)
    // a genuine near-dup through the hot region still surfaces: an
    // exact copy shares the rare prefix tokens too
    val twins = docs.union(Seq((100L, "u0 v0 w0 hot1 hot2 hot3"))
      .toDF("doc_id", "text"))
    val pairs = Dedup.prefixJaccardJoinOf(twins).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 100L)))
    assert(pairs.head.getLong(3) == 1000000L, "identical docs: jaccard 1.0")
  }

  test("mmr: rank-1 is the cosine top-1 and the penalty changes the set") {
    val sf = TestSpark.sf
    val mmr = Similarity.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val top = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val queries = mmr.map(_._1).distinct
    assert(queries.nonEmpty && mmr.groupBy(_._1).values.forall(_.size == 5))
    // with an empty selected set the penalty term vanishes, so the
    // first pick must be pure relevance — identical to cosine top-1
    queries.foreach { q =>
      assert(mmr.find(r => r._1 == q && r._2 == 1).map(_._3) ==
        top.find(r => r._1 == q && r._2 == 1).map(_._3), s"query $q rank 1")
    }
    // and the diversity penalty must actually bite somewhere: at least
    // one query's MMR five differs from its plain cosine five
    val differs = queries.exists { q =>
      mmr.filter(_._1 == q).map(_._3).toSet !=
        top.filter(_._1 == q).map(_._3).toSet
    }
    assert(differs, "MMR degenerated to plain top-k on every query")
  }

  test("mmr: a singleton candidate group still emits its rank-1 pick") {
    import spark.implicits._
    // two vectors total -> each query's candidate set is exactly one
    // vector, so the pair self-join is EMPTY. rel is seeded from the
    // candidate relation itself, so both queries must still surface
    // their single candidate at rank 1 with mmr = 0.5*rel (the oracle's
    // sel1 emits this row; building rel from pair rows would drop it)
    val vecs = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerankOf(vecs, k = 5, topN = 20, nQueries = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 2, s"expected both singleton groups, got ${out.toSeq}")
    assert(out.map(t => (t._1, t._2, t._3)).toSet == Set((0L, 1, 1L), (1L, 1, 0L)))
    // cos(v0, v1) = 32 / (8 * sqrt(32)); first pick score is 0.5*rel
    val cos = 32.0 / (8.0 * math.sqrt(32.0))
    out.foreach(t => assert(math.abs(t._4 - 0.5 * cos) < 1e-12))
  }

  /** Brute-force reference for substringSpansOf: all maximal shared
    * token runs >= k between two token arrays, by walking every
    * diagonal — the quadratic recompute the anchored plan must equal.
    */
  private def bruteRuns(a: Array[String], b: Array[String], k: Int)
      : Seq[(Int, Int)] = { // (startInB 1-based, runTokens)
    val out = Seq.newBuilder[(Int, Int)]
    for (d <- -(b.length - 1) to (a.length - 1)) {
      var j = math.max(0, -d) // index into b; index into a is j + d
      while (j < b.length && j + d < a.length) {
        if (a(j + d) == b(j)) {
          val s = j
          while (j < b.length && j + d < a.length && a(j + d) == b(j)) j += 1
          if (j - s >= k) out += ((s + 1, j - s))
        } else j += 1
      }
    }
    out.result()
  }

  private def bruteReport(a: Array[String], b: Array[String], k: Int)
      : Option[(Long, Long, Long)] = { // (n_runs, longest, dup_tokens_b)
    val runs = bruteRuns(a, b, k)
    if (runs.isEmpty) None
    else {
      val covered = runs.flatMap { case (s, len) => s until (s + len) }.toSet
      Some((runs.size.toLong, runs.map(_._2).max.toLong, covered.size.toLong))
    }
  }

  test("substring spans: anchor completeness at the K boundary") {
    import spark.implicits._
    val k = Dedup.SubstringMinRun // 8
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val shared = words("s", k) // exactly K shared tokens
    // pair (0,1): shares exactly K consecutive tokens -> ONE run of K.
    // pair (2,3): shares only K-1 consecutive tokens -> NO K-anchor can
    // exist, so the operator must emit nothing for it (no anchor => no
    // run >= K: the pigeonhole completeness direction, inverted)
    val docs = Seq(
      (0L, (words("a", 5) ++ shared ++ words("c", 5)).mkString(" ")),
      (1L, (words("d", 3) ++ shared ++ words("e", 7)).mkString(" ")),
      (2L, (words("f", 6) ++ shared.take(k - 1) ++ words("g", 6)).mkString(" ")),
      (3L, (words("h", 2) ++ shared.take(k - 1) ++ words("i", 9)).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpansOf(docs, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 1L, 1L, k.toLong, k.toLong)),
      s"expected exactly the K-run pair, got ${out.toSeq}")
  }

  test("substring spans: overlapping runs union, not sum, in dup accounting") {
    import spark.implicits._
    val k = 4
    val s = (0 until 10).map(i => s"s$i")
    // doc a contains the 10-token segment TWICE; doc b once: two
    // diagonals each cover b's same 10 positions -> n_runs = 2 but
    // dup_tokens_b must be the UNION (10), not the sum (20)
    val docs = Seq(
      (0L, (s ++ Seq("z") ++ s).mkString(" ")),
      (1L, (Seq("p", "q") ++ s ++ Seq("r")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpansOf(docs, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 1L, 2L, 10L, 10L)), s"got ${out.toSeq}")
  }

  test("substring scrub: keep-first span removal with pass-through docs") {
    import spark.implicits._
    val k = 4
    val s = (0 until 10).map(i => s"s$i")
    val docs = Seq(
      (0L, (Seq("a1", "a2") ++ s ++ Seq("a3")).mkString(" ")), // first copy: kept whole
      (1L, (Seq("b1") ++ s ++ Seq("b2", "b3")).mkString(" ")), // later copy: s scrubbed
      (2L, "c1 c2 c3 c4 c5")) // untouched: passes through verbatim
      .toDF("doc_id", "text")
    val out = Dedup.substringScrubOf(docs, k).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, (Seq("a1", "a2") ++ s ++ Seq("a3")).mkString(" "), 0L),
      (1L, "b1 b2 b3", 10L),
      (2L, "c1 c2 c3 c4 c5", 0L)), s"got ${out.toSeq}")
  }

  test("substring scrub: a fully-duplicated doc scrubs to empty") {
    import spark.implicits._
    val k = 3
    val s = (0 until 6).map(i => s"s$i")
    val docs = Seq(
      (0L, s.mkString(" ")),
      (1L, s.mkString(" "))) // identical later copy: everything drops
      .toDF("doc_id", "text")
    val out = Dedup.substringScrubOf(docs, k).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, s.mkString(" "), 0L), (1L, "", 6L)),
      s"got ${out.toSeq}")
  }

  test("substring spans: equals the brute diagonal recompute on fuzz docs") {
    import spark.implicits._
    val k = 5
    val rnd = new scala.util.Random(42)
    // small alphabet + splice-in of a shared motif => rich run structure
    // (periodic repeats, multiple diagonals, boundary runs)
    val motif = (0 until 12).map(i => s"m$i")
    val corpus = (0L until 12L).map { id =>
      val base = Vector.fill(20 + rnd.nextInt(20))(s"w${rnd.nextInt(4)}")
      val spliced =
        if (id % 3 == 0) {
          val at = rnd.nextInt(base.size)
          (base.take(at) ++ motif.drop(rnd.nextInt(4)) ++ base.drop(at)).toVector
        } else base
      (id, spliced.mkString(" "))
    }
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.substringSpansOf(docs, k).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val toks = corpus.map { case (id, t) => id -> t.split(" ") }.toMap
    val want = (for {
      i <- corpus.map(_._1); j <- corpus.map(_._1) if i < j
      rep <- bruteReport(toks(i), toks(j), k)
    } yield (i, j) -> rep).toMap
    assert(got == want,
      s"mismatch: only-in-got=${got.keySet -- want.keySet} " +
        s"only-in-want=${want.keySet -- got.keySet} " +
        s"diff=${want.keys.filter(p => got.get(p) != want.get(p))}")
  }
}
