package graft.operators

import graft.Fx.{FxMaterialize, materializeAll}
import graft.Tables
import graft.plans.FloatDotProduct.floatDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column
  * (north-star extension): brute-force cosine top-k as the exact
  * baseline, and an IVF (inverted-file) variant as the scale path.
  *
  * All vector math is a sequential double fold over the float array —
  * codegen'd higher-order functions, bit-identical to the DuckDB
  * oracle's list_inner_product on DOUBLE[].
  */
object Similarity {

  // native codegen'd dot product (graft.plans.FloatDotProduct): same
  // left-to-right double accumulation as the HOF fold, no allocation
  private def dot(a: Column, b: Column): Column = floatDot(a, b)
  private def norm(c: Column): Column = sqrt(floatDot(c, c))

  /** Brute-force cosine top-k neighbors for the first nQueries vectors.
    *
    * Scale shape: the query side is tiny and broadcast; the candidate
    * scan is embarrassingly parallel; top-k is two-phase — a
    * partition-local row_number prune keeps k rows per (query,
    * partition) before the global per-query sort, so the final shuffle
    * carries O(queries * partitions * k) rows, not the full candidate
    * set. (With billions of candidates the global window would
    * otherwise funnel everything into #queries reducers.)
    */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8): DataFrame =
    cosineTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nQueries)

  /** [[cosineTopK]] over any (vec_id, embedding ARRAY<FLOAT>). */
  def cosineTopKOf(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = e.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (dot($"qv", $"v") / $"qn" / $"nrm").as("cos"))
    val local = Window.partitionBy($"query_id", spark_partition_id())
      .orderBy($"cos".desc, $"neighbor_id")
    val global = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    scored
      .withColumn("lrn", row_number().over(local)).filter($"lrn" <= k)
      .withColumn("rank", row_number().over(global)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) — the diversity-aware top-k a training-data pipeline runs
    * after retrieval so the selected examples aren't near-duplicates
    * of each other: greedily pick k of each query's top-N cosine
    * candidates maximizing
    *
    *   score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)
    *
    * with λ = 0.5 (exact in binary) and max over ∅ = 0, so the first
    * pick's score is λ·rel — one uniform formula both engines state.
    * Ties break on vec_id; rel and sim are the bit-exact cosine
    * doubles of [[cosineTopKOf]], so the greedy trajectory is
    * cross-engine deterministic.
    *
    * Scale shape: candidate generation is the two-phase broadcast
    * top-N; the quadratic part (N² sims, N·k greedy) runs INSIDE each
    * query's group via flatMapGroups — O(queries) parallel groups of
    * constant N=20 work, never a global quadratic.
    */
  def mmrRerank(spark: SparkSession, dir: String, k: Int = 5,
      topN: Int = 20, nQueries: Int = 8): DataFrame =
    mmrRerankOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, topN, nQueries)

  /** [[mmrRerank]] over any (vec_id, embedding ARRAY<FLOAT>). */
  def mmrRerankOf(embeddings: DataFrame, k: Int = 5, topN: Int = 20,
      nQueries: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cand = cosineTopKOf(embeddings, topN, nQueries)
      .select($"query_id", $"neighbor_id", $"cos".as("rel"))
    val e = embeddings.select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    val pairs = cand.as("x").join(cand.as("y"),
        $"x.query_id" === $"y.query_id" &&
          $"x.neighbor_id" =!= $"y.neighbor_id")
      .join(e.select($"vec_id".as("ca_id"), $"v".as("va"), $"nrm".as("na")),
        $"x.neighbor_id" === $"ca_id")
      .join(e.select($"vec_id".as("cb_id"), $"v".as("vb"), $"nrm".as("nb")),
        $"y.neighbor_id" === $"cb_id")
      .select($"x.query_id".as("query_id"), $"x.neighbor_id".as("ca"),
        $"x.rel".as("rel"), $"y.neighbor_id".as("cb"),
        (dot($"va", $"vb") / $"na" / $"nb").as("sim"))
    // rel is seeded from `cand` itself (cb = -1 sentinel rows), NOT
    // inferred from the pair rows: a query whose candidate set is a
    // singleton produces zero pairs, and building rel from pairs alone
    // would silently drop that query while the SQL oracle's sel1 still
    // emits its rank-1 pick
    val seeded = cand
      .select($"query_id", $"neighbor_id".as("ca"), $"rel",
        lit(-1L).as("cb"), lit(0.0).as("sim"))
      .unionAll(pairs)
    seeded.as[(Long, Long, Double, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Long, Double)]) =>
        val rows = it.toVector // bounded: topN·topN rows per group
        val rel = rows.collect { case r if r._4 == -1L => r._2 -> r._3 }.toMap
        val sim = rows.collect { case r if r._4 != -1L => (r._2, r._4) -> r._5 }.toMap
        val selected = Vector.newBuilder[(Long, Int, Double)]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
        val kk = math.min(k, rel.size)
        var rank = 1
        while (rank <= kk) {
          val best = rel.keysIterator.filterNot(chosen.contains)
            .map { c =>
              val pen =
                if (chosen.isEmpty) 0.0
                else chosen.iterator.map(s => sim((c, s))).max
              (c, 0.5 * rel(c) - 0.5 * pen)
            }
            .minBy { case (c, sc) => (-sc, c) } // max score, tie: low id
          selected += ((best._1, rank, best._2))
          chosen += best._1
          rank += 1
        }
        selected.result().iterator.map { case (c, r, sc) => (qid, r, c, sc) }
      }
      .toDF("query_id", "rank", "vec_id", "mmr")
      .orderBy($"query_id", $"rank")
  }

  /** Sign-random-projection (hyperplane) LSH geometry: `Planes(j)(i)`
    * is a 3-decimal rational in [-1, 1] from a fixed multiplicative
    * hash — exact to print, parse, and dot in both engines. Shared
    * with the SQL oracle generator.
    */
  val SrpPlanes: Seq[Seq[Double]] = (0 until 16).map { j =>
    (0 until 64).map { i =>
      (((j * 64 + i) * 2654435761L % 2001) - 1000) / 1000.0
    }
  }

  /** splitmix64 finalizer: a deterministic mixer whose successive
    * outputs are decorrelated. [[SrpPlanes]]' multiplicative
    * progression mod 2001 makes consecutive planes near-translates of
    * each other — harmless for the oracle-mirrored top-k, fatal for
    * BANDED LSH, where correlated planes make band keys collide
    * together and miss together (measured: ~half the recall the
    * independence math predicts). Kept separate so SrpPlanes stays
    * frozen for the round-1 oracle.
    */
  private def mix64(k: Long): Long = {
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Banded-SRP geometry for whole-corpus near-dup (Dedup
    * .embeddingNearDupLsh): NearDupBands bands × NearDupRows sign bits,
    * each bit from one 64-dim hyperplane of 3-decimal rationals
    * (print-exact in both engines). A pair is a candidate iff some
    * band's full sign pattern agrees — the cosine analog of the
    * minhash band join. Recall at cos c: 1-(1-p^r)^L with
    * p = 1-acos(c)/π; r (selectivity) is the knob that grows with
    * corpus size, L (recall) with the miss budget.
    */
  val NearDupBands = 16
  val NearDupRows = 5
  val NearDupPlanes: Seq[Seq[Double]] = (0 until NearDupBands * NearDupRows).map { j =>
    (0 until 64).map { i =>
      (java.lang.Long.remainderUnsigned(mix64(j * 64L + i), 2001L) - 1000L) / 1000.0
    }
  }

  /** LSH-bucketed ANN (the other classic scale path besides IVF):
    * each vector's bucket is the 16-bit sign pattern of its dot
    * products with the fixed hyperplanes; a query scans only its own
    * bucket. Index build is a single projection (no training pass, vs
    * IVF's assignment join); recall comes from bucket granularity.
    * Approximate by construction — the oracle mirrors the same
    * algorithm, so the check is exact.
    */
  def srpTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8): DataFrame =
    srpTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nQueries)

  /** [[srpTopK]] over any (vec_id, embedding ARRAY<FLOAT>). */
  def srpTopKOf(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // plane dots run in the double domain (3-decimal plane values are
    // parse-exact as doubles in both engines; they are NOT exact as
    // floats): the codegen'd double_dot fold == DuckDB
    // list_inner_product on DOUBLE[], same left-to-right accumulation
    val vd = $"v".cast("array<double>")
    val planeDots = SrpPlanes.map(p =>
      graft.plans.FloatDotProduct.doubleDot(vd, typedLit(p)))
    val bucket = planeDots.zipWithIndex
      .map { case (d, j) => when(d >= 0, lit(1 << j)).otherwise(lit(0)) }
      .reduce(_ + _)
    val e = embeddings
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
      .withColumn("bucket", bucket)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"), $"bucket")
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (dot($"qv", $"v") / $"qn" / $"nrm").as("cos"))
    val global = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(global)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  // ---- deterministic k-means (Lloyd) in a fixed-point domain ----
  //
  // Components quantize to integer-valued doubles (round(x*1e6)), so
  // every inner product and per-dimension sum is an exact integer in
  // double arithmetic — no fold-order sensitivity — and the centroid
  // update floor(sum/count) keeps the domain closed under iteration.
  // That makes a TRAINED coarse quantizer cross-engine deterministic:
  // the DuckDB oracle unrolls the same iterations and lands on
  // bit-identical centroids.

  // codegen'd fold — bit-identical to aggregate(zip_with(...)) by
  // PropertySpec's doubleToLongBits law; both sides arrive as
  // ARRAY<DOUBLE> (centroid means are floor()ed to integer-valued
  // doubles below so the fixed-point domain stays closed AND typed)
  private def qdot(a: Column, b: Column): Column =
    graft.plans.FloatDotProduct.doubleDot(a, b)

  private def quantize(v: Column): Column =
    transform(v.cast("array<double>"), x => round(x * lit(1000000.0)))

  /** Per-label mean embedding in the fixed-point domain (the centroid
    * a pipeline reports per class/cluster/source): quantize, explode
    * to (label, pos, x), one partial-aggregatable integer-sum shuffle,
    * floor(sum/count) per dimension, reassemble in pos order. Emitted
    * as a ';'-joined integer string because the oracle compare can't
    * hash arrays — components are exact integers in both engines.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    labelCentroidsOf(Tables.widened(spark, Tables.embeddings(spark, dir)))

  /** [[labelCentroids]] over any (label, embedding ARRAY<FLOAT>). */
  def labelCentroidsOf(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select($"label", posexplode(quantize($"embedding")))
      .toDF("label", "pos", "x")
      .groupBy($"label", $"pos")
      .agg(floor(sum($"x") / count(lit(1))).cast("long").as("m"),
        count(lit(1)).as("n"))
      .groupBy($"label")
      .agg(max($"n").as("n_vecs"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"m"))),
          s => s("m").cast("string")), ";").as("centroid"))
      .orderBy($"label")
  }

  /** Per-vector symmetric int8 quantization — the storage step that
    * makes a 100 TB embedding store tractable (4× smaller than float32
    * and SIMD-friendly for the ANN scan): code_i = floor(v_i · 127 /
    * max|v|), codes in [-127, 127], plus the per-vector max-abs scale
    * a reader needs to dequantize. An all-zero vector has no scale and
    * quantizes to all-zero codes.
    *
    * Pure projection (HOFs inside whole-stage codegen, zero shuffles —
    * the sort is presentation only). Cross-engine exact: float→double
    * casts are exact, the max-abs compare is exact, and
    * (x·127)/mx + floor is the same IEEE double op sequence the oracle
    * states in DuckDB. Codes are ';'-joined because the driver compare
    * can't hash arrays.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8Of(Tables.widened(spark, Tables.embeddings(spark, dir)))

  /** [[quantizeInt8]] over any (vec_id, embedding ARRAY<FLOAT>). */
  def quantizeInt8Of(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vd = $"embedding".cast("array<double>")
    val mx = array_max(transform(vd, x => abs(x)))
    val codes = when(mx === 0d,
        transform(vd, _ => lit(0L)))
      .otherwise(transform(vd, x => floor(x * lit(127d) / mx)))
    embeddings.select($"vec_id", mx.as("max_abs"),
      array_join(transform(codes, c => c.cast("string")), ";").as("codes"))
      .orderBy($"vec_id")
  }

  /** Centroids collected to the driver, ascending cent_id (the argmax
    * tie order). Coarse-quantizer centroid sets are tiny by
    * construction (k = n/centroidEvery here, k ≈ √n in production
    * IVF), and every engine ships them to the data rather than joining
    * — MLlib's KMeans collects centers between Lloyd steps the same
    * way. The collected values are exact: quantized components and
    * floor()ed means are integer-valued doubles, floats are binary.
    */
  private def collectCents[T](df: DataFrame): Seq[(Long, Seq[T])] =
    // bounded: centroid k (= n/centroidEvery here, ~sqrt(n) in production IVF)
    df.collect().toSeq.map(r => (r.getLong(0), r.getSeq[T](1))).sortBy(_._1)

  /** Per-centroid cosine columns in the quantized domain, mirroring
    * the oracle's operand order exactly: (qdot / |qv|) / |cv|. The
    * centroid norm is a driver-side Math.sqrt of an exact integer sum,
    * bit-identical to the engine's sqrt(qdot(cv, cv)).
    */
  private def qcsims(qv: Column, cents: Seq[(Long, Seq[Double])]): Seq[Column] = {
    val na = sqrt(qdot(qv, qv))
    cents.map { case (_, cv) =>
      val cn = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
      qdot(qv, typedLit(cv)) / na / lit(cn)
    }
  }

  /** Nearest-centroid id as a PURE PROJECTION: one array of codegen'd
    * dots (the SRP-planes shape) + array_max/array_position argmax.
    * Ties land on the smallest cent_id because the array is built in
    * ascending cent_id order and array_position returns the FIRST
    * match — the (csim DESC, cent_id) order the oracle mirrors with
    * row_number. No join, no shuffle, no sort, no window (round 2's
    * one remaining scale-killer was a row_number window forcing a
    * sort-shuffle of the vecs×cents product): assignment is O(rows·k·d)
    * map-side work, exactly MLlib KMeans' broadcast-assign. A NaN csim
    * (zero-norm vector or centroid) is consistent with the oracle as
    * is: both engines order NaN largest and equate NaN with NaN, so
    * both pick the smallest-id NaN centroid. Beyond [[MaxLiteralCents]]
    * centroids the caller switches to the broadcast-variable argmax
    * ([[bcAssignQ]]/[[bcAssignF]]) — same arithmetic, no plan literals.
    */
  private def nearestCent(csims: Seq[Column], ids: Seq[Long]): Column = {
    val cs = array(csims: _*)
    element_at(typedLit(ids), array_position(cs, array_max(cs)).cast("int"))
  }

  /** Top-`nprobe` centroid ids by (csim desc, cent_id asc), again as a
    * projection: sort (-csim, cent_id) pairs ascending, slice. The
    * negation is exact, so the order equals the oracle's csim DESC —
    * except NaN, which negation would send LAST while the oracle's
    * DESC puts it first; -∞ restores the oracle order and cannot
    * collide with a real key (a cosine is finite whenever not NaN).
    */
  private def topProbes(csims: Seq[Column], ids: Seq[Long], nprobe: Int): Column = {
    val pairs = array(csims.zip(ids).map { case (c, id) =>
      struct(when(isnan(c), lit(Double.NegativeInfinity)).otherwise(-c).as("nc"),
        lit(id).as("cent_id"))
    }: _*)
    slice(array_sort(pairs), 1, nprobe)
  }

  // ---- large-k assignment fallback (broadcast variable, no literals) ----
  //
  // The projection path embeds one d-element literal per centroid: at
  // k beyond a few hundred the generated code and analysis time grow
  // O(k·d) and eventually trip the 64KB codegen method limit. Past
  // this threshold assignment/probing read the centroids from a
  // broadcast variable inside mapPartitions instead — identical
  // left-to-right folds, operand order, NaN/-0.0 and tie semantics
  // (bit-equality asserted in DedupSimilaritySpec on a forced-small
  // threshold), still zero shuffles.

  val MaxLiteralCents = 512

  private def dotDD(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def dotFD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Spark's double ordering: primitive == first (-0.0 equals 0.0),
    * then Double.compare (NaN largest, NaN equals NaN) — the exact
    * comparator behind array_max/array_position/array_sort.
    */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** First index attaining the max under [[cmpD]] — mirrors
    * array_position(cs, array_max(cs)).
    */
  private def argmaxFirst(cs: Array[Double]): Int = {
    var bi = 0; var i = 1
    while (i < cs.length) { if (cmpD(cs(i), cs(bi)) > 0) bi = i; i += 1 }
    bi
  }

  /** Centroid indices in probe order — mirrors [[topProbes]]' sort on
    * (NaN→-∞ else -csim, cent_id) ascending.
    */
  private def probeOrder(cs: Array[Double], nprobe: Int): Seq[Int] = {
    val keys = cs.map(c => if (c.isNaN) Double.NegativeInfinity else -c)
    cs.indices.toArray.sortWith { (a, b) =>
      val c = cmpD(keys(a), keys(b)); if (c != 0) c < 0 else a < b
    }.take(nprobe).toSeq
  }

  /** Quantized-domain csims for one row against the broadcast payload:
    * (qdot(qv, cv) / |qv|) / cn — [[qcsims]]' operand order exactly.
    */
  private def qsimsArr(qv: Array[Double],
      cs: Array[(Long, Array[Double], Double)]): Array[Double] = {
    val na = math.sqrt(dotDD(qv, qv))
    cs.map { case (_, cv, cn) => dotDD(qv, cv) / na / cn }
  }

  /** Float-domain csims: (dot(cv, v) / cn) / nrm — [[fcsims]]' order. */
  private def fsimsArr(v: Array[Float], nrm: Double,
      cs: Array[(Long, Array[Float], Double)]): Array[Double] =
    cs.map { case (_, cv, cn) => dotFD(cv, v) / cn / nrm }

  private def qPayload(spark: SparkSession, cents: Seq[(Long, Seq[Double])]) =
    spark.sparkContext.broadcast(cents.map { case (id, cv) =>
      (id, cv.toArray, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
    }.toArray)

  private def fPayload(spark: SparkSession, cents: Seq[(Long, Seq[Float])]) =
    spark.sparkContext.broadcast(cents.map { case (id, cv) =>
      (id, cv.toArray,
        math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    }.toArray)

  /** Quantized-domain assignment via broadcast argmax: emits the same
    * (cent_id, vec_id, v, nrm, qv) rows as the projection path.
    */
  private def bcAssignQ(e: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bc = qPayload(spark, cents)
    e.select($"vec_id", $"v", $"nrm", $"qv")
      .as[(Long, Seq[Float], Double, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (vid, v, nrm, qv) =>
          (cs(argmaxFirst(qsimsArr(qv.toArray, cs)))._1, vid, v, nrm, qv)
        }
      }.toDF("cent_id", "vec_id", "v", "nrm", "qv")
  }

  /** Quantized-domain probe lists via broadcast: one (query_id, qvec,
    * qn, cent_id) row per probe, same set as explode(topProbes(...)).
    */
  private def bcProbesQ(e: DataFrame, cents: Seq[(Long, Seq[Double])],
      nQueries: Int, nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bc = qPayload(spark, cents)
    e.filter($"vec_id" < nQueries).select($"vec_id", $"v", $"nrm", $"qv")
      .as[(Long, Seq[Float], Double, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (vid, v, nrm, qv) =>
          probeOrder(qsimsArr(qv.toArray, cs), nprobe)
            .map(i => (vid, v, nrm, cs(i)._1))
        }
      }.toDF("query_id", "qvec", "qn", "cent_id")
  }

  /** Float-domain assignment via broadcast argmax ([[ivfTopKOf]]). */
  private def bcAssignF(e: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bc = fPayload(spark, cents)
    e.select($"vec_id", $"v", $"nrm").as[(Long, Seq[Float], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (vid, v, nrm) =>
          (cs(argmaxFirst(fsimsArr(v.toArray, nrm, cs)))._1, vid, v, nrm)
        }
      }.toDF("cent_id", "vec_id", "v", "nrm")
  }

  /** Float-domain probe lists via broadcast ([[ivfTopKOf]]). */
  private def bcProbesF(e: DataFrame, cents: Seq[(Long, Seq[Float])],
      nQueries: Int, nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bc = fPayload(spark, cents)
    e.filter($"vec_id" < nQueries).select($"vec_id", $"v", $"nrm")
      .as[(Long, Seq[Float], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (vid, v, nrm) =>
          probeOrder(fsimsArr(v.toArray, nrm, cs), nprobe)
            .map(i => (vid, v, nrm, cs(i)._1))
        }
      }.toDF("query_id", "qv", "qn", "cent_id")
  }

  /** Analysis-safe empty result for an empty centroid set (empty
    * input): the projection path cannot build a zero-arg csim array,
    * so short-circuit to an empty frame with the output schema.
    */
  private def emptyTopK(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.filter(lit(false)).select($"vec_id".as("query_id"),
      lit(1).as("rank"), $"vec_id".as("neighbor_id"), lit(0.0).as("cos"))
  }

  /** One Lloyd step: element-wise floor-of-mean per cluster. The
    * explode/groupBy is partial-aggregatable (shuffle key (cent_id,
    * pos), integer sums); empty clusters drop out by GROUP BY
    * semantics, identically in the oracle.
    */
  private def lloydStep(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.select($"cent_id", posexplode($"qv"))
      .toDF("cent_id", "pos", "x")
      .groupBy($"cent_id", $"pos")
      .agg(floor(sum($"x") / count(lit(1))).cast("double").as("m"))
      .groupBy($"cent_id")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        s => s("m")).as("cv"))
  }

  /** IVF with a TRAINED coarse quantizer: seeds = the vec_id %
    * centroidEvery subsample, refined by `iters` Lloyd steps, then the
    * standard IVF assign/probe/scan. Scoring uses the original float
    * vectors (same codegen'd double fold as [[cosineTopK]]); only the
    * quantizer runs in the fixed-point domain. Fully deterministic, so
    * the oracle check is exact even though the index is approximate.
    */
  def ivfKmeansTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2,
      iters: Int = 2): DataFrame =
    ivfKmeansTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nQueries,
      centroidEvery, nprobe, iters)

  /** [[ivfKmeansTopK]] over any (vec_id, embedding ARRAY<FLOAT>).
    * `maxLiteralCents` picks the assignment strategy: plan-literal
    * projection up to it, broadcast-variable mapPartitions beyond
    * (bit-identical results either way — asserted in spec).
    */
  def ivfKmeansTopKOf(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2,
      iters: Int = 2, maxLiteralCents: Int = MaxLiteralCents): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // cached for the iters+1 short quantizer-training jobs; unpersisted
    // below once the last collect has run, so long-lived sessions don't
    // accumulate blocks (the caller's final pass recomputes this cheap
    // projection from the scan instead of reading the cache)
    val e = embeddings
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
      .withColumn("qv", quantize($"v"))
      .cache()
    def assign(cs: Seq[(Long, Seq[Double])]): DataFrame =
      if (cs.size <= maxLiteralCents)
        e.select(nearestCent(qcsims($"qv", cs), cs.map(_._1)).as("cent_id"),
          $"vec_id", $"v", $"nrm", $"qv")
      else bcAssignQ(e, cs)
    var cents = collectCents[Double](
      e.filter(pmod($"vec_id", lit(centroidEvery)) === 0)
        .select($"vec_id".as("cent_id"), $"qv".as("cv")))
    if (cents.isEmpty) { e.unpersist(); return emptyTopK(e) }
    for (_ <- 0 until iters)
      cents = collectCents[Double](lloydStep(
        assign(cents).select($"cent_id", $"vec_id", $"qv")))
    val ids = cents.map(_._1)
    val assigned = assign(cents).select($"cent_id", $"vec_id", $"v", $"nrm")
    val probes =
      if (cents.size <= maxLiteralCents)
        e.filter($"vec_id" < nQueries)
          .select($"vec_id".as("query_id"), $"v".as("qvec"), $"nrm".as("qn"),
            explode(topProbes(qcsims($"qv", cents), ids, nprobe)).as("p"))
          .select($"query_id", $"qvec", $"qn", $"p.cent_id".as("cent_id"))
      else bcProbesQ(e, cents, nQueries, nprobe)
    // training is done — drop the cached blocks now (cache substitution
    // happens when the CALLER executes, so the final pass below simply
    // plans against the raw scan)
    e.unpersist()
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (dot($"qvec", $"v") / $"qn" / $"nrm").as("cos"))
    val global = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(global)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** IVF-style ANN: coarse "centroids" are a deterministic subsample
    * (vec_id % centroidEvery == 0); every vector is assigned to its
    * nearest centroid (one broadcast join — this is the index build);
    * each query probes its nprobe nearest centroids and scans only
    * those clusters. Approximate by construction; the oracle mirrors
    * the same algorithm, so the check is still exact.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2): DataFrame =
    ivfTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nQueries, centroidEvery, nprobe)

  /** Per-centroid cosine columns in the float domain, mirroring the
    * oracle's operand order exactly: (dot(cv, v) / |cv|) / |v|. The
    * centroid norm replays the engine's left-to-right double fold over
    * float products on the driver, so it is bit-identical to
    * sqrt(float_dot(cv, cv)).
    */
  private def fcsims(v: Column, nrm: Column, cents: Seq[(Long, Seq[Float])]): Seq[Column] =
    cents.map { case (_, cv) =>
      val cn = math.sqrt(
        cv.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      dot(typedLit(cv), v) / lit(cn) / nrm
    }

  /** [[ivfTopK]] over any (vec_id, embedding ARRAY<FLOAT>). Same
    * `maxLiteralCents` strategy switch as [[ivfKmeansTopKOf]].
    */
  def ivfTopKOf(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2,
      maxLiteralCents: Int = MaxLiteralCents): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    // index build: nearest centroid per vector, as a pure projection
    // over the collected subsample quantizer (see nearestCent)
    val cents = collectCents[Float](
      e.filter(pmod($"vec_id", lit(centroidEvery)) === 0).select($"vec_id", $"v"))
    if (cents.isEmpty) return emptyTopK(e)
    val ids = cents.map(_._1)
    val assigned =
      if (cents.size <= maxLiteralCents)
        e.select(nearestCent(fcsims($"v", $"nrm", cents), ids).as("cent_id"),
          $"vec_id", $"v", $"nrm")
      else bcAssignF(e, cents)
    // query probe lists: nprobe nearest centroids per query
    val probes =
      if (cents.size <= maxLiteralCents)
        e.filter($"vec_id" < nQueries)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
            explode(topProbes(fcsims($"v", $"nrm", cents), ids, nprobe)).as("p"))
          .select($"query_id", $"qv", $"qn", $"p.cent_id".as("cent_id"))
      else bcProbesF(e, cents, nQueries, nprobe)
    // scan only the probed clusters
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (dot($"qv", $"v") / $"qn" / $"nrm").as("cos"))
    val global = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(global)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** Incremental IVF — the DAY-2 ANN maintenance shape (the embedding
    * analog of the incremental-MinHash dedup pattern): a standing IVF
    * index over the BASE corpus, and a small NEW batch that (a) probes
    * its nprobe nearest coarse centroids and (b) scans only those
    * clusters of the base for its top-k existing neighbors. The base
    * corpus never self-joins, the batch never meets un-probed
    * clusters, and the coarse quantizer is the base's — new vectors
    * append to the index by one assignment projection, no retrain, no
    * base rescan. At 100 TB this is THE shape arriving embeddings
    * take: the day-1 index build is amortized; day-2 cost is
    * O(batch · nprobe · cluster), independent of base size growth per
    * batch. Deterministic split: `vec_id < nNew` is the new batch.
    */
  def incrementalIvfTopK(spark: SparkSession, dir: String, k: Int = 5,
      nNew: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2): DataFrame =
    incrementalIvfTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nNew,
      centroidEvery, nprobe)

  /** [[incrementalIvfTopK]] over any (vec_id, embedding ARRAY<FLOAT>). */
  def incrementalIvfTopKOf(embeddings: DataFrame, k: Int = 5,
      nNew: Int = 8, centroidEvery: Int = 250, nprobe: Int = 2,
      maxLiteralCents: Int = MaxLiteralCents): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val idx = buildIvfIndex(embeddings.filter($"vec_id" >= nNew),
      centroidEvery, maxLiteralCents)
    probeIvfIndex(idx, embeddings.filter($"vec_id" < nNew),
      k, nprobe, maxLiteralCents)
      .orderBy($"query_id", $"rank")
  }

  /** A STANDING IVF index: the collected coarse quantizer plus the
    * base assignment relation — built once, probed by any number of
    * later batches (the [[graft.operators.Dedup.MinhashIndex]] analog
    * for embeddings). In production `assigned` is a materialized
    * table; callers that probe repeatedly should checkpoint it.
    */
  case class IvfIndex(cents: Seq[(Long, Seq[Float])], assigned: DataFrame)

  /** Build the standing index over a (vec_id, embedding ARRAY<FLOAT>)
    * base: seeds from the base subsample, one assignment projection.
    */
  def buildIvfIndex(base: DataFrame, centroidEvery: Int = 250,
      maxLiteralCents: Int = MaxLiteralCents): IvfIndex = {
    val spark = base.sparkSession
    import spark.implicits._
    val e = base.select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    val cents = collectCents[Float](
      e.filter(pmod($"vec_id", lit(centroidEvery)) === 0)
        .select($"vec_id", $"v"))
    val assigned =
      if (cents.isEmpty) e.filter(lit(false))
        .select(lit(-1L).as("cent_id"), $"vec_id", $"v", $"nrm")
      else if (cents.size <= maxLiteralCents)
        e.select(nearestCent(fcsims($"v", $"nrm", cents), cents.map(_._1))
          .as("cent_id"), $"vec_id", $"v", $"nrm")
      else bcAssignF(e, cents)
    IvfIndex(cents, assigned)
  }

  /** Probe the standing index with a (vec_id, embedding ARRAY<FLOAT>)
    * batch: each batch vector probes its nprobe nearest centroids and
    * scans only those base clusters for its top-k neighbors. The base
    * never re-joins itself; cost is O(batch · nprobe · cluster).
    * (The literal-probe path covers any batch; the broadcast fallback
    * keeps every batch row — ids play no role in query selection.)
    */
  def probeIvfIndex(idx: IvfIndex, batch: DataFrame, k: Int = 5,
      nprobe: Int = 2, maxLiteralCents: Int = MaxLiteralCents): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val q = batch.select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    if (idx.cents.isEmpty) return emptyTopK(q)
    val ids = idx.cents.map(_._1)
    val probes =
      if (idx.cents.size <= maxLiteralCents)
        q.select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
          explode(topProbes(fcsims($"v", $"nrm", idx.cents), ids, nprobe)).as("p"))
          .select($"query_id", $"qv", $"qn", $"p.cent_id".as("cent_id"))
      else bcProbesF(q, idx.cents, Int.MaxValue, nprobe)
    val scored = idx.assigned.join(broadcast(probes), Seq("cent_id"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (dot($"qv", $"v") / $"qn" / $"nrm").as("cos"))
    val global = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(global)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid 2011 — the FAISS
    * `PQ` index) with asymmetric-distance (ADC) scoring. The vector
    * space splits into `m` subspaces; each trains its own small
    * codebook (seeded by the vec_id % centroidEvery subsample, refined
    * by `iters` Lloyd steps — the [[ivfKmeansTopKOf]] fixed-point
    * machinery reused per subspace with L2 assignment); every vector
    * compresses to `m` small code ids. A query builds one tiny
    * lookup table per subspace (its dot with every codeword — the ADC
    * trick: computed ONCE per query, not once per vector) and the scan
    * scores each compressed vector by `m` table lookups instead of a
    * d-dimensional dot.
    *
    * Scale shape: this is THE storage-bound ANN design — the corpus
    * persists as m small ints per vector (here m·8 bytes vs d·4; with
    * byte codes m bytes), the scan reads no float vectors at all, and
    * each LUT join is a broadcast hash join on (query_id, code).
    * Training cost is per-subspace constant; codebooks and LUTs are
    * KB-sized broadcasts. Everything until the final cosine divide is
    * exact integer arithmetic in the quantized domain (sums bounded by
    * d·(2·10⁶)² ≪ 2⁵³), so the DuckDB oracle unrolls the identical
    * training and lands on bit-identical codes and scores.
    */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 8,
      m: Int = 4, centroidEvery: Int = 50, iters: Int = 1): DataFrame =
    pqTopKOf(Tables.widened(spark, Tables.embeddings(spark, dir)), k, nQueries, m, centroidEvery, iters)

  /** ANN recall report — the benchmark table a vector-search team
    * publishes for every index build: each approximate method's
    * per-query hit count against the brute-force cosine ground truth,
    * recall@k as an exact ppm integer. Every ranking here is already
    * an oracle-checked query of this engine, so the report composes
    * deterministically (and the oracle composes the same published
    * SQL forms); (method, query) pairs with zero hits survive via the
    * method×query frame.
    *
    * Scale shape: ground truth is queries×k rows, each method's list
    * likewise — the report joins and folds relations whose size is
    * set by the EVAL design (queries × k × methods), not the corpus;
    * the corpus-sized work lives inside the underlying index scans.
    */
  def annRecallReport(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8): DataFrame = {
    import spark.implicits._
    // ONE materialized embeddings scan shared by the truth and all
    // four index builds (they each re-read and re-widened the table
    // when built standalone), and ALL FIVE constructions run
    // CONCURRENTLY (guide §2.6): each build runs its own short
    // training jobs (seed collects, Lloyd steps, checkpoints), and
    // running them from one thread made the report's construction the
    // sum of five sequential latencies. The builds are independent and
    // deterministic, so overlap changes nothing but the wall clock.
    val emb = Tables.widened(spark, Tables.embeddings(spark, dir))
      .materialized
    // each build makes AND materializes its (queries×k)-sized list,
    // so the five index scans/rankings overlap fully; the report then
    // joins five tiny checkpointed relations
    val methodFns: Seq[(String, () => DataFrame)] = Seq(
      "truth" -> (() => cosineTopKOf(emb, k, nQueries)),
      "ivf" -> (() => ivfTopKOf(emb, k, nQueries)),
      "ivf_kmeans" -> (() => ivfKmeansTopKOf(emb, k, nQueries)),
      "pq" -> (() => pqTopKOf(emb, k, nQueries)),
      "srp" -> (() => srpTopKOf(emb, k, nQueries)))
    val built = methodFns.map(_._1)
      .zip(materializeAll(methodFns.map(_._2): _*))
    val truth = built.head._2.select($"query_id", $"neighbor_id")
    val methods = built.tail
    val approx = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), $"query_id", $"neighbor_id")
    }.reduce(_.unionByName(_))
    val hits = approx.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy($"method", $"query_id").agg(count(lit(1)).as("h"))
    val mq = truth.select($"query_id").distinct()
      .crossJoin(methods.map(_._1).toDF("method"))
    mq.join(hits, Seq("method", "query_id"), "left")
      .select($"method", $"query_id",
        coalesce($"h", lit(0L)).as("n_hits"),
        coalesce(expr(s"(h * 1000000) div $k"), lit(0L)).as("recall_ppm"))
      .orderBy($"method", $"query_id")
  }

  /** [[pqTopK]] over any (vec_id, embedding ARRAY<FLOAT>). `maxBook`
    * BOUNDS each subspace's codebook (seeds are the subsample's first
    * maxBook members): a production PQ codebook is a fixed size (256
    * in FAISS) regardless of corpus size — an unbounded
    * corpus-proportional codebook would both defeat the compression
    * (codes need more bits) and grow the encode projection without
    * limit at 100 TB.
    */
  def pqTopKOf(embeddings: DataFrame, k: Int = 5, nQueries: Int = 8,
      m: Int = 4, centroidEvery: Int = 50, iters: Int = 1,
      maxBook: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select($"vec_id", quantize($"embedding").as("qv"))
      .materialized
    // ONE seed collect also answers the dimension probe (guide §1.2 —
    // every separate driver action is a scheduling round-trip): dim
    // comes from any seed row; only a seedless non-empty relation
    // (possible at tiny SFs) still pays the 1-row probe
    val seedRows = e.filter(pmod($"vec_id", lit(centroidEvery)) === 0 &&
        $"vec_id" < centroidEvery.toLong * maxBook)
      .select($"vec_id", $"qv").collect().toSeq // bounded: <= maxBook seed rows (vec_id < centroidEvery*maxBook stepped by centroidEvery)
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val dim = seedRows.headOption.map(_._2.length).getOrElse {
      val first = e.select(size($"qv")).limit(1).collect()
      if (first.isEmpty) { e.unpersist(); return emptyTopK(
        e.select($"vec_id")).withColumnRenamed("cos", "cos_adc") }
      first(0).getInt(0)
    }
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    def sub(j: Int, c: Column) = slice(c, j * sd + 1, sd)
    // negated exact-integer L2 so the shared argmax projection picks the
    // NEAREST codeword, ties on the smallest cent_id (oracle: row_number
    // over (dist ASC, cent_id ASC)). Codegen'd native loop — the former
    // aggregate∘zip_with HOF pair is CodegenFallback (interpreted, with
    // per-element boxing), and the encode projection evaluates one of
    // these per (row, codeword, subspace); accumulation order and the
    // final negate are bit-identical, and every sum is exact anyway
    // (integer-valued doubles ≪ 2^53).
    def negL2(s: Column, cv: Seq[Double]): Column =
      graft.plans.FloatDotProduct.negSqDist(s, typedLit(cv))
    // Batched training: ONE seed collect + ONE Lloyd job per iteration
    // covering ALL m subspaces (was 2m sequential driver round-trips;
    // the books are independent, so per-subspace jobs were pure
    // scheduling latency — guide §1.2/§2.6). Bit-identical to per-book
    // training: the seeds are driver-side slices of the same collected
    // rows, and every Lloyd sum is over integer-valued doubles bounded
    // far below 2^53, so regrouping by (subspace, centroid) cannot
    // change a single bit of floor(sum/count).
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map(j =>
      seedRows.map { case (cid, qv) => (cid, qv.slice(j * sd, j * sd + sd)) })
    // all books share the seed rows, and a Lloyd step keeps >= 1
    // centroid per non-empty book, so emptiness is uniform across j —
    // the per-book `if cents.nonEmpty` guard collapses to one test
    for (_ <- 0 until iters if books.exists(_.nonEmpty)) {
      val tagged = e.select(explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            nearestCent(books(j).map(c => negL2(sub(j, $"qv"), c._2)),
              books(j).map(_._1)).as("cent_id"),
            sub(j, $"qv").as("qv"))
        }: _*)).as("t"))
        .select($"t.j".as("sub_j"), $"t.cent_id".as("cent_id"), $"t.qv".as("qv"))
      val stepped = tagged.select($"sub_j", $"cent_id", posexplode($"qv"))
        .toDF("sub_j", "cent_id", "pos", "x")
        .groupBy($"sub_j", $"cent_id", $"pos")
        .agg(floor(sum($"x") / count(lit(1))).cast("double").as("m"))
        .groupBy($"sub_j", $"cent_id")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          s => s("m")).as("cv"))
        .collect().toSeq // bounded: <= m * maxBook centroid rows (fixed codebook sizes)
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      books = (0 until m).map(j =>
        stepped.filter(_._1 == j).map(t => (t._2, t._3)).sortBy(_._1))
    }
    // encode: the whole corpus compresses to m code columns, one pure
    // projection (no shuffle — this is the PQ index build)
    val codes = e.select(($"vec_id" +: (0 until m).map(j =>
      nearestCent(books(j).map(c => negL2(sub(j, $"qv"), c._2)),
        books(j).map(_._1)).as(s"code$j"))): _*)
    val queries = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"qv", qdot($"qv", $"qv").as("qn2"))
    // per-subspace ADC lookup tables: query · codeword partial dots
    // plus the codeword's squared norm (driver-side exact integer fold)
    val luts = (0 until m).map { j =>
      val bookDf = spark.createDataset(books(j).map { case (cid, cv) =>
        (cid, cv, cv.foldLeft(0.0)((a, x) => a + x * x)) })
        .toDF(s"code$j", "cv", s"cn2_$j")
      queries.select($"query_id", sub(j, $"qv").as("qs"))
        .crossJoin(broadcast(bookDf))
        .select($"query_id", col(s"code$j"),
          qdot($"qs", $"cv").as(s"pdot$j"), col(s"cn2_$j"))
    }
    e.unpersist()
    var scored = codes
      .crossJoin(broadcast(queries.select($"query_id", $"qn2")))
      .filter($"vec_id" =!= $"query_id")
    for (j <- 0 until m)
      scored = scored.join(broadcast(luts(j)), Seq("query_id", s"code$j"))
    val approx = (0 until m).map(j => col(s"pdot$j")).reduce(_ + _)
    val recon2 = (0 until m).map(j => col(s"cn2_$j")).reduce(_ + _)
    val out = scored.select($"query_id", $"vec_id".as("neighbor_id"),
      (approx / sqrt($"qn2") / sqrt(recon2)).as("cos_adc"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_adc".desc, $"neighbor_id")
    out.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos_adc")
      .orderBy($"query_id", $"rank")
  }
  /** Dimension-block width for [[embeddingCovariance]]: the leading
    * 8×8 block of the covariance matrix (36 upper-triangle pairs). A
    * production whitening/PCA pass tiles the full d×d matrix in such
    * blocks; the aggregation shape is identical per block.
    */
  val CovBlockDims = 8

  /** Fixed-point scale for [[embeddingCovariance]] quantization:
    * q = floor(x·1000). FLOAT→DOUBLE widening, the ×1000 double
    * multiply, and floor are each bit-identical across engines, so the
    * co-moment sums are EXACT BIGINTs — the mergeable state a
    * distributed covariance pass ships (vs naive double sums, whose
    * value depends on partition accumulation order).
    */
  val CovScale = 1000d

  /** Covariance of the leading [[CovBlockDims]] embedding dimensions
    * from exact integer co-moments: ONE expanded aggregate over ONE
    * scan (the profile_columns shape) computes n, per-dim sums s_i and
    * pair products s_ij in the quantized domain; the covariance
    * n·s_ij − s_i·s_j stays integer (overflow-free: |q| ≤ ~10³, so the
    * products sit far below 2^63 even at 10⁸ rows), and the derived
    * double uses one fixed expression tree mirrored by the oracle.
    * Output is pair-count-sized (36 rows) at any corpus size.
    */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame =
    embeddingCovarianceOf(Tables.widened(spark, Tables.embeddings(spark, dir)))

  /** [[embeddingCovariance]] over any (vec_id, embedding) relation. */
  def embeddingCovarianceOf(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val d = CovBlockDims
    def q(i: Int): Column =
      floor(element_at($"embedding", i + 1).cast("double") * CovScale)
        .cast("long")
    val pairs = for { i <- 0 until d; j <- i until d } yield (i, j)
    val aggs =
      (0 until d).map(i => sum(q(i)).as(s"s_$i")) ++
        pairs.map { case (i, j) => sum(q(i) * q(j)).as(s"p_${i}_$j") }
    val wide = embeddings.agg(count(lit(1)).as("n"), aggs: _*)
    // unpivot the single wide row into (i, j, n, s_i, s_j, s_ij, cov):
    // stack() is a plain projection over the one-row aggregate
    val stackArgs = pairs.flatMap { case (i, j) =>
      Seq(s"${i}L", s"${j}L", s"s_$i", s"s_$j", s"p_${i}_$j")
    }.mkString(", ")
    wide.selectExpr("n",
        s"stack(${pairs.size}, $stackArgs) AS (i, j, s_i, s_j, s_ij)")
      .selectExpr("i", "j", "n", "s_i", "s_j", "s_ij",
        // one shared IEEE tree: numerator double / (n·n·scale²) double
        "CAST(n * s_ij - s_i * s_j AS DOUBLE) / " +
          s"(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * ${CovScale * CovScale}D) AS cov")
      .orderBy("i", "j")
  }
}
