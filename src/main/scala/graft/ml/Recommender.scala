package graft.ml

import graft.{Fx, Tables}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's core "query": ALS train / predict / recommend
  * (SURVEY.md §2.11 M1–M6; engine.py:17–112, spark_music.py).
  *
  * spark.ml ALS instead of the reference's RDD-level mllib
  * `ALS.train` — same model family and hyperparameters (rank grid
  * {4,8,12}, 10 iterations, lambda 0.1, seed 5; spark_music.py:21–34,
  * engine.py:108–111), but block-partitioned DataFrame execution:
  * factor blocks shuffle by (user-block, item-block) key, so training
  * scales horizontally with partitions rather than the reference's
  * groupByKey-style all-to-all. Predictions are `model.transform` — a
  * broadcast-able join against the factor tables — never a driver-side
  * `predictAll` collect.
  */
object Recommender {

  /** Ratings from the events table: the streaming payload decode of
    * SURVEY §2.9 F3 feeding the batch trainer (spark_kafka.py:27).
    */
  def ratings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select(
      $"user_id".cast("int").as("userId"),
      get_json_object($"props", "$.k").cast("int").as("songId"),
      $"value".cast("float").as("rating"))
  }

  /** M1 ALS train, reference hyperparameters by default
    * (spark_music.py:33: rank grid member, 10 iters, lambda 0.1, seed 5).
    *
    * The user and item factor blocks number the session's
    * `defaultParallelism`: the auto rule of the reference's mllib
    * `ALS.train(…, blocks = -1)`, without its half-the-input-partitions
    * term. spark.ml's default is a fixed 10 × 10, which schedules more
    * tasks than a small session has cores on every iteration stage.
    * The count is not taken from the input's partitioning, because
    * under AQE that plans and runs the input a second time.
    *
    * The fit never writes a reliable checkpoint. Whenever the context
    * has a checkpoint dir (a deployment sets one for
    * `spark.graft.materialize=reliable`), spark.ml's default interval
    * checkpoints the iteration-0 item factors: two more jobs and a disk
    * write per fit, in a directory nothing deletes, so a streaming
    * refit would leave one behind per batch. Ten iterations need no
    * lineage cut.
    */
  def train(df: DataFrame, rank: Int = 4, maxIter: Int = 10,
      regParam: Double = 0.1, seed: Long = 5L): ALSModel =
    new ALS()
      .setUserCol("userId").setItemCol("songId").setRatingCol("rating")
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam).setSeed(seed)
      .setNumBlocks(df.sparkSession.sparkContext.defaultParallelism)
      .setCheckpointInterval(-1)
      .setColdStartStrategy("drop")
      .fit(df)

  /** M2 predictAll (engine.py:43): score (userId, songId) pairs. */
  def predict(model: ALSModel, pairs: DataFrame): DataFrame =
    model.transform(pairs)

  /** M3 RMSE (spark_music.py:35–40). */
  def rmse(model: ALSModel, df: DataFrame): Double =
    new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(predict(model, df))

  /** M4 grid search (spark_music.py:32–44): best rank by validation
    * RMSE. The loop is driver-side model selection — each candidate is
    * a full distributed fit, as in the reference.
    */
  def gridEvaluate(train_ : DataFrame, validation: DataFrame,
      ranks: Seq[Int]): Seq[(Int, Double, ALSModel)] =
    ranks.map { r =>
      val m = train(train_, rank = r)
      (r, rmse(m, validation), m)
    }

  def gridSearch(train_ : DataFrame, validation: DataFrame,
      ranks: Seq[Int] = Seq(4, 8, 12)): (Int, Double, ALSModel) =
    gridEvaluate(train_, validation, ranks).minBy(_._2)

  /** M6 recommend-unrated top-K (engine.py:73–81, spark_music.py:96–111):
    * candidates = catalog anti-join the user's rated set; predict; keep
    * songs with >= minCnt ratings; top-K by predicted score.
    *
    * The anti-join replaces the reference's driver-side NOT-IN list
    * (and its Py3 exhausted-iterator bug — spark_music.py:96–98); the
    * per-song counts side is a partial agg and broadcasts.
    */
  def recommendTopK(model: ALSModel, ratings: DataFrame, userId: Int,
      k: Int = 25, minCnt: Long = 25): DataFrame = {
    val spark = ratings.sparkSession
    import spark.implicits._
    val rated = ratings.filter($"userId" === userId).select($"songId")
    val candidates = ratings.select($"songId").distinct()
      .join(rated, Seq("songId"), "left_anti")
      .withColumn("userId", lit(userId))
    val counts = ratings.groupBy($"songId").agg(count(lit(1)).as("cnt"))
    predict(model, candidates)
      .join(counts, "songId")
      .filter($"cnt" >= minCnt)
      .select($"songId", $"prediction", $"cnt")
      .orderBy($"prediction".desc, $"songId")
      .limit(k)
  }

  /** M6 for a *batch* of users at once — the streaming recommend loop's
    * shape (spark_streaming_kafka.py:48–58) without materializing
    * users × catalog: `recommendForUserSubset` does a blocked factor
    * matmul with per-block top-k pruning (never a row-level cartesian),
    * and the M6 gates (song count >= minCnt, rated pairs excluded) are
    * applied as post-filters.
    *
    * Post-filtering can eat into the top-N list, so N escalates
    * (×4 per round) until every requested user either has `k`
    * survivors or the full catalog has been ranked — at which point
    * the result is exactly the reference's candidates-minus-rated
    * top-k. Typical feeds converge in one pass; the escalation is a
    * driver-side loop over tiny aggregates, never a collect of
    * candidates.
    *
    * Besides the per-song counts, the work follows the requested users,
    * not the history: the rated pairs are cut to those users (and kept
    * with their duplicates: a left-anti join only asks whether a match
    * exists), and the users are counted only when a pass that ranked
    * less than the whole catalog needs its completeness check.
    *
    * A pass that proves complete returns its result still cached; the
    * caller releases it (`unpersist`) once consumed.
    */
  def recommendTopKUsers(model: ALSModel, ratings: DataFrame,
      users: DataFrame, k: Int = 25, minCnt: Long = 25): DataFrame = {
    val spark = ratings.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val eligible = ratings.groupBy($"songId")
      .agg(count(lit(1)).as("cnt")).filter($"cnt" >= minCnt)
    val rated = ratings.select($"userId", $"songId")
      .join(users.select($"userId"), Seq("userId"), "left_semi")
    val nItems = model.itemFactors.count()
    lazy val nUsers = users.select($"userId").distinct().count()
    val w = Window.partitionBy($"userId")
      .orderBy($"prediction".desc, $"songId")
    var n: Long = math.max(4L * k, 64L)
    var result: DataFrame = null
    var done = false
    while (!done) {
      val capped = math.min(n, nItems).toInt
      val scored = model.recommendForUserSubset(users, capped)
        .select($"userId", explode($"recommendations").as("rec"))
        .select($"userId", $"rec.songId".as("songId"),
          $"rec.rating".as("prediction"))
      result = scored
        .join(eligible, "songId")
        .join(rated, Seq("userId", "songId"), "left_anti")
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
        .select($"userId", $"songId", $"prediction", $"cnt")
      if (capped >= nItems) done = true
      else {
        result.cache()
        val complete = result.groupBy($"userId")
          .agg(count(lit(1)).as("got")).filter($"got" >= k).count() == nUsers
        if (complete) done = true else { result.unpersist(); n *= 4 }
      }
    }
    result
  }

  /** M5 retrain-on-append (engine.py:50–62): union new ratings with
    * history, full refit — the reference has no incremental update.
    */
  def retrain(history: DataFrame, fresh: DataFrame, rank: Int = 4): ALSModel =
    train(history.unionByName(fresh), rank = rank)

  /** S11 model persistence (spark_music.py:114–123). */
  def save(model: ALSModel, path: String): Unit = model.write.overwrite().save(path)
  def load(path: String): ALSModel = ALSModel.load(path)

  // ---- adapter for the reference's SAVED artifact ----

  /** The factor tables of a saved mllib MatrixFactorizationModel
    * (the artifact the reference actually ships: spark_music.py:116
    * `model.save(sc, model_path)` writes metadata/ JSON + data/user +
    * data/product parquet of (id INT, features ARRAY<DOUBLE>)).
    */
  case class MllibFactors(rank: Int, userFactors: DataFrame,
      itemFactors: DataFrame)

  /** Train and `save` a small mllib MatrixFactorizationModel at `path`
    * (replacing whatever is there): rank 4, seed 42, over a fixed
    * rating set of 40 users × 40 products (two of every three pairs,
    * ratings 1–5), so its on-disk layout is the one the reference's
    * spark_music.py:116 `model.save` writes.
    */
  def saveMllibModel(spark: SparkSession, path: String): Unit = {
    import org.apache.spark.mllib.recommendation.{ALS => MllibALS, Rating}
    val sc = spark.sparkContext
    val ratings = sc.parallelize(
      for (u <- 0 until 40; p <- 0 until 40 if (u + 2 * p) % 3 != 0)
        yield Rating(u, p, ((u * 7 + p * 3) % 5 + 1).toDouble), 4)
    val model = MllibALS.train(ratings, 4, 5, 0.1, 2, 42L)
    val out = new org.apache.hadoop.fs.Path(path)
    out.getFileSystem(sc.hadoopConfiguration).delete(out, true)
    model.save(sc, path)
  }

  /** Load the reference's on-disk layout directly — no mllib code
    * path, just the parquet factor tables + the metadata JSON — so a
    * user can consume their existing `music_lens_als/` artifact from
    * this library without retraining (spark_music.py:123's
    * MatrixFactorizationModel.load, minus the RDD machinery).
    */
  def loadMllibFactors(spark: SparkSession, path: String): MllibFactors = {
    val rank = spark.read.json(s"$path/metadata")
      .select("rank").head().getLong(0).toInt
    MllibFactors(rank,
      spark.read.parquet(s"$path/data/user"),
      spark.read.parquet(s"$path/data/product"))
  }

  /** predictAll from loaded factors: prediction(u, p) = <uf, pf>, the
    * mllib scoring rule, as two factor joins + one codegen'd fold.
    * The small factor side broadcasts; no driver-side scoring.
    */
  def predictFromFactors(f: MllibFactors, pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val dot = aggregate(zip_with($"uf", $"pf", (a, b) => a * b),
      lit(0.0), (s, x) => s + x)
    pairs
      .join(f.userFactors.select($"id".as("userId"), $"features".as("uf")), "userId")
      .join(f.itemFactors.select($"id".as("songId"), $"features".as("pf")), "songId")
      .select($"userId", $"songId", dot.as("prediction"))
  }

  /** Top-K catalog recommendations for one user from loaded factors
    * (engine.py:73–81's recommendProducts against the saved model).
    */
  def recommendFromFactors(f: MllibFactors, userId: Int, k: Int = 25): DataFrame = {
    val spark = f.itemFactors.sparkSession
    import spark.implicits._
    val pairs = f.itemFactors.select(lit(userId).as("userId"), $"id".as("songId"))
    predictFromFactors(f, pairs)
      .orderBy($"prediction".desc, $"songId").limit(k)
  }

  /** Hash-checked surface for the saved-artifact path (M2/M6 against
    * spark_music.py:116–123's persisted model): score a deterministic
    * pair set — the `nUsers` smallest user ids × the full catalog —
    * through [[predictFromFactors]] and keep top-`k` per user.
    *
    * The factor dot product is plain SQL, so unlike the training-side
    * ALS queries this one carries a full DuckDB oracle. At scale the
    * item-factor side broadcasts (rank·|items| doubles) and the user
    * subset prunes before the join, so cost is O(|subset|·|items|) —
    * the same inherent cost as exact top-K retrieval.
    */
  def factorsTopK(spark: SparkSession, path: String, nUsers: Int = 20,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val f = loadMllibFactors(spark, path)
    val users = f.userFactors.select($"id".as("userId"))
      .orderBy($"userId").limit(nUsers)
    val pairs = users.crossJoin(
      broadcast(f.itemFactors.select($"id".as("songId"))))
    val w = Window.partitionBy($"userId")
      .orderBy($"prediction".desc, $"songId")
    predictFromFactors(f, pairs)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"userId", $"songId", $"prediction", $"rk")
      .orderBy($"userId", $"rk")
  }

  // ---- driver-contract query surfaces ----

  /** Export location for the TRAINED model's factors — a constant
    * because the oracle SQL is a static string; every run overwrites
    * the export before the oracle reads it, so the two always see the
    * same factors (training determinism is not even required for the
    * check to be exact).
    */
  val TrainedFactorsPath = "/tmp/graft_trained_als"

  /** Flagship ALS query, oracle-anchored past training: train (rank 4,
    * seed 5), EXPORT the trained factors to parquet (float → double
    * widening, exact), then run the reference's M6 recommend pipeline
    * — candidates = catalog minus the most-active user's rated set,
    * song count ≥ 5, top 25 by ⟨uf, pf⟩ — entirely through the
    * exported factor relations. The DuckDB oracle replays the same
    * join/filter/top-k over the same parquet, so the whole
    * post-training path is hash-checked; only the fit itself remains
    * rows-only (als_grid_rmse), being genuinely not SQL-expressible.
    */
  /** Export a trained model's factors (float→double widening, exact)
    * to `path/{user,item}` parquet and reload them as [[MllibFactors]]
    * — the bridge that lets a DuckDB oracle replay everything
    * downstream of a fit through the identical relations.
    */
  def exportTrainedFactors(model: ALSModel, path: String): MllibFactors = {
    val spark = model.userFactors.sparkSession
    import spark.implicits._
    def one(factors: DataFrame, sub: String): DataFrame = {
      factors.select($"id",
          transform($"features", x => x.cast("double")).as("features"))
        .write.mode("overwrite").parquet(s"$path/$sub")
      spark.read.parquet(s"$path/$sub")
    }
    MllibFactors(model.rank,
      one(model.userFactors, "user"), one(model.itemFactors, "item"))
  }

  def alsRecommendTop25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = ratings(spark, dir).cache()
    val model = train(r, rank = 4)
    val f = exportTrainedFactors(model, TrainedFactorsPath)
    val topUser = r.groupBy($"userId").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"userId").limit(1)
      .collect()(0).getInt(0)
    val rated = r.filter($"userId" === topUser).select($"songId").distinct()
    val cand = r.groupBy($"songId").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 5)
      .join(rated, Seq("songId"), "left_anti")
    predictFromFactors(f, cand.select(lit(topUser).as("userId"), $"songId"))
      .join(cand.select($"songId", $"cnt"), "songId")
      .select($"songId", $"prediction", $"cnt")
      .orderBy($"prediction".desc, $"songId")
      .limit(25)
  }

  /** Export location for the grid search's per-rank factors + the
    * seed-0 holdout splits — constant for the same reason as
    * [[TrainedFactorsPath]].
    */
  val GridFactorsPath = "/tmp/graft_grid_als"

  /** ALS holdout evaluation, reference protocol (spark_music.py:16):
    * 60/20/20 split seed 0, grid over {4,8,12}, report per-rank
    * validation RMSE, test RMSE, and the argmin flag.
    *
    * Oracle-anchored past training via the same trick as
    * [[alsRecommendTop25]]: every trained model's factors (tagged with
    * their rank) AND the exact validation/test splits are exported to
    * parquet, and BOTH engines then compute the per-rank RMSE from
    * those relations alone — prediction = in-order ⟨uf,pf⟩ double fold
    * (list_inner_product-exact), squared errors accumulated in
    * DECIMAL(18,8) so the sum is order-independent, final
    * round(·, 6). The inner factor joins drop cold-start pairs exactly
    * like coldStartStrategy="drop". Only the fits themselves stay
    * un-replayed (not SQL-expressible); everything downstream of them
    * is hash-checked.
    */
  def alsGridRmse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val Array(tr, va, te) =
      ratings(spark, dir).randomSplit(Array(0.6, 0.2, 0.2), seed = 0L)
    tr.cache()
    def exportSplit(df: DataFrame, sub: String): Unit =
      df.select($"userId", $"songId", $"rating".cast("double").as("rating"))
        .write.mode("overwrite").parquet(s"$GridFactorsPath/$sub")
    exportSplit(va, "validation"); exportSplit(te, "test")
    val ranks = Seq(4, 8, 12)
    val models = ranks.map(r => (r, train(tr, rank = r)))
    def exportFactors(sub: String, fs: Seq[(Int, DataFrame)]): DataFrame = {
      fs.map { case (r, f) =>
        f.select(lit(r).as("rank"), $"id",
          transform($"features", x => x.cast("double")).as("features"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$GridFactorsPath/$sub")
      spark.read.parquet(s"$GridFactorsPath/$sub")
    }
    val uf = exportFactors("user", models.map { case (r, m) => (r, m.userFactors) })
    val itf = exportFactors("item", models.map { case (r, m) => (r, m.itemFactors) })
    def rmseByRank(split: String): DataFrame = {
      val s = spark.read.parquet(s"$GridFactorsPath/$split")
      val dot = aggregate(zip_with($"uf", $"pf", (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
      s.join(uf.select($"rank", $"id".as("userId"), $"features".as("uf")),
          Seq("userId"))
        .join(itf.select($"rank", $"id".as("songId"), $"features".as("pf")),
          Seq("songId", "rank"))
        .select($"rank", ($"rating" - dot).as("diff"))
        .groupBy($"rank")
        .agg(round(sqrt(Fx.dsum(pow($"diff", 2), 8) / count(lit(1))), 6)
          .as(s"rmse_$split"))
    }
    rmseByRank("validation").join(rmseByRank("test"), "rank")
      .withColumn("is_best",
        ($"rmse_validation" ===
          min($"rmse_validation").over(Window.partitionBy())).cast("int"))
      .orderBy($"rank")
  }
}
