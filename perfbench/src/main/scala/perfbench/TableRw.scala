package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: a seeded mix of SQL statements on a `graft`
  * catalog ratings table seeded from `events`. Writes are small INSERT
  * appends, MERGE INTO upserts and DELETE ... WHERE; reads are point
  * reads by key, time-range scans and VERSION AS OF reads; compaction
  * runs every `CompactEvery` statements. The benchmark applies the same
  * statements to an in-memory model and checks every read and the final
  * table against it.
  */
object TableRw {
  val Table = "graft.bench.ratings"
  val CompactEvery = 10
  /** Statements run untimed in set-up before the window, at least;
    * set-up goes on to the end of the block it is in.
    */
  val WarmStatements = 40
  /** The live heap is read after this many statements, so it reflects
    * the same work in every run (the store's memory grows with it).
    */
  val HeapAfter = 30
  val RowBytes = 36.0 // logical width: 3 BIGINT/DOUBLE + INT + TIMESTAMP
  /** Statements per block of 20; each block runs them in a seeded order,
    * and set-up and the window each hold whole blocks, so every window has
    * the same mix whatever its seed or length.
    */
  val Block: Seq[(String, Int)] = Seq("insert" -> 4, "merge" -> 3, "delete" -> 2,
    "point" -> 5, "range" -> 4, "asof" -> 2)
  val Writes = Set("insert", "merge", "delete")
  val Day = 86400000000L
  val Jan1 = 1704067200000000L // 2024-01-01T00:00:00Z in micros

  /** A row as the model keeps it: user, song, rating in cents, ts micros. */
  final case class R(user: Long, song: Int, cents: Long, ts: Long)

  /** The model: live rows plus a fingerprint of every committed version. */
  final class Model(seed: Iterable[(Long, R)]) {
    val rows = mutable.HashMap.from(seed)
    private val keys = mutable.ArrayBuffer.from(rows.keys)
    private val index = mutable.HashMap.from(keys.zipWithIndex)
    val versions = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]

    def put(k: Long, r: R): Unit = {
      if (!rows.contains(k)) { index(k) = keys.size; keys += k }
      rows(k) = r
    }
    def remove(k: Long): Unit = if (rows.remove(k).isDefined) {
      val i = index.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; index(last) = i }
    }
    def anyKey(rnd: java.util.Random): Long = keys(rnd.nextInt(keys.size))
    def fingerprint(sel: R => Boolean = _ => true): (Long, Long, Long) = {
      var n, c, s = 0L
      rows.foreach { case (k, r) => if (sel(r)) { n += 1; c += r.cents; s += k } }
      (n, c, s)
    }
  }

  private def ts(micros: Long): String =
    java.time.Instant.ofEpochSecond(micros / 1000000L).toString.replace("T", " ").stripSuffix("Z")

  private def values(rows: Seq[(Long, R)]): String = rows.map { case (k, r) =>
    s"($k, ${r.user}, ${r.song}, ${r.cents / 100.0}D, TIMESTAMP '${ts(r.ts)}')"
  }.mkString(", ")

  private val Agg = "count(*), coalesce(sum(CAST(round(rating * 100) AS BIGINT)), 0), " +
    "coalesce(sum(event_id), 0)"

  def version(spark: SparkSession): Long =
    spark.sql(s"SELECT max(version) FROM $Table.history").head().getLong(0)

  def run(h: Harness): Map[String, Any] = {
    val a = h.a
    val spark = h.session()
    val wh = Paths.get(a.run, "warehouse")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.sql(s"CREATE TABLE $Table (event_id BIGINT, user_id BIGINT, " +
      "song_id INT, rating DOUBLE, ts TIMESTAMP)")
    // the engine's loader gives ts as nanoseconds since the epoch
    graft.Tables.events(spark, a.data).selectExpr("event_id", "user_id",
      "CAST(get_json_object(props, '$.k') AS INT) AS song_id", "value AS rating",
      "timestamp_micros(ts DIV 1000) AS ts").createOrReplaceTempView("bench_events")
    spark.sql(s"INSERT INTO $Table SELECT * FROM bench_events")
    val tableDir = wh.resolve("bench").resolve("ratings")
    val model = new Model(spark.sql("SELECT event_id, user_id, song_id, " +
      "CAST(round(rating * 100) AS BIGINT), unix_micros(ts) FROM bench_events").collect()
      .map(r => r.getLong(0) -> R(r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))))
    model.versions(version(spark)) = model.fingerprint()

    val rnd = new java.util.Random(a.seed * 1000003L + 17L)
    var nextKey = 10000000L
    def fresh(): (Long, R) = {
      nextKey += 1
      nextKey -> R(rnd.nextInt(1500).toLong, rnd.nextInt(100), rnd.nextInt(20000).toLong,
        Jan1 + (rnd.nextDouble() * 30 * Day).toLong / 1000000L * 1000000L)
    }
    val block = Block.flatMap { case (k, n) => Seq.fill(n)(k) }
    val shuffler = new scala.util.Random(rnd)
    val schedule = Iterator.continually(shuffler.shuffle(block)).flatten
    def three(sql: String): (Long, Long, Long) = {
      val r = spark.sql(sql).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var drawn = 0 // statements taken from the schedule so far
    def kindOf(i: Int): String =
      if (i > 0 && i % CompactEvery == 0) "compact" else { drawn += 1; schedule.next() }
    def midBlock = drawn % block.size != 0

    /** Runs statement `i` of the sequence and applies it to the model
      * (writes) or checks it against the model (reads); returns an error
      * if it failed or was wrong, and the rows a read matched.
      */
    def step(i: Int, kind: String, tag: Boolean): (Option[String], Long) = {
      var matched = 0L
      def traced[T](body: => T): T = if (tag) h.op(s"$kind#$i")(body) else body
      val err: Option[String] = try traced {
        kind match {
          case "insert" =>
            val rows = Seq.fill(20)(fresh())
            spark.sql(s"INSERT INTO $Table VALUES ${values(rows)}")
            rows.foreach { case (k, r) => model.put(k, r) }; None
          case "merge" =>
            val upd = Iterator.continually(model.anyKey(rnd)).distinct.take(10).toSeq
              .map(k => k -> model.rows(k).copy(cents = rnd.nextInt(20000).toLong))
            val rows = upd ++ Seq.fill(10)(fresh())
            spark.sql(s"""MERGE INTO $Table t
              |USING (SELECT * FROM VALUES ${values(rows)} AS s(event_id, user_id, song_id, rating, ts)) s
              |ON t.event_id = s.event_id
              |WHEN MATCHED THEN UPDATE SET rating = s.rating
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            rows.foreach { case (k, r) => model.put(k, r) }; None
          case "delete" =>
            val lo = rnd.nextInt(100000).toLong
            spark.sql(s"DELETE FROM $Table WHERE event_id >= $lo AND event_id < ${lo + 40}")
            (lo until lo + 40).foreach(model.remove); None
          case "compact" =>
            spark.sql("CALL graft.system.compact(ns => 'bench', tbl => 'ratings', " +
              "max_rows => 1000000)").collect(); None
          case "point" =>
            val k = model.anyKey(rnd)
            val got = spark.sql(s"SELECT user_id, song_id, CAST(round(rating * 100) AS BIGINT), " +
              s"unix_micros(ts) FROM $Table WHERE event_id = $k").collect()
              .map(r => R(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
            matched = got.size
            Option.when(got != Seq(model.rows(k)))(s"point $k: $got != ${model.rows(k)}")
          case "range" =>
            val lo = Jan1 + (rnd.nextDouble() * 29 * Day).toLong / 1000000L * 1000000L
            val hi = lo + Day / 4
            val got = three(s"SELECT $Agg FROM $Table WHERE ts >= TIMESTAMP '${ts(lo)}' " +
              s"AND ts < TIMESTAMP '${ts(hi)}'")
            val want = model.fingerprint(r => r.ts >= lo && r.ts < hi)
            matched = got._1
            Option.when(got != want)(s"range ${ts(lo)}: $got != $want")
          case "asof" =>
            val vs = model.versions.keys.toIndexedSeq
            val v = vs(rnd.nextInt(vs.size))
            val got = three(s"SELECT $Agg FROM $Table VERSION AS OF $v")
            matched = got._1
            Option.when(got != model.versions(v))(s"version $v: $got != ${model.versions(v)}")
        }
      } catch { case e: Throwable => Some(Util.errText(e)) }
      // versions are looked up only after compactions, the targets of
      // VERSION AS OF reads; other writes are checked by later reads
      if (kind == "compact") model.versions(version(spark)) = model.fingerprint()
      (err, matched)
    }

    // the first statements of the sequence are set-up: they bring the
    // engine's code paths to steady speed (statement times still fall
    // about twofold over the first 20 on a cold JVM) and are checked
    // like every other statement, but not timed
    val warmErrors = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < WarmStatements || midBlock) {
      warmErrors ++= step(i, kindOf(i), tag = false)._1
      i += 1
    }
    val warmed = i
    val setup = h.sinceStart()
    val calib = h.calibrate()

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val written = mutable.ArrayBuffer.empty[Long]
    h.heap.start()
    h.tracer.foreach(_.takeHookSeconds())
    val t0 = h.now()
    // the window closes at the first block boundary after a.seconds
    while (h.now() - t0 < a.seconds || midBlock) {
      val kind = kindOf(i)
      val before = if (a.trace && Writes(kind)) DirStats.bytes(tableDir) else 0L
      val s0 = h.now()
      val (err, matched) = step(i, kind, tag = true)
      val s1 = h.now()
      if (a.trace && Writes(kind)) written += DirStats.bytes(tableDir) - before
      if (i + 1 - warmed == HeapAfter) h.heap.snapshot()
      ops += Map("kind" -> kind, "start" -> (s0 - t0), "seconds" -> (s1 - s0),
        "matched" -> matched, "ok" -> err.isEmpty, "error" -> err)
      i += 1
    }
    val window = h.now() - t0
    val hookS = h.tracer.map(_.takeHookSeconds()).getOrElse(0.0)
    h.heap.stop()

    val live = model.rows.size.toLong
    val stored = DirStats.bytes(tableDir)
    val finalRows = spark.sql(s"SELECT event_id, user_id, song_id, " +
      s"CAST(round(rating * 100) AS BIGINT), unix_micros(ts) FROM $Table").collect()
      .map(r => r.getLong(0) -> R(r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    val finalOk = finalRows == model.rows.toMap
    // traced runs also probe the dedup operators, for the operators.*
    // layer figures
    val probe = if (a.trace) OperatorProbe.run(h) else Seq.empty
    val tr = h.tracer.map { t => t.flush(); Map("tags" -> t.byTag, "hook_s" -> hookS) }

    Map(
      "setup_s" -> setup,
      "calib_s" -> calib,
      "window_s" -> window,
      "ops" -> ops.toSeq,
      "final_table_ok" -> finalOk,
      "warm_errors" -> warmErrors.toSeq,
      "live_rows" -> live,
      "stored_bytes" -> stored,
      "stored_bytes_ratio" -> stored / (live * RowBytes),
      "data_files" -> DirStats.files(tableDir, ".parquet"),
      "snapshots" -> version(spark),
      "write_bytes" -> written.toSeq,
      "probe_ops" -> probe,
      "heap_live_mb" -> h.heap.liveMb,
      "gc_s" -> h.heap.gcSeconds,
      "trace" -> tr)
  }
}
