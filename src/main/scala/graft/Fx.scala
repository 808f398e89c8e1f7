package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic arithmetic helpers.
  *
  * The driver hash-compares our parquet output against a DuckDB oracle.
  * A plain `SUM(double)` is summation-order-dependent: Spark's partial
  * aggregation over 32 shuffle partitions and DuckDB's single-threaded
  * scan accumulate in different orders, so low-order bits differ and the
  * hash check fails even though both answers are "right". The fix is the
  * one a production engine uses for money columns anyway: accumulate in
  * exact DECIMAL, convert once at the end.
  *
  * Each helper has an exact SQL mirror (see SparkEntry.oracleSql):
  *   dsum(c, s)  ==  CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE)
  *   davg(c, s)  ==  CAST(SUM(CAST(c AS DECIMAL(18,s))) AS DOUBLE) / COUNT(c)
  *
  * The double->decimal cast rounds to `s` places; both engines see
  * bit-identical input doubles, and an exact decimal .5 tie is not
  * representable in binary, so the per-row rounding is identical too.
  */
object Fx {
  /** Exact fixed-point sum of a double column, returned as DOUBLE.
    *
    * ONLY safe on "clean" columns whose true values have <= `scale`
    * decimals (all the corpus money/qty/rate columns): there the
    * double->decimal cast is exact in both engines. For derived products
    * (e.g. price*(1-disc)) do the arithmetic in the decimal domain
    * instead ([[dec2]]/[[one]]): Spark casts arbitrary doubles to
    * decimal via the shortest-round-trip string + HALF_UP, DuckDB
    * rounds the binary value — they disagree on near-tie rows.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Clean 2-decimal column lifted into the decimal domain. Precision 12
    * keeps products of three factors within DECIMAL(38,_) so Spark never
    * reduces scale (which would re-introduce rounding).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Clean small 2-decimal column (discounts, tax rates). */
  def rate2(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Literal 1 as a narrow decimal so +/- stays narrow. */
  def one: Column = lit(1).cast(DecimalType(3, 2))

  /** SQL mirrors of the decimal-domain building blocks. */
  def dec2Sql(e: String): String = s"CAST($e AS DECIMAL(12,2))"
  def rate2Sql(e: String): String = s"CAST($e AS DECIMAL(4,2))"
  val oneSql: String = "CAST(1 AS DECIMAL(3,2))"

  /** Exact fixed-point average (sum/count in double, deterministic). */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** SQL mirror fragments for oracle queries. */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"
  def davgSql(expr: String, scale: Int = 2): String =
    s"(${dsumSql(expr, scale)} / COUNT($expr))"

  /** THE materialize-and-truncate-lineage policy for reused
    * intermediates, in one place instead of ~60 inline call sites.
    *
    * Every operator that computes an intermediate consumed by several
    * independent jobs (concurrent broadcast builds, AQE stage
    * submission, loop rounds) materializes it eagerly and truncates
    * its lineage through `.materialized`. Locally (and by default)
    * that is `localCheckpoint(eager = true)` — same MEMORY_AND_DISK
    * storage a cache would use, but computed exactly once and with
    * the plan cut. Its blocks live UNREPLICATED on executors, which a
    * single-process session cannot lose; on a cluster, losing one
    * executor mid-query would fail the query, so a deployment sets
    * `spark.graft.materialize=reliable` (plus
    * `sparkContext.setCheckpointDir`) and the same call sites write a
    * replicated reliable checkpoint instead — the fault-tolerance
    * policy is THIS switch, not a per-site decision.
    */
  implicit final class FxMaterialize(
      private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def materialized: org.apache.spark.sql.DataFrame =
      df.sparkSession.conf.getOption("spark.graft.materialize") match {
        case Some("reliable") => df.checkpoint(eager = true)
        case _ => df.localCheckpoint(eager = true)
      }
  }

  /** Build and [[FxMaterialize.materialized materialize]] independent
    * intermediates concurrently; the results come back in argument
    * order, each equal to `build().materialized` run alone.
    *
    * Failure and cancel contract: each build's jobs carry a job tag of
    * their own. The first build to fail, in completion order, cancels
    * every build's tagged jobs, again until all workers have ended, so
    * no sibling job outlives the call; then its own exception is
    * rethrown, unwrapped from the pool's `ExecutionException`.
    */
  def materializeAll(builds: (() => DataFrame)*): Seq[DataFrame] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
      Executors, TimeUnit}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tags = builds.map(_ => s"graft_materialize_${java.util.UUID.randomUUID()}")
    // A fresh pool per call: its threads start on the caller's thread
    // and so inherit Spark's local properties (job group, description,
    // active session), which a long-lived shared pool would not carry.
    val pool = Executors.newFixedThreadPool(builds.size)
    val done = new ExecutorCompletionService[DataFrame](pool)
    val futures = builds.zip(tags).map { case (build, tag) =>
      done.submit { () =>
        sc.addJobTag(tag)
        try build().materialized finally sc.removeJobTag(tag)
      }
    }
    pool.shutdown()
    try {
      builds.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case e: ExecutionException =>
        do tags.foreach(sc.cancelJobsWithTag)
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        throw e.getCause
    }
  }
}
