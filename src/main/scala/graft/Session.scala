package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the mains and the specs. */
object Session {

  /** A `local[cpus]` session (default `SPARK_GRAFT_CPUS`, else 4) with
    * as many shuffle partitions as cores, UTC session time, the events
    * table's TIMESTAMP(NANOS) read as BIGINT, and no UI.
    */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: session/scheduler/codegen-infra JIT and one tiny
    * parquet footer read, so the first measured query isn't charged
    * ~4 s of one-time JVM cost. Table data itself stays uncached.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect() // bounded: 1-row warmup aggregate
    Tables.region(spark, sfDir).count()
  }
}
