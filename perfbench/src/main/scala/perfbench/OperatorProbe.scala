package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The dedup operators, probed by traced `table_rw` runs after the window:
  * four declared queries from `SparkEntry.queries`, each built and run
  * into the `noop` sink once untimed (first-time codegen and class
  * loading) and once timed. Every execution carries an order-independent
  * fingerprint (row count plus a summed row hash, gathered by a Spark
  * `Observation`) that must equal the query's fingerprint on the sf0.1
  * tables in `data/sf0.1`. Those fingerprints come from a run whose rows
  * matched each query's `SparkEntry.oracleSql` answer in DuckDB, on 4 and
  * on 2 cores.
  */
object OperatorProbe {
  val Expected: Seq[(String, String)] = Seq(
    "dedup_minhash_lsh" -> "288:293303614138",
    "dedup_clusters" -> "511:541496699954",
    "dedup_ngram_jaccard" -> "256:259953564635",
    "embedding_neardup_lsh" -> "772:835101304414")

  /** Attaches the fingerprint to `df`. */
  def fingerprinted(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))).as("h")), obs)
  }

  def fingerprint(obs: Observation): String = {
    val r = Await.result(Future(obs.get), 120.seconds)
    s"${r("n")}:${Option(r("h")).getOrElse(0L)}"
  }

  /** Builds query `q` and runs it into the noop sink, timing both halves
    * and checking the result's fingerprint. Only timed executions are
    * attributed to a trace tag.
    */
  def execute(h: Harness, q: String, want: String, warm: Boolean): Map[String, Any] = {
    val spark = h.spark
    def part[T](name: String)(body: => T): T = if (warm) body else h.op(s"$q#0/$name")(body)
    val s0 = h.now()
    var built = s0
    val res = try {
      val df = part("construct")(graft.SparkEntry.queries(q)(spark, h.a.data))
      built = h.now()
      val (fp, obs) = fingerprinted(df)
      part("exec")(fp.write.format("noop").mode("overwrite").save())
      val got = fingerprint(obs)
      Option.when(got != want)(s"$q: fingerprint $got, want $want")
    } catch { case e: Throwable => Some(Util.errText(e)) }
    val s1 = h.now()
    spark.catalog.clearCache()
    Map("kind" -> q, "pass" -> 0, "warm" -> warm,
      "construct_s" -> (built - s0), "exec_s" -> (s1 - built),
      "seconds" -> (s1 - s0), "ok" -> res.isEmpty, "error" -> res)
  }

  /** Every query, untimed then timed. */
  def run(h: Harness): Seq[Map[String, Any]] =
    Expected.flatMap { case (q, want) => Seq(true, false).map(execute(h, q, want, _)) }
}
