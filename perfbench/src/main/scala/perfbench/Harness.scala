package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, run: String, cores: Int, rate: Double,
    out: String, launched: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("run"), m("cores").toInt,
      m.getOrElse("rate", "0").toDouble, m("out"), m("launched").toDouble)
  }
}

/** Everything a workload shares: the session, the set-up clock, the
  * calibration job, heap/GC watching and (traced runs only) the tracer.
  */
final class Harness(val a: Args) {
  private var current: SparkSession = _
  var tracer: Option[Tracer] = None
  val heap = new HeapWatch

  def now(): Double = System.nanoTime() / 1e9

  /** A fresh session with the engine's harness configuration; every
    * path Spark writes to lives under the per-run directory.
    */
  def session(): SparkSession = {
    val local = Paths.get(a.run, "local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the status store's history of finished jobs and queries would
      // otherwise grow with the number of operations and hide the heap
      // the engine itself keeps live
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.run, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(Paths.get(a.run, "checkpoints").toString)
    current = spark
    if (a.trace) tracer = Some(new Tracer(spark))
    spark
  }

  def spark: SparkSession = current

  /** Seconds since `run.py` launched this JVM; read once the workload is
    * ready, it is the set-up time: JVM and session start, fixtures and
    * warm-up. Both ends read the wall clock, to the microsecond.
    */
  def sinceStart(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9 - a.launched
  }

  /** A fixed CPU-bound job; its time tells box drift from code change. */
  def calibrate(): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = now()
      current.range(0L, 20000000L, 1L, a.cores)
        .selectExpr("sum(pmod(hash(id), 1000)) AS s").collect()
      now() - t0
    }
    ts.sorted.apply(1)
  }

  /** Runs `body` with its Spark jobs and queries attributed to `tag`. */
  def op[T](tag: String)(body: => T): T = tracer match {
    case Some(t) => t.attribute(tag)(body)
    case None => body
  }

  def header(): Map[String, Any] = Map(
    "cores" -> a.cores,
    "driver_mem_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "seed" -> a.seed,
    "rate" -> a.rate,
    "held_out" -> Harness.heldOut(a.seed))

  def close(): Unit = if (current != null) current.stop()
}

object Harness {
  /** The stream's events, held out of the history by a set-based split
    * on the key; the seed picks the residue.
    */
  def heldOut(seed: Long): String = s"event_id % 50 = ${Math.floorMod(seed, 50L)}"
}

/** GC time over a window and the heap still live at a chosen point
  * (used heap right after a full collection). A collection at the start
  * keeps garbage from the set-up out of the window's collections.
  */
final class HeapWatch {
  private var gcMs0 = 0L
  private var gcMs1 = 0L
  private var live = -1L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def start(): Unit = { System.gc(); gcMs0 = gcMs() }

  /** Records the live heap now, once. The pause between two collections
    * lets Spark's cleaner release the blocks of objects the first one
    * found unreachable (broadcasts, shuffles), which the second frees.
    */
  def snapshot(): Unit = if (live < 0) {
    System.gc()
    Thread.sleep(500)
    System.gc()
    live = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  /** Ends the window; takes the snapshot here if none was taken. */
  def stop(): Unit = { gcMs1 = gcMs(); snapshot() }

  def liveMb: Double = live / 1048576.0
  def gcSeconds: Double = (gcMs1 - gcMs0) / 1e3
}

object DirStats {
  /** Total bytes of the regular files under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def files(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toLong
      finally s.close()
    }
}

/** Shared small helpers. */
object Util {
  def errText(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }
}
