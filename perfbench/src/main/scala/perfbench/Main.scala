package perfbench

/** JVM side of the benchmark: runs one workload and writes its raw run
  * record (set-up times, per-operation samples, checks, counters) as
  * JSON to `--out`. `run.py` turns the record into metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val h = new Harness(a)
    val record = try {
      a.workload match {
        case "rating_stream" => RatingStream.run(h)
        case "table_rw" => TableRw.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally h.close()
    Json.write(a.out, record ++ Map("header" -> h.header()))
    sys.exit(0)
  }
}
