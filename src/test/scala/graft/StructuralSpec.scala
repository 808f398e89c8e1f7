package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Machine-enforced output-schema contract for the driver harness.
  *
  * The round-9 postmortem: 14 queries shipped `DECIMAL(38,0)` FINAL
  * columns and every one hash-failed the driver's cross-engine compare
  * while matching rows and schema — Spark and DuckDB canonicalize
  * decimal values differently, and the divergence is invisible to any
  * local gate that reads both sides through one engine. The Fx rule
  * ("accumulate in exact DECIMAL, convert once at the end") therefore
  * has a hard corollary: the converted-to FINAL type must be a
  * BIGINT/DOUBLE/STRING-class type, never a decimal. This spec walks
  * every `SparkEntry.queries` result schema (nested types included) at
  * sf0.001 and fails on any DecimalType, so the class cannot recur.
  */
class StructuralSpec extends AnyFunSuite {
  import TestSpark._

  private def decimalsIn(dt: DataType, path: String): Seq[String] =
    dt match {
      case d: DecimalType => Seq(s"$path: $d")
      case s: StructType =>
        s.fields.toSeq.flatMap(f => decimalsIn(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => decimalsIn(a.elementType, s"$path[]")
      case m: MapType =>
        decimalsIn(m.keyType, s"$path<key>") ++
          decimalsIn(m.valueType, s"$path<value>")
      case _ => Nil
    }

  test("no DecimalType in any SparkEntry query's FINAL schema") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema =
          try fn(spark, sf).schema
          catch {
            case e: Throwable =>
              fail(s"$name failed to build at sf0.001: ${e.getMessage}")
          }
        schema.fields.toSeq.flatMap(f =>
          decimalsIn(f.dataType, s"$name.${f.name}"))
    }
    assert(offenders.isEmpty,
      "decimal FINAL columns (cross-engine hash hazard — convert the " +
        "exact-decimal accumulator to BIGINT/DOUBLE at the end):\n" +
        offenders.mkString("\n"))
  }

  /** Every regular file under `root` with its text, in path order. */
  private def sources(root: String): Seq[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .toSeq.sortBy(_.toString).map(f =>
        f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    finally files.close()
  }

  test("no source under src/ names an absolute path outside the repo, " +
      "the test data and the scratch roots") {
    // an absolute path starts at a standard top-level directory; a
    // literal such as "/t" or "/data/snap-1" is a suffix for a base
    // directory chosen at run time, and "a/tmp" is a relative path
    val absolute = ("""(?<![\w.$}\-])/(?:bin|boot|dev|etc|home|lib|lib64|""" +
      """media|mnt|opt|proc|root|run|sbin|srv|sys|tmp|usr|var)""" +
      """(?:/[^\s"'`)\]},;:]*)?""").r
    // (split so that this file does not name the path it checks for)
    assert(absolute.findAllIn("read(\"/" + "opt/x/y\"); base + \"/t\"; a/tmp")
      .toList == List("/" + "opt/x/y"))
    val repo = new java.io.File(".").getCanonicalPath
    def allowed(p: String): Boolean = p.startsWith("/tmp/graft_") ||
      Seq(repo, "/root/testdata", "/dev/shm")
        .exists(r => p == r || p.startsWith(r + "/"))
    val offenders = sources("src").flatMap { case (f, text) =>
      text.linesIterator.zipWithIndex.flatMap { case (line, i) =>
        absolute.findAllIn(line).filterNot(allowed)
          .map(p => s"$f:${i + 1}: $p")
      }
    }
    assert(offenders.isEmpty,
      "absolute paths outside the repo, /root/testdata, /tmp/graft_* " +
        "and /dev/shm:\n" + offenders.mkString("\n"))
  }

  test("Fx.materializeAll is the only thread pool under src/main") {
    val offenders = sources("src/main").collect {
      case (f, text) if text.contains("Executors") &&
          f.getFileName.toString != "Fx.scala" => f.toString
    }
    assert(offenders.isEmpty,
      "java.util.concurrent.Executors outside Fx.scala (run concurrent " +
        "materializations through Fx.materializeAll):\n" +
        offenders.mkString("\n"))
  }

  test("Dedup operators apply no presentation sort; only Window specs order") {
    val sortCall = """\.(?:orderBy|sort)\(""".r
    val offenders = sources("src/main/scala/graft/operators").collect {
      case (f, text) if f.getFileName.toString == "Dedup.scala" =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if sortCall.findFirstIn(line).isDefined &&
              !line.contains("Window.partitionBy(") => s"$f:${i + 1}: ${line.trim}"
        }.toSeq
    }.flatten
    assert(offenders.isEmpty,
      "a Dedup operator sorts its output (declare the order in " +
        "SparkEntry through `ordered`):\n" + offenders.mkString("\n"))
  }

  /** The keys of a SQL text's trailing ORDER BY at paren depth 0
    * (outside string literals), table qualifiers dropped; Nil if the
    * text ends without one.
    */
  private def trailingOrderBy(sql: String): Seq[String] = {
    var depth = 0
    var quoted = false
    var last = -1
    for (i <- sql.indices) sql(i) match {
      case '\'' => quoted = !quoted
      case '(' if !quoted => depth += 1
      case ')' if !quoted => depth -= 1
      case _ if !quoted && depth == 0 &&
          sql.regionMatches(true, i, "ORDER BY", 0, 8) => last = i
      case _ =>
    }
    if (last < 0) Nil
    else sql.substring(last + 8).split(",").toSeq
      .map(_.trim.split('.').last)
  }

  test("each ordered entry's keys are its oracle's trailing ORDER BY") {
    assert(trailingOrderBy("SELECT a, (SELECT 1 ORDER BY z) q FROM t " +
      "WINDOW w AS (ORDER BY y)\nORDER BY d.a, b") == Seq("a", "b"))
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, o: SparkEntry.Ordered) => name -> o.keys
    }
    assert(ordered.size == 18)
    val mismatched = ordered.collect {
      case (name, keys) if trailingOrderBy(SparkEntry.oracleSql(name)) != keys =>
        s"$name: keys ${keys.mkString(", ")}; oracle ORDER BY " +
          trailingOrderBy(SparkEntry.oracleSql(name)).mkString(", ")
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }
}
