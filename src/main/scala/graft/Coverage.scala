package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** COVERAGE.md index generator (the Plans.scala pattern): derives the
  * query → implementation `file:line` map from `SparkEntry.queries`
  * itself, so the advertised SURVEY→implementation index can no longer
  * drift from the code (the round-10 defect: COVERAGE.md's tables
  * stopped at q200 while the repo was at q230). Regenerate after adding
  * queries: `scripts/run.sh graft.Coverage`. CoverageSpec asserts every
  * `SparkEntry.queries` key appears in COVERAGE.md, failing the suite
  * if a round forgets to rerun this.
  */
object Coverage {
  private val Begin = "<!-- BEGIN GENERATED QUERY INDEX (graft.Coverage) -->"
  private val End = "<!-- END GENERATED QUERY INDEX -->"

  def main(args: Array[String]): Unit = {
    val repo = Paths.get(args.headOption.getOrElse("."))
    val coverage = repo.resolve("COVERAGE.md")

    // locate each query's `def qN…` (and the object holding it) across
    // the main source tree; a query's number is unique to its builder
    val srcRoot = repo.resolve("src/main/scala/graft")
    val walk = Files.walk(srcRoot)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val objRe = """^\s*(?:private\[\w+\] )?object (\w+)""".r.unanchored
    val defRe = """\bdef (q(\d+)[A-Z_]\w*)""".r.unanchored
    val defSites: Seq[(Int, String)] = files.flatMap { p =>
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      val rel = srcRoot.relativize(p).toString
      val objs = lines.scanLeft("")((cur, l) => l match {
        case objRe(o) => o
        case _ => cur
      }).tail
      lines.zip(objs).zipWithIndex.collect {
        case ((defRe(method, num), obj), i) =>
          num.toInt -> s"`$rel:${i + 1}` (`$obj.$method`)"
      }
    }
    // a duplicate qNNN def in two places would silently mis-attribute the
    // index (last-wins Map) — fail instead
    val dups = defSites.groupBy(_._1).filter(_._2.size > 1)
    require(dups.isEmpty,
      s"duplicate query def numbers: ${dups.map { case (n, s) => s"q$n at ${s.map(_._2).mkString(", ")}" }.mkString("; ")}")
    val defIndex: Map[Int, String] = defSites.toMap

    def number(n: String): Int = n.drop(1).takeWhile(_.isDigit).toInt
    val names = SparkEntry.queries.keySet.toSeq.sortBy(n => (number(n), n))
    val missing = names.filterNot(n => defIndex.contains(number(n)))
    require(missing.isEmpty, s"no def found for: $missing")

    val rows = names.map(n => s"| $n | ${defIndex(number(n))} |")
    // plain concatenation: stripMargin would eat the table rows' pipes
    val section = Seq(
      Begin,
      "## Query → implementation index (generated)",
      "",
      "Derived from `SparkEntry.queries` by `graft.Coverage` — do not",
      "edit by hand; regenerate with `scripts/run.sh graft.Coverage .`.",
      s"**${names.length} queries**, each oracle-gated (the registry pairs",
      "every builder with its DuckDB SQL).",
      "",
      "| query | implementation |",
      "| --- | --- |",
      rows.mkString("\n"),
      End).mkString("\n")

    val cur = new String(Files.readAllBytes(coverage), StandardCharsets.UTF_8)
    val next =
      if (cur.contains(Begin))
        cur.substring(0, cur.indexOf(Begin)) + section +
          cur.substring(cur.indexOf(End) + End.length)
      else cur.stripTrailing() + "\n\n" + section + "\n"
    Files.write(coverage, next.getBytes(StandardCharsets.UTF_8))
    println(s"[coverage] wrote ${names.length} rows to $coverage")
  }
}
