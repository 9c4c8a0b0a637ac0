package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One implementation per rule: each guarded construct may appear in
  * one main source file only. Session conf changes go through
  * `Q.conf` or `Tables.withConf`, and the base conf is applied where a
  * session is set up, not per build; the fuzzy match is
  * `Resolution.resolve`; the office pattern and the date shapes are
  * `Repair` and `DateParse` in `CoreOps.scala`; a frame is cached
  * only through `CacheReleases`; the codegen cache size is set only on
  * `Q.Static`. The Scala-code patterns do not match
  * the single-quoted oracle SQL. */
class SourceGuardSpec extends AnyFunSuite {
  /** (shown in the test name, regex, the only file it may appear in) */
  private val homes = Seq(
    ("conf.set( / conf.unset(", """conf\.(set|unset)\(""", "Tables.scala"),
    literal("levenshtein(col(", "Resolution.scala"),
    literal("\"(?i)^(RTA", "CoreOps.scala"),
    literal("""rlike("^\\d{2}/""", "CoreOps.scala"),
    literal("ensureConf(", "Tables.scala"),
    literal(".persist(", "CacheReleases.scala"),
    literal(".cache()", "CacheReleases.scala"),
    literal(".localCheckpoint(", "CacheReleases.scala"),
    literal("spark.sql.codegen.cache.maxEntries", "Tables.scala"))

  private def literal(text: String, home: String) = (text, Pattern.quote(text), home)

  private lazy val sources: List[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
  }

  private def hits(p: Path, pattern: String): Seq[String] = {
    val re = pattern.r
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}"
    }.toSeq
  }

  for ((shown, pattern, home) <- homes) test(s"$shown appears only in $home") {
    val (inHome, others) = sources.partition(_.getFileName.toString == home)
    assert(inHome.flatMap(hits(_, pattern)).nonEmpty, s"$shown not found in $home")
    val offenders = others.flatMap(hits(_, pattern))
    assert(offenders.isEmpty, offenders.mkString(s"$shown outside $home at ", ", ", ""))
  }
}
