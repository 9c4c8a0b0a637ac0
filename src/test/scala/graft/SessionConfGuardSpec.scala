package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One mechanism for session conf: a registry query declares `Q.conf`,
  * and scoped changes go through `Tables.withConf`. Fails if any other
  * main source file sets or unsets session conf directly. */
class SessionConfGuardSpec extends AnyFunSuite {
  test("session conf is set or unset only in Tables.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.getFileName.toString == "Tables.scala"))
    val direct = """conf\.(set|unset)\(""".r
    val offenders = sources
      .filterNot(_.getFileName.toString == "Tables.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("direct conf changes at ", ", ", ""))
  }
}
