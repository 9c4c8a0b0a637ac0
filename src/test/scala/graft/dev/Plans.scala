package graft.dev

import graft.Harness
import java.nio.file.{Files, Paths}

/** Dump .explain("formatted") for queries to an output dir (the source
  * of `plans/`). Usage:
  *   Test/runMain graft.dev.Plans <sfDir> <outDir> <suffix> [names...]
  * With no names, dumps every registered query. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = Paths.get(args(1))
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(out)
    val spark = Harness.session(32)
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(out.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        println(s"[plans] FAIL $name: ${e.getMessage}")
      }
      Harness.clearState()
    }
    spark.stop()
  }
}
