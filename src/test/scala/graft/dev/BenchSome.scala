package graft.dev

import graft.Harness

/** Bench-style timing for a subset of queries at any data dir: noop
  * sink, 1 warmup + 3 timed passes, state cleared between passes.
  * Usage: Test/runMain graft.dev.BenchSome <sfDir> <query...>
  * (threads from SPARK_GRAFT_CPUS, default 32). */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    names.foreach { name =>
      try Harness.runFully(spark, name, dir) catch { case e: Throwable =>
        println(f"$name%-24s WARMUP FAIL: ${e.getMessage}") }
      Harness.clearState()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Harness.runFully(spark, name, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.clearState()
        dt
      }.sorted
      println(f"$name%-24s median ${ts(1)}%7.2f s  (min ${ts.head}%.2f / max ${ts.last}%.2f)")
    }
    spark.stop()
  }
}
