package graft.dev

import graft.Harness
import scala.collection.mutable

/** Driver-side thread sampler: where does a query's wall go outside
  * its executor tasks? Samples EVERY thread every 50 ms while the
  * query runs (after one warm run) and histograms RUNNABLE
  * non-executor threads by their first Spark/Hadoop/graft frame.
  * Usage: Test/runMain graft.dev.P47 <sfDir> <query...> */
object P47 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = Harness.session(32)
    names.foreach { name =>
      Harness.runFully(spark, name, dir); Harness.clearState() // warm
      val hist = mutable.HashMap[String, Int]().withDefaultValue(0)
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val traces = Thread.getAllStackTraces
          traces.forEach { (t, frames) =>
            val n = t.getName
            if (!n.startsWith("Executor task launch worker") &&
                !n.contains("sampler") && frames.nonEmpty &&
                t.getState == Thread.State.RUNNABLE) {
              val interesting = frames.find { f =>
                val c = f.getClassName
                c.startsWith("org.apache.spark") || c.startsWith("org.apache.hadoop") ||
                c.startsWith("graft")
              }.getOrElse(frames.head)
              val top = frames.head
              val key = f"${n.take(28)}%-28s ${interesting.getClassName.split('.').takeRight(2).mkString(".")}.${interesting.getMethodName}  [top: ${top.getClassName.split('.').takeRight(1).mkString}.${top.getMethodName}]"
              hist(key) += 1
            }
          }
          Thread.sleep(50)
        }
      }, "p47-sampler")
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.nanoTime()
      Harness.runFully(spark, name, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      sampler.join(1000)
      Harness.clearState()
      println(f"== $name wall=$wall%.2f s (50ms samples) ==")
      hist.toSeq.sortBy(-_._2).take(30).foreach { case (k, c) =>
        println(f"  $c%4d  $k")
      }
    }
    spark.stop()
  }
}
