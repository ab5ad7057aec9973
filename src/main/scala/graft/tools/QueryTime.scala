package graft.tools
/** Times individual queries in isolation (repeat runs, one JVM) — the
  * profiling companion to Bench's full sweep: `runMain graft.tools.QueryTime
  * [sfDir] name [name...]` prints per-run seconds so plan cost separates
  * from whole-suite JIT/fixture effects.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.1", args.toSeq)
    // the same session policy as Bench, so isolated timings measure the
    // SAME plan shape (shuffle partitions, AQE coalescing)
    val spark = graft.Sessions.create()
    names.foreach { n =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
