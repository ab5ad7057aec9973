package graft.tools

/** Re-run a list of queries N times in fresh sessions, write each with
  * the Verify sink shape (coalesce(1).write.parquet) and report row
  * counts per iteration — the detector for nondeterministic plans (the
  * q_krippendorff AQE exchange-reuse race, r18). Usage:
  *   SPARK_GRAFT_CPUS=<cpus> sbt "runMain graft.tools.FlakeCheck <sfDir> <iters> <q1,q2,...>"
  */
object FlakeCheck {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val iters = args(1).toInt
    val names = args(2).split(',').toSeq
    val bad = scala.collection.mutable.Buffer.empty[String]
    for (name <- names) {
      val counts = (1 to iters).map { _ =>
        val s = graft.Sessions.create()
        val out = s"/tmp/flake_check/$name"
        try {
          graft.SparkEntry.queries(name)(s, d)
            .coalesce(1).write.mode("overwrite").parquet(out)
          val n = s.read.parquet(out).count()
          s.stop()
          n
        } catch { case e: Throwable => s.stop(); -1L }
      }
      val verdict = if (counts.distinct.size == 1) "STABLE" else "FLAKY"
      if (verdict == "FLAKY" || counts.contains(-1L)) bad += name
      println(s"[flake] $name $verdict counts=${counts.mkString(",")}")
    }
    println(s"[flake] done, unstable: ${bad.mkString(",")}")
  }
}
