package graft.tools

/** Attributes a query's cold-start tax (Bench pass-1 vs pass-2 gap):
  * `runMain graft.tools.ColdProfile [sfDir] name [name...]` — each query
  * reports, in ONE fresh JVM: planning time (analyze+optimize, forced
  * via executedPlan), first execution (cold: codegen javac/Janino
  * compile + JIT + disk-cache population), second execution (warm). Run
  * it once normally and once with SPARK_GRAFT_NO_CODEGEN=1 (whole-stage
  * codegen off, interpreted expression eval): the drop in the cold-warm
  * gap under NO_CODEGEN isolates the codegen-compilation share; the
  * remainder is JIT + I/O first-touch. Findings recorded in SCALE.md
  * §cold-start.
  */
object ColdProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.1", args.toSeq)
    val noCodegen = sys.env.contains("SPARK_GRAFT_NO_CODEGEN")
    val spark = graft.Sessions.create()
    if (noCodegen) {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    println(s"# codegen=${!noCodegen} cpus=${graft.Sessions.cores} sf=$sfDir")
    names.foreach { n =>
      def sec(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val tPlan = sec { df.queryExecution.executedPlan; () }
      val tCold = sec { df.count(); () }
      val tWarm = sec { df.count(); () }
      val tWarm2 = sec { df.count(); () }
      println(f"$n%-24s plan=$tPlan%6.2f cold=$tCold%6.2f warm=$tWarm%6.2f/$tWarm2%6.2f gap=${tCold - tWarm}%6.2f")
    }
    spark.stop()
  }
}
