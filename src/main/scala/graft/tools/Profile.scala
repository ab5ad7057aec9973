package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query cost split: wall seconds vs summed executor task time vs
  * shuffle bytes vs job/stage counts. Separates driver-bound queries
  * (planning/pin churn: wall >> task_sum/cores) from executor-bound ones
  * (task_sum ≈ wall·cores) — the first decision the optimization guide's
  * §1 loop needs, with no Spark UI in the sandbox.
  *
  *   sbt "runMain graft.tools.Profile [sfDir] name [name...]"
  *
  * Each query runs twice; the SECOND run's numbers are reported (steady
  * state, JIT+fixtures absorbed). Metrics accumulate across ALL jobs the
  * query triggers (eager checkpoints included), like PlanAudit r17.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.1", args.toSeq)
    val spark = graft.Sessions.create()

    val taskMs = new AtomicLong(0)
    val taskCount = new AtomicInteger(0)
    val jobCount = new AtomicInteger(0)
    val stageCount = new AtomicInteger(0)
    val shufWrite = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    val spill = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled)
        }
        taskCount.incrementAndGet(); ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stageCount.incrementAndGet(); () }
    })

    println(f"${"query"}%-26s ${"wall_s"}%7s ${"task_s"}%8s ${"par"}%5s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shW_MB"}%7s ${"shR_MB"}%7s ${"spill_MB"}%8s")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).count() // warmup run: JIT, fixtures, codegen cache
      Seq(taskMs, shufWrite, shufRead, spill).foreach(_.set(0))
      Seq(taskCount, jobCount, stageCount).foreach(_.set(0))
      spark.sparkContext.setJobDescription(s"profile:$n")
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; let the counters settle
      Thread.sleep(400)
      val ts = taskMs.get() / 1e3
      println(f"$n%-26s $wall%7.2f $ts%8.2f ${ts / wall}%5.1f ${jobCount.get()}%5d ${stageCount.get()}%6d ${taskCount.get()}%6d ${shufWrite.get() / 1e6}%7.1f ${shufRead.get() / 1e6}%7.1f ${spill.get() / 1e6}%8.1f")
    }
    spark.stop()
  }
}
