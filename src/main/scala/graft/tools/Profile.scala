package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query cost split in one session: planning time (analyze + optimize,
  * forced via `executedPlan`), the first (cold: codegen compile, JIT,
  * first-touch I/O) and two warm executions, and for the last warm run
  * its summed executor task time, shuffle bytes, spill and job/stage/task
  * counts. Wall >> task_s/cores marks a driver-bound query (planning, pin
  * churn), task_s ≈ wall·cores an executor-bound one — the first decision
  * the optimization guide's §1 loop needs, with no Spark UI in the
  * sandbox; cold − warm is the query's cold-start tax (SCALE.md
  * §"Round-10: cold-start tax").
  *
  *   sbt "runMain graft.tools.Profile [sfDir] name [name...]"
  *
  * Counters accumulate across ALL jobs the run triggers (eager
  * checkpoints included), like PlanAudit r17.
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

    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    println(f"${"query"}%-26s ${"plan_s"}%6s ${"cold_s"}%6s ${"warm_s"}%6s ${"warm2_s"}%7s ${"task_s"}%8s ${"par"}%5s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shW_MB"}%7s ${"shR_MB"}%7s ${"spill_MB"}%8s")
    names.foreach { n =>
      spark.sparkContext.setJobDescription(s"profile:$n")
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = sec { df.queryExecution.executedPlan; () }
      val cold = sec { df.count(); () }
      val warm = sec { df.count(); () }
      // listener bus is async; let the counters settle before the reset
      Thread.sleep(400)
      Seq(taskMs, shufWrite, shufRead, spill).foreach(_.set(0))
      Seq(taskCount, jobCount, stageCount).foreach(_.set(0))
      val warm2 = sec { df.count(); () }
      Thread.sleep(400)
      val ts = taskMs.get() / 1e3
      println(f"$n%-26s $plan%6.2f $cold%6.2f $warm%6.2f $warm2%7.2f $ts%8.2f ${ts / warm2}%5.1f ${jobCount.get()}%5d ${stageCount.get()}%6d ${taskCount.get()}%6d ${shufWrite.get() / 1e6}%7.1f ${shufRead.get() / 1e6}%7.1f ${spill.get() / 1e6}%8.1f")
    }
    spark.stop()
  }
}
