package graft.tools

import org.apache.spark.sql.execution.QueryExecution

/** Scale audit: one line per query summarizing the physical plan's
  * scale-relevant properties — exchange (shuffle) count, join strategies,
  * scan column width, filter pushdown, cartesian products. Run at sf0.01
  * on 8 cores, the plan shapes of every committed `PLAN_AUDIT_*.txt`:
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.PlanAudit" > PLAN_AUDIT.txt
  *
  * Round 17: counts accumulate across ALL jobs a query runs, not just the
  * final collect's plan. The iterative family (pagerank / components /
  * MM-power-iteration / anything behind `localCheckpoint`) executes most
  * of its exchanges in EAGER CHECKPOINT actions whose QueryExecutions the
  * final plan never references — q_textrank audited as `exch=0` through
  * r16. A QueryExecutionListener captures every execution's finalized
  * plan (Dataset.localCheckpoint routes through withAction, so each pin
  * is one captured execution); the listener bus is ASYNC, so each query
  * waits for capture quiescence (no new plan for 300 ms, 5 s cap) before
  * summing. `jobs=` in the notes column reports how many executions the
  * line aggregates — jobs=1 lines are byte-compatible with the r16 audit.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.create()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // optional trailing args: audit only these query names (builder-side
    // iteration on a single plan; the driver runs the full inventory)
    val only = args.drop(1).toSet

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // toString here, not later: the executedPlan is finalized (AQE
        // included) by onSuccess time, and holding strings — not plans —
        // keeps captured executions collectable
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def awaitQuiescent(): Unit = {
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
        (captured.size != last || System.nanoTime() - stableSince < 300L * 1000 * 1000)) {
        if (captured.size != last) { last = captured.size; stableSince = System.nanoTime() }
        Thread.sleep(50)
      }
    }

    println(f"${"query"}%-24s ${"exch"}%5s ${"bhj"}%4s ${"smj"}%4s ${"bnl"}%4s ${"cart"}%5s ${"scans(cols)"}%-18s pushed  notes")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.isEmpty || only.contains(kv._1))
      .foreach { case (name, fn) =>
      try {
        captured.clear()
        val df = fn(spark, dir)
        df.collect() // materialize so AQE finalizes every execution
        awaitQuiescent()
        val plans = {
          val it = captured.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next()
          val s = b.result()
          // listener miss (never observed; belt and braces): fall back to
          // the final execution's plan so the line is never empty
          if (s.isEmpty) Seq(df.queryExecution.executedPlan.toString) else s
        }
        def count(re: String) = plans.map(p => re.r.findAllIn(p).length).sum
        val exch = count("Exchange ")
        val bhj = count("BroadcastHashJoin")
        val smj = count("SortMergeJoin")
        val bnl = count("BroadcastNestedLoopJoin")
        val cart = count("CartesianProduct")
        // stop at end-of-line as well as '>': the plan string truncates
        // long schemas ("...") without a closing '>', and an unanchored
        // scan would swallow the NEXT scan's schema into one count
        val scanColsAll = plans.flatMap(p =>
          "ReadSchema: struct<([^>\n]*)".r.findAllMatchIn(p)
            .map(_.group(1).count(_ == ':')))
        // a 12-round loop scans per round; cap the rendered list so the
        // table stays columnar (the count is what the audit grades)
        val scanCols =
          if (scanColsAll.length <= 12) scanColsAll.map(_.toString)
          else scanColsAll.take(12).map(_.toString) :+ s"..+${scanColsAll.length - 12}"
        val pushed = count("PushedFilters: \\[[^\\]]")
        // '*(n)' prefixes mark operators inside a WholeStageCodegen stage
        val codegenOps = count("\\*\\(")
        val flag =
          (if (codegenOps == 0) "NO-CODEGEN" else s"wsc=$codegenOps") +
            s" jobs=${plans.size}"
        println(f"$name%-24s $exch%5d $bhj%4d $smj%4d $bnl%4d $cart%5d ${scanCols.mkString("[", ",", "]")}%-18s $pushed%6d  $flag")
      } catch {
        case e: Throwable => println(f"$name%-24s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
