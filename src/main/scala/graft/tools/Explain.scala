package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan inspector and timer for named [[graft.SparkEntry]] queries
  * against a tables dir: times builder + [[Materialize.materializeCount]]
  * as [[graft.Bench]] does (min of two passes), then prints the timed
  * run's formatted plan — with AQE, the final plan and the initial one —
  * and Catalyst's per-node size estimates.
  *
  * {{{ runMain graft.tools.Explain /root/testdata/sf0.1 q3_topk q5_starjoin }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query> [query ...]")
    val spark = GraftSession.local(GraftSession.cpus)
    // keep the ANN report queries' lazy lineage so the plan shows the
    // real computation instead of the released-checkpoint LocalRelation
    // (the executed work is identical; see RecallReport.CpTracker)
    spark.conf.set("graft.ann.releaseCheckpoints", "false")
    args.tail.foreach { name =>
      // construction INSIDE the timer, exactly like Bench.onePass:
      // operators such as keyfinder do their cluster work eagerly at
      // DataFrame-construction time and return a tiny materialized frame
      def onePass() = {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, args.head)
        val n = Materialize.materializeCount(df)
        (df, n, (System.nanoTime() - t0) / 1e9)
      }
      val (_, _, t1) = onePass()
      val (df, n, t2) = onePass()
      println(s"==== $name ====")
      df.explain("formatted")
      // Catalyst sizeInBytes estimates per logical node — these drive
      // the STATIC broadcast/SHJ choices (AQE only re-decides at stage
      // boundaries), so an underpriced unbounded leg shows up here
      // before it becomes an 8 GiB broadcast failure at scale
      println(s"---- $name optimized-plan sizeInBytes estimates ----")
      def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
               d: Int): Unit = {
        println("  " * d + p.nodeName + "  sizeInBytes=" + p.stats.sizeInBytes)
        p.children.foreach(walk(_, d + 1))
      }
      walk(df.queryExecution.optimizedPlan, 0)
      println(f"$name: $n rows in ${math.min(t1, t2)}%.2f s")
    }
    spark.stop()
  }
}
