package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-stage timing breakdown for one SparkEntry query — turns "the
  * residual is probably scheduler/stage fixed cost" into a measured
  * claim. Runs the named query twice (first pass pays page-cache and
  * codegen warm-up; the second is the steady-state one that's reported)
  * and prints, for each stage of the measured run: wall time between
  * stage submission and completion, summed executor run/CPU time, bytes
  * and rows read, and shuffle bytes — enough to attribute the query's
  * wall clock to scan vs partial aggregate vs exchange vs final
  * aggregate without a full event-log UI.
  *
  * Usage: {{{ StageProfile <sfDir> <queryName> [<layoutRoot> <variant>] }}}
  * — the 4-arg form registers the [[LayoutBench]] layout variant as the
  * catalog and profiles the query on it, so attribution runs on the
  * same plan shape the layout bench timed (verdict-r12 q5 ask).
  */
object StageProfile {

  case class StageRow(id: Int, attempt: Int, name: String, wallMs: Long,
                      runMs: Long, cpuMs: Long, tasks: Int, inputBytes: Long,
                      inputRows: Long, shuffleReadB: Long, shuffleWriteB: Long)

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 4,
      "usage: StageProfile <sfDir> <queryName> [<layoutRoot> <variant>]")
    val name = args(1)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
    val spark = GraftSession.local(GraftSession.cpus)
    val sfDir =
      if (args.length == 4)
        graft.sources.Tables.CatalogScheme +
          LayoutBench.register(spark, args(0), args(2), args(3))
      else args(0)

    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // Failed/retried attempts would record the same stage twice and
        // silently inflate the totals — skip them (the retry that
        // succeeds is the one that's counted).
        if (si.failureReason.isEmpty) {
          val m = si.taskMetrics
          // Wall is only meaningful when BOTH endpoints exist; a lone
          // completionTime would record a raw epoch value. -1 rows are
          // excluded from the sum below.
          val wall = (for {
            c <- si.completionTime; s <- si.submissionTime
          } yield c - s).getOrElse(-1L)
          stages += StageRow(
            si.stageId,
            si.attemptNumber(),
            si.name.linesIterator.next(),
            wall,
            m.executorRunTime,
            m.executorCpuTime / 1000000L,
            si.numTasks,
            m.inputMetrics.bytesRead,
            m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }

    // Warm-up pass: page cache, codegen, shuffle machinery.
    fn(spark, sfDir).count()
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // Listener events are posted async; drain before reading the buffer.
    ListenerDrain.drain(spark.sparkContext)

    println(f"query=$name rows=$n steady-state wall=$wall%.3f s")
    println(f"${"stage"}%-5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"tasks"}%5s ${"input_mb"}%9s ${"in_rows"}%12s ${"shuf_r_mb"}%9s ${"shuf_w_mb"}%9s  name")
    stages.sortBy(s => (s.id, s.attempt)).foreach { s =>
      println(f"${s.id}%-5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.tasks}%5d ${s.inputBytes / 1e6}%9.1f ${s.inputRows}%12d " +
        f"${s.shuffleReadB / 1e6}%9.2f ${s.shuffleWriteB / 1e6}%9.2f  ${s.name}")
    }
    val stageWall = stages.filter(_.wallMs >= 0).map(_.wallMs).sum / 1e3
    println(f"sum(stage wall)=$stageWall%.3f s; gap to query wall (driver/plan/submit)=${wall - stageWall}%.3f s")
    spark.stop()
  }
}
