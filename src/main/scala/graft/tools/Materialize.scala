package graft.tools

/** The timed action of [[graft.Bench]] and [[Explain]]. */
object Materialize {

  /** THE honest action (round-14, verdict-r13 #3): execute `df`'s OWN
    * optimized plan to completion and return its row count. Unlike
    * `df.count()` — which plans a NEW Aggregate over the frame and lets
    * Catalyst prune every column the count doesn't need — `toRdd` runs
    * the plan exactly as the query would materialize it, so an
    * expensive per-row projection can never be silently deleted from
    * the measured work (how `text_quality` hid at 310 s for eleven
    * rounds). [[graft.Bench]] and [[Explain]] both time THIS
    * action; BenchHonestySpec pins the harness property.
    */
  def materializeCount(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()
}
