package perfbench

/** Per-module numbers of a traced run, from the spans the client
  * recorded and the jobs and task sums the [[Recorder]] saw.
  *
  * A job belongs to the span named by its job group
  * (`p<pass>|<query>|<phase>`). Jobs submitted from threads that do not
  * inherit the group (e.g. a parallel collection inside an operator)
  * fall back to the span whose interval holds the job's start. Every
  * per-module value is a per-pass mean over the traced passes, except
  * `peak_exec_mem_mb` and `persisted_after`, which are maxima.
  */
final case class Layers(items: Seq[Main.Item], passes: Seq[Main.Pass], spans: Seq[Span],
                        jobs: Seq[JobRecord], stageWork: Map[Int, StageWork],
                        persisted: Map[(Int, String), Int], cpus: Int) {

  private val passOf: Map[Int, Int] = spans.collect {
    case s if s.parent < 0 => s.id -> s.name.stripPrefix("pass ").toInt
  }.toMap
  private val querySpans = spans.filter(s => passOf.contains(s.parent))
  private val phaseSpans = spans.filter(s => s.parent >= 0 && !passOf.contains(s.parent))
  private val tracedPasses = passes.filter(_.kind == "traced")
  private val nTraced = math.max(1, tracedPasses.size)

  /** (pass, query, phase) of a job; query and phase are empty for jobs
    * outside any traced query. */
  private def owner(j: JobRecord): Option[(Int, String, String)] = j.group match {
    case Some(g) if g.startsWith("p") =>
      val parts = g.split("\\|")
      parts(0).drop(1).toIntOption.map(p => (p, parts.lift(1).getOrElse(""), parts.lift(2).getOrElse("")))
    case Some(_) => None
    case None =>
      phaseSpans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs).map { s =>
        val q = spans(s.parent)
        (passOf(q.parent), q.name, s.name)
      }.orElse(passes.find(p => j.startMs >= p.startMs && j.startMs <= p.endMs)
        .map(p => (p.index, "", "")))
  }
  private val owners: Seq[(JobRecord, (Int, String, String))] =
    jobs.flatMap(j => owner(j).map(j -> _))

  /** Each stage's work is charged to the first job that lists it; later
    * jobs that list it again skipped it (reused shuffle output). */
  private val stageOwner: Map[Int, Int] =
    jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
  private def work(js: Seq[JobRecord]): Seq[StageWork] = {
    val ids = js.map(_.id).toSet
    stageOwner.collect { case (st, j) if ids(j) => stageWork.get(st) }.flatten.toSeq
  }

  private def unionMs(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
      if (s >= end) (acc + (e - s), e)
      else if (e > end) (acc + (e - end), e)
      else (acc, end)
    }._1

  private def metrics(queries: Set[String]): Map[String, Double] = {
    val traced = tracedPasses.map(_.index).toSet
    val qs = querySpans.filter(s => queries(s.name) && traced(passOf(s.parent)))
    val mine = owners.collect { case (j, (p, q, ph)) if traced(p) && queries(q) => (j, ph) }
    val js = mine.map(_._1)
    val w = work(js)
    def phase(name: String) =
      phaseSpans.filter(s => s.name == name && qs.exists(_.id == s.parent)).map(_.seconds).sum
    val gap = qs.map { q =>
      val inside = owners.collect {
        case (j, (p, n, _)) if p == passOf(q.parent) && n == q.name =>
          (math.max(j.startMs, q.startMs), math.min(j.endMs, q.endMs))
      }.filter { case (s, e) => e > s }
      q.seconds - unionMs(inside) / 1e3
    }.sum
    val persistedAfter = persisted.collect {
      case ((p, q), n) if traced(p) && queries(q) => n
    }.maxOption.getOrElse(0)
    Map(
      "wall_s" -> qs.map(_.seconds).sum / nTraced,
      "construct_s" -> phase("construct") / nTraced,
      "construct_jobs" -> mine.count(_._2 == "construct").toDouble / nTraced,
      "plan_s" -> phase("plan") / nTraced,
      "execute_s" -> phase("execute") / nTraced,
      "jobs" -> js.size.toDouble / nTraced,
      "retried_tasks" -> w.map(_.retriedTasks).sum.toDouble / nTraced,
      "driver_gap_s" -> gap / nTraced,
      "exec_cpu_s" -> w.map(_.cpuNs).sum / 1e9 / nTraced,
      "gc_s" -> w.map(_.gcMs).sum / 1e3 / nTraced,
      "input_rows" -> w.map(_.inputRows).sum.toDouble / nTraced,
      "shuffle_write_mb" -> w.map(_.shuffleWriteBytes).sum / 1e6 / nTraced,
      "spill_mb" -> w.map(_.spillBytes).sum / 1e6 / nTraced,
      "peak_exec_mem_mb" -> w.map(_.peakExecMem).maxOption.getOrElse(0L) / 1e6,
      "persisted_after" -> persistedAfter.toDouble)
  }

  def perModule: Map[String, Map[String, Double]] =
    items.groupBy(_.module).map { case (m, its) => m -> metrics(its.map(_.name).toSet) }

  def total: Map[String, Double] = metrics(items.map(_.name).toSet)

  /** A span's duration minus the part its child spans cover. */
  val selfSeconds: Map[Int, Double] = spans.map { s =>
    s.id -> (s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum)
  }.toMap

  /** Tracing overhead compares the fastest traced with the fastest
    * untraced pass, the way `pass_s` is taken. */
  def traceSummary: Map[String, Any] = {
    val tracedJobs = owners.collect { case (j, (p, _, _)) if tracedPasses.exists(_.index == p) => j }
    val runS = work(tracedJobs).map(_.runMs).sum / 1e3
    val steady = passes.filter(_.kind == "steady").map(_.seconds)
    Map(
      "exec_busy_frac" -> runS / (tracedPasses.map(_.seconds).sum * cpus),
      "trace.overhead_frac" -> (tracedPasses.map(_.seconds).min / steady.min - 1.0),
      "traced_passes" -> tracedPasses.size,
      "steady_passes" -> steady.size)
  }
}
