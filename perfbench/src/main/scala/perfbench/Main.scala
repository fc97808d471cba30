package perfbench

import graft.{GraftSession, SparkEntry}
import graft.operators.text.Curate
import graft.sources.{PartitionedWrite, Tables}
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's client: one SparkSession on `local[cpus]` running a
  * workload's queries in a fixed order, pass after pass (a closed loop
  * with one client).
  *
  * Each query is timed as `graft.Bench` times it: the `SparkEntry`
  * builder call followed by `Materialize.materializeCount`. The first
  * pass is the cold pass; after timing each query it also collects the
  * same DataFrame (outside the timer) and dumps the rows for the output
  * check. The measured passes follow; each must return the row count
  * the cold pass checked.
  *
  * With `--trace 1` the steady passes mix untraced and traced ones.
  * A traced pass splits each query into construct / plan / execute
  * spans, tags every Spark job with a job group naming its span, and
  * attributes the listener's task metrics to the query's module.
  *
  * Writes `result.json` (and with tracing `spans.json`) to `--out`; the
  * Python driver `perfbench/run.py` checks outputs and prints metrics.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload dq_small --inputs <dir>
  *   --out <dir> --items rowcount:operators,... --seconds 10 --trace 0
  * }}}
  */
object Main {

  /** A timed unit of a pass: a registered query, or the corpus write. */
  final case class Item(name: String, module: String, isWrite: Boolean)

  final case class Sample(seconds: Double, rows: Long, error: Option[String])

  final case class Pass(index: Int, kind: String, startMs: Long, endMs: Long,
                        samples: Seq[(Item, Sample)]) {
    def seconds: Double = samples.map(_._2.seconds).sum
  }

  private val TracedOrder = Seq("steady", "traced", "traced", "steady")

  private var spans = Vector.empty[Span]
  private def span(parent: Int, name: String, module: String,
                   startMs: Long, t0: Long, t1: Long): Int = {
    val s = Span(spans.size, parent, name, module, startMs,
      startMs + (t1 - t0) / 1000000L, (t1 - t0) / 1e9)
    spans :+= s
    s.id
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("list-queries")) {
      Files.writeString(Paths.get(opts("list-queries")), Json(Map(
        "queries" -> SparkEntry.queries.keys.toSeq.sorted)))
      return
    }
    val inputs = opts("inputs")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val items = opts("items").split(",").toSeq.map { s =>
      val Array(n, m) = s.split(":", 2)
      Item(n, m, isWrite = false)
    } ++ opts.get("write").map { s =>
      val Array(n, m) = s.split(":", 2)
      Item(n, m, isWrite = true)
    }
    val unknown = items.filterNot(_.isWrite).map(_.name).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"workload names unknown queries: ${unknown.mkString(",")}")
    val writePath = s"$out/curated"
    Files.createDirectories(Paths.get(out, "outputs"))

    // --- setup: JVM start through session ready and warm-up, once, in
    // this fresh JVM: the cost a user of a new session pays
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables(spark, inputs, "documents").count()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val sc = spark.sparkContext
    val recorder = new Recorder
    sc.addSparkListener(recorder)

    // --- the closed loop
    val persisted = mutable.Map.empty[(Int, String), Int]
    val checkedRows = mutable.Map.empty[String, Long]
    val checkErrors = mutable.Map.empty[String, String]

    def runItem(it: Item, pass: Int, traceIt: Boolean, passSpan: Int): (Sample, Option[DataFrame]) = {
      val group = s"p$pass|${it.name}"
      val qStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var (t1, t2) = (t0, t0)
      var df: DataFrame = null
      val res = try {
        if (traceIt) sc.setJobGroup(s"$group|construct", it.name)
        df = if (it.isWrite) Curate.run(Tables(spark, inputs, "documents"))
             else SparkEntry.queries(it.name)(spark, inputs)
        t1 = System.nanoTime()
        if (traceIt) {
          sc.setJobGroup(s"$group|plan", it.name)
          df.queryExecution.executedPlan
        }
        t2 = System.nanoTime()
        if (traceIt) sc.setJobGroup(s"$group|execute", it.name)
        val n = if (it.isWrite) { PartitionedWrite.write(df, writePath, "predicted_lang"); -1L }
                else Materialize.materializeCount(df)
        Right(n)
      } catch { case e: Throwable =>
        System.err.println(s"== perfbench failure in ${it.name} (pass $pass) ==")
        e.printStackTrace()
        Left(s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
      val t3 = System.nanoTime()
      if (traceIt) sc.setJobGroup(s"p$pass", "pass")
      persisted((pass, it.name)) = sc.getPersistentRDDs.size
      if (traceIt) {
        val q = span(passSpan, it.name, it.module, qStartMs, t0, t3)
        val c = span(q, "construct", it.module, qStartMs, t0, t1)
        val pStart = spans(c).endMs
        val p = span(q, "plan", it.module, pStart, t1, t2)
        span(q, "execute", it.module, spans(p).endMs, t2, t3)
      }
      val sample = res match {
        case Right(n) => Sample((t3 - t0) / 1e9, n, None)
        case Left(err) => Sample((t3 - t0) / 1e9, -1L, Some(err))
      }
      (sample, Option(df).filter(_ => res.isRight))
    }

    /** Outside the timer: collect the cold pass's DataFrame, dump it for
      * the output check, and remember its row count. */
    def check(it: Item, sample: Sample, df: DataFrame): Unit = try {
      if (it.isWrite) {
        val curated = Materialize.materializeCount(df)
        val readBack = spark.read.parquet(writePath).count()
        checkedRows(it.name) = readBack
        if (readBack != curated)
          checkErrors(it.name) = s"wrote $curated curated rows, read back $readBack"
      } else {
        val rows = df.collect()
        checkedRows(it.name) = rows.length
        if (rows.length != sample.rows)
          checkErrors(it.name) = s"materialized ${sample.rows} rows, collected ${rows.length}"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/${it.name}")
      }
    } catch { case e: Throwable =>
      e.printStackTrace()
      checkErrors(it.name) = s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }

    def runPass(index: Int, kind: String): Pass = {
      val traceIt = kind == "traced"
      sc.setJobGroup(s"p$index", "pass")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val passSpan = if (traceIt) spans.size else -1
      if (traceIt) spans :+= Span(passSpan, -1, s"pass $index", "", startMs, startMs, 0.0)
      val samples = items.map { it =>
        val (s, df) = runItem(it, index, traceIt, passSpan)
        if (kind == "cold") df.foreach(check(it, s, _))
        val counted = checkedRows.get(it.name)
        val s2 = if (s.error.isEmpty && !it.isWrite && counted.exists(_ != s.rows))
          s.copy(error = Some(s"returned ${s.rows} rows, cold pass checked ${counted.get}"))
          else s
        it -> s2
      }
      val endMs = System.currentTimeMillis()
      if (traceIt) spans = spans.updated(passSpan,
        spans(passSpan).copy(endMs = endMs, seconds = (System.nanoTime() - t0) / 1e9))
      Pass(index, kind, startMs, endMs, samples)
    }

    // Measured passes run until `seconds` have passed, and at least three
    // (untraced) or four (traced) of them. A traced run first makes one
    // uncounted warm pass, since the pass after the cold one is still
    // warming, then orders its passes untraced, traced, traced,
    // untraced, ... so both kinds sit at the same mean position.
    val passes = mutable.Buffer(runPass(0, "cold"))
    if (traced) passes += runPass(1, "warm")
    val first = passes.size
    val loopStart = System.nanoTime()
    while (passes.size < first + (if (traced) 4 else 3) ||
           (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val i = passes.size
      passes += runPass(i, if (traced) TracedOrder((i - first) % 4) else "steady")
    }

    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (traced && items.exists(_.module == "dedup")) {
      // LSH candidates per verified pair: both counts come from the
      // registered queries, so the ratio is the library's own funnel
      sc.setJobGroup("extra", "extra")
      def count(q: String) = Materialize.materializeCount(SparkEntry.queries(q)(spark, inputs))
      extra("dedup.candidates_per_pair") =
        count("dedup_candidates").toDouble / math.max(1L, count("dedup_minhash"))
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(SparkEntry.oracleSql))
    spark.stop()

    val (jobs, stageWork) = recorder.snapshot
    val layers = Layers(items, passes.toSeq, spans, jobs, stageWork, persisted.toMap, cpus)
    val result = mutable.LinkedHashMap[String, Any](
      "cpus" -> cpus,
      "setup" -> Map("start_s" -> startS, "warmup_s" -> warmupS),
      "passes" -> passes.map { p =>
        mutable.LinkedHashMap[String, Any](
          "index" -> p.index, "kind" -> p.kind, "wall_s" -> p.seconds,
          "queries" -> p.samples.map { case (it, s) =>
            it.name -> Map("s" -> s.seconds, "rows" -> s.rows, "error" -> s.error)
          }.to(mutable.LinkedHashMap))
      },
      "check_errors" -> checkErrors.toMap,
      "peak_rss_mb" -> peakRssMb,
      "layers" -> (if (traced) layers.perModule ++ Map("all" -> layers.total) else Map.empty),
      "trace" -> (if (traced) layers.traceSummary ++ extra else Map.empty))
    if (traced) Files.writeString(Paths.get(out, "spans.json"), Json(Map(
      "spans" -> spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "module" -> s.module,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> layers.selfSeconds(s.id))),
      // phase spans have no children, so a module's self time per phase
      // is its construct / plan / execute time
      "self_s_per_module" -> layers.perModule.map { case (m, v) =>
        m -> Seq("construct_s", "plan_s", "execute_s").map(k => k -> v(k)).toMap
      })))
    Files.writeString(Paths.get(out, "result.json"), Json(result))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status"), StandardCharsets.UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
