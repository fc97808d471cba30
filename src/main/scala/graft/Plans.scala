package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans for representative queries into
  * PLANS.md — reviewable evidence of the scale properties (pushdown,
  * broadcasts, WindowGroupLimit, single-scan profiling) that
  * PlanAuditSpec asserts mechanically.
  */
object Plans {
  val Representative = Seq(
    "q1_pricing", "q3_topk", "q5_starjoin", "q_window", "ann_cosine_topk",
    "q17_smallqty", "q21_semi_anti", "q18_large_orders",
    "nullcheck_customer", "events_sessions", "dedup_exact", "skew_report",
    "asof_join", "range_join", "ann_ivf", "dedup_embedding_lsh",
    "dedup_incremental", "dedup_candidates", "pack_sequences",
    "sample_mixture", "text_decontaminate",
    "rowcount_meta", "text_curate", "sample_split", "stats_compare",
    "text_perplexity_hashed", "text_url_dedup", "text_bpe", "ann_pq",
    "text_chunk", "text_html_extract", "text_pii",
    "text_bm25", "text_span_dedup_hashed", "ann_ivfpq", "text_vectorize",
    "ann_advisor")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    // fixed 4 cores: PLANS.md shows the partition counts the tests see
    val spark = GraftSession.local(4)
    // keep the ANN report queries' lazy lineage so the dumped plan is
    // the real computation (see RecallReport.CpTracker)
    spark.conf.set("graft.ann.releaseCheckpoints", "false")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.Plans)\n\n")
    sb.append(s"Input: `$sfDir`. Regenerate: `sbt \"runMain graft.Plans\"`.\n")
    Representative.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
