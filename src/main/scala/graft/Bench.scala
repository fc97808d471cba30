package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // Warm up the session (JVM, codegen compiler, shuffle machinery,
    // parquet footer cache) so the first measured query isn't charged
    // ~5 s of one-time startup cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.sources.Tables(spark, sfDir, "region").count()
    catch { case _: Throwable => () }
    // Headline set = every query except the deliberately-quadratic
    // string-array brute-force oracle paths (allPairs over 12.5M+ pairs
    // at sf0.1, and the components entry fed by it); their scalable
    // twins (dedup_minhash, dedup_clusters_minhash) ARE benchmarked, as
    // is dedup_embedding (codegen'd cosine makes 2M pairs cheap).
    // The skip list is emitted in the JSON so round-over-round totals
    // stay interpretable when coverage changes.
    // SPARK_GRAFT_SKIP=q1,q2 adds run-local skips (same loud-on-typo
    // rule as SPARK_GRAFT_ONLY): the scale-up runs use it to exclude
    // the remaining deliberately-quadratic exact paths (dedup_embedding
    // all-pairs is cheap at sf0.1's 2M pairs but 125G pairs at 100×),
    // with the skips recorded in the JSON like the static ones.
    // empty names filtered: a wrapper script exporting an EMPTY env var
    // for the no-op case must mean "no skips", not a loud abort on ""
    val envSkip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val unknownSkips = envSkip.diff(SparkEntry.queries.keySet)
    require(unknownSkips.isEmpty,
      s"SPARK_GRAFT_SKIP names unknown queries: ${unknownSkips.toSeq.sorted.mkString(",")}")
    val skip = Map(
      "dedup_ngram_jaccard" -> "quadratic oracle path; scalable twin dedup_minhash benched",
      "dedup_clusters" -> "components over the quadratic oracle pairs; scalable twin dedup_clusters_minhash benched") ++
      envSkip.map(_ -> "skipped via SPARK_GRAFT_SKIP").toMap
    // Two passes, min per query: steady-state timing (pass 1 additionally
    // pays OS page-cache warm-up and first-plan codegen for each query).
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — for iterating on one
    // query family without paying the full-suite wall clock. Unknown
    // names fail LOUDLY: a typo'd filter would otherwise produce an
    // empty suite reporting total 0 with exit 0 — a fake perfect score.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val headline = SparkEntry.queries
      .filterNot(q => skip.contains(q._1))
      .filter(q => only.forall(_.contains(q._1)))
      .toSeq
    // ONLY ∩ skip = ∅ would otherwise report total 0 / exit 0 — the
    // fake perfect score the loud-on-typo rule exists to prevent
    require(headline.nonEmpty,
      "SPARK_GRAFT_ONLY and the skip set leave no queries to bench")
    // A query that throws must be visible as a FAILURE, not a fast run:
    // time-to-throw once masqueraded as a 3x speedup in a round bench.
    // The timed action is Materialize.materializeCount — the query's
    // OWN optimized plan run to completion (toRdd), not a stacked
    // .count() whose Aggregate lets Catalyst prune every projection the
    // count doesn't need. Harness property since round 14 (verdict-r13
    // #3): a declarative one-row-per-doc enrichment can never again
    // hide its real cost behind column pruning (text_quality sat at a
    // hidden 310 s for eleven rounds under the old action).
    def onePass(): Map[String, (Double, Option[String])] = headline.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val err =
          try { graft.tools.Materialize.materializeCount(fn(spark, sfDir)); None }
          catch { case e: Throwable =>
            // JSON carries the one-line summary; the full chain goes to
            // stderr — STAGE_MATERIALIZATION-style wrappers put the real
            // cause lines after the first, and losing them once cost a
            // re-run to diagnose a scale failure
            System.err.println(s"== bench failure in $name ==")
            e.printStackTrace()
            Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString) }
        name -> ((System.nanoTime() - t0) / 1e9, err)
    }.toMap
    val (p1, p2) = (onePass(), onePass())
    val results = p1.map { case (k, (v, e1)) =>
      val (v2, e2) = p2(k)
      k -> (math.min(v, v2), e1.orElse(e2))
    }
    // Per-pass outliers: a query whose pass-1 dwarfs its pass-2 (cold
    // page cache, first-plan codegen, lazy localCheckpoint
    // materialization) is invisible in the min — but it dominates the
    // WALL time of a suite run, and in the round-16 sf100 survival one
    // such query held a single stage for ~30 min while the JSON showed
    // its min at a few hundred seconds. Emit the asymmetric rows so a
    // suite-wall mystery is diagnosable from the JSON alone.
    // SPARK_GRAFT_ASYM_SEC tunes the floor (verdict-r16 #3): the 30 s
    // default is right for sf100 survival runs but inert at sf0.1 where
    // the whole suite is ~240 s — a gate-scale drift hunt sets it to ~0
    // so every >3x pass skew is named in the JSON.
    val asymFloor = sys.env.get("SPARK_GRAFT_ASYM_SEC").map(_.toDouble).getOrElse(30.0)
    val asymmetric = p1.collect {
      case (k, (v1, _)) if math.max(v1, p2(k)._1) > asymFloor &&
        math.max(v1, p2(k)._1) > 3 * math.min(v1, p2(k)._1) =>
        k -> ((v1, p2(k)._1))
    }
    val nFailed = results.count(_._2._2.isDefined)
    // harness identifies the timed ACTION so cross-round geomeans are
    // only computed within one harness version (verdict-r14 #3: the
    // r13→r14 switch from .count() to materializeCount read as a 2.19×
    // "regression" with no field to tell the judge the action changed).
    // Bump this string whenever the timed action or pass structure
    // changes. Round 18 changed only the RENDERING of the line
    // (graft.tools.BenchJson: length budget so the driver's 2000-char
    // tail window can parse it); the timed action and pass structure
    // are untouched, so the string stays.
    val harness = "materializeCount-2pass-min-v2"
    val (line, droppedFields) =
      graft.tools.BenchJson.render(results, asymmetric, skip, sfDir, harness)
    // Anything the length budget dropped from the line (plus the full
    // per-query precision) still reaches a human via stderr — BEFORE
    // the final stdout line so a merged capture keeps the line last.
    if (droppedFields.nonEmpty) {
      System.err.println(s"bench: line budget dropped fields: ${droppedFields.mkString(",")}")
      System.err.println("bench full results: " + results.toSeq.sortBy(_._1)
        .map { case (k, (v, e)) => f"$k=$v%.3f${e.map(" ERR " + _).getOrElse("")}" }
        .mkString("; "))
      if (skip.nonEmpty)
        System.err.println("bench skipped: " + skip.toSeq.sortBy(_._1)
          .map { case (k, w) => s"$k ($w)" }.mkString("; "))
      System.err.flush()
    }
    spark.stop()
    // The one-line JSON is the very last stdout write of the process:
    // nothing Spark logs (stderr) or sbt prints (showSuccess=false,
    // outputStrategy=StdoutOutput in build.sbt) may land after it
    // inside the driver's tail window.
    println(line)
    System.out.flush()
    if (nFailed > 0) sys.exit(1)
  }
}
