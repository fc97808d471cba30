package graft.operators.similarity

import graft.operators.dedup.Dedup.EmbeddingDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2 #30-31).
  *
  * [[CosineTopK]] is the exact baseline: score every (query, corpus)
  * pair, keep top-k per query. The rank<=k filter compiles to Spark's
  * WindowGroupLimit (3.5+), which keeps only each input partition's
  * local top-k per query BEFORE the shuffle — the shuffle carries
  * O(partitions × queries × k) rows, not O(queries × corpus).
  *
  * [[LshAnn]] is the scale path: random-hyperplane LSH (Charikar '02).
  * Corpus and queries are bucketed by sign-bit signatures under L
  * independent tables; only same-bucket pairs are scored. Shuffle is
  * keyed on (table, bucket) — O(rows × L), never O(rows²). Candidates
  * are verified with exact cosine, so buckets affect recall only,
  * never precision of the returned scores.
  */
object Similarity {

  /** The query-side size contract, ENFORCED (verdict-r14 #5): every ANN
    * path here either broadcasts the query frame or rides it on the
    * task closure, so a corpus-sized query set fails at the 8 GiB
    * broadcast cap / driver heap with an opaque OOM. This makes the
    * contract a loud check instead of a docstring: one count (columns
    * prune to nothing) before the collect/broadcast, with the
    * corpus-vs-corpus escape hatch named in the message.
    */
  val DefaultMaxQueryBatch = 1000000L

  private[similarity] def requireBoundedQueries(queries: DataFrame,
                                                maxQueryBatch: Long,
                                                op: String): Long = {
    val n = queries.count()
    require(n <= maxQueryBatch,
      s"$op query-side size contract: got $n query rows > maxQueryBatch=" +
        s"$maxQueryBatch. The query frame is broadcast / driver-collected " +
        "by design; for corpus-vs-corpus all-pairs similarity use " +
        "Dedup.EmbeddingDedup (shuffle-shaped for two unbounded sides), " +
        "or raise maxQueryBatch explicitly if the batch genuinely fits.")
    n
  }

  /** One aggregate over the corpus frame: total rows, non-null vectors,
    * min/max vector length — fails loudly on null vectors or mixed
    * dimensions (advice-r14: the typed encode/nearest kernels guard
    * with min-length, which would otherwise turn dimension drift into
    * silent truncation and a null vector into an opaque task NPE).
    * Returns (row count, shared dimension; -1 when empty) so callers
    * reuse the pass they were already paying for.
    */
  private[similarity] def requireUniformVectors(df: DataFrame, vCol: String,
                                                userCol: String, op: String): (Long, Int) = {
    val r = df.agg(count(lit(1)), count(col(vCol)),
      min(size(col(vCol))), max(size(col(vCol)))).collect().head
    val n = r.getLong(0)
    require(r.getLong(1) == n,
      s"$op: ${n - r.getLong(1)} null $userCol rows — drop or impute them before indexing")
    require(n == 0 || r.getInt(2) == r.getInt(3),
      s"$op: mixed $userCol dimensions [${r.get(2)}, ${r.get(3)}] — every vector must share one dimension")
    (n, if (n == 0) -1 else r.getInt(2))
  }

  /** Exact brute-force top-k by cosine. Queries broadcast (small side). */
  object CosineTopK {
    def run(corpus: DataFrame, queries: DataFrame, k: Int,
            vecCol: String = "embedding", idCol: String = "vec_id",
            maxQueryBatch: Long = DefaultMaxQueryBatch): DataFrame = {
      requireBoundedQueries(queries, maxQueryBatch, "CosineTopK")
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("qv"), col("cv")))
      rankTopK(scored, k)
    }

    /** rank over (cos desc, vec_id) — unique tie-break, and the filter
      * becomes a WindowGroupLimit partial limit per input partition.
      * NaN scores (zero vectors: 0/0) are EXCLUDED before ranking —
      * Spark and DuckDB both order NaN above every number, so an
      * unguarded desc rank would crown a zero vector as every query's
      * nearest neighbor.
      */
    private[similarity] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("vec_id"))
      scored.where(!isnan(col("cos_raw")))
        .withColumn("rank", rank().over(w).cast("int"))
        .where(col("rank") <= k)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_raw"), 4).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }

    def oracleSql(table: String, k: Int, nQueries: Int): String =
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM $table WHERE vec_id < $nQueries),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM $table),
         |scored AS (
         |  SELECT query_id, vec_id, list_cosine_similarity(qv, cv) AS cos_raw
         |  FROM q JOIN c ON query_id <> vec_id
         |  WHERE NOT isnan(list_cosine_similarity(qv, cv))),
         |ranked AS (
         |  SELECT query_id, vec_id, cos_raw,
         |    CAST(rank() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, round(cos_raw, 4) AS cosine, rank
         |FROM ranked WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into
    * `nCells` k-means cells (driver-local Lloyd on L2-normalized
    * vectors ≈ spherical k-means, fixed seed — the training sample is
    * bounded, so distributed training would be per-iteration scheduler
    * overhead with no scale benefit), then answer each query by probing
    * only its `nProbe` nearest cells and exact-cosine-ranking the
    * candidates inside them.
    *
    * Scale shape: training touches a bounded sample; assignment is one
    * map-side pass; the query-side shuffle is keyed on cell id —
    * O(corpus) once + O(queries × nProbe × cellSize) scoring, never
    * O(queries × corpus). The centroid table (nCells × dim) is tiny
    * and broadcast. Recall is governed by nProbe — the standard IVF
    * trade-off — and returned scores are always exact.
    *
    * QUERY-SIDE SIZE CONTRACT: `queries` must be a bounded probe set
    * (thousands, not the corpus) — [[topK]] broadcasts the probed
    * query×cell frame unconditionally, so a corpus-sized query set
    * fails at Spark's 8 GiB broadcast cap / driver memory. This is
    * deliberate: both join legs exit typed kernels whose copied stats
    * price array columns at `defaultSize`, so leaving the choice to
    * the planner risks broadcasting the O(corpus) side instead (the
    * exact 1000×-scale failure the minhash pipeline hit). For
    * corpus-vs-corpus all-pairs similarity use
    * [[graft.operators.dedup.Dedup.EmbeddingDedup]], whose joins are
    * shuffle-shaped for two unbounded sides.
    */
  object IvfAnn {

    val Seed = 42L
    val MaxTrainRows = 100000L
    val DefaultCells = 32
    val DefaultProbe = 4

    /** L2-normalized copy of a float vector. */
    private[similarity] def normalized(v: Array[Float]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }

    /** Nearest centroid by squared Euclidean distance (lowest index on
      * ties — deterministic).
      */
    private[similarity] def nearest(x: Array[Double], ctrs: Array[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < ctrs.length) {
        val ctr = ctrs(c)
        var d = 0.0; var i = 0
        while (i < x.length && i < ctr.length) {
          val diff = x(i) - ctr(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    /** Plain Lloyd on the driver over the bounded training sample.
      * Coarse quantization doesn't need converged centroids — `iters`
      * rounds from a seeded random init give the same recall as a full
      * MLlib fit, and because the sample is bounded (≤ maxTrain ×
      * dim floats) by construction, training it ON THE DRIVER costs
      * zero cluster jobs — versus one distributed pass per Lloyd round,
      * which at any scale is scheduler overhead on a kilobyte-scale
      * problem. Empty cells keep their previous centroid.
      */
    private[similarity] def lloyd(points: Array[Array[Double]], nCells: Int,
                                  iters: Int, seed: Long): Array[Array[Double]] = {
      val rng = new scala.util.Random(seed)
      val k = math.min(nCells, points.length)
      var ctrs = rng.shuffle(points.indices.toList).take(k)
        .map(points(_).clone()).toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](points.head.length))
        val counts = new Array[Long](k)
        points.foreach { p =>
          val c = nearest(p, ctrs)
          counts(c) += 1
          var i = 0
          while (i < p.length) { sums(c)(i) += p(i); i += 1 }
        }
        ctrs = Array.tabulate(k) { c =>
          if (counts(c) == 0) ctrs(c)
          else sums(c).map(_ / counts(c))
        }
      }
      ctrs
    }

    /** Train-and-assign (the corpus half of [[topK]], reusable by
      * [[graft.operators.dedup.SemanticDedup]]): driver-local Lloyd on a
      * value-selected bounded sample, then one map-side assignment pass.
      * Returns `(corpus_id, corpus_v, cell)` plus the trained centroids.
      */
    private[graft] def assignCells(corpus: DataFrame, nCells: Int,
                                   vecCol: String, idCol: String,
                                   maxTrain: Long): (DataFrame, Array[Array[Double]]) = {
      val (assigned, ctrs, _) = assignCellsSampled(corpus, nCells, vecCol, idCol, maxTrain)
      (assigned, ctrs)
    }

    /** [[assignCells]] plus the normalized training sample it already
      * collected — so a caller that needs the same value-hash sample
      * (IVF-PQ residual training) doesn't re-scan the corpus for it
      * (one count + one collect saved per build).
      */
    private[similarity] def assignCellsSampled(corpus: DataFrame, nCells: Int,
                                   vecCol: String, idCol: String,
                                   maxTrain: Long)
        : (DataFrame, Array[Array[Double]], Array[Array[Double]]) = {
      val spark = corpus.sparkSession
      import spark.implicits._
      // accept any numeric array (array<double> from upstream UDFs or
      // parquet written by another engine): an explicit cast to
      // array<float> — the typed encoder alone rejects double arrays
      val cDf = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).cast("array<float>").as("corpus_v"))
      val c = cDf.as[(Long, Array[Float])]
      // training sample selected by VALUE (hash of the id), never by
      // partition layout: limit()/sample() change contents when file
      // splits shift, which would silently change trained centroids —
      // and thus recall — between cluster runs over the same data.
      // The count pass doubles as the dim/null validation (advice-r14:
      // the encode/nearest loops carry min-length guards, so a
      // dimension-drifted or null vector would otherwise be silently
      // truncated/NPE'd) — one aggregate, zero extra corpus scans.
      // Total corpus reads = stats-agg + sample-collect + assignment,
      // versus one pass PER LLOYD ROUND for distributed training
      val (n, _) = requireUniformVectors(cDf, "corpus_v", vecCol, "IVF train")
      val train =
        if (n <= maxTrain) c
        else c.where(pmod(xxhash64(col("corpus_id")),
          lit((n + maxTrain - 1) / maxTrain)) === 0)
      // sorted by id after collect → centroids are independent of the
      // cluster's partition/split arrangement
      val sample = train.collect().sortBy(_._1).map(t => normalized(t._2))
      val ctrs = lloyd(sample, nCells, iters = 8, seed = Seed)

      // assignment: one map-side pass, JIT'd kernel, no shuffle — the
      // centroid array (nCells × dim doubles) rides the task closure
      val assigned = c.mapPartitions { it =>
        it.map { case (id, v) => (id, v, nearest(normalized(v), ctrs)) }
      }.toDF("corpus_id", "corpus_v", "cell")
      (assigned, ctrs, sample)
    }

    def topK(corpus: DataFrame, queries: DataFrame, k: Int,
             nCells: Int = DefaultCells, nProbe: Int = DefaultProbe,
             vecCol: String = "embedding", idCol: String = "vec_id",
             maxTrain: Long = MaxTrainRows,
             maxQueryBatch: Long = DefaultMaxQueryBatch): DataFrame = {
      requireBoundedQueries(queries, maxQueryBatch, "IvfAnn.topK")
      val (assigned, ctrs) = assignCells(corpus, nCells, vecCol, idCol, maxTrain)
      queryAssigned(assigned, ctrs, queries, k, nProbe, vecCol, idCol)
    }

    /** The query half of [[topK]] over an already-assigned `(corpus_id,
      * corpus_v, cell)` frame — factored out (round 17) so
      * [[Similarity.RecallReport]] can run several probe settings over
      * ONE train+assign pass instead of rebuilding the identical seeded
      * index per grid point. Exactly [[topK]]'s plan below the
      * assignment.
      */
    private[similarity] def queryAssigned(assigned: DataFrame,
                                          ctrs: Array[Array[Double]],
                                          queries: DataFrame, k: Int, nProbe: Int,
                                          vecCol: String, idCol: String): DataFrame =
      CosineTopK.rankTopK(scoredCandidates(assigned, ctrs, queries, nProbe,
        vecCol, idCol).drop("cell_rank"), k)

    /** Exact-cosine-scored (query, corpus) candidates from the probed
      * cells, with each candidate's probed-cell RANK attached
      * (`cell_rank` — the rank()-over-(cosine desc, cell) position of
      * the candidate's cell for that query). Filtering `cell_rank <= p`
      * for any p <= nProbe yields exactly the candidate set a direct
      * nProbe=p run scores, because rank values over the full centroid
      * list do not change when the tail is later discarded — the
      * sweep's shared-scan contract (AnnShareSpec pins the equivalence).
      */
    private[similarity] def scoredCandidates(assigned: DataFrame,
                                             ctrs: Array[Array[Double]],
                                             queries: DataFrame, nProbe: Int,
                                             vecCol: String, idCol: String): DataFrame = {
      val spark = assigned.sparkSession
      // centroid table: tiny, broadcast into the query-side scoring
      val centroids = spark.createDataFrame(
        ctrs.zipWithIndex.map { case (ctr, i) =>
          (i, ctr.map(_.toFloat))
        }.toSeq).toDF("cell", "centroid")
      val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<float>").as("query_v"))
      val probed = q.crossJoin(broadcast(centroids))
        .withColumn("cdist", EmbeddingDedup.cosine(col("query_v"), col("centroid")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cdist").desc, col("cell"))
      val cells = probed.withColumn("r", rank().over(w)).where(col("r") <= nProbe)
        .select(col("query_id"), col("query_v"), col("cell"),
          col("r").as("cell_rank"))

      // every corpus vector lives in exactly one cell, so (query, vec)
      // candidates are already unique — no dedup shuffle needed.
      // broadcast the QUERY side explicitly (bounded at nQueries ×
      // nProbe rows by construction, same pattern as CosineTopK.run):
      // `assigned` flows through a typed kernel, whose copied stats
      // price the embedding array at defaultSize, so leaving the choice
      // to the planner risks broadcasting the O(corpus) side — the
      // 8 GiB-cap failure mode the minhash pipeline hit at 1000×
      broadcast(cells).join(assigned, Seq("cell"))
        .where(col("query_id") =!= col("corpus_id"))
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("query_v"), col("corpus_v")))
        .withColumnRenamed("corpus_id", "vec_id")
    }
  }

  /** Random-hyperplane LSH ANN. Hyperplanes are derived from a fixed
    * seed, so plans are deterministic and resumable.
    */
  object LshAnn {
    val DefaultBits = 8
    val DefaultTables = 8
    val Seed = 42L

    /** tables × bits hyperplanes, each a `dim`-long unit-free gaussian. */
    def hyperplanes(dim: Int, bits: Int = DefaultBits,
                    tables: Int = DefaultTables, seed: Long = Seed): Seq[Seq[Array[Double]]] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(rng.nextGaussian())))
    }

    /** Per-table bucket ids: the integer formed by the sign bits of the
      * vector's projections onto that table's hyperplanes. Typed
      * mapPartitions kernel — tables×bits×dim multiply-adds per row
      * must be a JIT'd loop, not interpreted Catalyst lambdas (the
      * higher-order-function formulation measured ~10× slower at sf0.1).
      */
    private[graft] def withBuckets(df: DataFrame, side: String,
                            planes: Seq[Seq[Array[Double]]],
                            vecCol: String, idCol: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val planeArr = planes.map(_.toArray).toArray
      df.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
        .mapPartitions { it =>
          it.map { case (id, v) =>
            val buckets = new Array[Long](planeArr.length)
            var t = 0
            while (t < planeArr.length) {
              var b = 0L
              var j = 0
              while (j < planeArr(t).length) {
                val pl = planeArr(t)(j)
                var dot = 0.0
                var d = 0
                while (d < pl.length && d < v.length) { dot += v(d) * pl(d); d += 1 }
                if (dot > 0) b |= 1L << j
                j += 1
              }
              buckets(t) = b
              t += 1
            }
            (id, v, buckets)
          }
        }.toDF(s"${side}_id", s"${side}_v", "buckets")
        .select(col(s"${side}_id"), col(s"${side}_v"),
          posexplode(col("buckets")).as(Seq("tbl", s"${side}_bucket")))
    }

    /** ANN top-k: same-bucket candidates under any of the L tables,
      * verified with exact cosine, ranked per query.
      *
      * QUERY-SIDE SIZE CONTRACT: `queries` must be a bounded probe set
      * — the bucketed query frame (nQueries × L rows) is broadcast
      * unconditionally (same rationale and same corpus-vs-corpus
      * escape hatch as [[IvfAnn]]: see its docstring).
      */
    def topK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             bits: Int = DefaultBits, tables: Int = DefaultTables,
             vecCol: String = "embedding", idCol: String = "vec_id",
             maxQueryBatch: Long = DefaultMaxQueryBatch): DataFrame = {
      requireBoundedQueries(queries, maxQueryBatch, "LshAnn.topK")
      val planes = hyperplanes(dim, bits, tables)
      def bucketed(df: DataFrame, side: String) =
        withBuckets(df, side, planes, vecCol, idCol)
      val c = bucketed(corpus, "corpus")
      val q = bucketed(queries, "query")
      // broadcast the QUERY side explicitly (nQueries × L rows): both
      // legs come out of the typed bucket kernel with defaultSize-
      // priced array stats, so the planner could otherwise pick the
      // O(corpus × L) side as the build — see IvfAnn.topK
      val cands = broadcast(q).join(c,
          q("tbl") === c("tbl") && q("query_bucket") === c("corpus_bucket") &&
            col("query_id") =!= col("corpus_id"))
        .select(col("query_id"), col("query_v"), col("corpus_id"), col("corpus_v"))
        .dropDuplicates("query_id", "corpus_id")
      val scored = cands
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("query_v"), col("corpus_v")))
        .withColumnRenamed("corpus_id", "vec_id")
      CosineTopK.rankTopK(scored, k)
    }
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product quantization
    * for nearest neighbor search"): split each L2-normalized vector
    * into `m` subspaces, k-means each subspace to `ksub` centroids
    * (driver-local on the same bounded value-hash sample as [[IvfAnn]]),
    * and store each corpus vector as `m` byte codes — at dim=64/m=8
    * that is 8 bytes instead of 256, the 32× compression that lets a
    * 100 TB embedding corpus's index live in executor memory where the
    * raw vectors cannot.
    *
    * Query path: asymmetric distance computation (ADC) — per query, one
    * `m × ksub` lookup table of subspace dots; scoring a corpus code is
    * `m` table lookups instead of `dim` multiply-adds. The ADC pass
    * ranks codes only (the original vectors are NOT carried through
    * scoring — that would defeat the compression), keeps the top
    * `refine × k` per query (WindowGroupLimit partial top-k), then ONE
    * broadcast join of that bounded candidate set back to the corpus
    * re-ranks with exact cosine. Returned scores are always exact;
    * `m`/`ksub`/`refine` govern recall only.
    *
    * QUERY-SIDE SIZE CONTRACT: same as [[IvfAnn]] — `queries` is a
    * bounded probe set; it rides the ADC task closure and the candidate
    * set is broadcast by construction.
    */
  object PqAnn {
    val Seed = 4242L
    val DefaultM = 8
    val DefaultKsub = 16
    val DefaultRefine = 4
    val MaxTrainRows = 100000L

    /** Subspace slice boundaries: m near-equal spans of `dim`. */
    private[similarity] def bounds(dim: Int, m: Int): Array[(Int, Int)] = {
      val mm = math.min(m, dim)
      Array.tabulate(mm) { j =>
        (j * dim / mm, (j + 1) * dim / mm)
      }
    }

    /** Train per-subspace codebooks on a bounded, value-selected,
      * id-sorted sample (layout-independent — same discipline as
      * [[IvfAnn.assignCells]]). Returns `codebooks(j)(code)` = centroid
      * of subspace j, plus the slice bounds.
      */
    private[graft] def train(corpus: DataFrame, m: Int, ksub: Int,
                             vecCol: String, idCol: String,
                             maxTrain: Long): (Array[Array[Array[Double]]], Array[(Int, Int)]) = {
      // codes are stored as bytes and read back with `& 0xff` — a ksub
      // above 256 would silently alias distinct centroids onto the same
      // code (garbage ADC ranking the exact re-rank then hides)
      require(m >= 1 && ksub >= 2 && ksub <= 256,
        s"PQ needs 1 <= m and 2 <= ksub <= 256 (byte codes), got m=$m ksub=$ksub")
      val spark = corpus.sparkSession
      import spark.implicits._
      val cDf = corpus.select(col(idCol), col(vecCol).cast("array<float>").as(vecCol))
      val c = cDf.as[(Long, Array[Float])]
      // count pass doubles as the dim/null validation (advice-r14) —
      // build now fails as loudly as IvfPqIndex.append does
      val (n, _) = requireUniformVectors(cDf, vecCol, vecCol, "PQ train")
      val sampleDs =
        if (n <= maxTrain) c
        else c.where(pmod(xxhash64(col(idCol)),
          lit((n + maxTrain - 1) / maxTrain)) === 0)
      val sample = sampleDs.collect().sortBy(_._1).map(t => normalize01(t._2))
      trainBooks(sample, m, ksub)
    }

    /** Codebook training from an ALREADY-collected normalized id-sorted
      * sample — factored out (round 17) so [[Similarity.RecallReport]]
      * can train several ksub settings from ONE sample collect (the
      * sample is identical across ksub values by construction: same
      * value-hash selection, same normalization, same id sort).
      */
    private[similarity] def trainBooks(sample: Array[Array[Double]], m: Int,
                                       ksub: Int): (Array[Array[Array[Double]]], Array[(Int, Int)]) = {
      require(m >= 1 && ksub >= 2 && ksub <= 256,
        s"PQ needs 1 <= m and 2 <= ksub <= 256 (byte codes), got m=$m ksub=$ksub")
      require(sample.nonEmpty, "PQ training needs a non-empty corpus")
      val dim = sample.head.length
      val bs = bounds(dim, m)
      val books = bs.zipWithIndex.map { case ((from, until), j) =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, from, until))
        IvfAnn.lloyd(sub, ksub, iters = 8, seed = Seed + j)
      }
      (books, bs)
    }

    /** L2-normalize to double (cosine ⇒ plain dot after this). */
    private[similarity] def normalize01(v: Array[Float]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
      val out = new Array[Double](v.length)
      i = 0
      while (i < v.length) { out(i) = v(i) * inv; i += 1 }
      out
    }

    /** Map-side encode: `(vec_id, codes)` — the compressed index. */
    private[graft] def encode(corpus: DataFrame,
                              books: Array[Array[Array[Double]]],
                              bs: Array[(Int, Int)],
                              vecCol: String, idCol: String): DataFrame = {
      val spark = corpus.sparkSession
      import spark.implicits._
      corpus.select(col(idCol), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          it.map { case (id, v) =>
            val x = normalize01(v)
            val codes = new Array[Byte](bs.length)
            var j = 0
            while (j < bs.length) {
              val (from, until) = bs(j)
              val book = books(j)
              var best = 0; var bestD = Double.MaxValue; var cIdx = 0
              while (cIdx < book.length) {
                val ctr = book(cIdx)
                var d = 0.0; var i = from
                while (i < until && i < x.length) {
                  val diff = x(i) - ctr(i - from); d += diff * diff; i += 1
                }
                if (d < bestD) { bestD = d; best = cIdx }
                cIdx += 1
              }
              codes(j) = best.toByte
              j += 1
            }
            (id, codes)
          }
        }.toDF("vec_id", "codes")
    }

    def topK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = DefaultM, ksub: Int = DefaultKsub,
             refine: Int = DefaultRefine,
             vecCol: String = "embedding", idCol: String = "vec_id",
             maxTrain: Long = MaxTrainRows,
             maxQueryBatch: Long = DefaultMaxQueryBatch): DataFrame = {
      requireBoundedQueries(queries, maxQueryBatch, "PqAnn.topK")
      val (books, bs) = train(corpus, m, ksub, vecCol, idCol, maxTrain)
      val coded = encode(corpus, books, bs, vecCol, idCol)
      queryCoded(coded, books, bs, corpus, queries, k, refine, vecCol, idCol)
    }

    /** Driver-collected normalized id-sorted query array — the form the
      * ADC task closure consumes. Bounded by the query-side contract.
      */
    private[similarity] def collectQueries(queries: DataFrame, vecCol: String,
                                           idCol: String): Array[(Long, Array[Double])] = {
      val spark = queries.sparkSession
      import spark.implicits._
      queries.select(col(idCol), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, v) => (id, normalize01(v)) }
    }

    /** ADC scores for every (query, corpus-code) pair: per partition,
      * each query precomputes its m × ksub LUT once, then every corpus
      * code costs `m` lookups — the ADC inner loop never touches a raw
      * vector. Factored out of [[topK]] (round 17) for the shared-build
      * sweep path.
      */
    private[similarity] def adcScores(coded: DataFrame,
                                      books: Array[Array[Array[Double]]],
                                      bs: Array[(Int, Int)],
                                      qArr: Array[(Long, Array[Double])]): DataFrame = {
      val spark = coded.sparkSession
      import spark.implicits._
      coded.as[(Long, Array[Byte])].mapPartitions { it =>
        val luts = qArr.map { case (qid, q) =>
          val lut = Array.ofDim[Double](bs.length, books(0).length)
          var j = 0
          while (j < bs.length) {
            val (from, until) = bs(j)
            var cIdx = 0
            while (cIdx < books(j).length) {
              var dot = 0.0; var i = from
              val ctr = books(j)(cIdx)
              while (i < until && i < q.length) { dot += q(i) * ctr(i - from); i += 1 }
              lut(j)(cIdx) = dot
              cIdx += 1
            }
            j += 1
          }
          (qid, lut)
        }
        it.flatMap { case (id, codes) =>
          luts.iterator.collect { case (qid, lut) if qid != id =>
            var s = 0.0; var j = 0
            while (j < codes.length) { s += lut(j)(codes(j) & 0xff); j += 1 }
            (qid, id, s)
          }
        }
      }.toDF("query_id", "vec_id", "adc")
    }

    /** The query half of [[topK]] over an already-encoded `(vec_id,
      * codes)` frame — factored out (round 17) so the sweep can reuse
      * one train+encode across its refine grid. Exactly [[topK]]'s plan
      * below the encode.
      */
    private[similarity] def queryCoded(coded: DataFrame,
                                       books: Array[Array[Array[Double]]],
                                       bs: Array[(Int, Int)],
                                       corpus: DataFrame, queries: DataFrame,
                                       k: Int, refine: Int,
                                       vecCol: String, idCol: String): DataFrame = {
      // bounded probe set rides the closure
      val qArr = collectQueries(queries, vecCol, idCol)
      val adc = adcScores(coded, books, bs, qArr)

      // partial top-(refine·k) per query — WindowGroupLimit keeps it
      // map-side; this is the ONLY shuffle over corpus-derived rows
      val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
      val cands = adc.withColumn("r", rank().over(wAdc))
        .where(col("r") <= refine * k).select("query_id", "vec_id")
      rerank(cands, corpus, queries, k, vecCol, idCol)
    }

    /** Exact re-rank: the bounded candidate set broadcast against the
      * corpus (explicit — the planner sees defaultSize-priced arrays on
      * the corpus leg, the IvfAnn rationale).
      */
    private[similarity] def rerank(cands: DataFrame, corpus: DataFrame,
                                   queries: DataFrame, k: Int,
                                   vecCol: String, idCol: String): DataFrame =
      CosineTopK.rankTopK(rerankScored(cands, corpus, queries, vecCol, idCol), k)

    /** The exact-cosine scoring half of [[rerank]] without the final
      * top-k, so the sweep can score one max-refine candidate pool and
      * derive every smaller pool's ranking from it (extra columns on
      * `cands` — e.g. the ADC rank — are carried through).
      */
    private[similarity] def rerankScored(cands: DataFrame, corpus: DataFrame,
                                         queries: DataFrame,
                                         vecCol: String, idCol: String): DataFrame = {
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_v"))
      broadcast(cands).join(
          corpus.select(col(idCol).as("vec_id"), col(vecCol).as("corpus_v")),
          Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("query_v"), col("corpus_v")))
    }
  }

  /** IVF-PQ ANN (Jégou et al. 2011 §IV, "IVFADC: coarse quantizer +
    * product quantization of RESIDUALS"): coarse-quantize the corpus
    * into `nCells` cells ([[IvfAnn.assignCells]]), then PQ-encode each
    * vector's residual (normalized vector MINUS its cell centroid).
    *
    * When residuals win — MEASURED, two regimes (BENCH_SF100.md round
    * 14): when the clusters assigned to one coarse cell outnumber the
    * codebook's resolution, absolute-position PQ collapses whole
    * clusters onto shared codes and residual coding genuinely
    * discriminates — AnnSweepSpec's isolated test (probe effect held
    * fixed, equal candidate budget) pins residual ADC beating absolute
    * ADC in exactly this regime, the paper's SIFT-style many-diverse-
    * neighborhoods case. But when ONE cluster's member count dwarfs
    * refine·k and its radius sits below code resolution (sf100-gauss:
    * 7,800-member Gaussians), NEITHER quantizer can rank inside the
    * cluster: plain PQ's members share codes and its tie-block fills
    * the candidate pool with true-cluster members (recall 0.50 at
    * refine=256), while residual codes break the ties with noise-
    * dominated fine structure that interleaves other clusters into
    * the pool (0.24) — in that regime prefer [[IvfAnn]] (exact in-cell
    * scoring, 1.0 at nProbe=1 there) or embedding DEDUP, which is what
    * a 7,800-member near-identical ball actually calls for.
    *
    * Query path: probe the `nProbe` nearest cells; the ADC estimate of
    * dot(q, x) decomposes as dot(q, centroid(cell)) — one scalar per
    * probed cell — plus Σⱼ dot(qⱼ, residual_codebookⱼ[codeⱼ]) — one
    * m × ksub LUT per query, CELL-INDEPENDENT (residual codebooks are
    * shared across cells), so the per-row cost is m lookups + one
    * scalar add, identical to plain ADC. Rows outside the probed cells
    * are skipped with one hash-set check. Top refine·k per query
    * (WindowGroupLimit partial top-k) then exact re-rank — returned
    * scores are always exact; nCells/nProbe/m/ksub/refine govern
    * recall only.
    *
    * Scale shape: train on the bounded value-hash sample; encode is
    * one map-side pass; ADC is one map-side pass over (cell, codes)
    * rows (8 bytes + a cell id per vector — the same 32× compression
    * as [[PqAnn]]); the only corpus-derived shuffle is the partial
    * top-k. QUERY-SIDE SIZE CONTRACT: same as [[PqAnn]] — the probe
    * set rides the task closure.
    */
  object IvfPqAnn {
    val DefaultCells = IvfAnn.DefaultCells
    val DefaultProbe = IvfAnn.DefaultProbe
    val DefaultM = PqAnn.DefaultM
    val DefaultKsub = PqAnn.DefaultKsub
    val DefaultRefine = PqAnn.DefaultRefine
    val MaxTrainRows = PqAnn.MaxTrainRows

    /** Train residual codebooks over the bounded value-hash sample
      * (assigned by the SAME centroids the corpus uses) and PQ-encode
      * every corpus vector's residual.
      * Returns (`(vec_id, cell, codes)`, centroids, codebooks, bounds).
      */
    private[graft] def trainAndEncode(corpus: DataFrame, nCells: Int, m: Int,
                                      ksub: Int, vecCol: String, idCol: String,
                                      maxTrain: Long)
        : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]], Array[(Int, Int)]) = {
      require(m >= 1 && ksub >= 2 && ksub <= 256,
        s"IVF-PQ needs 1 <= m and 2 <= ksub <= 256 (byte codes), got m=$m ksub=$ksub")
      val spark = corpus.sparkSession
      import spark.implicits._
      // residual training reuses the SAME normalized value-hash sample
      // assignCells already collected (code-review r14: the first cut
      // re-ran the count + collect — two redundant full-corpus passes
      // per build)
      val (assigned, ctrs, sample) =
        IvfAnn.assignCellsSampled(corpus, nCells, vecCol, idCol, maxTrain)
      val (books, bs) = trainResidualBooks(sample, ctrs, m, ksub)
      val coded = encodeWith(assigned, ctrs, books, bs)
      (coded, ctrs, books, bs)
    }

    /** Residual codebook training from an ALREADY-collected normalized
      * id-sorted sample and its coarse centroids — factored out (round
      * 17) so [[Similarity.RecallReport]] can train several ksub
      * settings from ONE sample collect + ONE coarse training.
      */
    private[similarity] def trainResidualBooks(sample: Array[Array[Double]],
                                               ctrs: Array[Array[Double]],
                                               m: Int, ksub: Int)
        : (Array[Array[Array[Double]]], Array[(Int, Int)]) = {
      require(m >= 1 && ksub >= 2 && ksub <= 256,
        s"IVF-PQ needs 1 <= m and 2 <= ksub <= 256 (byte codes), got m=$m ksub=$ksub")
      val residuals = sample.map { x =>
        val ctr = ctrs(IvfAnn.nearest(x, ctrs))
        Array.tabulate(x.length)(i => x(i) - (if (i < ctr.length) ctr(i) else 0.0))
      }
      require(residuals.nonEmpty, "IVF-PQ training needs a non-empty corpus")
      val dim = residuals.head.length
      val bs = PqAnn.bounds(dim, m)
      val books = bs.zipWithIndex.map { case ((from, until), j) =>
        val sub = residuals.map(r => java.util.Arrays.copyOfRange(r, from, until))
        IvfAnn.lloyd(sub, ksub, iters = 8, seed = PqAnn.Seed + 1000 + j)
      }
      (books, bs)
    }

    /** Encode an assigned `(id, vec, cell)` frame against EXISTING
      * centroids/codebooks — one map-side pass, residual against the
      * row's own cell centroid, nearest codebook entry per subspace.
      * Factored out so a persisted index ([[IvfPqIndex]]) can append
      * new vectors without retraining.
      */
    private[similarity] def encodeWith(assigned: DataFrame,
                                       ctrs: Array[Array[Double]],
                                       books: Array[Array[Array[Double]]],
                                       bs: Array[(Int, Int)]): DataFrame = {
      val spark = assigned.sparkSession
      import spark.implicits._
      assigned.as[(Long, Array[Float], Int)].mapPartitions { it =>
        it.map { case (id, v, cell) =>
          val x = PqAnn.normalize01(v)
          val ctr = ctrs(cell)
          val codes = new Array[Byte](bs.length)
          var j = 0
          while (j < bs.length) {
            val (from, until) = bs(j)
            val book = books(j)
            var best = 0; var bestD = Double.MaxValue; var cIdx = 0
            while (cIdx < book.length) {
              val bk = book(cIdx)
              var d = 0.0; var i = from
              while (i < until && i < x.length) {
                val r = x(i) - (if (i < ctr.length) ctr(i) else 0.0)
                val diff = r - bk(i - from); d += diff * diff; i += 1
              }
              if (d < bestD) { bestD = d; best = cIdx }
              cIdx += 1
            }
            codes(j) = best.toByte
            j += 1
          }
          (id, cell, codes)
        }
      }.toDF("vec_id", "cell", "codes")
    }

    /** Per query, driver-side (bounded): the `nProbe` nearest cells by
      * cosine (desc, cell-asc tie-break — IvfAnn's probe ordering) in
      * PROBE ORDER with their raw dot scalars, and the residual LUT.
      * The probe list for any p <= nProbe is exactly this list's first
      * p entries (`take` over one deterministic sort), which is what
      * lets the sweep scan once at the max probe setting and derive
      * every smaller setting — AnnShareSpec pins the equivalence.
      */
    private[similarity] def probeData(qArr: Array[(Long, Array[Double])],
                                      ctrs: Array[Array[Double]],
                                      books: Array[Array[Array[Double]]],
                                      bs: Array[(Int, Int)], nProbe: Int)
        : Array[(Long, Array[(Int, Double)], Array[Array[Double]])] =
      qArr.map { case (qid, q) =>
        val cos = ctrs.indices.map { cIdx =>
          val ctr = ctrs(cIdx)
          var dot = 0.0; var nc = 0.0; var nq = 0.0; var i = 0
          while (i < q.length && i < ctr.length) {
            dot += q(i) * ctr(i); nc += ctr(i) * ctr(i); nq += q(i) * q(i); i += 1
          }
          (cIdx, dot, dot / math.sqrt(nc * nq)) // (cell, rawDot, cosine)
        }
        val probed = cos.filterNot(_._3.isNaN)
          .sortBy { case (cIdx, _, cs) => (-cs, cIdx) }.take(nProbe)
          .map { case (cIdx, dot, _) => (cIdx, dot) }.toArray
        val lut = Array.ofDim[Double](bs.length, books(0).length)
        var j = 0
        while (j < bs.length) {
          val (from, until) = bs(j)
          var cIdx = 0
          while (cIdx < books(j).length) {
            var dot = 0.0; var i = from
            val bk = books(j)(cIdx)
            while (i < until && i < q.length) { dot += q(i) * bk(i - from); i += 1 }
            lut(j)(cIdx) = dot
            cIdx += 1
          }
          j += 1
        }
        (qid, probed, lut)
      }

    /** The ADC pass with each row's probed-cell RANK attached
      * (`cell_rank` = 1-based position of the row's cell in the query's
      * probe order): filtering `cell_rank <= p` reproduces a direct
      * nProbe=p ADC scan exactly, because the ADC value (cell dot +
      * LUT sum) is independent of how many cells are probed. Built for
      * the sweep's shared-scan path (round 17).
      */
    private[similarity] def adcScoresWithRank(coded: DataFrame,
                                              probes: Array[(Long, Array[(Int, Double)], Array[Array[Double]])])
        : DataFrame = {
      val spark = coded.sparkSession
      import spark.implicits._
      val indexed = probes.map { case (qid, probed, lut) =>
        (qid, probed.zipWithIndex.map { case ((c, d), i) => c -> (d, i + 1) }.toMap, lut)
      }
      coded.as[(Long, Int, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, cell, codes) =>
          indexed.iterator.flatMap { case (qid, cellInfo, lut) =>
            if (qid == id) Iterator.empty
            else cellInfo.get(cell) match {
              case Some((cd, rankPos)) =>
                var s = cd; var j = 0
                while (j < codes.length) { s += lut(j)(codes(j) & 0xff); j += 1 }
                Iterator.single((qid, id, s, rankPos))
              case None => Iterator.empty
            }
          }
        }
      }.toDF("query_id", "vec_id", "adc", "cell_rank")
    }

    def topK(corpus: DataFrame, queries: DataFrame, k: Int,
             nCells: Int = DefaultCells, nProbe: Int = DefaultProbe,
             m: Int = DefaultM, ksub: Int = DefaultKsub,
             refine: Int = DefaultRefine,
             vecCol: String = "embedding", idCol: String = "vec_id",
             maxTrain: Long = MaxTrainRows,
             maxQueryBatch: Long = DefaultMaxQueryBatch,
             cellRefine: Map[Int, Int] = Map.empty): DataFrame = {
      val spark = corpus.sparkSession
      import spark.implicits._
      val (coded, ctrs, books, bs) =
        trainAndEncode(corpus, nCells, m, ksub, vecCol, idCol, maxTrain)
      queryCoded(coded, ctrs, books, bs, corpus, queries, k, nProbe, refine,
        vecCol, idCol, maxQueryBatch, cellRefine)
    }

    /** The query half: ADC over an already-encoded `(vec_id, cell,
      * codes)` frame + exact re-rank against `corpus`. Shared by
      * [[topK]] and the persisted-index path ([[IvfPqIndex.topK]]).
      *
      * `cellRefine` (round-16, verdict-r15 #4 — closes the [[AnnAdvisor]]
      * control loop): per-cell refine overrides, keyed by coarse-cell
      * id, typically [[AnnAdvisor.refineOverrides]] over the advisor
      * report for THIS index. A query probing an overridden cell gets a
      * candidate pool of `max(refine, overrides of its probed cells)·k`
      * — sized to cover that cell's ADC tie block, which is exactly the
      * sub-resolution regime where the fixed pool starves the exact
      * re-rank (the measured sf100-gauss 0.24). Only the tie-heavy
      * queries pay the bigger pool; the partial top-k stays a
      * WindowGroupLimit under the constant max cap, with the bounded
      * per-query cap applied behind it.
      */
    private[similarity] def queryCoded(coded: DataFrame,
                                       ctrs: Array[Array[Double]],
                                       books: Array[Array[Array[Double]]],
                                       bs: Array[(Int, Int)],
                                       corpus: DataFrame, queries: DataFrame,
                                       k: Int, nProbe: Int, refine: Int,
                                       vecCol: String, idCol: String,
                                       maxQueryBatch: Long = DefaultMaxQueryBatch,
                                       cellRefine: Map[Int, Int] = Map.empty): DataFrame = {
      requireBoundedQueries(queries, maxQueryBatch, "IvfPqAnn.queryCoded")
      val qArr = PqAnn.collectQueries(queries, vecCol, idCol)
      val probes = probeData(qArr, ctrs, books, bs, nProbe)
        .map { case (qid, probed, lut) =>
          (qid, probed.map { case (cIdx, dot) => cIdx -> dot }.toMap, lut)
        }

      // ADC pass: one map-side scan of (cell, codes); rows outside a
      // query's probed cells cost one hash lookup
      val spark = corpus.sparkSession
      import spark.implicits._
      val adc = coded.as[(Long, Int, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, cell, codes) =>
          probes.iterator.flatMap { case (qid, cellDot, lut) =>
            if (qid == id) Iterator.empty
            else cellDot.get(cell) match {
              case Some(cd) =>
                var s = cd; var j = 0
                while (j < codes.length) { s += lut(j)(codes(j) & 0xff); j += 1 }
                Iterator.single((qid, id, s))
              case None => Iterator.empty
            }
          }
        }
      }.toDF("query_id", "vec_id", "adc")

      val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
      val ranked = adc.withColumn("r", rank().over(wAdc))
      val cands =
        if (cellRefine.isEmpty)
          ranked.where(col("r") <= refine * k).select("query_id", "vec_id")
        else {
          // per-query cap = max over its PROBED cells (bounded: computed
          // from the driver-side probe set); the constant max-cap filter
          // stays a literal so the rank filter still compiles to a
          // WindowGroupLimit partial top-k, and the per-query cap is a
          // broadcast of ≤ |queries| rows behind it
          val effCap = probes.map { case (qid, cellDot, _) =>
            val r = cellDot.keys.foldLeft(refine)((acc, c) =>
              math.max(acc, cellRefine.getOrElse(c, refine)))
            (qid, r * k)
          }.toSeq
          val maxCap = if (effCap.isEmpty) refine * k else effCap.map(_._2).max
          val capDf = effCap.toDF("query_id", "cand_cap")
          ranked.where(col("r") <= maxCap)
            .join(broadcast(capDf), Seq("query_id"))
            .where(col("r") <= col("cand_cap"))
            .select("query_id", "vec_id")
        }

      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_v"))
      val scored = broadcast(cands).join(
          corpus.select(col(idCol).as("vec_id"), col(vecCol).as("corpus_v")),
          Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("query_v"), col("corpus_v")))
      CosineTopK.rankTopK(scored, k)
    }
  }

  /** Recall@k report for the approximate indexes vs the exact
    * [[CosineTopK]] ground truth on the SAME corpus and queries — one
    * row per method, so index quality is tracked round-over-round in
    * the correctness dump exactly like performance is in the bench
    * (recall is the quantity LSH/IVF trade for their scale shape; a
    * tuning change that silently tanks it must show up somewhere).
    *
    * recall = |approx-top-k ∩ true-top-k| / |true-top-k|, pair-level
    * over all queries. One driver scalar (the truth count) — bounded
    * at queries × k rows by construction.
    */
  object RecallReport {
    /** Shared build context for [[run]] and [[sweep]] (round 17, guide
      * §1.2/§2.4 — remove redundant passes): the four indexes previously
      * each re-scanned and re-derived the corpus for their own stats
      * pass, training-sample collect and coarse training, even though
      * the seeded value-hash discipline makes those IDENTICAL across
      * methods (ivf and ivfpq share the same Lloyd centroids; pq and
      * ivfpq train from the same normalized sample). One localCheckpoint
      * of the assigned frame `(corpus_id, corpus_v, cell)` now feeds
      * every leg — truth, lsh bucketing, pq/ivfpq encode, ivf scoring —
      * so the corpus lineage (a parquet scan, or deriveClustered's
      * broadcast join + zip_with for the gauss gate rows) is computed
      * once instead of 10+ times, and the queries frame likewise.
      * Results are bit-identical by construction; AnnShareSpec asserts
      * run()/sweep() row-equality against the naive per-point topK
      * assembly on a seeded fixture.
      */
    private[similarity] final case class Shared(qCp: DataFrame, assignedCp: DataFrame,
                                    corpusCp: DataFrame,
                                    ctrs: Array[Array[Double]],
                                    sample: Array[Array[Double]])

    /** Tracks every shared-build localCheckpoint so its block-manager
      * blocks can be released the moment the few-row report is
      * materialized (round 18, verdict-r17 #3): lazily-freed checkpoint
      * blocks (~600 MB/query at sf100, freed only when the
      * ContextCleaner notices the GC'd RDD) slowed a NEIGHBORING
      * unchanged query up to ~3× in a shared-JVM suite run. `finish`
      * collects the report (a few dozen rows by construction), frees
      * every tracked checkpointed RDD deterministically, and returns
      * the rows as a LocalRelation — same rows, same schema, same
      * order.
      *
      * `graft.ann.releaseCheckpoints=false` (spark conf) keeps the lazy
      * lineage instead — used by the plan-dump tools so
      * `.explain("formatted")` shows the real computation (the executed
      * work is identical either way; only post-report cleanup and the
      * returned frame's plan differ).
      */
    private[similarity] final class CpTracker(release: Boolean) {
      private val cps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def apply(df: DataFrame): DataFrame = {
        val c = df.localCheckpoint(false)
        cps += c
        c
      }
      def finish(report: DataFrame): DataFrame =
        if (!release) report
        else {
          // released on the error path too: a throwing collect must not
          // leave the blocks to the ContextCleaner
          val rows =
            try java.util.Arrays.asList(report.collect(): _*)
            finally cps.foreach(_.queryExecution.analyzed.collect {
              case lr: org.apache.spark.sql.execution.LogicalRDD =>
                lr.rdd.unpersist(blocking = false)
            })
          report.sparkSession.createDataFrame(rows, report.schema)
        }
    }

    private[similarity] def tracker(spark: org.apache.spark.sql.SparkSession): CpTracker =
      new CpTracker(spark.conf.get("graft.ann.releaseCheckpoints", "true").toBoolean)

    private[similarity] def sharedBuild(corpus: DataFrame, queries: DataFrame,
                            nCells: Int, vecCol: String, idCol: String,
                            t: CpTracker): Shared = {
      val qCp = t(queries.select(col(idCol), col(vecCol)))
      requireBoundedQueries(qCp, DefaultMaxQueryBatch, "RecallReport")
      val (assigned, ctrs, sample) =
        IvfAnn.assignCellsSampled(corpus, nCells, vecCol, idCol, IvfAnn.MaxTrainRows)
      val assignedCp = t(assigned)
      // the assigned frame carries the full vectors, so every consumer
      // that only needs (id, vector) projects them back out of the one
      // materialized copy
      val corpusCp = assignedCp.select(col("corpus_id").as(idCol),
        col("corpus_v").as(vecCol))
      Shared(qCp, assignedCp, corpusCp, ctrs, sample)
    }

    def run(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
            nCells: Int = IvfAnn.DefaultCells, nProbe: Int = IvfAnn.DefaultProbe,
            vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
      val t = tracker(corpus.sparkSession)
      val sh = sharedBuild(corpus, queries, nCells, vecCol, idCol, t)
      // ground truth feeds the count AND two hit-joins: checkpoint so
      // the brute-force scoring runs once
      val truth = t(CosineTopK.run(sh.corpusCp, sh.qCp, k, vecCol, idCol)
        .select("query_id", "vec_id"))
      val nTrue = truth.count()
      // an empty truth set means the report could only emit null/0÷0
      // recall — a misconfigured run (empty corpus or query set) must
      // fail loudly, not surface as a quiet null row
      require(nTrue > 0,
        s"recall report needs a non-empty ground truth: corpus/queries produced 0 true top-$k pairs")
      // pq and ivfpq books train from the SAME collected sample; ivf and
      // ivfpq share the SAME coarse centroids and assignment
      val (pqBooks, pqBs) = PqAnn.trainBooks(sh.sample, PqAnn.DefaultM, PqAnn.DefaultKsub)
      val pqCoded = PqAnn.encode(sh.corpusCp, pqBooks, pqBs, vecCol, idCol)
      val (rBooks, rBs) = IvfPqAnn.trainResidualBooks(sh.sample, sh.ctrs,
        IvfPqAnn.DefaultM, IvfPqAnn.DefaultKsub)
      val ivfpqCoded = IvfPqAnn.encodeWith(sh.assignedCp, sh.ctrs, rBooks, rBs)
      val approx =
        LshAnn.topK(sh.corpusCp, sh.qCp, k, dim, vecCol = vecCol, idCol = idCol)
          .select(lit("lsh").as("method"), col("query_id"), col("vec_id"))
        .unionAll(
          IvfAnn.queryAssigned(sh.assignedCp, sh.ctrs, sh.qCp, k, nProbe,
              vecCol, idCol)
            .select(lit("ivf").as("method"), col("query_id"), col("vec_id")))
        .unionAll(
          PqAnn.queryCoded(pqCoded, pqBooks, pqBs, sh.corpusCp, sh.qCp, k,
              PqAnn.DefaultRefine, vecCol, idCol)
            .select(lit("pq").as("method"), col("query_id"), col("vec_id")))
        .unionAll(
          IvfPqAnn.queryCoded(ivfpqCoded, sh.ctrs, rBooks, rBs, sh.corpusCp,
              sh.qCp, k, nProbe, IvfPqAnn.DefaultRefine, vecCol, idCol)
            .select(lit("ivfpq").as("method"), col("query_id"), col("vec_id")))
      // anchored on a STATIC method list with left joins, NOT an inner
      // join + groupBy: a method whose recall collapses to zero — or
      // whose index returns no rows at all — must still report its row
      // with recall 0.0. A vanished row is exactly the wrong way to
      // surface the regression this report exists to catch.
      val hitCounts = approx
        .join(truth.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .groupBy("method")
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      val spark = corpus.sparkSession
      import spark.implicits._
      t.finish(Seq("ivf", "ivfpq", "lsh", "pq").toDF("method")
        .join(hitCounts, Seq("method"), "left")
        .select(col("method"), lit(k).as("k"), lit(nTrue).as("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / nTrue, 4).as("recall"))
        .orderBy("method"))
    }

    /** Recall CURVES (round-14, verdict-r13 #2): recall@k as a function
      * of each index's accuracy knob — IVF nProbe, LSH table count, PQ
      * codebook size — against ONE shared brute-force ground truth.
      * On a duplication-degenerate corpus (the zipf mode's exact-tie
      * masses) every point sits at 1.0 and the curve proves little; on
      * a genuinely spread distribution (ScaleUp's `gauss` mode —
      * clustered anisotropic Gaussians, no exact duplication) the
      * low-knob points degrade and the curve shows the recall/cost
      * trade-off an operator would actually tune. Output: one row per
      * (method, param, value) — bounded by the static sweep grid.
      */
    /** The sweep grid — static, shared by the plan and the vanished-row
      * anchor. Kept identical to the pre-round-17 per-point grid.
      */
    private val SweepProbes = Seq(1, 2, 4, 8)
    private val SweepTables = Seq(1, 2, 4, 8)
    private val SweepPqKsub = Seq(4, 8, 16)
    private val SweepRefine = Seq(16, 64, 256)
    private val SweepIvfPqKsub = Seq(16, 64, 256)

    /** ONE window (one exchange + one sort) serves every prefix-nested
      * grid point of a family (round 18, verdict-r17 #5): over the
      * shared total order (cos_raw desc, vec_id — vec_id is unique per
      * query in every candidate frame, so rank() has no tie groups and
      * equals a running row count), the rank of a row within point p's
      * candidate subset is the running count of subset rows. n
      * conditional running sums over one WindowSpec collapse into one
      * Window node, replacing n full Window + WindowGroupLimit passes
      * over the same checkpointed frame.
      *
      * Trade, stated plainly: the per-point plans pre-pruned each
      * exchange to top-k rows via WindowGroupLimit; the shared window's
      * single exchange carries the whole candidate frame once. That
      * frame is bounded by the report harness's query cap
      * (requireBoundedQueries) times the probed-candidate count, and
      * one full-frame exchange measures faster than n pruned
      * sort+exchange passes at both gate scales (isolated A/B in
      * OPTIMIZATION_r18.md); row equality with the per-point assembly
      * stays pinned by AnnShareSpec.
      *
      * The ranked frame is checkpointed (tracked by `t`): a DataFrame
      * reused across union branches is RE-PLANNED per branch, so
      * without the checkpoint each grid point would re-execute the
      * shared window (24 sorts again, just differently shaped — the
      * first cut of this change measured exactly that). The per-point
      * branches then filter the one materialized copy. `scored` callers
      * therefore no longer checkpoint their input: the ranked frame's
      * materialization is its only consumer, one pass either way.
      */
    private def sharedTopK[P](scored: DataFrame, k: Int, points: Seq[P],
                              cond: P => Column, t: CpTracker): Seq[(P, DataFrame)] = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = scored.where(!isnan(col("cos_raw")))
      val ranked = t(points.zipWithIndex.foldLeft(base) { case (df, (p, i)) =>
        df.withColumn(s"__r$i", sum(cond(p).cast("long")).over(w))
      })
      points.zipWithIndex.map { case (p, i) =>
        p -> ranked.where(cond(p) && col(s"__r$i") <= k)
          .select(col("query_id"), col("vec_id"),
            round(col("cos_raw"), 4).as("cosine"),
            col(s"__r$i").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      }
    }

    /** The same shared-sort trick for the ADC candidate-pool stage of
      * the ivfpq probe grid: one window over the (adc desc, vec_id)
      * total order computes each probe setting's within-subset ADC rank
      * (`cell_rank <= probe` is prefix-nested by construction), so the
      * probe grid shares one sort of the ADC frame instead of ranking
      * it once per probe point. Returns the per-point re-rank pools
      * `(query_id, vec_id, r)` with r capped at that point's refine
      * pool size.
      */
    private def sharedAdcPools(adc: DataFrame, pts: Seq[(Int, Int)],
                               t: CpTracker): Seq[DataFrame] = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("adc").desc, col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = t(pts.zipWithIndex.foldLeft(adc) { case (df, ((p, _), i)) =>
        df.withColumn(s"__r$i", sum((col("cell_rank") <= p).cast("long")).over(w))
      })
      pts.zipWithIndex.map { case ((p, maxPool), i) =>
        ranked.where(col("cell_rank") <= p && col(s"__r$i") <= maxPool)
          .select(col("query_id"), col("vec_id"),
            col(s"__r$i").cast("int").as("r"))
      }
    }

    def sweep(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
      // Shared-scan restructure (round 17, guide §1.2 step 1 / §2.4):
      // the 24 grid points previously ran 24 FULL index builds — 24
      // stats passes, 24 sample collects, 24 train+encode/bucket passes,
      // 24 candidate scans — although the knobs under sweep change only
      // the QUERY-side selectivity, never the trained artifacts within
      // a build family:
      //   - ivf nProbe and ivfpq nProbe/refine grids share one build;
      //     probe lists are prefix-stable (one deterministic sort per
      //     query), so one candidate scan at the MAX probe setting with
      //     the probed-cell rank attached reproduces every smaller
      //     setting by a filter;
      //   - pq/ivfpq refine grids share one ADC ranking at the MAX
      //     refine (rank values don't change when the tail is dropped),
      //     re-ranked exactly ONCE over the max pool;
      //   - lsh table counts are prefix-stable in the seeded hyperplane
      //     stream, so one bucket pass + one candidate scoring at
      //     tables=8 with min-colliding-table attached reproduces every
      //     smaller table count by a filter;
      //   - remaining distinct builds: pq ksub 4/8 and ivfpq ksub
      //     64/256 (different codebooks), each still one encode + one
      //     scan instead of a full rebuild chain.
      // Row-for-row equivalence with the per-point assembly is pinned
      // by AnnShareSpec on a seeded clustered fixture.
      //
      // Footprint note (advice-r17): the checkpointed scored/ADC frames
      // are bounded by O(queries × corpus-in-probed-cells) rows on
      // executor-local disk/memory — fine for a bounded-query report
      // harness (requireBoundedQueries caps the query side), and since
      // round 18 they are released deterministically when the report
      // materializes (CpTracker). localCheckpoint data is not
      // recoverable on executor loss; a cluster sweep that must survive
      // preemption should use reliable checkpointing instead.
      val t = tracker(corpus.sparkSession)
      val sh = sharedBuild(corpus, queries, IvfAnn.DefaultCells, vecCol, idCol, t)
      val truth = t(CosineTopK.run(sh.corpusCp, sh.qCp, k, vecCol, idCol)
        .select("query_id", "vec_id"))
      val nTrue = truth.count()
      require(nTrue > 0,
        s"recall sweep needs a non-empty ground truth: corpus/queries produced 0 true top-$k pairs")
      val qArr = PqAnn.collectQueries(sh.qCp, vecCol, idCol)

      // --- ivf nProbe grid: ONE scored candidate scan at max probe,
      // each point filters by the attached probed-cell rank ---
      val ivfScored = IvfAnn.scoredCandidates(sh.assignedCp, sh.ctrs, sh.qCp,
        SweepProbes.max, vecCol, idCol)
        .select(col("query_id"), col("vec_id"), col("cos_raw"), col("cell_rank"))
      val ivfRuns = sharedTopK(ivfScored, k, SweepProbes,
          (p: Int) => col("cell_rank") <= p, t)
        .map { case (p, df) => ("ivf", "nProbe", p, df) }

      // --- lsh tables grid: ONE bucket pass + ONE scored candidate set
      // at tables=8 with the minimum colliding table attached; the
      // seeded hyperplane stream makes tables=t a prefix of tables=8,
      // so `min_tbl < t` is exactly the t-table candidate set ---
      val planes = LshAnn.hyperplanes(dim, LshAnn.DefaultBits, SweepTables.max)
      val cB = LshAnn.withBuckets(sh.corpusCp, "corpus", planes, vecCol, idCol)
      val qB = LshAnn.withBuckets(sh.qCp, "query", planes, vecCol, idCol)
      val lshPairs = broadcast(qB).join(cB,
          qB("tbl") === cB("tbl") && qB("query_bucket") === cB("corpus_bucket") &&
            col("query_id") =!= col("corpus_id"))
        .groupBy(col("query_id"), col("corpus_id"))
        // first() is order-nondeterministic in general but safe here:
        // query_v/corpus_v are functionally determined by the group key
        // (one vector per id), so every candidate row of a group carries
        // the identical value (advice-r17)
        .agg(min(qB("tbl")).as("min_tbl"),
          first(col("query_v")).as("query_v"),
          first(col("corpus_v")).as("corpus_v"))
      val lshScored = lshPairs
        .withColumn("cos_raw", EmbeddingDedup.cosine(col("query_v"), col("corpus_v")))
        .withColumnRenamed("corpus_id", "vec_id")
        .select(col("query_id"), col("vec_id"), col("cos_raw"), col("min_tbl"))
      val lshRuns = sharedTopK(lshScored, k, SweepTables,
          (tb: Int) => col("min_tbl") < tb, t)
        .map { case (tb, df) => ("lsh", "tables", tb, df) }

      // --- pq: one build per ksub; the DEFAULT-ksub build serves its
      // ksub point AND the whole refine grid off one ADC ranking ---
      def pqPoints(ksub: Int, refines: Seq[Int]): Seq[(String, String, Int, DataFrame)] = {
        val (books, bs) = PqAnn.trainBooks(sh.sample, PqAnn.DefaultM, ksub)
        val coded = PqAnn.encode(sh.corpusCp, books, bs, vecCol, idCol)
        val adc = PqAnn.adcScores(coded, books, bs, qArr)
        val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
        val maxPool = refines.max * k
        val cands = adc.withColumn("r", rank().over(wAdc))
          .where(col("r") <= maxPool).select("query_id", "vec_id", "r")
        val scored = PqAnn.rerankScored(cands, sh.corpusCp, sh.qCp, vecCol, idCol)
          .select(col("query_id"), col("vec_id"), col("cos_raw"), col("r"))
        // labels from explicit membership (advice-r17): if DefaultRefine
        // is ever moved INTO SweepRefine, the overlapping point must
        // emit BOTH its ksub row and its refine row, not silently drop
        // one — same rule the ivfpq grid below already applies
        sharedTopK(scored, k, refines, (rf: Int) => col("r") <= rf * k, t)
          .flatMap { case (rf, df) =>
            (if (rf == PqAnn.DefaultRefine) Seq(("pq", "ksub", ksub, df)) else Nil) ++
              (if (SweepRefine.contains(rf)) Seq(("pq", "refine", rf, df)) else Nil)
          }
      }
      // refine is PQ's second knob, and on clustered corpora the
      // decisive one: a tight cluster collapses to a handful of PQ
      // codes, so the ADC candidate pool is tie-degenerate and
      // refine*k candidates must exceed the tie mass before the
      // exact re-rank can see a true neighbor (measured at
      // sf100-gauss: ksub alone reads 0.0 everywhere, refine
      // recovers — BENCH_SF100.md round 14)
      val pqRuns =
        SweepPqKsub.filterNot(_ == PqAnn.DefaultKsub)
          .flatMap(ks => pqPoints(ks, Seq(PqAnn.DefaultRefine))) ++
        pqPoints(PqAnn.DefaultKsub, (PqAnn.DefaultRefine +: SweepRefine).distinct)

      // --- ivfpq: the DEFAULT-ksub build (shared coarse centroids from
      // sharedBuild) serves the whole nProbe grid AND refine grid off
      // ONE ADC scan at max probe; ksub 64/256 are their own builds.
      // IVF-PQ, same refine grid as plain PQ so the curves compare
      // directly. Measured honesty note (sf100-gauss, BENCH_SF100.md
      // round 14): residual coding fixes the CROSS-cluster code
      // collapse (the small-corpus regime where clusters per cell
      // exceed code resolution — AnnSweepSpec's isolated test), but
      // when a cluster's member count dwarfs refine·k and its radius
      // is below codebook resolution, same-cluster members still
      // share codes and BOTH quantizers are tie-starved — the
      // decisive knobs are refine (candidate pool vs tie mass) and
      // ksub (code resolution vs cluster radius), swept here ---
      def ivfpqScored(ksub: Int, nProbe: Int): DataFrame = {
        val (books, bs) = IvfPqAnn.trainResidualBooks(sh.sample, sh.ctrs,
          IvfPqAnn.DefaultM, ksub)
        val coded = IvfPqAnn.encodeWith(sh.assignedCp, sh.ctrs, books, bs)
        val probes = IvfPqAnn.probeData(qArr, sh.ctrs, books, bs, nProbe)
        // no checkpoint here: the sole consumer is sharedAdcPools,
        // whose ranked frame is the materialization point
        IvfPqAnn.adcScoresWithRank(coded, probes)
      }
      // per re-rank pool: exact-score the pool once, then every refine
      // point filters the shared scored frame (one shared-sort window
      // serves the whole refine grid)
      def ivfpqFromPool(pool: DataFrame, refines: Seq[Int])
          : Seq[(Int, DataFrame)] = {
        val scored = PqAnn.rerankScored(pool, sh.corpusCp, sh.qCp, vecCol, idCol)
          .select(col("query_id"), col("vec_id"), col("cos_raw"), col("r"))
        sharedTopK(scored, k, refines, (rf: Int) => col("r") <= rf * k, t)
      }
      val adcDefaultKsub = ivfpqScored(IvfPqAnn.DefaultKsub, SweepProbes.max)
      // the WHOLE probe grid (non-default points + the default point
      // with its refine grid) shares ONE ADC-rank sort of the default-
      // ksub frame: probe subsets are prefix-nested in cell_rank
      val defRefines = (IvfPqAnn.DefaultRefine +: 16 +: SweepRefine).distinct
      val probeGrid: Seq[(Int, Seq[Int])] =
        SweepProbes.filterNot(_ == IvfPqAnn.DefaultProbe)
          .map(p => p -> Seq(IvfPqAnn.DefaultRefine)) :+
          (IvfPqAnn.DefaultProbe -> defRefines)
      val probePools = sharedAdcPools(adcDefaultKsub,
        probeGrid.map { case (p, rfs) => (p, rfs.max * k) }, t)
      val ivfpqProbeRuns = probeGrid.zip(probePools).init.map {
        case ((p, rfs), pool) =>
          val Seq((_, df)) = ivfpqFromPool(pool, rfs)
          ("ivfpq", "nProbe", p, df)
      }
      // default probe: one re-ranked pool serves the nProbe=default
      // point, the refine grid, and the ksub=default point
      val defProbePoints = ivfpqFromPool(probePools.last, defRefines)
      val ivfpqDefRuns = defProbePoints.flatMap { case (rf, df) =>
        Seq.newBuilder[(String, String, Int, DataFrame)]
          .++= (if (rf == IvfPqAnn.DefaultRefine)
            Seq(("ivfpq", "nProbe", IvfPqAnn.DefaultProbe, df)) else Nil)
          .++= (if (SweepRefine.contains(rf)) Seq(("ivfpq", "refine", rf, df)) else Nil)
          .++= (if (rf == 16 && SweepIvfPqKsub.contains(IvfPqAnn.DefaultKsub))
            Seq(("ivfpq", "ksub", IvfPqAnn.DefaultKsub, df)) else Nil)
          .result()
      }
      val ivfpqKsubRuns = SweepIvfPqKsub.filterNot(_ == IvfPqAnn.DefaultKsub)
        .map { ks =>
          val adc = ivfpqScored(ks, IvfPqAnn.DefaultProbe)
          val Seq(pool) = sharedAdcPools(adc, Seq((IvfPqAnn.DefaultProbe, 16 * k)), t)
          val Seq((_, df)) = ivfpqFromPool(pool, Seq(16))
          ("ivfpq", "ksub", ks, df)
        }

      val runs: Seq[(String, String, Int, DataFrame)] =
        ivfRuns ++ lshRuns ++ pqRuns ++
          ivfpqDefRuns.filter(_._2 == "refine") ++
          ivfpqDefRuns.filter(_._2 == "ksub") ++ ivfpqKsubRuns ++
          ivfpqProbeRuns ++ ivfpqDefRuns.filter(_._2 == "nProbe")
      val approx = runs.map { case (m, p, v, df) =>
        df.select(lit(m).as("method"), lit(p).as("param"),
          lit(v).as("value"), col("query_id"), col("vec_id"))
      }.reduce(_ unionAll _)
      val spark = corpus.sparkSession
      import spark.implicits._
      // static grid anchor + left join, same vanished-row rule as run()
      val grid = runs.map { case (m, p, v, _) => (m, p, v) }
        .toDF("method", "param", "value")
      val hitCounts = approx
        .join(truth.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .groupBy("method", "param", "value")
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      t.finish(grid.join(hitCounts, Seq("method", "param", "value"), "left")
        .select(col("method"), col("param"), col("value"),
          lit(k).as("k"), lit(nTrue).as("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / nTrue, 4).as("recall"))
        .orderBy("method", "param", "value"))
    }
  }

  /** Deterministically derive a CLUSTERED corpus from an embedding
    * table (verdict-r14 #8): the first `nCenters` vectors become
    * cluster centers and every row is pulled toward its
    * `vec_id % nCenters` center — `v' = 0.95·center + 0.12·v`,
    * elementwise, all in one broadcast join + zip_with (no collect, no
    * RNG, layout-independent). Near-uniform synthetic embeddings make
    * recall curves trivially flat (ties mask degradation); this
    * transform gives the gate's `ann_recall_gauss` row genuinely
    * clustered anisotropic neighborhoods so the recall numbers TREND —
    * the same distribution shape the sf100 gauss exhibit used
    * (BENCH_SF100.md round 14).
    */
  /** Default center count for [[deriveClustered]] — SparkEntry's gate
    * rows reference this instead of a literal so the query-id offset
    * can't silently drift from the derivation (advice-r15).
    */
  val DefaultClusterCenters = 40

  def deriveClustered(emb: DataFrame, nCenters: Int = DefaultClusterCenters,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    val centers = emb.where(col(idCol) < nCenters)
      .select(pmod(col(idCol), lit(nCenters)).as("__c"),
        col(vecCol).cast("array<float>").as("__cv"))
    // the join below is INNER on __c = id % nCenters, so a residue with
    // no center row would silently DROP every corpus row in that group
    // (advice-r15: an id space not starting at 0 shrinks — possibly
    // empties — the derived corpus instead of failing). Ids 0..n-1 are
    // exactly the rows `id < nCenters` with all residues distinct, so
    // one bounded count makes the precondition loud.
    require(centers.count() == nCenters,
      s"deriveClustered needs ids 0..${nCenters - 1} present in $idCol " +
        "(they are the cluster centers); with gaps the center join would " +
        "silently drop their groups from the derived corpus")
    emb.select(col(idCol), col(vecCol).cast("array<float>").as(vecCol),
        pmod(col(idCol), lit(nCenters)).as("__c"))
      .join(broadcast(centers), Seq("__c"))
      .select(col(idCol),
        zip_with(col("__cv"), col(vecCol),
          (c, v) => (c * lit(0.95f) + v * lit(0.12f)).cast("float"))
          .as(vecCol))
  }

  /** Per-cell tie-mass diagnostic for the IVF-PQ two-regime guidance
    * (verdict-r14 #7 — operationalizes the [[IvfPqAnn]] scaladoc the
    * way SkewReport did for join keys): code an IVF-PQ index, then ONE
    * aggregation over the coded frame reports, per coarse cell, how
    * much the byte codes actually discriminate:
    *
    *   - `distinct_ratio` = distinct codes / vectors — high means the
    *     quantizer separates the cell's members (IVF-PQ fine);
    *   - `max_code_mass` = the largest single-code tie block — when it
    *     dwarfs `refine·k`, the ADC candidate pool fills with
    *     indistinguishable members and the exact re-rank never sees a
    *     true neighbor (the measured sf100-gauss failure regime).
    *
    * Advice per cell: `ivfpq_fine` (ratio ≥ 0.5), else
    * `raise_refine_to_N` with N = ceil(max_code_mass / k) (the pool
    * must cover the tie block), else — when even that N is
    * impractical (> 1024) — `use_ivf_or_dedup` (a sub-resolution
    * near-duplicate ball: exact in-cell scoring or embedding dedup is
    * the right tool). Cost: the same train+encode as one IVF-PQ build
    * plus one map-side-combined aggregation of (cell, codes) pairs —
    * nothing driver-side beyond the bounded report.
    */
  object AnnAdvisor {
    def run(corpus: DataFrame, k: Int = 10,
            nCells: Int = IvfPqAnn.DefaultCells, m: Int = IvfPqAnn.DefaultM,
            ksub: Int = IvfPqAnn.DefaultKsub,
            vecCol: String = "embedding", idCol: String = "vec_id",
            maxTrain: Long = IvfPqAnn.MaxTrainRows): DataFrame = {
      val (coded, _, _, _) =
        IvfPqAnn.trainAndEncode(corpus, nCells, m, ksub, vecCol, idCol, maxTrain)
      fromCoded(coded, k)
    }

    /** The advisor aggregation over an ALREADY-encoded `(cell, codes)`
      * frame (round-16): a persisted index ([[IvfPqIndex]]) advises on
      * its stored codes without re-training — one map-side-combined
      * aggregation, nothing else. Training is seeded and value-sampled,
      * so [[run]] over the same corpus/params produces the identical
      * cell space; cell ids in the report always align with the index
      * they were computed from.
      */
    def fromCoded(coded: DataFrame, k: Int): DataFrame = {
      val perCode = coded.groupBy("cell", "codes")
        .agg(count(lit(1)).as("mass"))
      perCode.groupBy("cell").agg(
          sum(col("mass")).as("n_vectors"),
          count(lit(1)).as("n_distinct_codes"),
          max(col("mass")).as("max_code_mass"))
        .select(col("cell"), col("n_vectors"), col("n_distinct_codes"),
          round(col("n_distinct_codes") / col("n_vectors"), 4).as("distinct_ratio"),
          col("max_code_mass"),
          when(col("n_distinct_codes") / col("n_vectors") >= 0.5, lit("ivfpq_fine"))
            .when(ceil(col("max_code_mass") / k) <= 1024,
              concat(lit("raise_refine_to_"),
                ceil(col("max_code_mass") / k).cast("long").cast("string")))
            .otherwise(lit("use_ivf_or_dedup")).as("advice"))
        .orderBy("cell")
    }

    /** Parse a report's `raise_refine_to_N` rows into the per-cell
      * override map [[IvfPqAnn.topK]] accepts (verdict-r15 #4 — the
      * report becomes a control input, not just telemetry). Bounded
      * collect: the report has ≤ nCells rows. `ivfpq_fine` cells need
      * no override; `use_ivf_or_dedup` cells are deliberately NOT
      * translated into a pool size — the advisor's judgment there is
      * that no practical refine covers the tie block and the caller
      * should switch tool, which an override map must not silently
      * un-decide.
      */
    def refineOverrides(report: DataFrame): Map[Int, Int] = {
      val Prefix = "raise_refine_to_"
      report.select(col("cell"), col("advice")).collect().flatMap { r =>
        val adv = r.getString(1)
        if (adv.startsWith(Prefix)) Some(r.getInt(0) -> adv.stripPrefix(Prefix).toInt)
        else None
      }.toMap
    }

    /** End-to-end control-loop receipt as a GATE row (verdict-r16 #5):
      * train/encode ONE IVF-PQ index, advise over its own codes, parse
      * the overrides, and report recall@k with the DEFAULT fixed pool
      * vs the ADVISED per-cell pools against the exact ground truth —
      * two rows (`variant` = default/advised) the driver trends
      * round-over-round (registered as `ann_advised_recall`). The coded frame is checkpointed once and
      * reused by the advisor aggregation and both query passes, so the
      * cost over a plain recall row is one aggregation + one extra
      * query pass; the override map stays ≤ nCells entries (the same
      * 100 TB-safe bound as [[refineOverrides]]).
      */
    def advisedRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                      nCells: Int = IvfPqAnn.DefaultCells,
                      m: Int = IvfPqAnn.DefaultM,
                      ksub: Int = IvfPqAnn.DefaultKsub,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
      // shared materialization (round 17, guide §2.4): the corpus
      // lineage — deriveClustered's broadcast join + zip_with on the
      // gate row — previously recomputed for the stats pass, the sample
      // collect, the encode, the truth leg and BOTH query legs' exact
      // re-ranks; one assigned-frame checkpoint now feeds them all, and
      // the queries frame is likewise checkpointed once instead of
      // re-derived per leg. Same train→advise→override→query loop,
      // bit-identical rows (seeded training over the same sample).
      val t = RecallReport.tracker(corpus.sparkSession)
      val sh = RecallReport.sharedBuild(corpus, queries, nCells, vecCol, idCol, t)
      val (books, bs) = IvfPqAnn.trainResidualBooks(sh.sample, sh.ctrs, m, ksub)
      val codedCp = t(IvfPqAnn.encodeWith(sh.assignedCp, sh.ctrs, books, bs))
      val overrides = refineOverrides(fromCoded(codedCp, k))
      val truth = t(CosineTopK.run(sh.corpusCp, sh.qCp, k, vecCol, idCol)
        .select("query_id", "vec_id"))
      val nTrue = truth.count()
      require(nTrue > 0,
        s"advised-recall needs a non-empty ground truth: corpus/queries produced 0 true top-$k pairs")
      def leg(name: String, cellRefine: Map[Int, Int]): DataFrame =
        IvfPqAnn.queryCoded(codedCp, sh.ctrs, books, bs, sh.corpusCp, sh.qCp, k,
            IvfPqAnn.DefaultProbe, IvfPqAnn.DefaultRefine, vecCol, idCol,
            DefaultMaxQueryBatch, cellRefine)
          .select(lit(name).as("variant"), col("query_id"), col("vec_id"))
      val approx = leg("default", Map.empty).unionAll(leg("advised", overrides))
      // static variant anchor + left join, like RecallReport: a leg
      // that returns no rows must report recall 0.0, not vanish
      val hitCounts = approx
        .join(truth.withColumn("hit", lit(1)), Seq("query_id", "vec_id"), "left")
        .groupBy("variant")
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      val spark = corpus.sparkSession
      import spark.implicits._
      t.finish(Seq("advised", "default").toDF("variant")
        .join(hitCounts, Seq("variant"), "left")
        .select(col("variant"), lit(k).as("k"),
          lit(overrides.size).as("n_overridden_cells"),
          lit(nTrue).as("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / nTrue, 4).as("recall"))
        .orderBy("variant"))
    }
  }
}
