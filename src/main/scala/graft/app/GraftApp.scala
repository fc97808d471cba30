package graft.app

import graft.operators._
import graft.operators.checks.{Checks, SuggestChecks, Suite}
import graft.operators.checks.Checks.Referential.FkRule
import graft.operators.dedup.Dedup
import graft.sources.{ParquetCombine, Parquetizer, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** CLI dispatch — the reference's `dbqt <tool>` surface (reference:
  * dbqt/app.py auto-discovers every tool, app.py:7-21) re-expressed
  * over Spark connections.
  *
  * A "connection" is a directory of parquet tables (`--dir`) or a
  * reference-shaped YAML config (`--config`, see [[YamlConfig]] —
  * `connection:`/`tables_file:`/`excluded_tables:` load unchanged).
  * Results go to `--out` as parquet (partitioned by default; pass
  * `--single-file true` for one file, `--format csv` for CSV reports
  * matching the reference's CSV outputs, `--format html` for the
  * reference's tabbed HTML report shape), or to the console.
  *
  * {{{
  * GraftApp rowcount        --dir /data/sf1 [--exclude tmp_%] [--where "pred"] | --config conn.yaml
  * GraftApp dbstats-compare --source-dir a --target-dir b [--tables t1,t2]
  * GraftApp nullcheck       --dir /data/sf1 --table customer
  * GraftApp keyfinder       --dir /data/sf1 --table orders \
  *     --candidates o_orderkey,o_custkey [--max-size 3]
  * GraftApp colcompare      --dir /data/sf1 --source a --target b [--config cc.yaml]
  * GraftApp combine         --files a.parquet,b.parquet --out c
  * GraftApp parquetizer     --path /data/dropzone
  * GraftApp dynamic-query   --dir /data/sf1 --query 'SELECT … {var_from_csv} …' \
  *     --csv values.csv [--var var_from_csv]
  * GraftApp completeness    --dir /data/sf1 --table documents
  * GraftApp uniqueness      --dir /data/sf1 --table lineitem --keys l_orderkey,l_linenumber
  * GraftApp format|range|values --dir /data/sf1 --checks checks.yaml
  * GraftApp stats           --dir /data/sf1 --table lineitem --columns l_quantity,l_tax
  * GraftApp stats-compare   --source-dir a --target-dir b --table lineitem \
  *     --columns l_quantity,l_tax [--tolerance 1.0]
  * GraftApp referential     --dir /data/sf1 --table lineitem --fk l_orderkey \
  *     --parent orders --ref o_orderkey
  * GraftApp suite           --dir /data/sf1 --checks checks.yaml
  * GraftApp skew            --dir /data/sf1 --table events --column user_id [--k 20]
  * GraftApp asof            --dir /data/sf1 --table events --key user_id --ts ts \
  *     --left-where "event_type='click'" --right-where "event_type='error'"
  * GraftApp range-join      --dir /data/sf1 [--gap-minutes 120]
  * GraftApp split           --dir /data/sf1 --table documents --id doc_id \
  *     [--weights train:0.8,val:0.1,test:0.1] [--salt 0]
  * GraftApp dedup           --dir /data/sf1 --table documents [--threshold 0.8]
  * GraftApp dedup-audit     --dir /data/sf1 --table documents [--max-bucket 1024]
  * GraftApp dedup-incremental --dir /data/batch --table documents \
  *     --corpus-dir /data/corpus [--corpus-table documents] [--bloom-fpp 0.01] \
  *     [--near 0.8]   (minhash NEAR-dup membership instead of exact)
  * GraftApp pack            --dir /data/sf1 --table docs_with_tokens \
  *     [--capacity 2048] [--tokens-col n_tokens] [--groups 256]
  * GraftApp line-dedup      --dir /data/sf1 --table documents \
  *     [--min-count 2] [--exact false] [--text-col text] [--id doc_id]
  * GraftApp span-dedup      --dir /data/sf1 --table documents \
  *     [--window 50] [--min-count 2] [--exact false] [--text-col text] [--id doc_id]
  * GraftApp search           --dir /data/sf1 --table documents \
  *     --query "terms to search" [--k 10] [--text-col text] [--id doc_id]
  * GraftApp semantic-dedup   --dir /data/sf1 --table embeddings \
  *     [--threshold 0.9] [--cells 32] [--vec-col embedding] [--id vec_id]
  * GraftApp decontaminate   --dir /data/sf1 --table documents \
  *     --probes-file benchmark_strings.txt
  * GraftApp mixture         --dir /data/sf1 --table docs_with_tokens \
  *     --budgets web:50000000,code:20000000 [--tokens-col n_tokens]
  * GraftApp sessionize      --dir /data/sf1 [--gap-minutes 120]
  * GraftApp perplexity      --dir /data/sf1 --table documents \
  *     [--exact false] [--text-col text] [--id doc_id]
  * GraftApp url-dedup       --dir /data/sf1 --table documents \
  *     [--url-col url] [--id doc_id]
  * GraftApp bpe             --dir /data/sf1 --table documents \
  *     [--merges 1000] [--max-words 200000] [--text-col text] [--id doc_id]
  * GraftApp chunk           --dir /data/sf1 --table documents \
  *     [--window 512] [--stride 384] [--text-col text] [--id doc_id]
  * GraftApp html-extract    --dir /data/sf1 --table pages \
  *     [--min-line-words 4] [--html-col html] [--id doc_id]
  * GraftApp vectorize       --dir /data/sf1 --table documents \
  *     [--dim 64] [--text-col text] [--id doc_id]
  * }}}
  */
object GraftApp {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  /** Flag parsing: `tool --k v --k2 v2 ...` → (tool, Map(k → v)).
    * STRICT: every flag must start with `--` and carry a value
    * (booleans are `--force true`) — a misaligned pair fails loudly
    * instead of silently shifting every following flag into the wrong
    * slot.
    */
  private[app] def parse(args: Seq[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, usage)
    val flags = args.tail.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
      case bad => sys.error(s"malformed flag pair '${bad.mkString(" ")}' " +
        s"(flags are '--name value'; booleans are '--force true')\n$usage")
    }.toMap
    (args.head, flags)
  }

  private val tools = Seq("rowcount", "dbstats-compare", "nullcheck", "keyfinder",
    "colcompare", "generate-config", "combine", "parquetizer", "dynamic-query",
    "completeness", "uniqueness", "format", "range", "stats", "stats-compare",
    "values", "referential", "suite", "suggest-checks", "skew", "asof",
    "range-join", "split",
    "dedup", "dedup-audit", "dedup-incremental", "decontaminate", "mixture",
    "pack", "sessionize", "line-dedup", "span-dedup", "search",
    "semantic-dedup", "perplexity", "url-dedup", "bpe", "chunk", "html-extract",
    "vectorize", "ann-advisor")

  /** Tool-name aliases (reference: dbqt/tools/__init__.py:6
    * `TOOL_ALIASES`) mapped onto this CLI's tool names: `compare` →
    * `colcompare`; `findkey` → `keyfinder`. The reference maps
    * `rowcount`/`stats` the OTHER way — both onto a single `dbstats`
    * tool with two flag-selected modes — so `dbstats` here cannot be a
    * static alias: [[resolveTool]] dispatches it by flags (`--columns`
    * is the stats-mode selector) so a ported stats-mode invocation
    * runs stats, not a silent rowcount.
    */
  private[app] val toolAliases = Map(
    "compare" -> "colcompare",
    "findkey" -> "keyfinder")

  /** Alias resolution, flag-aware for the two-mode `dbstats`. */
  private[app] def resolveTool(rawTool: String, f: Map[String, String]): String =
    rawTool match {
      case "dbstats" => if (f.contains("columns")) "stats" else "rowcount"
      case other => toolAliases.getOrElse(other, other)
    }

  private val usage =
    s"usage: GraftApp <${tools.mkString("|")}> --dir <tables-dir> [flags]" +
      s" (aliases: ${toolAliases.map { case (a, t) => s"$a=$t" }.mkString(", ")}," +
      " dbstats=rowcount|stats by flags: --columns selects stats mode)"

  /** Loud up-front type check shared by every id-hashing tool (split,
    * pack, mixture, decontaminate): under ANSI mode (the Spark 4
    * default) a string id column would otherwise make the cast throw
    * mid-job, deep inside a task, instead of here.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val idType = df.schema(idCol).dataType
    val integral = {
      import org.apache.spark.sql.types._
      idType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    require(integral,
      s"--id column '$idCol' must be integral (long/int), got ${idType.simpleString}")
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (rawTool, f) = parse(args)
    val tool = resolveTool(rawTool, f)
    def dir = f.getOrElse("dir", sys.error("--dir required"))
    def tableName = f.getOrElse("table", sys.error("--table required"))
    def table = Tables(spark, dir, tableName)
    def flag(k: String) = f.getOrElse(k, sys.error(s"--$k required"))
    def checksCfg = YamlConfig.checks(flag("checks"))
    def checksTable(cfg: YamlConfig.ChecksConfig) = Tables(spark, dir, cfg.table)
    /** One side's table list + loader (+ the Connection when a config
      * is used, for backends that can push work): a YAML connection
      * config, or a parquet dir via the EXACT dirFlag — no silent
      * fallback to --dir, which would quietly compare a catalog to
      * itself. CLI flags compose with the config: --tables overrides
      * its table list, --exclude adds to its excluded_tables.
      */
    def side(dirFlag: String, cfgFlag: String)
        : (Seq[String], String => DataFrame, Option[graft.sources.Connection]) = {
      val cliTables = f.get("tables").map(_.split(",").toSeq)
      val cliExclude = f.get("exclude").map(_.split(",").toSeq).getOrElse(Nil)
      f.get(cfgFlag) match {
        case Some(path) =>
          val cfg = YamlConfig.connection(path)
          val conn = YamlConfig.open(spark, cfg)
          val base = cliTables.getOrElse(
            if (cfg.tables.nonEmpty) cfg.tables else conn.listTables())
          (Tables.filterExcluded(base, cfg.excludedTables ++ cliExclude),
            conn.table, Some(conn))
        case None =>
          val d = f.getOrElse(dirFlag,
            sys.error(s"--$dirFlag or --$cfgFlag required"))
          // default table list = what the directory actually contains
          // (reference list_tables discovery), not a fixture list — a
          // user's dir with other table names must just work
          val base = cliTables.getOrElse {
            val found = Tables.discover(spark, d, "parquet")
            if (found.isEmpty) sys.error(
              s"no *.parquet tables found in --$dirFlag '$d' (pass --tables to name them)")
            found
          }
          (Tables.filterExcluded(base, cliExclude),
            t => Tables(spark, d, t), None)
      }
    }
    def catalog(dirFlag: String, cfgFlag: String): Map[String, DataFrame] = {
      val (names, load, _) = side(dirFlag, cfgFlag)
      names.map(t => t -> load(t)).toMap
    }

    val result: DataFrame = tool match {
      case "rowcount" =>
        // --where: the reference's count_rows(where_clause=…) — a
        // partition-bounded reconciliation count. Dir-backed, Catalyst
        // pushes the predicate to the parquet scan; connection-backed,
        // each backend pushes it as close to the data as it can (JDBC:
        // into the remote COUNT).
        val whereOpt = f.get("where")
        side("dir", "config") match {
          // connection-backed: let the backend count (JDBC pushes the
          // COUNT(*)s — with the WHERE when given — through its bounded
          // pool instead of pulling rows through Spark). The config
          // names its tables explicitly, so the predicate must resolve
          // on each of them.
          case (names, _, Some(conn)) => conn.rowCounts(names, whereOpt)
          // dir-backed catalogs are DISCOVERED, so a predicate cannot
          // be expected to resolve on every table: count the tables it
          // resolves on (the reference's count_rows(where_clause) is a
          // per-table call), fail loudly if it resolves on none
          case (names, load, None) =>
            val frames = names.flatMap { t =>
              val df = load(t)
              whereOpt match {
                case Some(w) =>
                  try {
                    val filtered = df.where(expr(w))
                    filtered.queryExecution.analyzed // force resolution
                    Some(t -> filtered)
                  } catch {
                    case _: org.apache.spark.sql.AnalysisException => None
                  }
                case None => Some(t -> df)
              }
            }.toMap
            require(frames.nonEmpty,
              s"--where '${whereOpt.getOrElse("")}' resolves on none of: " +
                names.sorted.mkString(", "))
            RowCount.counts(spark, frames)
        }
      case "dbstats-compare" =>
        // reference dbstats source/target mode (dbstats.py:201-214 +
        // discovery notes). With --tables-file, a dual-database pairs
        // CSV (source_table,target_table — README.md:214) maps
        // differently-named tables across the two sides; without it,
        // same-named tables are reconciled catalog-to-catalog.
        f.get("tables-file") match {
          case Some(tf) =>
            val (_, srcLoad, _) = side("source-dir", "source-config")
            val (_, tgtLoad, _) = side("target-dir", "target-config")
            RowCount.compare(spark, YamlConfig.readTablePairsCsv(tf).map {
              case (s, t) => (s"${s}_vs_$t", srcLoad(s), tgtLoad(t))
            })
          case None =>
            RowCount.compareCatalogs(spark,
              catalog("source-dir", "source-config"),
              catalog("target-dir", "target-config"))
        }
      case "nullcheck" =>
        NullCheck.profile(tableName, table)
      case "keyfinder" =>
        val t = table
        val cands = f.get("candidates").map(_.split(",").toSeq)
          .getOrElse(KeyFinder.selectCandidates(t.columns.toSeq,
            f.get("include-only").map(_.split(",").toSeq).getOrElse(Nil),
            f.get("exclude").map(_.split(",").toSeq).getOrElse(Nil),
            f.getOrElse("max-columns", "20").toInt))
        val maxSize = f.getOrElse("max-size", "3").toInt
        KeyFinder.requireSearchable(cands.size, maxSize, f.get("force").contains("true"))
        KeyFinder.findMinimalKeys(spark, t, cands, maxSize)
      case "colcompare" =>
        val cc = f.get("config").map(YamlConfig.colcompare)
          .getOrElse(YamlConfig.ColCompareConfig(TypeCompat.DefaultTypeMappings, Set.empty))
        ColCompare.compareColumns(spark,
          Tables(spark, dir, flag("source")),
          Tables(spark, dir, flag("target")),
          excludedCols = cc.excludedCols, mappings = cc.typeMappings)
      case "generate-config" =>
        // colcompare --generate-config parity (colcompare.py:99-131):
        // write the default type-mappings YAML a user then customizes
        val path = flag("path")
        YamlConfig.writeDefaultColcompare(path)
        import spark.implicits._
        Seq(("GENERATED", path)).toDF("action", "file")
      case "combine" =>
        ParquetCombine.combine(spark, flag("files").split(",").toSeq).df
      case "parquetizer" =>
        val (renamed, skipped) = Parquetizer.renameExtensionless(spark, flag("path"))
        import spark.implicits._
        (renamed.map(("RENAMED", _)) ++ skipped.map(("SKIPPED", _)))
          .toDF("action", "file")
      case "dynamic-query" =>
        // reference dynamic_query.py: {var_from_csv} template × CSV rows
        val varName = f.getOrElse("var", "var_from_csv")
        val values = YamlConfig.readTablesCsv(flag("csv"), varName)
        Tables.registerViews(spark, dir, Tables.discover(spark, dir, "parquet"))
        DynamicQuery.run(spark, flag("query"), values.map(v => Map(varName -> v)))
      case "completeness" =>
        Checks.Completeness.run(tableName, table)
      case "uniqueness" =>
        Checks.Uniqueness.run(tableName, table, flag("keys").split(",").toSeq)
      case "format" =>
        val cfg = checksCfg
        Checks.FormatCheck.run(cfg.table, checksTable(cfg), cfg.formatRules)
      case "range" =>
        val cfg = checksCfg
        Checks.RangeCheck.run(cfg.table, checksTable(cfg), cfg.rangeRules)
      case "values" =>
        val cfg = checksCfg
        Checks.ValueSet.run(cfg.table, checksTable(cfg), cfg.valueRules)
      case "stats" =>
        Checks.StatsCheck.run(tableName, table, flag("columns").split(",").toSeq)
      case "stats-compare" =>
        // distribution drift between the same table in two catalogs
        val (_, srcLoad, _) = side("source-dir", "source-config")
        val (_, tgtLoad, _) = side("target-dir", "target-config")
        Checks.StatsCompare.run(flag("columns").split(",").toSeq,
          srcLoad(tableName), tgtLoad(tableName),
          f.getOrElse("tolerance", "1.0").toDouble)
      case "referential" =>
        Checks.Referential.runAll(Seq((
          FkRule(f.getOrElse("name", s"${tableName}_${flag("parent")}"),
            flag("fk"), flag("ref")),
          table, Tables(spark, dir, flag("parent")))))
      case "suite" =>
        val cfg = checksCfg
        val t = checksTable(cfg)
        Suite.gate(
          Suite.TableChecks(cfg.table, t,
            completenessCols = cfg.completenessCols,
            uniquenessKeys = cfg.uniquenessKeys,
            formatRules = cfg.formatRules,
            rangeRules = cfg.rangeRules,
            valueRules = cfg.valueRules),
          fkRules = cfg.fkRules.map(fk =>
            (FkRule(fk.name, fk.fkCol, fk.refCol), t, Tables(spark, dir, fk.parentTable))))
      case "suggest-checks" =>
        // the reference README's own Future Plans (README.md:352-356 —
        // "AI-Powered column classification", "Automatic check
        // suggestions"): profile → semantic class → suggested checks.
        // `--yaml <path>` additionally writes the suggested checks
        // config for a SINGLE table — immediately runnable via
        // `suite --checks <path>` (the suggestion-to-gate round trip).
        val names = f.get("tables").map(_.split(",").toSeq)
          .orElse(f.get("table").map(Seq(_)))
          .getOrElse {
            val found = Tables.discover(spark, dir, "parquet")
            if (found.isEmpty) sys.error(
              s"no *.parquet tables found in --dir '$dir' (pass --tables to name them)")
            found
          }
        val cols = f.get("columns").map(_.split(",").toSeq)
        val report = SuggestChecks.runAll(
          names.map(t => t -> Tables(spark, dir, t)),
          cols.map(c => names.map(_ -> c).toMap).getOrElse(Map.empty))
        f.get("yaml").foreach { path =>
          require(names.size == 1,
            "--yaml writes a per-table checks config; pass a single --table")
          val y = SuggestChecks.suggestedYaml(
            names.head, Tables(spark, dir, names.head), report)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path), y.getBytes("UTF-8"))
        }
        report
      case "skew" =>
        SkewReport.topKeys(table, flag("column"), f.getOrElse("k", "20").toInt)
      case "asof" =>
        val t = table
        AsOfJoin.asof(
          t.where(expr(f.getOrElse("left-where", "true"))),
          t.where(expr(f.getOrElse("right-where", "true"))),
          keyCol = flag("key"), tsCol = flag("ts"),
          rightPayload = f.getOrElse("payload", flag("ts")).split(",").toSeq,
          prefix = f.getOrElse("prefix", "right_"))
      case "range-join" =>
        val ev = Tables(spark, dir, "events")
        val sessions = Sessionize.sessions(ev, f.getOrElse("gap-minutes", "120").toInt)
          .select("user_id", "session_seq", "session_start", "session_end")
        RangeJoin.pointInInterval(
          ev.select("event_id", "user_id", "ts"), sessions,
          keyCol = "user_id", tsCol = "ts",
          startCol = "session_start", endCol = "session_end",
          bucketWidthSec = 6 * 3600)
      case "split" =>
        // deterministic train/val/test assignment; weights as
        // name:weight pairs, e.g. --weights train:0.8,val:0.1,test:0.1
        val weights = f.getOrElse("weights", "train:0.8,val:0.1,test:0.1")
          .split(",").toSeq.map { pair =>
            pair.split(":") match {
              case Array(n, w) => n -> w.toDouble
              case _ => sys.error(s"bad --weights entry '$pair' (name:weight)")
            }
          }
        val t = table
        val idCol = flag("id")
        requireIntegralId(t, idCol)
        Sampling.hashSplit(t, idCol, weights, f.getOrElse("salt", "0").toLong)
      case "dedup" =>
        Dedup.Components.dedupGroups(table, f.getOrElse("threshold", "0.8").toDouble)
      case "dedup-incremental" =>
        // new batch vs existing corpus: --table is the batch, the
        // corpus is --corpus-table in --corpus-dir (defaults: same
        // table name, same --dir — the split-one-table case then needs
        // only --corpus-where/--where filters upstream).
        // --near <threshold> switches from exact membership to minhash
        // NEAR-dup membership (MinHashDedup.againstCorpus)
        val corpusDir = f.getOrElse("corpus-dir", dir)
        val corpusTable = f.getOrElse("corpus-table", tableName)
        val corpusDf = Tables(spark, corpusDir, corpusTable)
        f.get("near") match {
          case Some(t) =>
            Dedup.MinHashDedup.againstCorpus(table, corpusDf, t.toDouble)
          case None =>
            Dedup.IncrementalDedup.report(table, corpusDf,
              bloomFpp = f.getOrElse("bloom-fpp", "0.01").toDouble)
        }
      case "line-dedup" =>
        // corpus-level boilerplate-line removal; --exact true forces the
        // string-keyed path (oracle-exact), default is the hashed scale
        // path (text never shuffles)
        val t = table
        val minCount = f.getOrElse("min-count", "2").toInt
        val textCol = f.getOrElse("text-col", "text")
        val idCol = f.getOrElse("id", "doc_id")
        if (f.getOrElse("exact", "false").toBoolean)
          graft.operators.text.LineDedup.run(t, minCount, textCol, idCol)
        else
          graft.operators.text.LineDedup.runHashed(t, minCount, textCol, idCol)
      case "span-dedup" =>
        // corpus-level duplicated-span removal (ExactSubstr, Lee et al.
        // 2022); --exact true forces the string-keyed path
        // (oracle-exact), default is the hashed scale path
        val t = table
        val w = f.getOrElse("window", "50").toInt
        val minCount = f.getOrElse("min-count", "2").toInt
        val textCol = f.getOrElse("text-col", "text")
        val idCol = f.getOrElse("id", "doc_id")
        if (f.getOrElse("exact", "false").toBoolean)
          graft.operators.text.SpanDedup.run(t, w, minCount, textCol, idCol)
        else
          graft.operators.text.SpanDedup.runHashed(t, w, minCount, textCol, idCol)
      case "search" =>
        // BM25 keyword search, top-k documents for one query string
        graft.operators.text.KeywordSearch.search(table, flag("query"),
          k = f.getOrElse("k", "10").toInt,
          textCol = f.getOrElse("text-col", "text"),
          idCol = f.getOrElse("id", "doc_id"))
      case "perplexity" =>
        // corpus-trained bigram-LM scoring; --exact true forces the
        // string-keyed path (oracle-exact), default is the hashed scale
        // path (text never shuffles)
        val textCol = f.getOrElse("text-col", "text")
        val idCol = f.getOrElse("id", "doc_id")
        if (f.getOrElse("exact", "false").toBoolean)
          graft.operators.text.Perplexity.run(table, textCol, idCol)
        else
          graft.operators.text.Perplexity.runHashed(table, textCol, idCol)
      case "url-dedup" =>
        // URL-level dedup: canonical URL + lowest-id keep decision
        graft.operators.text.UrlDedup.run(table,
          urlCol = f.getOrElse("url-col", "url"),
          idCol = f.getOrElse("id", "doc_id"))
      case "bpe" =>
        // learn merges from the corpus word-frequency table, emit
        // per-doc whitespace vs BPE token counts
        val textCol = f.getOrElse("text-col", "text")
        val merges = graft.operators.text.Bpe.learnFromCorpus(table,
          numMerges = f.getOrElse("merges", "1000").toInt,
          maxWords = f.getOrElse("max-words", "200000").toInt,
          textCol = textCol)
        graft.operators.text.Bpe.tokenStats(table, merges, textCol,
          f.getOrElse("id", "doc_id"))
      case "chunk" =>
        // sliding-window passage chunking (window tokens every stride)
        graft.operators.text.Chunker.run(table,
          window = f.getOrElse("window", "512").toInt,
          stride = f.getOrElse("stride", "384").toInt,
          textCol = f.getOrElse("text-col", "text"),
          idCol = f.getOrElse("id", "doc_id"))
      case "vectorize" =>
        // feature-hashed text vectors: the model-free docs→embeddings
        // bridge (output = embeddings-table schema)
        graft.operators.text.TextVectors.run(table,
          dim = f.getOrElse("dim", "64").toInt,
          textCol = f.getOrElse("text-col", "text"),
          idCol = f.getOrElse("id", "doc_id"))
      case "ann-advisor" =>
        // per-cell tie-mass diagnostic over an embedding table: which
        // ANN index fits each neighborhood regime (round 15)
        graft.operators.similarity.Similarity.AnnAdvisor.run(table,
          k = f.getOrElse("k", "10").toInt,
          nCells = f.getOrElse("cells", "32").toInt,
          vecCol = f.getOrElse("vec-col", "embedding"),
          idCol = f.getOrElse("id", "vec_id"))
      case "html-extract" =>
        // HTML → main text (tag strip + entity decode + short-line rule)
        graft.operators.text.HtmlExtract.run(table,
          minLineWords = f.getOrElse("min-line-words", "4").toInt,
          htmlCol = f.getOrElse("html-col", "html"),
          idCol = f.getOrElse("id", "doc_id"))
      case "semantic-dedup" =>
        // SemDeDup over an embedding column (trained IVF cells)
        graft.operators.dedup.SemanticDedup.run(table,
          threshold = f.getOrElse("threshold", "0.9").toDouble,
          nCells = f.getOrElse("cells", "32").toInt,
          vecCol = f.getOrElse("vec-col", "embedding"),
          idCol = f.getOrElse("id", "vec_id"))
      case "decontaminate" =>
        // --probes-file: one benchmark/test-set string per line
        val probes = java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get(flag("probes-file")))
          .toArray(Array.empty[String]).toSeq
        val t = table
        requireIntegralId(t, f.getOrElse("id", "doc_id"))
        graft.operators.text.Decontaminate.flag(t, probes,
          textCol = f.getOrElse("text-col", "text"),
          idCol = f.getOrElse("id", "doc_id"))
      case "mixture" =>
        // --budgets source:tokens,source:tokens — per-source token
        // targets; sources not named are dropped
        val budgets = flag("budgets").split(",").toSeq.map { pair =>
          pair.split(":") match {
            case Array(s, b) => s -> b.toLong
            case _ => sys.error(s"bad --budgets entry '$pair' (source:tokens)")
          }
        }.toMap
        val mt = table
        requireIntegralId(mt, f.getOrElse("id", "doc_id"))
        Mixture.sample(mt, budgets,
          sourceCol = f.getOrElse("source-col", "source"),
          tokensCol = f.getOrElse("tokens-col", "n_tokens"),
          idCol = f.getOrElse("id", "doc_id"))
      case "pack" =>
        // sequence packing: --tokens-col names an integral column
        // (default n_tokens); --capacity the per-pack token budget
        val pt = table
        requireIntegralId(pt, f.getOrElse("id", "doc_id"))
        graft.operators.Packing.packs(pt,
          capacity = f.getOrElse("capacity", "2048").toLong,
          tokensCol = f.getOrElse("tokens-col", "n_tokens"),
          idCol = f.getOrElse("id", "doc_id"),
          nGroups = f.getOrElse("groups",
            graft.operators.Packing.DefaultGroups.toString).toInt)
      case "dedup-audit" =>
        // scale-safety audit: band buckets whose DISTINCT-content
        // population exceeds the hot-bucket cap. Those buckets are
        // SKIPPED by dedup (recall loss, never precision loss) — a
        // non-empty report means inspect the colliding content class
        // or raise --max-bucket deliberately, with this evidence.
        Dedup.MinHashDedup.heavyBuckets(table,
          maxBucket = f.getOrElse("max-bucket",
            Dedup.MinHashDedup.DefaultMaxBucket.toString).toInt)
      case "sessionize" =>
        Sessionize.sessions(Tables(spark, dir, "events"),
          f.getOrElse("gap-minutes", "120").toInt)
      case other => sys.error(s"unknown tool '$other'\n$usage")
    }

    f.get("out") match {
      case Some(out) =>
        // Partitioned write by default — dedup/sessionize output at scale
        // must not funnel through one task. `--single-file true` opts in
        // to the reference's one-report-file shape for small results.
        val target =
          if (f.get("single-file").contains("true")) result.coalesce(1) else result
        f.getOrElse("format", "parquet") match {
          case "parquet" => target.write.mode("overwrite").parquet(out)
          case "csv" =>
            // reference tools write CSV reports (utils.py write-csv)
            target.write.mode("overwrite").option("header", "true").csv(out)
          case "html" =>
            // reference HTMLReport (utils.py:462-660): one tabbed,
            // self-contained file — the human-facing artifact; bounded
            // collect, never a data sink (see HtmlReport)
            new HtmlReport(title = s"graft $tool")
              .addTab(tool, result)
              .save(if (out.endsWith(".html")) out else s"$out/report.html")
          case bad => sys.error(s"unknown --format '$bad' (parquet|csv|html)")
        }
      case None => result.show(100, truncate = false)
    }
  }
}
