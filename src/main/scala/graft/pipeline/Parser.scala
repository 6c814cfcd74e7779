package graft.pipeline

import graft.connect.Connector
import graft.ops._
import graft.pipeline.Binder.bind
import org.apache.spark.sql.SaveMode

/** Pipeline-config parser: a config document → validated `Pipeline`.
  *
  * Mirrors the reference's declarative entry point
  * (ref: ArcPipeline.parseConfig usage, CassandraLoadSuite.scala:126; stage
  * shape in src/it/resources/arc.json:2-29): a top-level `stages` array,
  * each stage an object with a `type` discriminator resolved through a
  * registry (ref: ServiceLoader registration,
  * META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3), typed
  * field validation with error ACCUMULATION (every problem reported at
  * once, ref: CassandraExtract.scala:59-62), and per-stage `environments`
  * filtering (ref: arc.json:6-9).
  *
  * Configs are HOCON ([[Hocon]] — the reference is HOCON-first and its
  * arc.json files are the JSON subset), and every error carries the source
  * LINE of the offending key (`stages[2].saveMode: line 14: invalid
  * value ...` — ref parity: CassandraExtract.scala:59-62 reports HOCON
  * line numbers).
  *
  * A stage's config keys are its case class's constructor parameters
  * ([[Binder]]): name, type and default are declared once, there. A key
  * no factory reads is rejected as unknown.
  *
  * Storage is injected: `connectors` maps the config's `connection` name to
  * a [[graft.connect.Connector]] (parquet in CI, Cassandra in production).
  */
object Parser {

  type StageFactory = (ConfigReader, Map[String, Connector]) => Stage

  /** Per-stage method/analysis enum inventory — the ONE source both the
    * stage factories below and DeclarativeParitySpec read. Every shipped
    * operator's declarative route terminates in one of these values, so
    * a new operator that is not added here fails the parity spec — the
    * mechanical stop for the round-16/17 "method-enum lag" failure mode
    * (an operator shipped with a gate query but unreachable from parsed
    * config).
    */
  val methodEnums: Map[String, Seq[String]] = Map(
    "DedupTransform" -> Seq(
      "exact", "exact_incremental", "minhash", "minhash_pairs",
      "oph_pairs", "minhash_cc", "minhash_cc_apply", "simhash",
      "simhash_pairs", "ngram_pairs", "prefix_pairs", "edit_pairs",
      "jw_pairs", "passages", "containment_pairs",
      "containment_stratified", "weighted_pairs", "knn", "keep_best",
      "cluster_stats", "minhash_incremental"),
    "SimilarityTransform" -> Seq(
      "topk", "maxsim", "ann", "ivf", "kmeans", "medoids", "kcenter",
      "neardup_pairs", "dbscan", "silhouette", "pair_quality",
      "standardize", "quantize", "project", "semantic_dedup",
      "hard_negatives", "ann_recall", "pca_cov", "health", "bitext",
      "bitext_scalable", "pq_topk", "hamming_topk", "hamming_pairs",
      "pq_recall", "opq_recall", "ivf_pq_topk", "ivf_write", "ivf_query",
      "pca_components"),
    "ContaminationTransform" -> Seq(
      "check", "novelty", "novelty_bloom", "novelty_bloom_big"),
    "ProfileTransform" -> Seq(
      "table", "histogram", "bucketize", "winsorize", "outliers",
      "outliers_mad", "correlation", "linear_fit", "percentile_rank",
      "benford", "trimmed_mean", "corpus_report", "correlation_matrix",
      "gini"),
    "RetrievalTransform" -> Seq(
      "index", "bm25", "rrf", "rank_eval", "qld", "rm3"),
    "PiiTransform" -> Seq(
      "stats", "scrub", "kanon", "suppress", "noisy_counts", "ldiversity",
      "tcloseness", "pseudonymize", "pseudonym_audit",
      "randomized_response"),
    "ClassifyTransform" -> Seq(
      "train_score", "auc", "confusion", "calibration", "agreement",
      "mcnemar", "conformal", "krippendorff"),
    "GraphTransform" -> Seq(
      "pagerank", "katz", "hits", "triangles", "cooccur_edges", "kcore",
      "ktruss", "lpa",
      "link_pred", "ppr", "cc", "ball", "harmonic", "nf", "modularity",
      "assortativity", "scc", "topo_layers", "walks", "clustering",
      "reciprocity", "degree_alpha"),
    "BehaviorTransform" -> Seq(
      "funnel", "cohort", "transitions", "attribution",
      "attribution_decay", "basket", "rate_cap", "debounce", "throttle",
      "survival", "top_paths"),
    "DataQualityTransform" -> Seq(
      "rules", "linkage", "join_skew", "referential", "fd", "impute",
      "reconcile"),
    "DriftTransform" -> Seq(
      "ks", "tv", "centroid", "profile", "permutation", "cuped", "srm",
      "heavy_terms", "bh", "bootstrap", "mannwhitney", "chi2", "spearman",
      "wilcoxon", "kruskal", "anova", "levene", "welch", "fisher",
      "proportions", "segments", "psi", "jsd", "wasserstein", "ks_grouped",
      "wasserstein_grouped", "bootstrap_lift", "sequential",
      "welch_segments", "sequential_mean", "ks_test", "hodges_lehmann",
      "mi", "post_stratified", "ratio_delta", "tost", "power", "yuen",
      "cmh", "did"),
    "Snapshot" -> Seq(
      "publish", "read", "vacuum"),
    "AggStateTransform" -> Seq(
      "state", "merge"),
    "SampleTransform" -> Seq(
      "deterministic", "stratified", "per_stratum_head", "shard_by_budget",
      "upsample", "weighted_topk", "negative", "shuffle", "pack",
      "rebalance", "top_fraction", "token_cap", "temperature",
      "systematic", "ordinal", "top_stratum", "importance", "rendezvous",
      "pareto", "split", "leakage_safe_split", "shard_manifest"),
    "TextAnalysisTransform" -> Seq(
      "quality", "quality_filter", "normalize", "chunk", "tokens",
      "langid", "fingerprint", "langdist", "repetition", "tfidf",
      "quality_score", "lm_score", "dup_spans", "dup_runs", "keyness",
      "head_coverage", "entropy", "bpe_pairs", "pmi", "blocklist",
      "bpe_apply", "bpe_fertility", "boilerplate", "ttr", "chao1",
      "readability", "zipf", "charclass", "dup_substring",
      "dup_substring_apply", "self_repetition_apply", "script_mix",
      "distinct_n", "vectorize", "bpe_learn", "heavy_hitters",
      "heavy_hitters_grouped", "lang_purity", "ngram_counts", "kn_score",
      "unigram_learn", "unigram_encode", "unigram_fertility",
      "wordpiece_learn", "wordpiece_encode", "wordpiece_fertility",
      "bytebpe_learn", "bytebpe_encode", "bytebpe_fertility",
      "html_extract", "fix_encoding", "nfc", "heaps"),
    "SketchTransform" -> Seq(
      "hll", "kmv", "cms", "hll_intersect", "hll_rolling", "kmv_jaccard",
      "kmv_diff", "join_size"),
    "MultimodalTransform" -> Seq(
      "attach", "meta", "validate", "decode", "frames", "resize",
      "features", "phash", "phash_pairs"),
    "UrlTransform" -> Seq(
      "normalize", "domain_mix", "domain_quality", "domain_filter"),
    "CdcTransform" -> Seq(
      "upsert", "scd2", "derive", "changed_keys"),
    "GapfillTransform" -> Seq(
      "gapfill", "cusum", "utilization", "seasonal", "ewma", "holt",
      "changepoint", "forecast_eval", "seasonal_weekly", "anomaly_weekly",
      "acf", "mann_kendall", "theil_sen", "rolling", "rolling_median",
      "dtw"),
    "EncodeTransform" -> Seq(
      "encode", "vocab", "target_loo", "woe"),
    "ZorderTransform" -> Seq(
      "manifest", "write", "hilbert_manifest", "hilbert_write", "delete"),
    "StreamingLoad" -> Seq("load", "ivf_append", "drift_append"))

  private val SaveModes = Seq("Append", "ErrorIfExists", "Ignore", "Overwrite")

  /** Built-in stage registry; extensible like the reference's plugin list.
    * Most stage types bind straight from their case class
    * ([[Binder.bind]]), with a check for the cross-field rules a parameter
    * type cannot express; the factories written out by hand read keys that
    * are not one-to-one with fields.
    */
  val defaultRegistry: Map[String, StageFactory] = Map(
    "Extract" -> { (r, conns) =>
      ExtractStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        table = r.requiredString("table"),
        outputView = r.requiredString("outputView"),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        persist = r.boolean("persist").getOrElse(false),
        options = r.stringMap("params"))
    },
    "Load" -> { (r, conns) =>
      LoadStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        inputView = r.requiredString("inputView"),
        table = r.requiredString("table"),
        saveMode = SaveMode.valueOf(
          r.oneOf("saveMode", SaveModes).getOrElse("Overwrite")),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        options = r.stringMap("params"))
    },
    "SqlTransform" -> { (r, _) =>
      SqlTransformStage(
        name = r.requiredString("name"),
        sql = sqlOf(r),
        outputView = r.requiredString("outputView"),
        sqlParams = r.stringMap("sqlParams"),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        persist = r.boolean("persist").getOrElse(false))
    },
    "Execute" -> { (r, conns) =>
      ExecuteStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        sql = sqlOf(r),
        sqlParams = r.stringMap("sqlParams"),
        params = r.stringMap("params"))
    },
    "TypingTransform" -> { (r, _) =>
      val (inline, uri) = (r.string("schema"), r.string("schemaURI"))
      TypingTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        schemaJson = inline.orElse(uri.map { u =>
          try Statements.fromUri(u)
          catch {
            case e: Exception =>
              r.error("schemaURI", s"cannot read '$u': ${e.getMessage}"); "[]"
          }
        }).getOrElse {
          r.error("schema", "one of 'schema' or 'schemaURI' is required"); "[]"
        })
    },
    "ZorderTransform" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("ZorderTransform")).getOrElse("manifest")
      val outDir = r.string("outputDir")
      if ((method == "write" || method == "delete") && outDir.isEmpty)
        r.error("outputDir", s"missing; $method requires a target directory")
      // dimensions: the N-column "cols" list (ZORDER BY parity) or the
      // classic xCol/yCol pair — exactly one form. A targeted delete
      // operates on the stored layout and needs no curve columns.
      val colsList = r.stringList("cols")
      if (colsList.nonEmpty && colsList.size < 2)
        r.error("cols", s"need >= 2 columns to interleave, got ${colsList.size}")
      val xy = Seq("xCol", "yCol").map(k => k -> r.string(k))
      val dims =
        if (method == "delete") Nil
        else if (colsList.size >= 2) colsList
        else xy.map { case (k, v) =>
          v.getOrElse { if (!r.has(k)) r.error(k, "missing required option"); "" }
        }
      ZorderTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        cols = dims,
        idCol = r.requiredString("idCol"),
        method = method,
        outputDir = outDir,
        blockSize = r.long("blockSize").getOrElse(4096L),
        bits = r.int("bits").getOrElse(16),
        options = r.stringMap("params"))
    },
    "Snapshot" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("Snapshot")).getOrElse("publish")
      if (method == "publish" && r.string("inputView").isEmpty)
        r.error("inputView", "missing; snapshot publish requires it")
      SnapshotStage(
        name = r.requiredString("name"),
        baseDir = r.requiredString("baseDir"),
        outputView = r.requiredString("outputView"),
        method = method,
        inputView = r.string("inputView"),
        version = r.long("version"),
        keepLast = r.int("keepLast").getOrElse(1),
        confirmTruncate = r.string("confirm.truncate")
          .exists(_.equalsIgnoreCase("true")))
    },
    "StreamingLoad" -> { (r, conns) =>
      val method = r.oneOf("method", methodEnums("StreamingLoad")).getOrElse("load")
      // the connection resolves only when method=load actually needs it
      // (ivf_append writes through the index path, not a connector)
      val conn =
        if (method == "load") Some(connector(r, conns)) else None
      if (method == "load" && r.string("table").isEmpty)
        r.error("table", "missing; load requires a sink table")
      if (method == "ivf_append" && r.string("indexDir").isEmpty)
        r.error("indexDir", "missing; ivf_append requires the index directory")
      if (method == "drift_append" && r.string("storeDir").isEmpty)
        r.error("storeDir", "missing; drift_append requires the partial store")
      if (method == "drift_append" && r.string("referenceView").isEmpty)
        r.error("referenceView", "missing; drift_append fits bounds on it")
      graft.streaming.StreamingLoadStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        checkpointDir = r.requiredString("checkpointDir"),
        connector = conn,
        table = r.string("table").getOrElse(""),
        saveMode = SaveMode.valueOf(
          r.oneOf("saveMode", SaveModes).getOrElse("Append")),
        indexDir = r.string("indexDir").getOrElse(""),
        referenceView = r.string("referenceView").getOrElse(""),
        valueCol = r.string("valueCol").getOrElse("value"),
        nBins = r.int("nBins").getOrElse(10),
        storeDir = r.string("storeDir").getOrElse(""),
        options = r.stringMap("params"))
    },
    "DedupTransform" -> bind[DedupTransformStage](),
    "SimilarityTransform" -> bind[SimilarityTransformStage](),
    "AsofJoinTransform" -> bind[AsofJoinTransformStage] { (r, s) =>
      if (s.keys.isEmpty) r.error("keys", "at least one join key is required")
    },
    "SaltedJoinTransform" -> bind[SaltedJoinTransformStage] { (r, s) =>
      if (s.keys.isEmpty) r.error("keys", "at least one join key is required")
    },
    "RangeJoinTransform" -> bind[RangeJoinTransformStage](),
    "ContaminationTransform" -> bind[ContaminationTransformStage](),
    "ProfileTransform" -> bind[ProfileTransformStage] { (r, s) =>
      // a group-keyed pass without byCols would only fail at runtime
      // (require in the operator) — fail at parse instead
      if ((s.method.startsWith("outliers") || Set("correlation", "linear_fit",
          "gini", "percentile_rank", "trimmed_mean")(s.method)) && s.byCols.isEmpty)
        r.error("byCols", s"missing or empty; ${s.method} requires group columns")
    },
    "RetrievalTransform" -> bind[RetrievalTransformStage] { (r, s) =>
      // bm25 without terms / rrf without lists would only surface at
      // runtime — fail at parse
      if (Set("bm25", "qld", "rm3")(s.method) && s.queryTerms.isEmpty)
        r.error("queryTerms", s"missing or empty; ${s.method} requires query terms")
      if (s.method == "rrf" && s.rankViews.isEmpty)
        r.error("rankViews", "missing or empty; rrf requires ranked-list views")
      if (s.method == "rank_eval" && s.qrelsView.isEmpty)
        r.error("qrelsView", "missing; rank_eval requires a qrels view")
    },
    "PiiTransform" -> bind[PiiTransformStage](),
    "ClassifyTransform" -> bind[ClassifyTransformStage] { (r, s) =>
      if (s.method == "conformal" && s.rightView.isEmpty)
        r.error("rightView", "missing; conformal needs the test view")
      if (s.method == "krippendorff" && s.raterCols.size < 2)
        r.error("raterCols", "missing or < 2; krippendorff needs raters")
    },
    "GraphTransform" -> bind[GraphTransformStage](),
    "BehaviorTransform" -> bind[BehaviorTransformStage] { (r, s) =>
      if (s.method == "funnel" && s.steps.size < 2)
        r.error("steps", "funnel requires >= 2 steps")
    },
    "DataQualityTransform" -> bind[DataQualityTransformStage] { (r, s) =>
      if (s.method == "rules" && s.rules.isEmpty)
        r.error("rules", "missing or empty; method 'rules' requires them")
      if ((s.method == "join_skew" || s.method == "referential") && s.rightView.isEmpty)
        r.error("rightView", s"missing; ${s.method} requires a right view")
      if (s.method == "fd" && s.lhs.isEmpty)
        r.error("lhs", "missing or empty; method 'fd' requires determinant columns")
      if (s.method == "impute" && s.lhs.isEmpty)
        r.error("lhs", "missing or empty; method 'impute' requires group columns")
    },
    "DriftTransform" -> bind[DriftTransformStage] { (r, s) =>
      // cuped/srm and the other single-view methods ignore rightView; the
      // two-sample methods need the after side
      if (!Set("cuped", "srm", "bh", "bootstrap", "chi2", "spearman",
          "wilcoxon", "kruskal", "anova", "levene", "fisher", "proportions",
          "segments", "sequential", "welch_segments", "sequential_mean",
          "ratio_delta", "cmh", "did")(s.method) && !r.has("rightView"))
        r.error("rightView", "missing required option")
      if (s.method == "srm" && s.expected.isEmpty)
        r.error("expected", "missing; srm requires the designed arm weights")
      if (Set("proportions", "segments", "sequential", "welch_segments",
          "sequential_mean", "ratio_delta", "cmh", "did")(s.method)) {
        if (s.armA.isEmpty)
          r.error("armA", s"missing; ${s.method} requires both arm names")
        if (s.armB.isEmpty)
          r.error("armB", s"missing; ${s.method} requires both arm names")
      }
      if (s.method == "tost" && !r.has("margin"))
        r.error("margin", "missing; tost requires the equivalence margin")
    },
    "AggStateTransform" -> bind[AggStateTransformStage] { (r, s) =>
      if (s.keys.isEmpty) r.error("keys", "missing or empty")
      if (s.method == "state" && s.sumCols.isEmpty)
        r.error("sumCols", "missing or empty; 'state' requires value columns")
    },
    "BloomJoinTransform" -> bind[BloomJoinTransformStage](),
    "CompactFiles" -> bind[CompactFilesStage](),
    "SampleTransform" -> bind[SampleTransformStage](),
    "TextAnalysisTransform" -> bind[TextAnalysisTransformStage](),
    "AssembleTransform" -> bind[AssembleTransformStage] { (r, s) =>
      // ordering is the stage's determinism contract: an empty list would
      // surface at runtime as an opaque AnalysisException from row_number
      // over an unordered window — fail at config time instead
      if (s.orderCols.isEmpty)
        r.error("orderCols", "missing or empty; at least one ordering column is required")
    },
    "EncodeTransform" -> bind[EncodeTransformStage] { (r, s) =>
      if (Set("vocab", "target_loo", "woe")(s.method) && s.columns.isEmpty)
        r.error("columns", s"missing or empty; ${s.method} reads columns[0]")
    },
    "SketchTransform" -> bind[SketchTransformStage] { (r, s) =>
      // a grouped-HLL without groupCols would only surface at runtime
      if ((s.method == "hll" || s.method == "hll_intersect") && s.groupCols.isEmpty)
        r.error("groupCols", s"missing or empty; ${s.method} requires group columns")
      if ((s.method == "hll_intersect" || s.method == "kmv_jaccard") && s.otherView.isEmpty)
        r.error("otherView", s"missing; ${s.method} needs the B-side view")
    },
    "MultimodalTransform" -> bind[MultimodalTransformStage](),
    "UrlTransform" -> bind[UrlTransformStage](),
    "CdcTransform" -> bind[CdcTransformStage] { (r, s) =>
      if (s.method == "upsert" && s.changesView.isEmpty)
        r.error("changesView", "missing; upsert requires a change-feed view")
      if ((s.method == "derive" || s.method == "changed_keys") && s.nextView.isEmpty)
        r.error("nextView", s"missing; ${s.method} requires the next-snapshot view")
    },
    "GapfillTransform" -> bind[GapfillTransformStage](),
    "StreamingExtract" -> bind[graft.streaming.StreamingExtractStage]()
  )

  /** Classpath-discovered [[StagePlugin]]s (ServiceLoader, ref parity:
    * META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3).
    * Recomputed per call so a test-installed context classloader is
    * honored; a broken provider degrades to a warning, never a parse
    * failure for configs that don't use it.
    */
  def discoveredPlugins(): Seq[StagePlugin] = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    try {
      val cl = Option(Thread.currentThread.getContextClassLoader)
        .getOrElse(classOf[StagePlugin].getClassLoader)
      val it = java.util.ServiceLoader.load(classOf[StagePlugin], cl).iterator()
      // Advance provider-by-provider: ServiceConfigurationError is thrown
      // MID-iteration by the provider that is broken, and must not take the
      // healthy providers before/after it down with it.
      val found = Seq.newBuilder[StagePlugin]
      var more = true
      var errs = 0
      while (more && errs < 64) { // bound: a hasNext that throws repeatedly must not spin forever
        try {
          more = it.hasNext
          if (more) found += it.next()
        } catch {
          case e: java.util.ServiceConfigurationError =>
            errs += 1
            log.warn(s"skipping broken stage plugin provider: ${e.getMessage}")
        }
      }
      found.result()
    } catch {
      case e: Throwable =>
        log.warn(s"stage plugin discovery failed: ${e.getMessage}")
        Seq.empty
    }
  }

  /** Statement text comes inline (`sql`) or from a URI (`inputURI`)
    * resolved at CONFIG time (ref: CassandraExecute.scala:31-32). Read and
    * parse failures are ACCUMULATED as config errors, never thrown — the
    * parse contract is `Either`, not exceptions.
    */
  private def sqlOf(r: ConfigReader): String =
    (r.string("sql"), r.string("inputURI"), r.stringMap("authentication")) match {
      case (Some(s), _, _) => s
      case (None, Some(uri), auth) =>
        try Statements.fromUri(uri, auth)
        catch {
          case e: Exception =>
            r.error("inputURI", s"cannot read '$uri': ${e.getMessage}"); ""
        }
      case (None, None, _) =>
        r.error("sql", "one of 'sql' or 'inputURI' is required"); ""
    }

  /** Connection lookup failure is always a config error — a null connector
    * surfacing later as an NPE at run time would hide the real problem.
    */
  private def connector(r: ConfigReader, conns: Map[String, Connector]): Connector = {
    val name = r.string("connection").getOrElse("default")
    conns.getOrElse(name, {
      r.error("connection",
        s"unknown connection '$name'; have ${if (conns.isEmpty) "(none)" else conns.keySet.toSeq.sorted.mkString(", ")}")
      null
    })
  }

  /** Keys valid on every stage, whether or not its factory reads them. */
  private val commonKeys = Set("type", "name", "environments", "connection")

  def parse(
      json: String,
      connectors: Map[String, Connector],
      registry: Map[String, StageFactory] = defaultRegistry): Either[List[ConfigError], Pipeline] = {
    val doc = Hocon.parse(json) match {
      case Left(err) => return Left(List(err))
      case Right(d)  => d
    }
    // `line N:` prefix from the parse's key-path positions; a missing
    // key's error anchors to its stage object's line.
    def at(stagePath: String, key: String, message: String): ConfigError = {
      val ln = doc.lines.get(s"$stagePath.$key").orElse(doc.lines.get(stagePath))
      ConfigError(s"$stagePath.$key", ln.fold(message)(l => s"line $l: $message"))
    }
    val stageVals: Seq[Any] = doc.root.get("stages") match {
      case Some(xs: List[_]) => xs
      case _ => return Left(List(ConfigError("stages", "top-level 'stages' array is required")))
    }
    // classpath plugins extend the registry; explicit/built-in entries win
    // on collision (a plugin must not silently replace a contract stage)
    val plugins = discoveredPlugins()
    val fullRegistry = plugins.map(p => p.stageType -> p.factory).toMap ++ registry
    val parsed = stageVals.zipWithIndex.map {
      case (m: Map[_, _], i) =>
        val conf = m.asInstanceOf[Map[String, Any]]
        val r = new ConfigReader(conf)
        val tpe = r.requiredString("type")
        fullRegistry.get(tpe) match {
          case None =>
            Left(List(at(s"stages[$i]", "type",
              s"unknown stage type '$tpe'; registered: ${fullRegistry.keySet.toSeq.sorted.mkString(", ")}")))
          case Some(factory) =>
            val envs = r.stringList("environments")
            val stage = factory(r, connectors)
            // the keys a stage accepts are the keys its factory read
            r.rejectUnasked(commonKeys)
            r.result(StageDef(stage, envs)).left.map(_.map(e =>
              at(s"stages[$i]", e.key, e.message)))
        }
      case (_, i) => Left(List(ConfigError(s"stages[$i]", "stage must be an object")))
    }
    val errors = parsed.collect { case Left(es) => es }.flatten
    if (errors.nonEmpty) Left(errors.toList)
    else Right(Pipeline(parsed.collect { case Right(sd) => sd }))
  }
}
