package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline._

/** Config-driven pipeline stages wrapping the LLM-data-pipeline operators
  * (SURVEY §2.3), so a declarative JSON pipeline can run dedup/similarity/
  * text-analysis between Extract and Load exactly like the reference's
  * stages run between its extract and load. Thin: all semantics live in
  * [[Dedup]], [[Similarity]], [[TextAnalysis]].
  */
final case class DedupTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "exact",
    idCol: String = "doc_id",
    textCol: String = "text",
    keys: Seq[String] = Nil,
    blockCols: Seq[String] = Nil,
    // None -> the library default for the chosen method (0.9 for minhash,
    // 0.7 for ngram_pairs) — a single stage-level default would silently
    // override the per-method documentation.
    threshold: Option[Double] = None,
    // None -> 128 for containment_stratified (its level-2 recall is
    // 1-(1-j)^k, so it spends a longer signature), 64 otherwise
    minhashK: Option[Int] = None,
    bands: Int = 16,
    rows: Int = 4,
    shingleN: Int = 3,
    ngramN: Int = 5,
    bucketWidth: Int = 50,
    sampleMod: Int = 4,
    maxHamming: Int = 3,
    maxBucket: Int = 4096,
    maxBlock: Int = 1024,
    lshBands: Int = 8,
    maxIter: Int = 25,
    window: Int = 8,
    maxDist: Int = 5,
    byDigest: Boolean = false,
    checkpointDir: Option[String] = None,
    seenView: Option[String] = None,
    // weighted_pairs: term-frequency cap of the multiset expansion
    maxTf: Int = 16,
    // keep_best / cluster_stats: the (doc_id, component) view a prior
    // connectedComponents pass registered
    componentsView: Option[String] = None,
    // keep_best: the per-doc quality score the cluster winner maximizes
    scoreCol: String = "score")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    val sigK = minhashK.getOrElse(
      if (method == "containment_stratified") 128 else 64)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "exact" =>
        Dedup.exact(in, if (keys.nonEmpty) keys else Seq(textCol), Seq(idCol),
          byDigest)
      // ingest-batch dedup vs a persisted history view (digested here)
      case "exact_incremental" =>
        val seen = seenView.getOrElse(throw new IllegalArgumentException(
          "dedup method 'exact_incremental' requires 'seenView'"))
        val ks = if (keys.nonEmpty) keys else Seq(textCol)
        Dedup.exactIncremental(in,
          Dedup.digests(Views.resolve(seen), ks), ks, Seq(idCol))
      case "minhash" => Dedup.minhashApply(in, idCol, textCol,
        sigK, bands, rows, shingleN, threshold.getOrElse(0.9))
      case "minhash_pairs" => Dedup.minhashPairs(in, idCol, textCol,
        sigK, bands, rows, shingleN, threshold.getOrElse(0.9))
      // one-permutation signature (k-times-cheaper narrow pass)
      case "oph_pairs" => Dedup.minhashPairsOPH(in, idCol, textCol,
        sigK, bands, rows, shingleN, threshold.getOrElse(0.9))
      // the production dedup-cluster path: near-dup pairs grouped into
      // components, one canonical (min) id per cluster
      case "minhash_cc" => Dedup.connectedComponents(
        Dedup.minhashPairs(in, idCol, textCol,
          sigK, bands, rows, shingleN, threshold.getOrElse(0.9)),
        maxIter, checkpointDir)
      // full production dedup: cluster, then keep one doc per cluster
      case "minhash_cc_apply" =>
        Dedup.ccApply(in,
          Dedup.connectedComponents(
            Dedup.minhashPairs(in, idCol, textCol,
              sigK, bands, rows, shingleN, threshold.getOrElse(0.9)),
            maxIter, checkpointDir),
          idCol)
      // asymmetric containment over the same MinHash-LSH candidates
      case "containment_pairs" => Dedup.containmentPairs(in, idCol, textCol,
        sigK, bands, rows, shingleN, threshold.getOrElse(0.7))
      // tf-weighted multiset Jaccard (bag-of-words near-dup); the 0.5
      // fallback mirrors Dedup.weightedJaccardPairs' own default so
      // config users and API users get the same cut-off
      case "weighted_pairs" =>
        Dedup.weightedJaccardPairs(in, idCol, textCol, sigK, bands,
          rows, threshold.getOrElse(0.5), maxTf)
      // LSH-Ensemble stratified banding: the size-skew recall path
      case "containment_stratified" =>
        Dedup.containmentPairsStratified(in, idCol, textCol, sigK,
          shingleN, threshold.getOrElse(0.7), maxBucket)
      // text k-NN over the same candidates (window = k neighbors)
      case "knn" => Dedup.knnJaccard(in, idCol, textCol, window,
        sigK, bands, rows, shingleN)
      case "simhash"       => Dedup.simhashFingerprints(in, idCol, textCol)
      case "simhash_pairs" =>
        Dedup.simhashPairs(in, idCol, textCol, maxHamming, maxBucket)
      case "ngram_pairs" =>
        Dedup.ngramJaccardPairs(in, idCol, textCol, blockCols, ngramN,
          bucketWidth, threshold.getOrElse(0.7), sampleMod, maxBlock, lshBands)
      // exact-recall prefix-filtered Jaccard (the LSH-free alternative)
      case "prefix_pairs" =>
        Dedup.prefixJaccardPairs(in, idCol, textCol, ngramN, sampleMod,
          threshold.getOrElse(0.5))
      case "edit_pairs" =>
        Dedup.editDistancePairs(in, idCol, textCol, blockCols, maxDist,
          bucketWidth, maxBlock)
      // Jaro-Winkler record-linkage tier (threshold = min similarity)
      case "jw_pairs" =>
        Dedup.jaroWinklerPairs(in, idCol, textCol, blockCols,
          threshold.getOrElse(0.9), bucketWidth, maxBlock)
      case "passages" =>
        Dedup.passages(in, idCol, textCol, window)
      // ingest-batch near-dup candidates vs a persisted seen corpus
      case "minhash_incremental" =>
        val seen = seenView.getOrElse(throw new IllegalArgumentException(
          "dedup method 'minhash_incremental' requires 'seenView'"))
        Dedup.minhashIncrementalPairs(in, Views.resolve(seen), idCol,
          textCol, sigK, bands, rows, shingleN,
          threshold.getOrElse(0.9))
      // score-aware cluster collapse: keep the best-scoring doc per
      // component (componentsView = a connectedComponents output view)
      case "keep_best" =>
        val comp = componentsView.getOrElse(throw new IllegalArgumentException(
          "dedup method 'keep_best' requires 'componentsView'"))
        Dedup.keepBest(in, Views.resolve(comp), idCol, scoreCol)
      // dedup-budget readout: cluster-size histogram + singleton mass
      case "cluster_stats" =>
        val comp = componentsView.getOrElse(throw new IllegalArgumentException(
          "dedup method 'cluster_stats' requires 'componentsView'"))
        Dedup.clusterStats(in, Views.resolve(comp))
      case other =>
        throw new IllegalArgumentException(s"unknown dedup method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class SimilarityTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "topk",
    queryView: Option[String] = None,
    k: Int = 5,
    threshold: Double = 0.95,
    centroidEvery: Int = 100,
    maxBucket: Int = 4096,
    kmeansIters: Int = 2,
    // None -> the per-method library default (ann bands 16x4, neardup 8x8)
    nBits: Option[Int] = None,
    bands: Option[Int] = None,
    rows: Option[Int] = None,
    // ivf only: bit-deterministic sequential-sum centroids (oracle replay)
    exactReplay: Boolean = false,
    // ivf only: number of nearest cells each query scans (recall knob)
    probes: Int = 1,
    // quantize only: code levels (256 = int8)
    levels: Int = 256,
    // project only: input/output dimensionality of the sign projection
    inDim: Int = 64,
    outDim: Int = 16,
    // bitext family: the margin-criterion quality bar
    minMargin: Double = 0.01,
    // pq_topk: subspace count (subDim = inDim / subspaces)
    subspaces: Int = 8,
    // ivf_write / ivf_query: the persisted cell-partitioned index dir
    indexDir: Option[String] = None,
    // ivf_write: writer options (the destructive confirm.truncate latch)
    params: Map[String, String] = Map.empty,
    // pair_quality: the ground-truth grouping column
    labelCol: String = "label",
    // pq_recall / opq_recall / ivf_pq_topk: PQ codebook training rounds
    // (the operators' own default, separate from the cell kmeansIters)
    pqIters: Int = 1)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val corpus = Views.resolve(inputView)
    val queries = queryView.map(Views.resolve).getOrElse(corpus)
    detail += "method" -> method
    detail += "inputView" -> inputView
    val out = method match {
      case "topk"          => Similarity.bruteTopK(corpus, queries, k)
      // late-interaction MaxSim: inputView = corpus token vectors
      // (doc_id, embedding), queryView = query tokens (q_id, q_tok,
      // embedding)
      case "maxsim"        => Similarity.maxSimTopK(corpus, queries, k)
      // first-class k-means: (vec_id, cell, cell_size)
      case "kmeans"        =>
        Similarity.kmeans(corpus, centroidEvery, kmeansIters, exactReplay)
      // per-cell best real representative (coreset selection)
      case "medoids"       =>
        Similarity.medoids(corpus, centroidEvery, kmeansIters, exactReplay)
      // greedy farthest-point k-center cover (global diversity coreset)
      case "kcenter"       => Similarity.kcenter(corpus, k)
      // binary sign-code search: 8-byte packed codes, xor+popcount rank
      case "hamming_topk"  =>
        Similarity.hammingTopK(corpus, queries, k, nBits.getOrElse(64))
      // corpus-wide banded Hamming pairs; k doubles as the radius
      case "hamming_pairs" =>
        Similarity.hammingNeighbors(corpus, maxHamming = k, maxBucket)
      case "ann"           => Similarity.annTopK(corpus, queries, k,
        nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4))
      case "ivf"           =>
        Similarity.ivfTopK(corpus, queries, k, centroidEvery, kmeansIters,
          exactReplay, probes)
      case "neardup_pairs" =>
        Similarity.nearDupPairs(corpus, threshold, nBits.getOrElse(64),
          bands.getOrElse(8), rows.getOrElse(8), maxBucket)
      // DBSCAN density clustering; threshold = cosine ε, k = minPts
      case "dbscan" =>
        Similarity.dbscan(corpus, threshold, k, nBits.getOrElse(64),
          bands.getOrElse(8), rows.getOrElse(8), maxBucket)
      // per-cell simplified silhouette over the shared k-means cells
      case "silhouette" =>
        Similarity.silhouette(corpus, centroidEvery, kmeansIters,
          exactReplay)
      // dedup-decision audit vs ground-truth labels
      case "pair_quality" =>
        Similarity.pairQuality(corpus, threshold, labelCol,
          nBits.getOrElse(64), bands.getOrElse(8), rows.getOrElse(8),
          maxBucket)
      case "standardize"   => Similarity.standardize(corpus)
      case "quantize"      => Similarity.quantize(corpus, levels)
      case "project"       => Similarity.projectSigned(corpus, inDim, outDim)
      case "semantic_dedup" =>
        Similarity.semanticDedup(corpus, threshold, centroidEvery,
          kmeansIters)
      case "hard_negatives" => Similarity.hardNegatives(corpus, queries, k)
      case "ann_recall"     => Similarity.annRecall(corpus, queries, k,
        nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4))
      // exact fixed-point covariance (inDim = embedding dimensionality);
      // eigen + projection are programmatic (dim^2-bounded driver work)
      case "pca_cov"        => Pca.covariance(corpus, dim = inDim)
      // one-row vector-table health screen (inDim = expected dimension)
      case "health"         =>
        Similarity.embeddingHealth(corpus, dim = inDim)
      // margin-criterion bitext mining: queryView = the mined side,
      // inputView = the candidate-translation side. Plain form is the
      // small-query-side BNL; _scalable takes two large sides via
      // sign-LSH candidates
      case "bitext" => Similarity.bitextMine(queries, corpus, minMargin)
      case "bitext_scalable" =>
        Similarity.bitextMineScalable(queries, corpus, minMargin,
          nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4),
          maxBucket)
      // product quantization: train + encode + ADC search in one stage
      // (inDim must be divisible by subspaces)
      case "pq_topk" =>
        require(inDim % subspaces == 0,
          s"inDim $inDim not divisible by subspaces $subspaces")
        val subDim = inDim / subspaces
        val cbooks = Pq.train(corpus, subspaces, subDim, centroidEvery,
          kmeansIters)
        Pq.adcTopK(Pq.encode(corpus, cbooks, subspaces, subDim), cbooks,
          queries, k, subspaces, subDim)
      // PQ recall gauge vs exact full-width truth (ships beside pq_topk)
      case "pq_recall" =>
        require(inDim % subspaces == 0,
          s"inDim $inDim not divisible by subspaces $subspaces")
        Pq.adcRecall(corpus, queries, k, subspaces, inDim / subspaces,
          centroidEvery, pqIters)
      // OPQ (rotated-PQ) recall gauge — rotation trained in-stage
      case "opq_recall" =>
        require(inDim % subspaces == 0,
          s"inDim $inDim not divisible by subspaces $subspaces")
        Pq.adcRecallOpq(corpus, queries, k, subspaces, inDim / subspaces,
          centroidEvery, pqIters)
      // IVF cells x PQ codes: prune WHERE to look, compress WHAT compares
      case "ivf_pq_topk" =>
        require(inDim % subspaces == 0,
          s"inDim $inDim not divisible by subspaces $subspaces")
        Pq.ivfAdcTopK(corpus, queries, k, centroidEvery, kmeansIters,
          probes, subspaces, inDim / subspaces, pqIters = pqIters)
      // persisted cell-partitioned IVF index lifecycle: write ...
      case "ivf_write" =>
        val dir = indexDir.getOrElse(throw new IllegalArgumentException(
          "similarity method 'ivf_write' requires 'indexDir'"))
        Similarity.ivfWrite(corpus, dir, centroidEvery, kmeansIters,
          exactReplay, params)
      // ... and query (probes = cells scanned per query)
      case "ivf_query" =>
        val dir = indexDir.getOrElse(throw new IllegalArgumentException(
          "similarity method 'ivf_query' requires 'indexDir'"))
        Similarity.ivfQueryIndex(ctx.spark, dir, queries, k, probes)
      // driver-side power-iteration eigen over a pca_cov output view
      // (inDim = dimensionality, k = components)
      case "pca_components" =>
        Pca.principalComponents(corpus, dim = inDim, k = k)
      case other =>
        throw new IllegalArgumentException(s"unknown similarity method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class AsofJoinTransformStage(
    name: String,
    inputView: String, // left side
    rightView: String,
    outputView: String,
    keys: Seq[String] = Nil,
    leftTime: String = "ts",
    rightTime: String = "ts",
    forward: Boolean = false,
    // nearest-direction pick (tolerance in µs for timestamps, native
    // units for numeric time columns); overrides `forward`
    nearest: Boolean = false,
    toleranceMicros: Long = Long.MaxValue)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "rightView" -> rightView
    detail += "outputView" -> outputView
    val out =
      if (nearest)
        Joins.asofNearest(Views.resolve(inputView), Views.resolve(rightView),
          keys, leftTime, rightTime, toleranceMicros)
      else Joins.asof(Views.resolve(inputView), Views.resolve(rightView),
        keys, leftTime, rightTime, forward)
    Views.register(out, outputView)
    Option(out)
  }
}

final case class SaltedJoinTransformStage(
    name: String,
    inputView: String, // left (skewed) side
    rightView: String,
    outputView: String,
    keys: Seq[String] = Nil,
    saltFactor: Int = 8)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "rightView" -> rightView
    detail += "outputView" -> outputView
    val out = Joins.salted(Views.resolve(inputView), Views.resolve(rightView),
      keys, saltFactor)
    Views.register(out, outputView)
    Option(out)
  }
}

final case class RangeJoinTransformStage(
    name: String,
    inputView: String, // left side
    rightView: String,
    outputView: String,
    leftTime: String,
    startCol: String,
    endCol: String,
    keys: Seq[String] = Nil,
    bucketSeconds: Long = 3600,
    // set -> interval-OVERLAP join: left [leftTime, leftEnd] vs right
    // [startCol, endCol], instead of point-in-interval containment
    leftEnd: Option[String] = None)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "rightView" -> rightView
    detail += "outputView" -> outputView
    val out = leftEnd match {
      case Some(le) => Joins.intervalOverlap(Views.resolve(inputView),
        leftTime, le, Views.resolve(rightView), startCol, endCol, keys,
        bucketSeconds)
      case None => Joins.range(Views.resolve(inputView), leftTime,
        Views.resolve(rightView), startCol, endCol, keys, bucketSeconds)
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class ContaminationTransformStage(
    name: String,
    inputView: String, // the corpus
    evalView: String,  // the eval suite (check) / reference corpus (novelty)
    outputView: String,
    method: String = "check",
    idCol: String = "doc_id",
    textCol: String = "text",
    shingleN: Int = 3,
    broadcastEval: Boolean = true,
    // novelty_bloom: bitmap size and probe count
    mBits: Int = 1 << 20,
    k: Int = 5)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "evalView" -> evalView
    detail += "outputView" -> outputView
    val in = Views.resolve(inputView)
    val ref = Views.resolve(evalView)
    val out = method match {
      case "check" =>
        Contamination.check(in, ref, idCol, textCol, shingleN, broadcastEval)
      case "novelty" =>
        Contamination.novelty(in, ref, idCol, textCol, shingleN)
      case "novelty_bloom" =>
        Contamination.noveltyBloom(in, ref, idCol, textCol, shingleN,
          mBits, k)
      // the >2^31-bit scale path: the filter lives as a LONG-array
      // column, never a driver bitset
      case "novelty_bloom_big" =>
        Contamination.noveltyBloomBig(in, ref, idCol, textCol, shingleN,
          mBits.toLong, k)
      case other =>
        throw new IllegalArgumentException(
          s"unknown contamination method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class ProfileTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    columns: Seq[String] = Nil, // empty -> all columns
    exact: Boolean = true,
    method: String = "table",
    valueCol: String = "value",
    idCol: String = "doc_id",
    binWidth: Double = 1.0,
    nBins: Int = 4,
    pLo: Double = 0.05,
    pHi: Double = 0.95,
    byCols: Seq[String] = Nil,
    sigma: Double = 3.0,
    madK: Double = 3.5,
    xCol: String = "x",
    yCol: String = "y",
    // corpus_report column names
    textCol: String = "text",
    langCol: String = "lang",
    sourceCol: String = "source")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    detail += "method" -> method
    val in = Views.resolve(inputView)
    val out = method match {
      case "table" =>
        val cols = if (columns.nonEmpty) columns else in.columns.toSeq
        Profile.table(in, cols, exact)
      case "histogram" => Profile.histogram(in, valueCol, binWidth)
      case "bucketize" => Profile.bucketizeQuantile(in, valueCol, nBins)
      case "winsorize" => Profile.winsorize(in, valueCol, pLo, pHi)
      case "outliers" => Profile.outliers(in, valueCol, byCols, sigma)
      case "outliers_mad" => Profile.outliersMad(in, valueCol, byCols, madK)
      case "correlation" => Profile.correlation(in, xCol, yCol, byCols)
      case "linear_fit" => Profile.linearFit(in, xCol, yCol, byCols)
      case "percentile_rank" =>
        Profile.percentileRank(in, valueCol, idCol, byCols)
      case "benford" => Profile.benford(in, valueCol)
      case "trimmed_mean" =>
        Profile.trimmedMean(in, valueCol, byCols, pLo, pHi)
      case "corpus_report" =>
        Profile.corpusReport(in, idCol, textCol, langCol, sourceCol)
      // exact pairwise Pearson matrix over the listed numeric columns
      case "correlation_matrix" =>
        Profile.correlationMatrix(in, columns)
      // per-group Gini concentration of a non-negative value column
      case "gini" => Profile.gini(in, valueCol, byCols)
      case other => throw new IllegalArgumentException(
        s"unknown profile method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class SampleTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "deterministic",
    idCol: String = "doc_id",
    rate: Double = 1.0,
    salt: String = "",
    stratumCol: String = "lang",
    rates: Map[String, Double] = Map.empty,
    defaultRate: Double = 1.0,
    tokenCol: String = "n_tokens",
    budget: Long = 1000000L,
    k: Int = 100,
    weightCol: String = "n_tokens",
    nBuckets: Int = 1024,
    // importance (DSIR) only: token source + the target-domain predicate
    // (rows whose stratumCol equals targetValue form the target sample)
    textCol: String = "text",
    targetValue: String = "en",
    // pareto only: the two maximized criteria
    xCol: String = "x",
    yCol: String = "y",
    // leakage_safe_split: the (doc_id, component) near-dup cluster view
    componentsView: Option[String] = None)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "deterministic" => Sampling.deterministic(in, idCol, rate, salt)
      case "stratified" =>
        Sampling.stratified(in, stratumCol, idCol, rates, defaultRate, salt)
      case "per_stratum_head" =>
        Sampling.perStratumHead(in, stratumCol, idCol, k, salt)
      case "shard_by_budget" =>
        Sampling.shardByBudget(in, idCol, tokenCol, budget)
      // rates doubles as the upsample weight map (same stratum semantics)
      case "upsample" =>
        Sampling.upsample(in, stratumCol, idCol, rates, defaultRate, salt)
      case "weighted_topk" =>
        Sampling.weightedTopK(in, idCol, weightCol, k, salt)
      case "negative" =>
        Sampling.negativeSample(in, idCol, k, nBuckets, salt)
      case "shuffle" =>
        Sampling.deterministicShuffle(in, idCol, salt)
      case "pack" =>
        Sampling.packSequences(in, idCol, tokenCol, budget, nBuckets, salt)
      // rates doubles as the target-proportion map
      case "rebalance" =>
        Sampling.rebalance(in, stratumCol, idCol, tokenCol, rates, salt)
      // rate doubles as the retention fraction p
      case "top_fraction" =>
        Sampling.topFraction(in, weightCol, idCol, rate)
      case "token_cap" =>
        Sampling.perStratumTokenCap(in, stratumCol, idCol, tokenCol,
          budget, salt)
      // rate doubles as the temperature alpha
      case "temperature" =>
        Sampling.temperatureRebalance(in, stratumCol, idCol, tokenCol,
          rate, salt)
      // k is the slot count; weights from weightCol
      case "systematic" =>
        Sampling.systematicWeighted(in, idCol, weightCol, k.toLong, salt)
      // weightCol doubles as the curriculum order column
      case "ordinal" =>
        Sampling.globalOrdinal(in, idCol, weightCol)
      // rate = the per-stratum retention fraction; weightCol = score
      case "top_stratum" =>
        Sampling.topFractionPerStratum(in, stratumCol, weightCol, idCol,
          rate)
      // k doubles as the shard count
      case "rendezvous" =>
        Sampling.rendezvousShard(in, idCol, k)
      // DSIR importance scores: target = rows with stratumCol == targetValue
      case "importance" =>
        Sampling.importanceWeights(in, idCol, textCol,
          org.apache.spark.sql.functions.col(stratumCol) === targetValue,
          nBuckets)
      // undominated rows on two maximized criteria
      case "pareto" =>
        Sampling.paretoFront(in, xCol, yCol)
      // deterministic train/val/test assignment; `rates` = the split
      // fractions, applied in NAME order (config maps carry no order,
      // and the cumulative thresholds must be reproducible)
      case "split" =>
        Sampling.splitAssign(in, idCol, rates.toSeq.sortBy(_._1), salt)
      // split whole near-dup clusters as one unit (componentsView = a
      // connectedComponents output view)
      case "leakage_safe_split" =>
        val comp = componentsView.getOrElse(
          throw new IllegalArgumentException(
            "sample method 'leakage_safe_split' requires 'componentsView'"))
        Sampling.leakageSafeSplit(in, idCol, Views.resolve(comp),
          rates.toSeq.sortBy(_._1), salt)
      // per-shard manifest rollup of shard_by_budget
      case "shard_manifest" =>
        Sampling.shardManifest(in, idCol, tokenCol, budget)
      case other =>
        throw new IllegalArgumentException(s"unknown sample method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class TextAnalysisTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    analysis: String = "quality",
    idCol: String = "doc_id",
    textCol: String = "text",
    langCol: String = "lang",
    // quality_score: (metric, weight) pairs in accumulation order
    scoreWeights: Seq[(String, Double)] = Nil,
    bias: Double = 0.0,
    scoreThreshold: Double = 0.5,
    minChars: Long = 50L,
    maxChars: Long = 100000L,
    minWords: Long = 10L,
    minTtr: Double = 0.1,
    minStopwordRatio: Double = 0.0,
    maxPunctRatio: Double = 0.3,
    chunkSize: Int = 64,
    overlap: Int = 16,
    ngramN: Int = 2,
    topK: Int = 5,
    // zipf: vocabulary-head size for the ln-ln fit. Its OWN knob (not
    // the generic topK, whose default 5 would fit a regression on five
    // ranks) so an omitted config matches the zipfFit API default.
    zipfTopN: Int = 1000,
    // lm_score: model grouping (e.g. per language) + add-k smoothing
    groupCols: Seq[String] = Nil,
    alpha: Double = 0.1,
    // keyness: total Dirichlet prior mass (group column = langCol)
    alpha0: Double = 100.0,
    // blocklist: the whole-word term list
    terms: Seq[String] = Nil,
    // bpe_apply: "left right" merge pairs in application order
    merges: Seq[String] = Nil,
    // boilerplate: chunk window (words) and cross-doc frequency floor
    window: Int = 8,
    minDocs: Int = 2,
    // vectorize: hashed bag-of-words dimensionality
    dim: Int = 64,
    // bpe_learn: greedy merge rounds
    rounds: Int = 4,
    // kn_score: the fixed Kneser-Ney discount D
    discount: Double = 0.75,
    // unigram family: piece length cap, learn knobs, apply vocab
    // (piece -> logp; a set, so the config map's lack of order is fine)
    maxPieceLen: Int = 4,
    vocabSize: Int = 64,
    seedSize: Int = 2048,
    iters: Int = 2,
    vocab: Seq[(String, Double)] = Nil,
    // wordpiece apply: the fixed piece set ("##"-prefixed continuations)
    pieces: Seq[String] = Nil,
    // ngram_counts: corpus count floor
    minCount: Long = 1L,
    // fix_encoding: stacked double-decode layers to unwind
    depth: Int = 1)
    extends Stage {

  private def parsedMerges: Seq[(String, String)] = merges.map { m =>
    m.split(" ", -1) match {
      case Array(a, b) => (a, b)
      case _ => throw new IllegalArgumentException(
        s"merge must be 'left right', got '$m'")
    }
  }

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "analysis" -> analysis
    detail += "inputView" -> inputView
    val out = analysis match {
      case "quality"     => TextAnalysis.quality(in, idCol, textCol)
      case "quality_filter" => TextAnalysis.qualityFilter(in, textCol,
        minChars, maxChars, minWords, minTtr, minStopwordRatio, maxPunctRatio)
      case "normalize"   => TextAnalysis.normalize(in, textCol)
      case "chunk"       => TextAnalysis.chunk(in, idCol, textCol, chunkSize, overlap)
      case "tokens"      => TextAnalysis.tokenCounts(in, idCol, textCol)
      case "langid"      => TextAnalysis.langId(in, idCol, textCol, langCol)
      case "fingerprint" => TextAnalysis.fingerprints(in, idCol, textCol)
      case "langdist"    => TextAnalysis.langDist(in, langCol, textCol)
      case "repetition"  => TextAnalysis.repetition(in, idCol, textCol, ngramN)
      case "tfidf"       => TextAnalysis.tfidfTopK(in, idCol, textCol, topK)
      case "quality_score" => TextAnalysis.qualityScore(in, idCol, textCol,
        scoreWeights, bias, scoreThreshold)
      // corpus-trained bigram-LM cross-entropy (CCNet-style perplexity)
      case "lm_score" => LanguageModel.bigramCrossEntropy(in, idCol,
        textCol, groupCols, alpha)
      // interpolated Kneser-Ney trigram cross-entropy (the n>=3 form)
      case "kn_score" => LanguageModel.knTrigramCrossEntropy(in, idCol,
        textCol, groupCols, discount)
      // corpus-repeated n-gram span fraction per doc (ngramN = span)
      case "dup_spans" => TextAnalysis.dupSpans(in, idCol, textCol, ngramN)
      case "dup_runs"  => TextAnalysis.dupRuns(in, idCol, textCol, ngramN)
      // group-distinctive terms (langCol = the group column)
      case "keyness" => TextAnalysis.keyness(in, langCol, textCol,
        alpha0, topK)
      // Zipf vocabulary head with cumulative token coverage
      case "head_coverage" => TextAnalysis.headCoverage(in, textCol, topK)
      // per-doc code-point entropy (micro-nat contract, codegen'd)
      case "entropy" => TextAnalysis.charEntropy(in, idCol, textCol)
      // BPE-training pair statistics (ngramN reused as the minCount prune)
      case "bpe_pairs" => TextAnalysis.bpePairCounts(in, textCol, ngramN.toLong)
      // adjacent-word PMI collocations (ngramN reused as the pair floor)
      case "pmi" => TextAnalysis.pmiCollocations(in, textCol, ngramN.toLong)
      // whole-word safety screen (per hit doc: counts + matched terms)
      case "blocklist" => TextAnalysis.blocklist(in, idCol, textCol, terms)
      // fixed-merge-table BPE encoding ("left right" pairs, in order)
      case "bpe_apply" =>
        TextAnalysis.bpeApplyMerges(in, idCol, textCol, parsedMerges)
      // tokenizer fertility per group (langCol = the group column)
      case "bpe_fertility" =>
        TextAnalysis.bpeFertility(in, textCol, langCol, parsedMerges)
      // RefinedWeb-style line dedup: drop cross-doc boilerplate chunks
      case "boilerplate" =>
        TextAnalysis.boilerplateChunks(in, idCol, textCol, window, minDocs)
      // pairwise longest-shared-substring (ngramN = the word threshold)
      case "dup_substring" =>
        TextAnalysis.dupSubstring(in, idCol, textCol, ngramN)
      // excise spans shared with a lower-id doc (first occurrence wins)
      case "dup_substring_apply" =>
        TextAnalysis.dupSubstringApply(in, idCol, textCol, ngramN)
      // excise later within-doc repeats (periodic text -> one period)
      case "self_repetition_apply" =>
        TextAnalysis.selfRepetitionApply(in, idCol, textCol, ngramN)
      // per-doc type-token / hapax ratios (vocabulary richness)
      case "ttr" => TextAnalysis.lexicalDiversity(in, idCol, textCol)
      // Chao1 corpus vocabulary-richness estimate (one row)
      case "chao1" => TextAnalysis.chao1(in, textCol)
      // per-doc Flesch reading-ease readability signals
      case "readability" => TextAnalysis.readability(in, idCol, textCol)
      // corpus Zipf ln-ln slope over the zipfTopN vocabulary head
      case "zipf" => TextAnalysis.zipfFit(in, textCol, zipfTopN)
      // Heaps' law growth curve; chunkSize doubles as the checkpoint
      // count (its 64 default is a reasonable curve resolution)
      case "heaps" =>
        TextAnalysis.heapsLaw(in, idCol, textCol, chunkSize)
      // per-doc character-class mix (encoding-health probe)
      case "charclass" => TextAnalysis.charClassMix(in, idCol, textCol)
      // per-doc Unicode-script shares (refines charclass's non-ASCII
      // bucket into latin/cjk/cyrillic/… fractions)
      case "script_mix" => TextAnalysis.scriptMix(in, idCol, textCol)
      // corpus distinct-n diversity per group (langCol = the group
      // column, the keyness/bpe_fertility convention)
      case "distinct_n" => TextAnalysis.distinctN(in, textCol, langCol)
      // hashed bag-of-words document vectors (dim buckets)
      case "vectorize" =>
        TextAnalysis.hashingVectorize(in, idCol, textCol, dim)
      // greedy BPE merge-table learning (rounds merges)
      case "bpe_learn" =>
        TextAnalysis.bpeLearnMerges(in, textCol, rounds)
      // corpus top-k vocabulary, flat and per-group (langCol = group)
      case "heavy_hitters" => TextAnalysis.heavyHitters(in, textCol, topK)
      case "heavy_hitters_grouped" =>
        TextAnalysis.heavyHittersGrouped(in, langCol, textCol, topK)
      // chunk-level language agreement (code-switch probe)
      case "lang_purity" =>
        TextAnalysis.langPurity(in, idCol, textCol, chunkSize)
      // corpus n-gram count table above a floor
      case "ngram_counts" =>
        TextAnalysis.ngramCounts(in, textCol, ngramN, minCount)
      // unigram-LM tokenizer: Viterbi-EM learn, fixed-vocab apply
      case "unigram_learn" =>
        Unigram.learn(in, textCol, vocabSize, maxPieceLen, iters, seedSize)
      case "unigram_encode" =>
        Unigram.encode(in, idCol, textCol, vocab, maxPieceLen)
      case "unigram_fertility" =>
        Unigram.fertility(in, textCol, langCol, vocab, maxPieceLen)
      // WordPiece tokenizer: likelihood-scored learn, greedy apply
      case "wordpiece_learn" =>
        Wordpiece.learn(in, textCol, rounds)
      case "wordpiece_encode" =>
        Wordpiece.encode(in, idCol, textCol, pieces, maxPieceLen)
      case "wordpiece_fertility" =>
        Wordpiece.fertility(in, textCol, langCol, pieces, maxPieceLen)
      // byte-level BPE: hex byte symbols, UNK-free by construction
      case "bytebpe_learn" =>
        ByteBpe.learn(in, textCol, rounds)
      case "bytebpe_encode" =>
        ByteBpe.encode(in, idCol, textCol, parsedMerges)
      case "bytebpe_fertility" =>
        ByteBpe.fertility(in, textCol, langCol, parsedMerges)
      // HTML -> clean text (jusText-shape pinned block rules)
      case "html_extract" =>
        Html.extract(in, idCol, textCol)
      // UTF-8-read-as-cp1252 mojibake repair (pinned artifact table);
      // depth > 1 unwinds stacked double-decodes one layer per pass
      case "fix_encoding" =>
        Mojibake.repair(in, idCol, textCol, depth)
      // Unicode NFC canonical composition (pre-dedup/tokenizer hygiene)
      case "nfc" =>
        Mojibake.nfcNormalize(in, idCol, textCol)
      case other =>
        throw new IllegalArgumentException(s"unknown analysis '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Training-example assembly stage over [[Assemble.threads]]: one
  * transcript row per `groupCol` entity, ordered by `orderCols`, capped
  * at `maxTurns` payloads.
  */
final case class AssembleTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    groupCol: String,
    orderCols: Seq[String] = Nil,
    payloadCol: String,
    maxTurns: Int = 16)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    detail += "groupCol" -> groupCol
    val out = Assemble.threads(in, groupCol,
      orderCols.map(org.apache.spark.sql.functions.col), payloadCol, maxTurns)
    Views.register(out, outputView)
    Option(out)
  }
}

/** Retrieval stage over [[Retrieval]]: build an inverted-index dictionary
  * or run BM25 ranked search from a declarative pipeline.
  */
final case class RetrievalTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "index",
    idCol: String = "doc_id",
    textCol: String = "text",
    minDf: Long = 1L,
    queryTerms: Seq[String] = Nil,
    k: Int = 10,
    k1: Double = 1.2,
    b: Double = 0.75,
    // rrf only: ranked-list views (each with doc_id + rnk) and the
    // rank-smoothing constant
    rankViews: Seq[String] = Nil,
    rrfK: Int = 60,
    // rank_eval only: the qrels view (query_id, doc_id); inputView is
    // the run (query_id, doc_id, rnk)
    qrelsView: Option[String] = None,
    // qld only: Dirichlet prior mass
    mu: Double = 2000.0,
    // rm3 only: feedback depth and expansion-term budget
    fbDocs: Int = 5,
    fbTerms: Int = 10)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "index" =>
        Retrieval.invertedIndex(Views.resolve(inputView), idCol, textCol, minDf)
      case "bm25" =>
        if (queryTerms.isEmpty) throw new IllegalArgumentException(
          "retrieval method 'bm25' requires non-empty 'queryTerms'")
        Retrieval.bm25TopK(Views.resolve(inputView), idCol, textCol,
          queryTerms, k, k1, b)
      case "rrf" =>
        if (rankViews.isEmpty) throw new IllegalArgumentException(
          "retrieval method 'rrf' requires non-empty 'rankViews'")
        Retrieval.rrfFuse(rankViews.map(Views.resolve), k, rrfK)
      case "rank_eval" =>
        val q = qrelsView.getOrElse(throw new IllegalArgumentException(
          "retrieval method 'rank_eval' requires 'qrelsView'"))
        Retrieval.rankEval(Views.resolve(inputView), Views.resolve(q), k)
      // Dirichlet-smoothed query-likelihood ranking (mu = prior mass)
      case "qld" =>
        if (queryTerms.isEmpty) throw new IllegalArgumentException(
          "retrieval method 'qld' requires non-empty 'queryTerms'")
        Retrieval.qldTopK(Views.resolve(inputView), idCol, textCol,
          queryTerms, k, mu)
      // RM3 pseudo-relevance feedback over qld (uniform doc weights)
      case "rm3" =>
        if (queryTerms.isEmpty) throw new IllegalArgumentException(
          "retrieval method 'rm3' requires non-empty 'queryTerms'")
        Retrieval.rm3TopK(Views.resolve(inputView), idCol, textCol,
          queryTerms, k, fbDocs, fbTerms, mu)
      case other => throw new IllegalArgumentException(
        s"unknown retrieval method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** PII stage over [[Pii]]: per-doc detection counts or in-place
  * redaction of emails / IPv4s / phone tokens.
  */
final case class PiiTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "stats",
    idCol: String = "doc_id",
    textCol: String = "text",
    // kanon / suppress / ldiversity: the quasi-identifier columns;
    // noisy_counts: dims
    cols: Seq[String] = Nil,
    k: Long = 8L,
    scale: Double = 1.0,
    salt: String = "",
    // ldiversity / tcloseness: the sensitive column (textCol would
    // mislead here)
    sensitiveCol: String = "",
    // tcloseness: the paper's distribution-distance threshold
    t: Double = 0.2,
    // randomized_response: truth probability pNum/pDen over sensitiveCol
    pNum: Long = 3L,
    pDen: Long = 4L)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "stats" => Pii.stats(in, idCol, textCol)
      case "scrub" => Pii.scrub(in, textCol)
      case "kanon" => Pii.kAnonymityProfile(in, cols, k)
      case "suppress" => Pii.kAnonymize(in, cols, k)
      case "noisy_counts" => Pii.noisyCounts(in, cols, scale, salt)
      // local-DP GRR counts over the sensitive column
      case "randomized_response" =>
        Pii.randomizedResponseCounts(in, idCol,
          if (sensitiveCol.nonEmpty) sensitiveCol else textCol,
          pNum, pDen,
          salt = if (salt.nonEmpty) salt else "rr")
      case "ldiversity" =>
        require(sensitiveCol.nonEmpty,
          "pii method 'ldiversity' requires 'sensitiveCol'")
        Pii.lDiversityProfile(in, cols, sensitiveCol, k)
      // distribution distance of each combo's sensitive attribute from
      // the corpus (ordered EMD, the Li-Li-Venkatasubramanian audit)
      case "tcloseness" =>
        require(sensitiveCol.nonEmpty,
          "pii method 'tcloseness' requires 'sensitiveCol'")
        Pii.tClosenessProfile(in, cols, sensitiveCol, t)
      // salted-hash surrogate keys over the `cols` identifier columns
      case "pseudonymize" => Pii.pseudonymize(in, cols, salt)
      // release audit: surrogates mapping >1 distinct original value
      case "pseudonym_audit" =>
        require(cols.nonEmpty,
          "pii method 'pseudonym_audit' requires one column in 'cols'")
        Pii.pseudonymCollisions(in, cols.head, salt)
      case other => throw new IllegalArgumentException(
        s"unknown pii method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Classifier stage over [[Classify]]: train-and-score the hashed
  * Naive Bayes quality filter, or evaluate any scored/labeled view
  * (exact AUC, confusion metrics, reliability bins, Cohen's kappa).
  */
final case class ClassifyTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "train_score",
    idCol: String = "doc_id",
    textCol: String = "text",
    // train_score: SQL boolean expression labeling the positive class
    positiveExpr: String = "",
    buckets: Int = 128,
    labelCol: String = "label",
    scoreCol: String = "score",
    predCol: String = "pred",
    binWidth: Double = 1.0,
    // agreement (and mcnemar): the two labelings/predictions to compare
    aCol: String = "a",
    bCol: String = "b",
    // conformal: test view + truth/prediction columns + miscoverage
    rightView: String = "",
    yCol: String = "y",
    yhatCol: String = "yhat",
    alpha: Double = 0.1,
    // krippendorff: one column per rater (null = abstained)
    raterCols: Seq[String] = Nil)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "train_score" =>
        require(positiveExpr.nonEmpty,
          "classify method 'train_score' requires 'positiveExpr'")
        Classify.naiveBayes(in, idCol, textCol,
          org.apache.spark.sql.functions.expr(positiveExpr), buckets)
      case "auc"         => Classify.rocAuc(in, labelCol, scoreCol)
      case "confusion"   => Classify.confusion(in, labelCol, predCol)
      case "calibration" =>
        Classify.reliabilityBins(in, labelCol, scoreCol, binWidth)
      case "agreement"   => Classify.agreement(in, aCol, bCol)
      // multi-rater agreement with missing labels (nominal alpha)
      case "krippendorff" =>
        if (raterCols.size < 2) throw new IllegalArgumentException(
          "classify method 'krippendorff' requires >= 2 'raterCols'")
        Classify.krippendorffAlpha(in, idCol, raterCols)
      // paired two-model comparison on shared examples
      case "mcnemar"     => Classify.mcnemar(in, labelCol, aCol, bCol)
      // split-conformal interval from cal (inputView) + test (rightView)
      case "conformal"   =>
        Classify.conformal(in, Views.resolve(rightView), yCol, yhatCol,
          alpha)
      case other => throw new IllegalArgumentException(
        s"unknown classify method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Graph stage over [[Graph.pagerank]]: fixed-iteration PageRank on an
  * edge view with `srcCol`/`dstCol` columns.
  */
final case class GraphTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "pagerank",
    srcCol: String = "src",
    dstCol: String = "dst",
    iters: Int = 3,
    dampNum: Long = 850,
    dampDen: Long = 1000,
    groupCol: String = "g",
    nodeCol: String = "n",
    maxGroup: Int = 256,
    coreK: Int = 3,
    seedPrefix: String = "s",
    // modularity only: view holding the (node, community) assignment
    assignView: String = "",
    // lineage truncation cadence for the iterative methods (0 = off)
    checkpointEvery: Int = 0,
    // scc / topo_layers: outer trim+color rounds and per-round fixpoint cap
    maxOuter: Int = 12,
    maxIter: Int = 25,
    // walks: neighbor-pick hash salt (iters doubles as the walk length)
    salt: String = "",
    // degree_alpha: smallest degree the power-law tail fit includes
    dMin: Long = 2L)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "pagerank" =>
        detail += "iters" -> iters.toString
        Graph.pagerank(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          iters, dampNum, dampDen, checkpointEvery)
      // Katz walk centrality (dampNum/dampDen double as alpha)
      case "katz" =>
        detail += "iters" -> iters.toString
        Graph.katz(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          iters, dampNum, dampDen, checkpointEvery)
      // HITS hubs & authorities (Kleinberg 1999)
      case "hits" =>
        detail += "iters" -> iters.toString
        Graph.hits(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          iters, checkpointEvery)
      case "triangles" =>
        // canonicalize any (src, dst) view: undirected, self-loops
        // dropped, (a, b) with a < b, distinct — triangleCounts's input
        // contract
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.triangleCounts(und)
      case "cooccur_edges" =>
        Graph.coOccurrenceEdges(in, groupCol, nodeCol, maxGroup)
      // generic weakly-connected components (min-label fixpoint)
      case "cc" =>
        Dedup.connectedComponents(in.select(col(srcCol).as("doc_a"),
            col(dstCol).as("doc_b")))
          .select(col("doc_id").as("node"), col("component"))
      // iters doubles as the peel-rounds budget
      case "kcore" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.kCore(und, coreK, iters, checkpointEvery)
      // edge-cohesion peel: coreK = k, iters = the peel-rounds budget
      case "ktruss" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.kTruss(und, coreK, iters)
      case "lpa" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.labelPropagation(und, iters, checkpointEvery)
      // teleport mass pinned to nodes with the seedPrefix
      case "ppr" =>
        Graph.personalizedPagerank(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          col("node").startsWith(seedPrefix), iters, dampNum, dampDen,
          checkpointEvery)
      // HyperBall family over the canonical undirected edge view;
      // iters doubles as the radius
      case "ball" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.neighborhoodSizes(und, iters, checkpointEvery = checkpointEvery)
      case "harmonic" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.harmonicCentrality(und, iters, checkpointEvery = checkpointEvery)
      case "nf" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.neighborhoodFunction(und, iters, checkpointEvery = checkpointEvery)
      // candidate new edges by shared-neighbor structure; maxGroup
      // doubles as the wedge-center degree cap, coreK as minCommon
      case "link_pred" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.linkPrediction(und, maxDegree = maxGroup,
          minCommon = coreK.toLong)
      // Newman Q of an assignment view with (node, community) columns
      case "modularity" =>
        require(assignView.nonEmpty,
          "modularity requires assignView with (node, community) columns")
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.modularity(und, Views.resolve(assignView))
      // Newman degree assortativity of the canonical undirected view
      case "assortativity" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.assortativity(und)
      // strongly-connected components of the DIRECTED view; the stage's
      // 0 = off checkpoint convention maps to scc's library default 1
      // (its outer loop compounds lineage every round — never run bare)
      case "scc" =>
        Graph.scc(in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          maxOuter, maxIter,
          if (checkpointEvery > 0) checkpointEvery else 1)
      // longest-path depth of the SCC condensation (same digraph)
      case "topo_layers" =>
        Graph.topoLayers(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")),
          maxOuter, maxIter,
          if (checkpointEvery > 0) checkpointEvery else 1)
      // hash-deterministic node2vec-style walks; iters = the walk length
      case "walks" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.deterministicWalks(und, length = iters, salt = salt)
      // local clustering coefficient per node (triangles / wedges)
      case "clustering" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.clusteringCoefficients(und)
      // directed-edge reciprocity of the raw (src, dst) view
      case "reciprocity" =>
        Graph.reciprocity(
          in.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      // Clauset-Shalizi-Newman discrete MLE of the degree tail exponent
      case "degree_alpha" =>
        val und = in
          .select(least(col(srcCol), col(dstCol)).as("a"),
            greatest(col(srcCol), col(dstCol)).as("b"))
          .where(col("a") < col("b")).distinct()
        Graph.degreePowerLaw(und, dMin)
      case other =>
        throw new IllegalArgumentException(s"unknown graph method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Bloom-pruned semi join stage over [[Joins.bloomSemi]]: keep the
  * fact-side rows whose key appears in the (possibly pre-filtered) dim
  * view, pruning the fact scan with a sketch-sized Bloom filter before
  * the exact join.
  */
final case class BloomJoinTransformStage(
    name: String,
    inputView: String, // fact side
    rightView: String, // dim side (key source)
    outputView: String,
    leftKey: String,
    rightKey: String,
    mBits: Int = 1 << 23,
    k: Int = 5)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "rightView" -> rightView
    detail += "outputView" -> outputView
    val out = Joins.bloomSemi(Views.resolve(inputView),
      Views.resolve(rightView), leftKey, rightKey, mBits, k)
    Views.register(out, outputView)
    Option(out)
  }
}

/** Table-maintenance stage over [[Maintenance.compact]]: rewrite a
  * sliver-file parquet directory into ~targetBytes outputs and publish
  * the compacted copy as a view. Runs between pipelines, not inside the
  * hot path.
  */
final case class CompactFilesStage(
    name: String,
    inputDir: String,
    outputDir: String,
    outputView: String,
    targetBytes: Long = 128L * 1024 * 1024)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputDir" -> inputDir
    detail += "outputDir" -> outputDir
    detail += "outputView" -> outputView
    val (out, nFiles) = Maintenance.compact(ctx.spark, inputDir, outputDir,
      targetBytes)
    detail += "outputFiles" -> nFiles.toString
    Views.register(out, outputView)
    Option(out)
  }
}

/** Categorical-encoding stage over [[Encoding]]: dense-id encoding
  * (`encode`), the bounded vocabulary table itself (`vocab`), or
  * leave-one-out target encoding (`target_loo`). `vocab` and
  * `target_loo` read the FIRST entry of `columns` as the categorical
  * column.
  */
final case class EncodeTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    columns: Seq[String] = Nil,
    method: String = "encode",
    idCol: String = "doc_id",
    targetCol: String = "label",
    maxVocab: Long = 1000000L,
    // woe only: Laplace smoothing
    alpha: Double = 0.5)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    detail += "columns" -> columns.mkString(",")
    def first: String = columns.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"encode method '$method' requires one column in 'columns'"))
    val out = method match {
      case "encode" => Encoding.encode(in, columns)
      case "vocab" => Encoding.vocab(in, first, maxVocab)
      case "target_loo" => Encoding.targetEncodeLoo(in, idCol, first,
        targetCol)
      case "woe" => Encoding.woe(in, first, targetCol, alpha)
      case other => throw new IllegalArgumentException(
        s"unknown encode method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Deterministic-sketch stage over [[graft.functions.Sketches]]: per-group
  * distinct estimates (hll / kmv) and heavy-key frequency estimates (cms).
  */
final case class SketchTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "hll",
    keyCol: String,
    groupCols: Seq[String] = Nil,
    m: Int = 512,
    k: Int = 256,
    depth: Int = 4,
    width: Int = 256,
    topN: Int = 10,
    // hll_intersect only: the second corpus view (B side)
    otherView: String = "",
    // hll_rolling only: integral time-bucket column + trailing window
    bucketCol: String = "bucket",
    window: Int = 7,
    // kmv_jaccard only: key column on the B side ("" = keyCol)
    otherKeyCol: String = "")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "hll" =>
        require(groupCols.nonEmpty, "hll requires groupCols")
        graft.functions.Sketches.hllDistinct(in, col(keyCol), groupCols, m)
      case "kmv" => graft.functions.Sketches.kmvDistinct(in, col(keyCol), k)
      case "cms" =>
        graft.functions.Sketches.cmsHeavy(in, col(keyCol), depth, width, topN)
      case "hll_intersect" =>
        require(groupCols.nonEmpty, "hll_intersect requires groupCols")
        require(otherView.nonEmpty, "hll_intersect requires otherView")
        val other = Views.resolve(otherView)
        detail += "otherView" -> otherView
        graft.functions.Sketches.hllIntersectEstimate(
          graft.functions.Sketches.hllRegisters(in, col(keyCol), groupCols, m),
          graft.functions.Sketches.hllRegisters(other, col(keyCol), groupCols, m),
          groupCols, m)
      case "hll_rolling" =>
        detail += "bucketCol" -> bucketCol
        detail += "window" -> window.toString
        graft.functions.Sketches.hllRolling(in, col(bucketCol), col(keyCol),
          window, m)
      case "kmv_jaccard" =>
        val other = Views.resolve(otherView)
        detail += "otherView" -> otherView
        graft.functions.Sketches.kmvJaccard(in, col(keyCol), other,
          col(if (otherKeyCol.nonEmpty) otherKeyCol else keyCol), k)
      case "kmv_diff" =>
        val other = Views.resolve(otherView)
        detail += "otherView" -> otherView
        graft.functions.Sketches.kmvDifference(in, col(keyCol), other,
          col(if (otherKeyCol.nonEmpty) otherKeyCol else keyCol), k)
      // pre-shuffle join-size estimate from two CMS sketches
      case "join_size" =>
        require(otherView.nonEmpty, "join_size requires otherView")
        val other = Views.resolve(otherView)
        detail += "otherView" -> otherView
        graft.functions.Sketches.cmsJoinSize(in, col(keyCol), other,
          col(if (otherKeyCol.nonEmpty) otherKeyCol else keyCol),
          depth, width)
      case other =>
        throw new IllegalArgumentException(s"unknown sketch method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** CDC stage over [[Cdc]]: latest-wins upsert merge of a change-feed view
  * into a base view, or SCD2 interval build from an append-only log.
  */
/** Multimodal payload stage over [[Multimodal]]: binary payloads with
  * typed metadata. `decode` runs [[Multimodal.MediaDecoder.deterministicFake]]
  * (a production deployment swaps a real codec behind the same trait —
  * the stage surface is decoder-agnostic by design).
  */
/** URL/domain curation stage over [[Url]] (round 17): canonical URL
  * normalization, the domain mixture report, the m-estimate domain
  * quality scores, and the domain-gated row filter — the crawl-curation
  * front door as pipeline configuration (a config-only user could not
  * reach the Url family before this stage).
  */
final case class UrlTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "normalize",
    urlCol: String = "url",
    tokenCol: String = "n_tokens",
    goodCol: String = "good",
    minShrunk: Double = 0.5,
    m: Double = 20.0)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "normalize"      => Url.normalize(in, urlCol)
      case "domain_mix"     => Url.domainMix(in, urlCol, tokenCol)
      case "domain_quality" => Url.domainQuality(in, urlCol, goodCol, m)
      case "domain_filter" =>
        Url.domainFilter(in, urlCol, goodCol, minShrunk, m)
      case other =>
        throw new IllegalArgumentException(s"unknown url method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class MultimodalTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "meta",
    idCol: String = "doc_id",
    textCol: String = "text",
    formatCol: Option[String] = None,
    metaCols: Seq[String] = Nil,
    everyN: Int = 2,
    maxDim: Int = 128,
    maxHamming: Int = 3,
    maxBucket: Int = 4096)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    implicit val spark: SparkSession = ctx.spark
    def decoded = Multimodal.decodeAll(in,
      Multimodal.MediaDecoder.deterministicFake).toDF()
    val out = method match {
      case "attach" => formatCol match {
        case Some(f) => Multimodal.attachTyped(in, idCol, textCol, f)
        case None => Multimodal.attach(in, idCol, textCol, metaCols)
      }
      case "meta" => Multimodal.payloadMeta(in)
      case "validate" => Multimodal.validatePayloads(in)
      case "decode" => decoded
      case "frames" => Multimodal.frameSample(decoded, everyN)
      case "resize" => Multimodal.resizeMeta(decoded, maxDim)
      case "features" => Multimodal.featureVectors(decoded)
      case "phash" => Multimodal.perceptualHashes(in)
      case "phash_pairs" => Multimodal.phashPairs(in, maxHamming, maxBucket)
      case other => throw new IllegalArgumentException(
        s"unknown multimodal method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

final case class CdcTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "upsert",
    changesView: Option[String] = None,
    nextView: Option[String] = None,
    keyCol: String = "id",
    // changed_keys: composite key columns (falls back to keyCol)
    keys: Seq[String] = Nil,
    versionCol: String = "version",
    opCol: String = "op",
    tsCol: String = "ts",
    stateCol: String = "state")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "upsert" =>
        val ch = changesView.map(Views.resolve).getOrElse(
          throw new IllegalArgumentException("upsert requires changesView"))
        Cdc.upsert(in, ch, keyCol, versionCol, opCol)
      case "scd2" => Cdc.scd2(in, keyCol, tsCol, stateCol)
      // change-feed derivation: inputView = old snapshot, nextView = new
      case "derive" =>
        val nx = nextView.map(Views.resolve).getOrElse(
          throw new IllegalArgumentException("derive requires nextView"))
        Cdc.derive(in, nx, keyCol)
      // key-sized diff: which keys changed (values via 'derive')
      case "changed_keys" =>
        val nx = nextView.map(Views.resolve).getOrElse(
          throw new IllegalArgumentException("changed_keys requires nextView"))
        Maintenance.changedKeys(in, nx,
          if (keys.nonEmpty) keys else Seq(keyCol))
      case other =>
        throw new IllegalArgumentException(s"unknown cdc method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Time-series densification stage over [[TimeSeries.gapfillHourly]]. */
final case class GapfillTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "gapfill",
    tsCol: String = "ts",
    keyCol: String,
    idCol: String = "event_id",
    valueCol: String = "value",
    target: Double = 0.0,
    slack: Double = 0.0,
    threshold: Double = 1.0,
    startCol: String = "start_us",
    endCol: String = "end_us",
    bucketSeconds: Long = 3600L,
    // ewma / holt smoothing coefficients
    alpha: Double = 0.25,
    beta: Double = 0.25,
    // changepoint / forecast_eval: the per-key series order column
    ordCol: String = "ord",
    // forecast_eval only: valueCol is the actual, this the prediction
    forecastCol: String = "forecast",
    // acf: largest autocorrelation lag (hours)
    maxLag: Int = 24,
    // rolling: trailing time-window width
    windowSeconds: Long = 3600L,
    // rolling_median: trailing row-window width
    k: Int = 5,
    // anomaly_weekly: MAD multiplier for the outlier flag
    madK: Double = 3.5)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "gapfill" => TimeSeries.gapfillHourly(in, tsCol, keyCol)
      // hour-of-day baseline deviation flags over the dense grid
      case "seasonal" => TimeSeries.seasonalDeviation(in, tsCol, keyCol)
      case "cusum" => TimeSeries.cusum(in, tsCol, keyCol, idCol,
        valueCol, target, slack, threshold)
      case "utilization" => TimeSeries.intervalUtilization(in, keyCol,
        startCol, endCol, bucketSeconds)
      case "ewma" => TimeSeries.ewma(in, tsCol, keyCol, idCol, valueCol, alpha)
      case "holt" => TimeSeries.holt(in, tsCol, keyCol, idCol, valueCol,
        alpha, beta)
      // best single mean-shift split per key (binary segmentation step)
      case "changepoint" =>
        TimeSeries.changepoint(in, keyCol, ordCol, valueCol)
      // per-key MAE/RMSE/MAPE/sMAPE/MASE scorecard
      case "forecast_eval" =>
        TimeSeries.forecastEval(in, keyCol, ordCol, valueCol, forecastCol)
      // hour-of-WEEK (168-cell) baseline variants of seasonal
      case "seasonal_weekly" =>
        TimeSeries.seasonalDeviationWeekly(in, tsCol, keyCol)
      case "anomaly_weekly" =>
        TimeSeries.seasonalAnomalyWeekly(in, tsCol, keyCol, madK)
      // per-key autocorrelation over the dense hourly grid
      case "acf" => TimeSeries.acf(in, tsCol, keyCol, maxLag)
      // nonparametric trend: Mann-Kendall S/tau and Theil-Sen slope
      case "mann_kendall" => TimeSeries.mannKendall(in, tsCol, keyCol)
      // pairwise banded DTW between per-key series; maxLag = the band
      case "dtw" => TimeSeries.dtw(in, tsCol, keyCol, maxLag)
      case "theil_sen" => TimeSeries.theilSen(in, tsCol, keyCol)
      // trailing aggregates: time-window mean/sum, row-window median
      case "rolling" =>
        TimeSeries.rolling(in, tsCol, keyCol, valueCol, windowSeconds)
      case "rolling_median" =>
        TimeSeries.rollingMedian(in, tsCol, keyCol, idCol, valueCol, k)
      case other =>
        throw new IllegalArgumentException(s"unknown timeseries method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Z-order layout stage over [[Layout]]: `manifest` emits the per-block
  * min-max table of the Morton ordering; `write` materializes the full
  * skipping index (block-partitioned data + manifest) under `outputDir`
  * and registers the manifest. Dimensions come from `cols` (N-column,
  * Delta/Iceberg ZORDER BY parity) or the classic xCol/yCol pair.
  */
final case class ZorderTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    cols: Seq[String],
    idCol: String,
    method: String = "manifest",
    outputDir: Option[String] = None,
    blockSize: Long = 4096L,
    bits: Int = 16,
    // write replaces the layout wholesale: the destructive-write latch
    // (confirm.truncate=true) applies exactly as it does on LoadStage
    options: Map[String, String] = Map.empty)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    detail += "method" -> method
    val out = method match {
      case "manifest" =>
        Layout.zorderManifestN(in, cols, idCol, blockSize, bits)
      // Hilbert curve variant: the 2-D walk for k=2, Skilling's N-D
      // transpose beyond — tighter blocks, same manifest shape
      case "hilbert_manifest" =>
        if (cols.size == 2)
          Layout.hilbertManifest(in, cols(0), cols(1), idCol, blockSize, bits)
        else Layout.hilbertManifestN(in, cols, idCol, blockSize, bits)
      case "write" =>
        val dir = outputDir.getOrElse(
          throw new IllegalArgumentException("write requires outputDir"))
        detail += "outputDir" -> dir
        Layout.zorderWriteN(in, cols, idCol, dir, blockSize, bits,
          options)
      // Hilbert skipping index (2-D): same store shape, tighter blocks
      case "hilbert_write" =>
        require(cols.size == 2, s"hilbert_write is 2-D, got ${cols.size} cols")
        val dir = outputDir.getOrElse(
          throw new IllegalArgumentException("hilbert_write requires outputDir"))
        detail += "outputDir" -> dir
        Layout.hilbertWrite(in, cols(0), cols(1), idCol, dir, blockSize,
          bits, options)
      // targeted delete (right-to-be-forgotten): the input view's idCol
      // column IS the deletion request; statistics-pruned block rewrite
      case "delete" =>
        val dir = outputDir.getOrElse(
          throw new IllegalArgumentException("delete requires outputDir"))
        detail += "outputDir" -> dir
        val ids = in
          .select(org.apache.spark.sql.functions.col(idCol).cast("long"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
        Layout.targetedDelete(in.sparkSession, dir, idCol, ids, options)
      case other =>
        throw new IllegalArgumentException(s"unknown zorder method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Behavioral-analytics stage over [[Behavior]]: ordered funnels, cohort
  * retention, Markov transitions, and linear multi-touch attribution
  * from a declarative pipeline.
  */
final case class BehaviorTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "funnel",
    tsCol: String = "ts",
    userCol: String = "user_id",
    typeCol: String = "event_type",
    idCol: String = "event_id",
    valueCol: String = "value",
    steps: Seq[String] = Nil,
    maxGapSeconds: Option[Long] = None,
    touchType: String = "click",
    convType: String = "purchase",
    // attribution window; doubles as the rate_cap bucket width
    windowSeconds: Long = 3600L,
    // basket only: basket/item columns + minimum pair support
    basketCol: String = "basket",
    itemCol: String = "item",
    minSupport: Long = 10L,
    // rate_cap only: rows kept per (key, bucket)
    k: Int = 3,
    // survival only: per-unit duration + right-censoring flag columns
    durationCol: String = "duration",
    observedCol: String = "observed",
    // attribution_decay only: recency half-life
    halfLifeSeconds: Long = 900L)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "funnel" =>
        if (steps.size < 2) throw new IllegalArgumentException(
          "behavior method 'funnel' requires >= 2 'steps'")
        Behavior.funnel(in, tsCol, userCol, typeCol, steps, maxGapSeconds)
      case "cohort" => Behavior.cohortRetention(in, tsCol, userCol)
      case "transitions" =>
        Behavior.transitions(in, tsCol, userCol, typeCol, idCol)
      case "attribution" =>
        Behavior.linearAttribution(in, tsCol, userCol, typeCol, idCol,
          valueCol, touchType, convType, windowSeconds)
      // recency-weighted credit with a halfLifeSeconds half-life
      case "attribution_decay" =>
        Behavior.timeDecayAttribution(in, tsCol, userCol, typeCol, idCol,
          valueCol, touchType, convType, windowSeconds, halfLifeSeconds)
      // association mining: pair support + lift within baskets
      case "basket" =>
        Behavior.basketPairs(in, basketCol, itemCol, minSupport)
      // ingestion throttle: first-k rows per (user, windowSeconds bucket)
      // windowSeconds doubles as the debounce/throttle gap
      case "debounce" =>
        Behavior.debounce(in, tsCol, userCol, idCol, windowSeconds)
      case "throttle" =>
        Behavior.throttle(in, tsCol, userCol, idCol, windowSeconds)
      case "rate_cap" =>
        Behavior.rateCap(in, tsCol, userCol, idCol, windowSeconds, k)
      // Kaplan-Meier curve over per-unit right-censored durations
      case "survival" =>
        Behavior.kaplanMeier(in, durationCol, observedCol)
      // top event-type trigrams over per-user ordered journeys
      case "top_paths" =>
        Behavior.topPaths(in, tsCol, userCol, typeCol, idCol, k)
      case other =>
        throw new IllegalArgumentException(s"unknown behavior method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Data-quality stage over [[DataQuality]] and [[Profile.joinSkew]]: the
  * declarative assertion/linkage/skew-diagnosis pass between Extract and
  * Load. `rules` are (name, boolean SQL expression) pairs evaluated in
  * one scan; linkage blocks on `blockCol` and scores weighted
  * Jaro-Winkler + exact-field agreement.
  */
final case class DataQualityTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "rules",
    rules: Seq[(String, String)] = Nil,
    idCol: String = "id",
    blockCol: String = "block",
    fuzzyFields: Seq[(String, Double)] = Nil,
    exactFields: Seq[(String, Double)] = Nil,
    minScore: Double = 0.9,
    maxBlock: Int = 1024,
    // join_skew: the probe side; referential: the parent table
    rightView: Option[String] = None,
    leftKey: String = "key",
    rightKey: String = "key",
    topK: Int = 20,
    // fd only: determinant columns and the dependent column
    lhs: Seq[String] = Nil,
    rhsCol: String = "v")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    val in = Views.resolve(inputView)
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "rules" =>
        if (rules.isEmpty) throw new IllegalArgumentException(
          "dq method 'rules' requires non-empty 'rules'")
        DataQuality.checkRules(in, rules.map { case (n, e) =>
          n -> org.apache.spark.sql.functions.expr(e) })
      case "linkage" =>
        DataQuality.linkageScore(in, idCol, blockCol, fuzzyFields,
          exactFields, minScore, maxBlock)
      case "join_skew" =>
        val r = rightView.getOrElse(throw new IllegalArgumentException(
          "dq method 'join_skew' requires 'rightView'"))
        Profile.joinSkew(in, leftKey, Views.resolve(r), rightKey, topK)
      // one FK audit row: input is the child, rightView the parent
      case "referential" =>
        val r = rightView.getOrElse(throw new IllegalArgumentException(
          "dq method 'referential' requires 'rightView' (the parent)"))
        DataQuality.referentialCheck(Seq(
          (name, in, leftKey, Views.resolve(r), rightKey)))
      case "fd" =>
        if (lhs.isEmpty) throw new IllegalArgumentException(
          "dq method 'fd' requires non-empty 'lhs'")
        DataQuality.fdCheck(in, lhs, rhsCol)
      // migration audit: lhs = group keys, rightView = the other table,
      // fuzzyFields' names double as the sum columns (weights unused)
      case "reconcile" =>
        val r = rightView.getOrElse(throw new IllegalArgumentException(
          "dq method 'reconcile' requires 'rightView'"))
        if (lhs.isEmpty || fuzzyFields.isEmpty)
          throw new IllegalArgumentException(
            "dq method 'reconcile' requires 'lhs' (keys) and " +
              "'fuzzyFields' (sum columns)")
        DataQuality.reconcile(in, Views.resolve(r), lhs,
          fuzzyFields.map(_._1))
      // group-mode repair: lhs = group columns, rhsCol = value column
      case "impute" =>
        if (lhs.isEmpty) throw new IllegalArgumentException(
          "dq method 'impute' requires non-empty 'lhs' (group columns)")
        DataQuality.imputeMode(in, rhsCol, lhs)
      case other =>
        throw new IllegalArgumentException(s"unknown dq method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Mergeable aggregate state stage over [[Maintenance.aggState]] /
  * [[Maintenance.mergeAggStates]] — the incremental-materialized-view
  * primitive as pipeline configuration: 'state' builds a shard's compact
  * state, 'merge' combines state views without rescanning rows.
  */
final case class AggStateTransformStage(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "state",
    keys: Seq[String] = Nil,
    sumCols: Seq[String] = Nil,
    stateViews: Seq[String] = Nil)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "outputView" -> outputView
    val out = method match {
      case "state" =>
        Maintenance.aggState(Views.resolve(inputView), keys, sumCols)
      case "merge" =>
        val views = if (stateViews.nonEmpty) stateViews else Seq(inputView)
        Maintenance.mergeAggStates(views.map(Views.resolve), keys)
      case other =>
        throw new IllegalArgumentException(s"unknown aggstate method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Distributional drift stage over [[Drift]]: the snapshot-to-snapshot
  * statistical regression check (covariate shift, upstream filter
  * breakage) as pipeline configuration. `inputView` is the BEFORE
  * snapshot, `rightView` the AFTER; methods map to the exact-arithmetic
  * operators — `ks` (numeric column), `tv` (categorical column),
  * `centroid` (embedding frames keyed by `labelCol`), plus the full
  * statistics family the Scala API carries: `kruskal` / `anova` /
  * `levene` (single-view k-arm readouts over `groupCol`×`valueCol`),
  * `welch` (two-view unequal-variance t), `fisher` (single-view exact
  * 2×2 over `catCol`×`labelCol`), `proportions` / `segments`
  * (single-view two-arm conversion readouts; `segments` adds a
  * per-`segCol` stratum row, feed it into a `bh` stage for FDR
  * control), `psi` / `jsd` / `wasserstein` (two-view mix/shape
  * distances), `ks_grouped` / `wasserstein_grouped` (per-`groupCol`
  * stratified drift), `bootstrap_lift` (two-view Poisson-bootstrap
  * lift CI; `nPerms` is the resample count, `1 - alpha` the level),
  * `sequential` (single-view mSPRT always-valid p over the `lookCol`
  * schedule), and `welch_segments` (single-view per-`segCol` Welch t
  * with the in-plan exact Student-t p).
  */
final case class DriftTransformStage(
    name: String,
    inputView: String,
    // the after side; unused by the single-view methods
    rightView: String = "",
    outputView: String,
    method: String = "ks",
    valueCol: String = "value",
    catCol: String = "category",
    labelCol: String = "label",
    // profile only: columns to diff (empty = every before-side column)
    columns: Seq[String] = Nil,
    // permutation only
    idCol: String = "id",
    nPerms: Int = 200,
    salt: String = "",
    // cuped / srm (single-view: rightView is unused): per-unit group /
    // pre-period / experiment-period metric columns
    groupCol: String = "group",
    preCol: String = "pre",
    postCol: String = "post",
    // srm only: designed arm weights + chi2 flag threshold
    expected: Map[String, Double] = Map.empty,
    chi2Threshold: Double = 3.841,
    // heavy_terms only: tokenized column + movers to keep
    textCol: String = "text",
    k: Int = 25,
    // bh only (single-view): p-value column + FDR level
    pCol: String = "p",
    alpha: Double = 0.05,
    // proportions / segments (single-view): boolean success column +
    // the two arm names under groupCol; segments adds the stratum col
    successCol: String = "success",
    armA: String = "",
    armB: String = "",
    segCol: String = "segment",
    // psi only: number of quantile bins from the before side
    nBins: Int = 10,
    // sequential only: look ordinal column + mSPRT mixture variance
    lookCol: String = "look",
    tauSq: Double = 0.01,
    // ratio_delta only (single-view): per-unit numerator/denominator
    numCol: String = "num",
    denCol: String = "den",
    // tost only: the equivalence margin (required, > 0)
    margin: Double = 0.0,
    // power only: the target power level (alpha doubles as the level)
    powerTarget: Double = 0.8,
    // yuen only: per-tail trim fraction
    trim: Double = 0.2,
    // did only (single-view): period column + the two period labels
    // (armA/armB double as treat/control)
    periodCol: String = "period",
    prePeriod: String = "pre",
    postPeriod: String = "post")
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "method" -> method
    detail += "inputView" -> inputView
    detail += "rightView" -> rightView
    detail += "outputView" -> outputView
    val before = Views.resolve(inputView)
    // cuped is single-view; every other method diffs two snapshots
    lazy val after = Views.resolve(rightView)
    val out = method match {
      case "ks" => Drift.ksStatistic(before, after, valueCol)
      case "mannwhitney" => Drift.mannWhitney(before, after, valueCol)
      // single-view: chi2 independence of catCol x labelCol
      case "chi2" => Drift.chiSquareIndependence(before, catCol, labelCol)
      // single-view: Spearman rho of preCol vs postCol
      case "spearman" => Drift.spearman(before, preCol, postCol)
      // single-view: paired signed-rank of preCol vs postCol
      case "wilcoxon" => Drift.wilcoxonSignedRank(before, preCol, postCol)
      case "tv" => Drift.categoricalDrift(before, after, catCol)
      case "centroid" => Drift.centroidDrift(before, after, labelCol)
      // bounds-and-counts profile diff (Profile.drift) beside the
      // distributional statistics
      case "profile" =>
        val cols = if (columns.nonEmpty) columns else before.columns.toSeq
        Profile.drift(before, after, cols)
      // deterministic randomization test for the mean difference
      case "permutation" =>
        Drift.meanPermutationTest(before, after, idCol, valueCol, nPerms,
          salt)
      // CUPED variance reduction over per-unit (group, pre, post) rows
      case "cuped" => Drift.cuped(before, groupCol, preCol, postCol)
      // sample-ratio-mismatch chi2 guard over the designed arm weights
      case "srm" => Drift.srmCheck(before, groupCol, expected, chi2Threshold)
      // top-k vocabulary share movers between the two snapshots
      case "heavy_terms" =>
        TextAnalysis.heavyChangers(before, after, textCol, k)
      // Benjamini-Hochberg FDR over a (idCol, pCol) hypothesis table
      case "bh" => Drift.bhAdjust(before, Seq(idCol), pCol, alpha)
      // Poisson-bootstrap CI for the mean (nPerms reused as nBoot,
      // alpha as the two-sided tail: level = 1 - alpha)
      case "bootstrap" =>
        Drift.bootstrapMeanCI(before, idCol, valueCol, nPerms,
          1 - alpha, salt)
      // single-view k-arm readouts over (groupCol, valueCol)
      case "kruskal" => Drift.kruskalWallis(before, groupCol, valueCol)
      case "anova" => Drift.anovaF(before, groupCol, valueCol)
      case "levene" => Drift.brownForsythe(before, groupCol, valueCol)
      // two-view unequal-variance mean comparison
      case "welch" => Drift.welchT(before, after, valueCol)
      // single-view exact 2x2 over catCol x labelCol (both boolean)
      case "fisher" => Drift.fisherExact(before, catCol, labelCol)
      // single-view two-arm conversion readouts
      case "proportions" =>
        Drift.proportionsZ(before, groupCol, successCol, armA, armB)
      case "segments" =>
        Drift.proportionsBySegment(before, segCol, groupCol, successCol,
          armA, armB)
      // single-view always-valid sequential readout (mSPRT)
      case "sequential" =>
        Drift.sequentialMSPRT(before, lookCol, groupCol, successCol,
          armA, armB, tauSq, alpha)
      // single-view per-segment Welch t (in-plan Student-t p)
      case "welch_segments" =>
        Drift.welchBySegment(before, segCol, groupCol, valueCol,
          armA, armB)
      // single-view always-valid sequential readout on a MEAN metric
      case "sequential_mean" =>
        Drift.sequentialMSPRTMean(before, lookCol, groupCol, valueCol,
          armA, armB, tauSq, alpha)
      // two-view mix/shape distances
      case "psi" => Drift.psi(before, after, valueCol, nBins)
      case "jsd" => Drift.jensenShannon(before, after, catCol)
      case "wasserstein" => Drift.wasserstein1(before, after, valueCol)
      // per-stratum drift (grouped KS / W1)
      case "ks_grouped" =>
        Drift.ksByGroup(before, after, groupCol, valueCol)
      case "wasserstein_grouped" =>
        Drift.wassersteinByGroup(before, after, groupCol, valueCol)
      // two-view Poisson-bootstrap lift CI (nPerms = nBoot,
      // level = 1 - alpha, the `bootstrap` precedent)
      case "bootstrap_lift" =>
        Drift.bootstrapLiftCI(before, after, idCol, valueCol, nPerms,
          1 - alpha, salt)
      // two-view KS with the asymptotic Kolmogorov p-value series
      case "ks_test" => Drift.ksTest(before, after, valueCol)
      // two-view Hodges-Lehmann shift estimate + Moses CI
      case "hodges_lehmann" => Drift.hodgesLehmann(before, after, valueCol)
      // single-view mutual information of catCol x labelCol
      case "mi" => Drift.mutualInformation(before, catCol, labelCol)
      // single-view post-stratified lift (groupCol = arm, segCol = stratum)
      case "post_stratified" =>
        Drift.postStratified(before, groupCol, segCol, valueCol)
      // single-view delta-method ratio-metric z (per-unit num/den rows)
      case "ratio_delta" =>
        Drift.ratioDelta(before, groupCol, numCol, denCol, armA, armB)
      // two-view equivalence test (TOST) at ±margin
      case "tost" => Drift.welchTost(before, after, valueCol, margin, alpha)
      // two-view sensitivity readout (MDE + achieved power)
      case "power" => Drift.powerMde(before, after, valueCol, alpha,
        powerTarget)
      // two-view robust trimmed-mean comparison
      case "yuen" => Drift.yuenTrimmed(before, after, valueCol, trim)
      // single-view stratified 2x2 (Simpson-safe pooled effect)
      case "cmh" =>
        Drift.cmh(before, segCol, groupCol, successCol, armA, armB)
      // single-view difference-in-differences (armA = treat, armB = ctrl)
      case "did" =>
        Drift.did(before, groupCol, periodCol, valueCol, armA, armB,
          prePeriod, postPeriod)
      case other =>
        throw new IllegalArgumentException(s"unknown drift method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}

/** Versioned-snapshot stage over [[Maintenance.publishSnapshot]] /
  * [[Maintenance.readSnapshot]] / [[Maintenance.vacuumSnapshots]]: the
  * metadata-last commit protocol as pipeline configuration. `publish`
  * writes `inputView` as the next version (and registers the data just
  * published under `outputView`); `read` time-travels (`version` empty =
  * latest); `vacuum` drops all but `keepLast` versions and requires the
  * `confirm.truncate` latch, registering the dropped version list.
  */
final case class SnapshotStage(
    name: String,
    baseDir: String,
    outputView: String,
    method: String,
    inputView: Option[String] = None,
    version: Option[Long] = None,
    keepLast: Int = 1,
    confirmTruncate: Boolean = false)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "method" -> method
    detail += "baseDir" -> baseDir
    detail += "outputView" -> outputView
    val spark = ctx.spark
    val out = method match {
      case "publish" =>
        val in = inputView.getOrElse(throw new IllegalArgumentException(
          "snapshot method 'publish' requires 'inputView'"))
        val v = Maintenance.publishSnapshot(Views.resolve(in), baseDir)
        detail += "version" -> v.toString
        Maintenance.readSnapshot(spark, baseDir, Some(v))
      case "read" =>
        Maintenance.readSnapshot(spark, baseDir, version)
      case "vacuum" =>
        val dropped = Maintenance.vacuumSnapshots(spark, baseDir, keepLast,
          if (confirmTruncate) Map("confirm.truncate" -> "true")
          else Map.empty)
        detail += "dropped" -> dropped.mkString(",")
        import spark.implicits._
        dropped.toDF("dropped_version")
      case other =>
        throw new IllegalArgumentException(s"unknown snapshot method '$other'")
    }
    Views.register(out, outputView)
    Option(out)
  }
}
