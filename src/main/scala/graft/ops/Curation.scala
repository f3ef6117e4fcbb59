package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the composition the
  * north-star operators exist for (SURVEY.md §2.3), as one DataFrame
  * program:
  *
  *   quality gate → exact dedup (blake2b content hash) →
  *   near-dup removal (MinHash-LSH candidates + exact Jaccard confirm) →
  *   surviving corpus + per-language stats.
  *
  * Every stage is shuffle-bounded: the quality gate is a projection, exact
  * dedup shuffles 32-byte hashes, near-dup pairs come from band equi-joins,
  * and removal is a broadcast-able anti-join against the (small) drop list.
  * The pipeline is idempotent: curating a curated corpus is a no-op
  * (tested in CurationSpec).
  */
object Curation {

  final case class Config(
      minTokens: Int = 5,
      minUniqRatio: Double = 0.05,
      nearDupJaccard: Double = 0.8)

  /** Surviving documents (all original columns) after the three gates.
    *
    * Exact dedup and near-dup removal are ONE pass here: an exact
    * duplicate is a Jaccard-1.0 pair, and MinHash-LSH catches identical
    * documents with certainty (identical signatures always share every
    * band), so dropping the higher-id side of every confirmed pair over
    * the gated corpus removes exactly the non-minimal member of each
    * content group AND the near-dups. The result is provably identical
    * to the staged gate → exact-dedup → near-dup chain: a doc x that is
    * the minimum of its content group is dropped by the staged form iff
    * some exact-survivor y < x confirms at j ≥ threshold; any
    * non-survivor witness y' < x has an identical-text group minimum
    * min(y') ≤ y' < x with the same Jaccard, so the one-pass form drops
    * the same x (CurationSpec pins survivor equality with the staged
    * chain, and the q60/q70 oracles mirror the staged SQL). Collapsing
    * the stages removes a blake2b groupBy + semi-join and one full
    * recompute of the survivor branch — at 100 TB that's one fewer
    * corpus-wide shuffle and one fewer scan. */
  def curate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // the one-pass identity with the staged chain needs every gated doc
    // to carry ≥1 shingle: a <3-token doc has an EMPTY 3-gram set, gets
    // no band keys, and exact duplicates of it would silently survive
    // the pair-drop that replaced the explicit exactByHash stage
    require(cfg.minTokens >= 3,
      s"curate: minTokens must be >= 3 (shingle width) so the collapsed " +
        s"exact+near-dup pair-drop sees every gated document; got ${cfg.minTokens}")
    val toks = split(col("text"), " ")
    // 1. quality gate — pure projection/filter, no shuffle
    val quality = docs.filter(
      size(toks) >= cfg.minTokens &&
        (size(array_distinct(toks)).cast("double") / size(toks)) >= cfg.minUniqRatio)
    // 2.+3. exact + near-dup removal in one pair-drop pass
    val dropList = Dedup.minHashLshPairs(quality, cfg.nearDupJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    quality.join(dropList, Seq("doc_id"), "left_anti")
  }

  /** Deterministic train/val/test assignment by content hash — the
    * leakage-safe split: a document lands in the same split on any
    * engine, any run, any shard order, because the key is md5(text), not
    * row position or RNG state (re-sharding a 100 TB corpus must not
    * reshuffle the eval set). Pure projection — zero shuffle. Buckets
    * are the first md5 byte (0–255): [0, trainUpper) → train,
    * [trainUpper, valUpper) → val, rest → test; the defaults give the
    * classic ~80/10/10. */
  def hashSplit(docs: DataFrame, trainUpper: Int = 205, valUpper: Int = 230): DataFrame = {
    // r17: first md5 byte = md5_prefix24 >> 16 — the native kernel skips
    // the per-row 32-char hex render + base-16 parse (value-identical)
    val bucket = shiftright(
      graft.functions.Md5Functions.md5Prefix24(col("text")), 16).cast("int")
    docs.withColumn("split",
      when(bucket < trainUpper, "train")
        .when(bucket < valUpper, "val")
        .otherwise("test"))
  }

  /** Deterministic shard assignment + within-shard order for training
    * -data export — the last stage of the pipeline: a trainer wants N
    * shard files whose membership AND internal order are stable across
    * engines, runs, and input partitioning (resumable downloads,
    * reproducible data order). Like [[hashSplit]] the key is a content
    * -independent md5 over `keyCol`, so re-sharding the input never
    * moves a document: `shard` is the first 16 md5 bits mod `numShards`,
    * `shard_pos` is the rank of the full md5 digest (ties broken by the
    * key itself) inside the shard — i.e. a deterministic global shuffle,
    * the hash order standing in for an RNG permutation. The window here
    * is the query-shaped rendering of what the writer actually does at
    * 100 TB: `repartition(numShards, shard).sortWithinPartitions(key)`
    * → one shuffle keyed by shard, each task streaming one sorted shard
    * to disk; no global sort, no driver involvement. */
  def exportShards(docs: DataFrame, keyCol: Column, numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val key = md5(keyCol.cast("string"))
    docs
      .withColumn("graft_shard_key", key)
      .withColumn("shard",
        (conv(substring(col("graft_shard_key"), 1, 4), 16, 10).cast("long")
          % numShards).cast("int"))
      .withColumn("shard_pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("graft_shard_key"), keyCol)))
      .drop("graft_shard_key")
  }

  /** Token-budget contiguous sharding — the OTHER export layout next to
    * [[exportShards]]'s hash sharding: documents are packed into shards
    * of ~`targetTokens` tokens each IN `orderCol` ORDER (curriculum or
    * recency order survives sharding; hash sharding destroys it), via
    * `shard = floor(exclusive_prefix_tokens / target)` over a
    * [[Relational.globalRunningSum]] — the two-phase distributed prefix
    * sum, NOT a single-partition corpus window. A document lands in the
    * shard where its first token falls; shards therefore overshoot by
    * at most one document (the standard streaming bin rule — greedy
    * best-fit would break contiguity, which is the point of this
    * layout). Long-exact arithmetic throughout; `orderCol` must be
    * numeric and unique (the [[Relational.globalRunningSum]]
    * contract). Output: the doc frame + `cum_tokens` (inclusive
    * prefix) and `shard`. */
  def tokenBudgetShards(docs: DataFrame, tokensCol: String,
                        targetTokens: Long,
                        orderCol: String = "doc_id"): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive: $targetTokens")
    val run = graft.ops.Relational.globalRunningSum(
      docs, orderCol, tokensCol, outCol = "cum_tokens")
    // exclusive prefix is nonnegative, so the pmod-floor divide is exact
    val excl = col("cum_tokens") - col(tokensCol)
    run.withColumn("shard", call_function("div",
      excl - pmod(excl, lit(targetTokens)), lit(targetTokens)))
  }

  /** Largest-remainder budget allocation — the EXACT-total companion to
    * [[mixturePlan]]: distribute an integral `budget` across keys in
    * proportion to integral `weightCol`, with the floor shortfall
    * `budget − Σ floor(budget·wᵢ/W)` handed out one unit each to the
    * keys with the largest remainders (ties broken by ascending key) —
    * so `Σ alloc == budget` EXACTLY, the property floor-only rates
    * cannot give and training-token / crawl-budget ledgers need.
    * Arithmetic is exact end to end: the `budget·wᵢ` products run in
    * decimal(38,0) (two longs multiply exactly there; plain Long math
    * would overflow at ~1e19, far below a 1e13-budget × 1e12-weight
    * corpus ledger), the floor divide is the integral `div`, the oracle
    * mirrors in HUGEINT. A non-positive weight raises (a zero-weight
    * key would silently absorb an extra unit through remainder 0 ties).
    *
    * Scale shape: `counts` is one row per allocation key — a mixture
    * card or domain ledger, bounded by policy, never corpus-shaped
    * (the [[graft.ops.Classifier.thresholdSweep]] bounded-table
    * contract) — so the two one-row totals broadcast and the
    * largest-remainder rank is a window over that bounded table.
    * Output: the counts frame + `alloc`. */
  def allocateBudget(counts: DataFrame, keyCol: String, weightCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget: $budget")
    // The ledger feeds THREE consumers below (the weight-sum total, the
    // base allocation, and the floor-shortfall total) — without marking
    // it, Catalyst replans the whole upstream subtree per consumer,
    // which re-runs the full corpus pipeline when the weights come from
    // an expensive composition (q216's langid rollup planned its
    // trigram explode 6× statically; only AQE's runtime exchange reuse
    // saved it). The ledger is key-cardinality-bounded BY CONTRACT (one
    // row per allocation key — a mixture card or domain ledger), so the
    // honest fix is the thresholdSweep bounded-table move: run the
    // upstream pipeline exactly ONCE via a driver collect and replan the
    // three consumers over the resulting LocalRelation literal. No
    // executor cache to leak (the r11 persist survived for the app
    // lifetime and mutated the caller's cache state), no eager
    // checkpoint job, and the collect is control-plane sized by the
    // same contract that made persist() cheap.
    val ledger = counts.sparkSession.createDataFrame(
      java.util.Arrays.asList(counts.collect(): _*), counts.schema)
    // isNull checked explicitly: NULL <= 0 is NULL, which would fall to
    // otherwise and silently break the exact-total invariant
    val w = when(col(weightCol).isNull || col(weightCol) <= 0,
        raise_error(concat(
          lit(s"allocateBudget: null/non-positive weight for key "),
          col(keyCol).cast("string"))))
      .otherwise(col(weightCol)).cast("decimal(19,0)")
    val tot = ledger.agg(sum(w).cast("decimal(38,0)").as("graft_w"))
    val bw = (lit(budget).cast("decimal(19,0)") * w).cast("decimal(38,0)")
    val based = ledger.crossJoin(broadcast(tot))
      .withColumn("graft_base",
        call_function("div", bw, col("graft_w")).cast("long"))
      .withColumn("graft_rem", pmod(bw, col("graft_w")))
    val short = based.agg((lit(budget) - sum("graft_base")).as("graft_extra"))
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("graft_rem").desc, col(keyCol))
    based.crossJoin(broadcast(short))
      .withColumn("graft_rk", row_number().over(rk))
      .withColumn("alloc", col("graft_base") +
        when(col("graft_rk") <= col("graft_extra"), 1L).otherwise(0L))
      .drop("graft_w", "graft_base", "graft_rem", "graft_extra", "graft_rk")
  }

  /** C4/Gopher-style per-document quality gates. Thresholds follow the
    * published filters (Gopher: 50–100k words, mean word length 3–10;
    * the unique-word and top-word-dominance gates are the repetition
    * family), scaled to the short synthetic fixtures by `minTokens`.
    * Every metric is a per-row higher-order expression — pure projection,
    * zero shuffle, embarrassingly parallel at any corpus size. */
  final case class GateConfig(
      minTokens: Int = 20,
      maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minUniqRatio: Double = 0.35,
      maxTopWordShare: Double = 0.15)

  /** Adds one boolean column per gate plus `passes` (the conjunction). */
  def qualityGates(docs: DataFrame, cfg: GateConfig = GateConfig()): DataFrame = {
    val toks = split(col("text"), " ")
    val nt = size(toks)
    // chars-per-word over the separator-free length: len(text) - (nt - 1)
    val meanWordLen = (length(col("text")) - nt + 1).cast("double") / nt
    val uniqRatio = size(array_distinct(toks)).cast("double") / nt
    // native one-pass top-token count (hashed identity, q66 precedent) —
    // the nested array_max(transform(array_distinct, filter)) HOF form is
    // O(distinct*n) per row with interpreted lambdas
    val topWordShare =
      graft.functions.ShingleFunctions.tokenTopCount(toks).cast("double") / nt
    docs
      .withColumn("gate_len", nt.between(cfg.minTokens, cfg.maxTokens))
      .withColumn("gate_word_len",
        meanWordLen.between(cfg.minMeanWordLen, cfg.maxMeanWordLen))
      .withColumn("gate_uniq", uniqRatio >= cfg.minUniqRatio)
      .withColumn("gate_rep", topWordShare <= cfg.maxTopWordShare)
      .withColumn("passes",
        col("gate_len") && col("gate_word_len") && col("gate_uniq") && col("gate_rep"))
  }

  /** Concat-and-chunk sequence packing: per language stream, documents
    * are laid out in deterministic doc_id order and cut into fixed
    * `binTokens`-token training windows; a document's bin is
    * floor(tokens_before / binTokens) — the standard "concatenate then
    * chunk" pretraining layout. The window cumsum partitions by
    * `streamCols`, so each stream packs independently (one linear scan
    * per stream), and the assignment is a pure function of (order, token
    * counts) — no RNG, engine- and re-run-stable.
    *
    * Parallelism = number of streams: partitioning by lang alone means
    * one task per language, which does NOT scale to 100 TB. At corpus
    * scale add a deterministic shard to the stream key — e.g.
    * `withColumn("shard", pmod(xxhash64($"doc_id"), lit(N)))` then
    * `streamCols = Seq("lang", "shard")` — real pipelines pack per
    * shard/file anyway, and the layout stays deterministic. */
  def packSequences(docs: DataFrame, binTokens: Int = 512,
                    streamCols: Seq[String] = Seq("lang")): DataFrame = {
    val nt = size(split(col("text"), " ")).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(streamCols.map(col): _*).orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.select(col("doc_id") +: streamCols.map(col) :+ nt.as("n_tokens"): _*)
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")).cast("double") / binTokens).cast("long"))
  }

  /** Sliding-window document chunking — the retrieval-corpus preparation
    * step (fixed `size`-token windows advancing by `stride`, overlapping
    * when `stride < size` so no passage is split across a boundary
    * without also appearing whole in a neighbor). Emits one row per
    * chunk: (doc_id, chunk_id, n_tokens, chunk). The final window is the
    * natural tail (shorter, never padded); a doc of ≤ `size` tokens is
    * exactly one chunk.
    *
    * Pure per-row compute: the window starts are a `sequence` and each
    * chunk a `slice` of the one tokenization — zero shuffle, the
    * explode stays in the scan stage, and output size is predictable
    * (≈ tokens/stride rows per doc), so downstream embedding jobs can
    * size partitions from the input row count. */
  def slidingChunks(docs: DataFrame, chunkTokens: Int = 128,
                    stride: Int = 64, textCol: String = "text"): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"need 1 <= stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val toks = split(col(textCol), " ")
    val n = size(toks)
    // integer ceil((n - size)/stride) + 1, clamped to 1 when n <= size
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(floor((n - chunkTokens + (stride - 1)) / lit(stride))
        .cast("int") + 1)
    Spread.cpu(docs).select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => slice(toks, i * stride + 1, lit(chunkTokens))))
          .as(Seq("chunk_id", "ctoks")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("ctoks")).cast("long").as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk"))
  }

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with the (small) evaluation set — the standard guard
    * against test-set leakage into pretraining data (GPT-3 appendix C /
    * PaLM-style 13-gram overlap, here parameterized). Eval shingles are
    * a broadcast-able distinct set (benchmarks are tiny next to a 100 TB
    * corpus), so the scan over training data is embarrassingly parallel:
    * explode distinct shingle hashes, hash-join the broadcast eval set,
    * count matches per doc. Shingle identity is the native 64-bit
    * [[graft.functions.ShingleHashes]] — the shuffle carries 8-byte keys,
    * and set equality vs string n-grams holds w.h.p. (same argument as
    * [[Dedup.hashedShingles]]). Output: (doc_id, n_shared) for
    * contaminated training docs only. */
  def contaminationFlags(train: DataFrame, eval: DataFrame, n: Int = 5): DataFrame = {
    def shingled(df: DataFrame) = df.select(col("doc_id"),
      explode(Dedup.hashedShingles(col("text"), n)).as("sh"))
    val evalSet = shingled(eval).select("sh").distinct()
    shingled(Spread.cpu(train))
      .join(broadcast(evalSet), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // shingle hashes are pre-distinct per doc
  }

  /** PII patterns, deliberately inside the common subset of Java regex
    * (Spark) and RE2 (DuckDB oracle, Hyperscan-class engines at scale):
    * no backrefs, no lookaround. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9]+(-[0-9]+)+"

  /** Masks emails, IPv4 addresses and dash-formatted phone numbers with
    * typed placeholder tokens. Order matters: emails first (an address
    * can embed digit runs), then IPs (dots), then phones (dashes) — the
    * three patterns are disjoint after each rewrite. Pure per-row
    * projection, whole-stage codegen, zero shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Within-group rank normalization: `pct` = percent_rank of `valueCol`
    * inside each `groupCol` partition — maps every source's score
    * distribution onto [0, 1] so thresholds compare ACROSS sources (a
    * quality cutoff of "top 30%" means the same thing for a clean and a
    * noisy crawl, which a raw-score threshold never does). Exact and
    * order-free: percent_rank is (rank−1)/(n−1) over integer ranks, ties
    * share a rank, and the single division of two exact integers is
    * engine-identical. One window shuffle, same cost class as any
    * per-group ranking. */
  def rankNormalize(df: DataFrame, groupCol: String, valueCol: String,
                    as: String = "pct"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(as, percent_rank().over(
      Window.partitionBy(groupCol).orderBy(col(valueCol))))
  }

  /** Deterministic stratified sampling: keep the `n` documents with the
    * SMALLEST md5(content) per stratum (ties broken by `idCol`) — the
    * balanced-downsample step of corpus mixing when a hard per-stratum
    * cap matters more than [[temperatureResample]]'s proportional rates.
    * Content-keyed like [[hashSplit]]: membership is a pure function of
    * (`textCol` content, stratum), stable across engines, runs, and
    * re-shards — and
    * because "n smallest hashes" is a bottom-k, adding documents to a
    * stratum can only evict, never admit, so samples stay comparable
    * across corpus versions.
    *
    * Plan: ONE hash-partitioned window per stratum (rank ≤ n). At 100 TB
    * with a hot stratum, prefilter first — `md5-bucket < ~4n/|stratum| ·
    * 2²⁴` keeps the window input tiny and cannot change the answer as
    * long as ≥ n survivors remain (verify `count ≥ n` per stratum and
    * fall back to the unfiltered window for the rare miss); same
    * two-phase shape as [[Profile]]'s approx paths. */
  def stratifiedSample(docs: DataFrame, strataCol: String, n: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(textCol)), col(idCol))
    docs.withColumn("graft_rk", row_number().over(w))
      .filter(col("graft_rk") <= n)
      .drop("graft_rk")
  }

  /** Card-number candidates: 13–19 digits with optional space/dash
    * separators, word-bounded. Shared Java-regex∩RE2 syntax. */
  val CardCandRe = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** Luhn checksum over a digits-only string column — the validity test
    * that separates real card numbers from arbitrary digit runs (regex
    * alone over-redacts order ids / timestamps by orders of magnitude).
    * Pure higher-order expression: reverse, double every second digit
    * with digit-sum, sum ≡ 0 (mod 10), length in [13, 19]. Codegen'd,
    * engine-exact — the DuckDB oracle recomputes it digit-for-digit. */
  def luhnValid(digits: Column): Column = {
    val r = reverse(digits)
    val n = length(r)
    val s = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = r.substr(i, lit(1)).cast("int")
      acc + when(pmod(i, lit(2)) === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    n.between(13, 19) && pmod(s, lit(10)) === 0
  }

  /** Card-like substrings of `text` that pass [[luhnValid]] (separators
    * stripped before the checksum). Detection is the oracle-checkable
    * surface (q150); [[redactCards]] consumes it. */
  def validCards(text: Column): Column =
    filter(regexp_extract_all(text, lit(CardCandRe), lit(0)),
      c => luhnValid(regexp_replace(c, "[^0-9]", "")))

  /** Replace every Luhn-valid card substring with `<CARD>`, leaving
    * Luhn-invalid digit runs (order ids, timestamps) untouched — a
    * fold over the validated candidates, still one per-row projection. */
  def redactCards(text: Column): Column =
    aggregate(validCards(text), text, (acc, c) => replace(acc, c, lit("<CARD>")))

  /** Temperature-style language rebalancing (the multilingual-mix recipe
    * of XLM-R/mT5): downsample over-represented languages so the kept
    * corpus flattens toward the rare ones, with keep-rate
    * r_lang = sqrt(count_min / count_lang) (temperature α = 0.5) — the
    * smallest language keeps 100%, a 100× bigger one keeps 10%. The
    * keep decision is the md5-bucket trick of [[hashSplit]] (first 24
    * bits of md5(text) < r·2²⁴): engine- and re-shard-stable, no RNG.
    * sqrt (not pow) on purpose: IEEE 754 requires sqrt to be correctly
    * rounded, so any engine computes the identical threshold — pow is
    * only ulp-accurate and could flip a boundary document between
    * engines. Adds (n_lang, keep_rate, kept); the per-lang rates join
    * back via broadcast — no corpus shuffle. */
  def temperatureResample(docs: DataFrame, langCol: String = "lang"): DataFrame = {
    val counts = docs.groupBy(langCol).agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_lang")).as("n_min"))))
      .select(col(langCol),
        col("n_lang"),
        sqrt(col("n_min").cast("double") / col("n_lang")).as("keep_rate"))
    docs.join(broadcast(rates), langCol)
      .withColumn("kept", keptByMd5Bucket(col("text"), col("keep_rate")))
  }

  /** The engine- and re-shard-stable keep decision shared by
    * [[temperatureResample]] and [[mixCorpus]]: first 24 bits of
    * md5(text) < rate·2²⁴ (one definition so the two resamplers can
    * never drift; [[hashSplit]] keeps its coarser 8-bit variant for
    * split-boundary reasons documented there). */
  private def keptByMd5Bucket(text: Column, rate: Column): Column =
    md5Bucket24(text) < rate * (1 << 24)

  /** First 24 bits of md5(text) as a long in [0, 2²⁴) — the ONE uniform
    * content-hash primitive behind the deterministic samplers here
    * ([[keptByMd5Bucket]], [[gumbelTopK]]). Shared so the engine/
    * re-shard determinism argument cannot drift between copies; edits
    * here change every sampler's draw at once, deliberately. */
  private def md5Bucket24(text: Column): Column =
    // r17: native md5_prefix24 — value-identical to
    // `conv(substring(md5(text),1,6),16,10)`, no hex round-trip (§1.2)
    graft.functions.Md5Functions.md5Prefix24(text)

  /** Deterministic fixed-ratio corpus mixing (the "30% code, 70% web"
    * recipe): downsample each source so kept counts sit in the target
    * proportions, at the largest total the data allows — T = min_s
    * (n_s / w_s) and keep-rate r_s = w_s·T / n_s, so the binding source
    * keeps 100% and no source is oversampled. Weights are relative
    * (scaling all w_s leaves every rate unchanged), so they need not sum
    * to 1; sources absent from `weights` are dropped. A WEIGHTED source
    * absent from the corpus raises at execution (lazily — no extra scan):
    * silently renormalizing over the present sources would hand back a
    * mix that violates the requested ratios. The keep decision is the
    * same engine- and re-shard-stable md5-bucket rule as
    * [[temperatureResample]]; per-source rates broadcast back, the
    * corpus never shuffles. */
  def mixCorpus(docs: DataFrame, weights: Map[String, Double],
                keyCol: String = "lang"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"mixCorpus weights must be positive (got $weights): a zero/negative " +
        "weight would silently empty the corpus via a negative/NaN rate")
    val shares = docs.sparkSession.createDataFrame(weights.toSeq)
      .toDF(keyCol, "target_share")
    val counts = shares
      .join(broadcast(docs.groupBy(keyCol).agg(count(lit(1)).as("n_in"))),
        Seq(keyCol), "left")
      .withColumn("n_in", when(col("n_in").isNull,
        raise_error(concat(lit("mixCorpus: weighted source absent from corpus: "),
          col(keyCol)))).otherwise(col("n_in")))
    val tMax = counts
      .agg(min(col("n_in") / col("target_share")).as("t_max"))
    val rates = counts.crossJoin(broadcast(tMax))
      .select(col(keyCol), col("n_in"), col("target_share"),
        (col("target_share") * col("t_max") / col("n_in")).as("keep_rate"))
    docs.join(broadcast(rates), keyCol)
      .withColumn("kept", keptByMd5Bucket(col("text"), col("keep_rate")))
  }

  /** Token-budget mixture plan — the sizing sheet a training run reads
    * before any sampling happens: given per-source available token
    * counts and target mixture weights, how many tokens each source
    * must contribute to a `budgetTokens` total, at what sampling rate,
    * and across how many epochs (repeats) when the target EXCEEDS the
    * available pool (the Pile/DoReMi upsampling regime [[mixCorpus]]
    * deliberately does not enter — it only downsamples to the limiting
    * source). Weights are normalized to the map's own sum;
    * `target_tokens = trunc(wᵢ/Σw · budget)` in double arithmetic
    * (identical IEEE in any engine — the oracle mirrors the same
    * literal expression), everything after is exact Long arithmetic:
    * `rate_micros = floor(target·1e6/available)` (above 1e6 ⇒
    * upsampling), `epochs = ceil(target/available)`, and
    * `mode` ∈ {upsample, downsample, exact}. A weighted source with
    * zero/absent tokens is a plan error surfaced as `epochs = 0`
    * rows with `n_tokens = 0` rather than a silent drop. Σw is summed
    * in SORTED-KEY order (Map iteration order is hash-dependent above
    * 4 entries; double addition is order-dependent) — the association
    * order an oracle must mirror.
    *
    * Scale shape: `tokenCounts` is one row per source — bounded by the
    * mixture card, never by the corpus — so the weight join broadcasts
    * and the whole plan is a few-row projection; the corpus-sized work
    * (counting tokens) happens upstream in whatever aggregate produced
    * `tokenCounts`. */
  def mixturePlan(tokenCounts: DataFrame, weights: Map[String, Double],
                  budgetTokens: Long, keyCol: String = "source"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"mixturePlan weights must be positive (got $weights)")
    require(budgetTokens > 0, s"non-positive budget: $budgetTokens")
    // summed in sorted-key order: Map iteration order is hash-dependent
    // above 4 entries, and double addition is order-dependent — an
    // oracle can only mirror a DEFINED association order
    val wSum = weights.toSeq.sortBy(_._1).map(_._2).sum
    val shares = tokenCounts.sparkSession.createDataFrame(weights.toSeq)
      .toDF(keyCol, "graft_w")
    val n = coalesce(col("n_tokens"), lit(0L))
    // trunc(w / Σw · budget) with this exact association — the oracle
    // repeats it literal for literal, so the doubles agree bit for bit
    val target = (col("graft_w") / lit(wSum) * lit(budgetTokens))
      .cast("long")
    shares.join(broadcast(tokenCounts), Seq(keyCol), "left")
      .select(col(keyCol), n.as("n_tokens"), target.as("target_tokens"))
      .select(col(keyCol), col("n_tokens"), col("target_tokens"),
        Micros.ratio(col("target_tokens"), col("n_tokens")).as("rate_micros"),
        // exact integral ceil — a double ceil would round for targets
        // above 2^53 (the Micros.ratio divide rationale)
        when(col("n_tokens") === 0, 0L)
          .otherwise(call_function("div",
            col("target_tokens") + col("n_tokens") - 1, col("n_tokens")))
          .as("epochs"),
        when(col("n_tokens") === 0, "empty")
          .when(col("target_tokens") > col("n_tokens"), "upsample")
          .when(col("target_tokens") < col("n_tokens"), "downsample")
          .otherwise("exact").as("mode"))
  }

  /** Per-domain document cap (the RefinedWeb/C4 guard against one domain
    * flooding the corpus): keep at most `cap` documents per `domain`,
    * preferring higher `quality` (ties broken by doc_id, so the keep set
    * is deterministic and engine-stable). One window over the domain
    * partitioning — the shuffle key is the domain, and partitions hold
    * one domain's rows each; a boilerplate mega-domain is exactly the
    * skew AQE's skew-join/partition splitting exists for, and `cap`
    * bounds what survives regardless. Adds `domain_rank` (1 = best). */
  def domainCap(docs: DataFrame, domain: Column, quality: Column,
                cap: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domain).orderBy(quality.desc, col("doc_id").asc)
    docs.withColumn("domain_rank", row_number().over(w))
      .filter(col("domain_rank") <= cap)
  }

  /** CCNet-style perplexity bucketing: score every document under the
    * corpus unigram LM ([[TextAnalysis.unigramLogProb]] — real CCNet uses
    * a 5-gram KenLM; the bucketing logic is order-agnostic) and cut the
    * corpus into `buckets` equal-size quality tiers by descending
    * log-probability — bucket 1 is CCNet's "head" (most in-distribution),
    * the last is "tail". The tier decision is ntile over the ROUNDED
    * score with a doc_id tiebreak, so the assignment is engine- and
    * rerun-stable (q69 pins that the rounded scores themselves are
    * engine-identical).
    *
    * Every document of `docs` gets a bucket: when `corpus` is a separate
    * reference LM (the real CCNet setup), a document with NO in-corpus
    * tokens has no defined score — unigramLogProb emits no row — but it
    * is exactly the out-of-distribution material the tail tier exists
    * for, so it re-enters via a left join with a null score and sorts
    * below every scored document (nulls-last, doc_id tiebreak) into the
    * last tier. Its n_tokens (in-vocab token count) is 0.
    *
    * Scale shape: scoring is the q69 broadcast-model join (the document
    * side never shuffles); only the (doc_id, score) PROJECTION — two
    * columns per document, not the corpus — passes through the global
    * ntile sort. At true 100 TB-corpus cardinality replace the exact
    * ntile with fixed thresholds from `approxQuantile` over the score
    * column (what CCNet itself does: thresholds come from a sample, then
    * bucketing is a pure per-row comparison). */
  def perplexityBuckets(docs: DataFrame, corpus: DataFrame,
                        buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"perplexityBuckets needs >= 2 buckets, got $buckets")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logprob").desc_nulls_last, col("doc_id").asc)
    docs.select(col("doc_id"))
      .join(TextAnalysis.unigramLogProb(docs, corpus), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens"))
      .withColumn("bucket", ntile(buckets).over(w))
  }

  /** DSIR-style importance log-ratio (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each pool
    * document by how much more likely its tokens are under a TARGET
    * domain's unigram distribution than under the raw pool's — the
    * published method hashes n-gram features into buckets; unigram
    * identity features are the same estimator with the hash collision
    * rate at zero. Both models use add-one smoothing over the POOL
    * vocabulary V (the target is usually small, so unsmoothed target
    * probabilities would send every unseen-token document to -∞):
    *
    *   p_t(w) = (c_t(w)+1)/(T_t+|V|),  p_r(w) = (c_r(w)+1)/(T_r+|V|)
    *   score(doc) = mean over tokens of [ln((c_t+1)/(c_r+1)) + ln((T_r+|V|)/(T_t+|V|))]
    *
    * T_t is the FULL target token count (not just target tokens inside
    * the pool vocabulary), so the normalizer is unbiased when the target
    * carries out-of-pool jargon; target-only tokens still contribute no
    * per-token evidence — pool documents cannot contain them by
    * definition, so only the totals see them.
    *
    * The two-ln form (not one ln of the product) is load-bearing: both
    * engines evaluate the identical per-token IEEE chain (q69
    * precedent). Determinism: the per-doc score is a SUM over tokens,
    * and distributed double summation is order-dependent — so each
    * token's contribution is rounded to integer micros and summed as a
    * long (exact, order-free, oracle-mirrorable: the q88 BM25
    * convention); the mean divides the long total once at the end.
    * Resampling is then a per-row keep decision against the score —
    * compose with [[perplexityBuckets]]-style tiers or an md5-bucket
    * rate.
    *
    * Scale shape: model tables are pool-vocabulary-bounded (broadcast);
    * totals are a one-row cross join; the pool side explodes tokens but
    * never shuffles text — per-doc aggregation is the only shuffle and it
    * carries (doc_id, two doubles). Pool tokens absent from the target
    * still score (smoothing covers them); by construction no pool token
    * is absent from the pool model. */
  def dsirLogRatio(docs: DataFrame, target: DataFrame): DataFrame = {
    val toksOf = (df: DataFrame) =>
      df.select(explode(split(col("text"), " ")).as("tok"))
    val rawCnt = toksOf(docs).groupBy("tok").agg(count(lit(1)).as("cr"))
    // both wordcounts feed two consumers (model join + a totals
    // aggregate); ReuseExchange shares each one's shuffle between them
    val tgtCnt = toksOf(target).groupBy("tok").agg(count(lit(1)).as("ct"))
    val model = rawCnt.join(tgtCnt, Seq("tok"), "left").na.fill(0L, Seq("ct"))
    // coalesce: an EMPTY target (no docs matched the target filter)
    // sums to NULL, which would null every score; tt=0 keeps the
    // smoothed estimator finite (every token backs off to 1/(T_r+V))
    val totals = model.agg(sum("cr").as("tr"), count(lit(1)).as("v"))
      .crossJoin(tgtCnt.agg(coalesce(sum("ct"), lit(0L)).as("tt")))
    val llr = log((col("ct") + 1).cast("double") / (col("cr") + 1)) +
      log((col("tr") + col("v")).cast("double") / (col("tt") + col("v")))
    // integer-micros per-token scoring: long sums commute, so the score
    // is identical across partitionings, engines, and re-runs (ln inputs
    // are irrational, so the half-micro rounding boundary is never hit)
    val llrMicros = round(llr * lit(1000000.0), 0).cast("long")
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(model), Seq("tok"))
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(llrMicros).as("sum_micros"))
      // integer-domain final rounding (see TextAnalysis.microAvg4: the
      // double-division round is tie-prone for micro-summed rationals)
      .select(col("doc_id"), col("n_tokens"),
        TextAnalysis.microAvg4("sum_micros", "n_tokens").as("avg_logratio"))
  }

  /** Deterministic Gumbel-top-k resampling — the draw DSIR pairs with
    * its importance weights: sampling k documents without replacement
    * with probability ∝ exp(score) is exactly keeping the top k by
    * score + Gumbel noise (the Gumbel-max trick). The noise is derived
    * from md5(text), not an RNG — u = (first-24-md5-bits + 0.5)/2²⁴
    * ∈ (0,1), g = −ln(−ln u) — so the draw is engine- and
    * re-shard-stable like every sampler in this file (+0.5 keeps u off
    * both endpoints, where g diverges; all steps are exact-dyadic or
    * correctly-rounded, the q76 determinism argument). The selection is
    * a distributed top-k (TakeOrderedAndProject — per-partition heads,
    * no global sort); ties break on doc_id. */
  def gumbelTopK(docs: DataFrame, score: Column, k: Int): DataFrame = {
    require(k >= 1, s"gumbelTopK needs k >= 1, got $k")
    val u = (md5Bucket24(col("text")).cast("double")
      + lit(0.5d)) / lit((1 << 24).toDouble)
    docs.withColumn("gumbel_key", score - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Curated corpus stats per language (rows-only oracle: upstream uses
    * engine-internal MinHash). */
  def stats(curated: DataFrame): DataFrame =
    curated.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      .orderBy("lang")

  /** The Gopher document-quality rule battery (Rae et al. 2021 §A1.1 —
    * the published heuristics most LLM pipelines start from), evaluated
    * entirely in integer micros so every ratio is order-free and
    * engine-exact:
    *  1. word count within [`minWords`, `maxWords`];
    *  2. mean word length within [`minMeanWordLenMicros`,
    *     `maxMeanWordLenMicros`] (chars excluding separators, integral
    *     division);
    *  3. symbol-token share (`#`, `…`, `...`) ≤ `maxSymbolRatioMicros`;
    *  4. share of words containing a letter ≥ `minAlphaRatioMicros`;
    *  5. at least `minStopwords` DISTINCT stopwords present (the Gopher
    *     "contains 2 of the stop list" rule; `stopwords` parametrizes
    *     the list).
    * Adds per-rule booleans, the metric columns (micros), `first_fail`
    * (rules checked in the order above — deterministic reason), and
    * `keep`. Pure per-row projection: zero shuffle, codegen'd, the gate
    * runs in the scan stage at any corpus size. */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 15, maxWords: Int = 100000,
                  minMeanWordLenMicros: Long = 3000000L,
                  maxMeanWordLenMicros: Long = 10000000L,
                  maxSymbolRatioMicros: Long = 100000L,
                  minAlphaRatioMicros: Long = 800000L,
                  minStopwords: Int = 2,
                  stopwords: Seq[String] =
                    Seq("the", "a", "value", "table"),
                  textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val nt = size(toks).cast("long")
    // exact integral ratio in micros (the shared Micros idiom — integral
    // divide, exact for every representable long numerator)
    def ratioMicros(x: Column): Column = Micros.ratio(x, nt)
    val meanWlen = ratioMicros(length(col(textCol)) - nt + 1)
    val symbols = ratioMicros(
      size(filter(toks, t => t === "#" || t === "…" || t.startsWith("..."))))
    val alpha = ratioMicros(size(filter(toks, t => t.rlike("[a-zA-Z]"))))
    val stopHits = size(array_intersect(toks,
      array(stopwords.map(lit(_)): _*)))
    docs
      .withColumn("n_words", nt)
      .withColumn("mean_wlen_micros", meanWlen)
      .withColumn("symbol_micros", symbols)
      .withColumn("alpha_micros", alpha)
      .withColumn("stop_hits", stopHits)
      .withColumn("first_fail",
        when(!nt.between(minWords, maxWords), "word_count")
          .when(!meanWlen.between(minMeanWordLenMicros, maxMeanWordLenMicros),
            "word_length")
          .when(symbols > maxSymbolRatioMicros, "symbol_ratio")
          .when(alpha < minAlphaRatioMicros, "alpha_ratio")
          .when(stopHits < minStopwords, "stopwords"))
      .withColumn("keep", col("first_fail").isNull)
  }

  /** Demonstrative category blocklist for [[blocklistSignals]] — a real
    * deployment broadcasts a UT1/operator-maintained list (100k+ terms,
    * still broadcast-sized); this built-in keeps the plumbing testable
    * and dependency-free. */
  val defaultBlocklistRows: Seq[(String, String)] = Seq(
      "gambling" -> Seq("casino", "jackpot", "poker", "roulette", "betting"),
      "pharma" -> Seq("viagra", "cialis", "oxycodone", "xanax"),
      "piracy" -> Seq("warez", "keygen", "torrentz", "crackz"),
      "malware" -> Seq("trojan", "botnet", "ransomware"))
    .flatMap { case (c, ts) => ts.map(c -> _) }

  def defaultBlocklist(spark: SparkSession): DataFrame = {
    import spark.implicits._
    defaultBlocklistRows.toDF("category", "term")
  }

  /** UT1-style keyword blocklist scoring — the category gate every
    * crawl-curation pipeline runs alongside the quality gates
    * (RefinedWeb/FineWeb shape): count blocklist-term occurrences per
    * (doc, category) over alphanumeric-lowered tokens, flag documents
    * with any category at ≥ `threshold` hits (one stray "poker" in
    * prose survives; a page repeating it does not). Output per doc:
    * `n_hits` (all categories), `flagged_categories` (sorted-distinct,
    * comma-joined, '' when clean), `flagged`.
    *
    * Scale shape: the term table broadcasts; the token explode never
    * shuffles raw rows — (doc, category) counts map-side combine, so
    * the shuffled cardinality is docs × hit-categories; then one
    * doc-keyed aggregate and one doc-keyed left join back to the doc
    * spine for zero-hit rows. No window, no UDF. */
  def blocklistSignals(docs: DataFrame, blocklist: DataFrame,
                       threshold: Int = 2): DataFrame = {
    require(threshold >= 1, s"threshold >= 1, got $threshold")
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
    val perCat = toks.join(broadcast(blocklist), Seq("term"))
      .groupBy("doc_id", "category").agg(count(lit(1)).as("n"))
    val perDoc = perCat.groupBy("doc_id").agg(
      sum("n").as("n_hits"),
      array_join(array_sort(collect_list(
        when(col("n") >= threshold, col("category")))), ",")
        .as("flagged_categories"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("flagged_categories"), lit("")).as("flagged_categories"),
        coalesce(col("flagged_categories") =!= "", lit(false)).as("flagged"))
  }
}
