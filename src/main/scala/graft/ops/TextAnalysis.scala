package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (SURVEY.md §2.3):
  * language ID, token counting (whitespace + BPE-ish regex), quality
  * features. Everything is `functions._` expressions — no UDFs, full
  * whole-stage codegen, trivially 100 TB-parallel.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish pre-tokenizer count: word pieces, numbers, and single
    * non-space symbols (a GPT-2-style pre-tokenization regex family). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Sentence-span pattern: a sentence runs until a `.!?` terminator
    * run FOLLOWED BY whitespace or end-of-text; a terminator run glued
    * to a non-space character is consumed INSIDE the sentence (so
    * `3.14`, `e.g.x`, `a...b` never split mid-token). Expressed
    * without lookaround — the second alternation branch consumes
    * `[.!?]+` plus the non-space character that proves the run is not
    * a boundary — so it is Java-regex∩RE2 and every oracle splices it
    * verbatim. Abbreviation-aware splitting (`Dr. Smith` stays one
    * sentence) needs a language model; this keeps the plumbing
    * identical with a deterministic, dependency-free rule — the
    * [[langId]] argument. Linear time: the two branches start on
    * disjoint character classes, so no backtracking ambiguity. */
  private[graft] val SentencePattern: String =
    "(?:[^.!?]|[.!?]+[^.!?\\s])+[.!?]*"

  /** The sentences of a text in order — trimmed, empties dropped —
    * under [[SentencePattern]]. The segmentation unit between tokens
    * and documents: sentence-level dedup, bitext mining, and
    * sentence-aligned chunking all start here. */
  def sentences(text: Column): Column =
    filter(transform(regexp_extract_all(text, lit(SentencePattern), lit(0)),
      s => trim(s)), s => s =!= "")

  /** One row per sentence: `(idCol, sent_idx, sentence)` in document
    * order. Scan-stage regex + one posexplode — no shuffle. */
  def sentenceRows(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(sentences(col(textCol))).as(Seq("graft_pos", "sentence")))
      .select(col(idCol), col("graft_pos").cast("long").as("sent_idx"),
        col("sentence"))

  /** Sentence-aligned chunking — the RAG/context-window splitter that
    * never cuts mid-sentence: sentences accumulate in document order
    * and a new chunk starts at each multiple of `maxTokens`
    * CUMULATIVE whitespace tokens (`chunk_idx = tokens_before /
    * maxTokens`, exact Long floor division). A chunk may overflow the
    * budget by its last sentence — the standard sentence-aligned
    * trade-off, deterministic and order-free — and a single sentence
    * longer than the budget becomes its own oversized chunk rather
    * than being split. Output per chunk: `(idCol, chunk_idx,
    * n_sentences, n_tokens, text)`. Differs from
    * [[graft.ops.Curation]]'s concat-and-chunk packing (q67), which
    * cuts at EXACT token boundaries mid-sentence.
    *
    * Scale shape: the running-total window partitions BY DOCUMENT
    * ordered by sentence position — per-partition cardinality is one
    * document's sentence count, never corpus-shaped; then one
    * (doc, chunk) aggregate with map-side combine and the
    * ordered-string_agg rebuild idiom. */
  def sentenceChunks(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     maxTokens: Int = 128): DataFrame = {
    require(maxTokens >= 1, s"maxTokens >= 1, got $maxTokens")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy("sent_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val before = coalesce(sum(col("graft_nt")).over(w), lit(0L))
    sentenceRows(docs, idCol, textCol)
      // \s+ split, not " ": runs of spaces / tabs / newlines inside a
      // sentence are one separator, so n_tokens and the chunk budget
      // hold the documented whitespace-token semantics on
      // non-normalized text (sentences are trimmed, so no boundary
      // empties either)
      .withColumn("graft_nt",
        size(split(col("sentence"), "\\s+")).cast("long"))
      .withColumn("graft_before", before)
      .withColumn("chunk_idx", call_function("div",
        col("graft_before") - pmod(col("graft_before"), lit(maxTokens.toLong)),
        lit(maxTokens.toLong)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("graft_nt")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("sent_idx"), col("sentence")))),
          x => x("sentence")), " ").as("text"))
  }

  /** Length-based bitext sentence alignment over translation clusters —
    * the multilingual-training-pair miner that composes the hreflang
    * clustering (q244) with sentence segmentation ([[sentenceRows]]):
    * a Gale-Church-SHAPED heuristic in exact integer micros. Input:
    * one row per (cluster, lang) document. Per document, each
    * sentence's relative MIDPOINT position is computed in character
    * space — `mid = (2·chars_before + len) · 1e6 / (2 · total_chars)`,
    * exact Long floor ([[Micros.ratio]] — translations keep relative
    * sentence positions far better than absolute indexes, which is
    * Gale-Church's observation) — then for every lang pair
    * (`src_lang < dst_lang`) each src sentence pairs with the dst
    * sentence of NEAREST midpoint (ties to the lower dst index), and
    * a length-ratio gate in micros (`min·1e6/max ≥
    * minLenRatioMicros`) drops pairs no plausible translation
    * produces (default ≥ 0.5: within 2× — the classic Gale-Church
    * prior). Deterministic and oracle-able end to end: every number
    * is exact integer arithmetic, so the nearest-match and the gate
    * can never drift between engines. Output per surviving pair:
    * `(clusterCol, src_lang, dst_lang, src_idx, dst_idx,
    * src_sentence, dst_sentence, mid_delta_micros,
    * len_ratio_micros)`. The mapping is src-total (every src sentence
    * emits its best dst candidate; a dst sentence may serve several
    * src sentences when the dst side merged them) — filter on
    * `mid_delta_micros` for precision-biased harvesting.
    *
    * Scale shape: sentence windows partition BY (cluster, lang) —
    * per-partition cardinality is one document's sentence count; the
    * candidate join keys on the CLUSTER, so its fan-out is one
    * article's sentence count squared (the same O(n·m) a real
    * Gale-Church DP pays, without driver state), never
    * corpus-shaped; then one per-src window for the argmin. No
    * global window, no collect. */
  def bitextAlign(docs: DataFrame, clusterCol: String = "cluster_key",
                  langCol: String = "lang", textCol: String = "text",
                  minLenRatioMicros: Long = 500000L): DataFrame = {
    require(minLenRatioMicros >= 0 && minLenRatioMicros <= 1000000L,
      s"minLenRatioMicros in [0, 1e6], got $minLenRatioMicros")
    import org.apache.spark.sql.expressions.Window
    val sents = docs
      .select(col(clusterCol), col(langCol).as("graft_lang"),
        posexplode(sentences(col(textCol))).as(Seq("graft_pos", "graft_sent")))
      .withColumn("graft_idx", col("graft_pos").cast("long"))
      .withColumn("graft_len", length(col("graft_sent")).cast("long"))
    val wCum = Window.partitionBy(clusterCol, "graft_lang")
      .orderBy("graft_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(clusterCol, "graft_lang")
    val mids = sents
      .withColumn("graft_before",
        coalesce(sum(col("graft_len")).over(wCum), lit(0L)))
      .withColumn("graft_total", sum(col("graft_len")).over(wTot))
      .withColumn("graft_mid", Micros.ratio(
        col("graft_before") * 2 + col("graft_len"), col("graft_total") * 2))
      .select(col(clusterCol), col("graft_lang"), col("graft_idx"),
        col("graft_sent"), col("graft_len"), col("graft_mid"))
    val a = mids.select(col(clusterCol), col("graft_lang").as("src_lang"),
      col("graft_idx").as("src_idx"), col("graft_sent").as("src_sentence"),
      col("graft_len").as("graft_sl"), col("graft_mid").as("graft_sm"))
    val b = mids.select(col(clusterCol), col("graft_lang").as("dst_lang"),
      col("graft_idx").as("dst_idx"), col("graft_sent").as("dst_sentence"),
      col("graft_len").as("graft_dl"), col("graft_mid").as("graft_dm"))
    val wBest = Window
      .partitionBy(clusterCol, "src_lang", "dst_lang", "src_idx")
      .orderBy(col("mid_delta_micros"), col("dst_idx"))
    a.join(b, Seq(clusterCol)).filter(col("src_lang") < col("dst_lang"))
      .withColumn("mid_delta_micros", abs(col("graft_sm") - col("graft_dm")))
      .withColumn("graft_rn", row_number().over(wBest))
      .filter(col("graft_rn") === 1)
      .withColumn("len_ratio_micros", Micros.ratio(
        least(col("graft_sl"), col("graft_dl")),
        greatest(col("graft_sl"), col("graft_dl"))))
      .filter(col("len_ratio_micros") >= minLenRatioMicros)
      .select(col(clusterCol), col("src_lang"), col("dst_lang"),
        col("src_idx"), col("dst_idx"), col("src_sentence"),
        col("dst_sentence"), col("mid_delta_micros"),
        col("len_ratio_micros"))
  }

  /** Embedding-margin bitext mining over translation clusters — the
    * CCMatrix/LASER-shaped scorer that upgrades [[bitextAlign]]'s
    * length/position heuristic when sentence embeddings exist. Input:
    * one row per (cluster, lang, idx, sentence, embedding) — the
    * embeddings come from the caller's encoder ([[bitextAlign]] stays
    * the embedding-free fallback). For every lang pair
    * (`src_lang < dst_lang`) and every cross-language sentence pair in
    * a cluster:
    *
    *   `margin(x, y) = 2·cos(x, y) / (avgₖ(x) + avgₖ(y))`
    *
    * — the RATIO margin of Artetxe & Schwenk, where `avgₖ(x)` is the
    * mean of x's k HIGHEST cosines over the cluster's other-language
    * side (the candidate's own neighborhood normalizes its score: a
    * sentence that is merely close to everything scores ~1 against
    * every candidate, while a true translation stands above its
    * neighborhood). Each src sentence keeps its best-margin dst
    * candidate (ties to the lower dst index), gated at `minMargin`
    * (1.0 = above-neighborhood; raise for precision). Zero-norm
    * embeddings are dropped up front (cosine is undefined on them).
    * Output: `(clusterCol, src_lang, dst_lang, src_idx, dst_idx,
    * src_sentence, dst_sentence, cos_sim, margin)`.
    *
    * Deterministic cross-engine under the q250-style exact-dyadic
    * construction discipline: dot products and norms² are EXACT (so
    * order-free); sqrt/divide are correctly-rounded IEEE on both
    * engines, so ranks can never drift (q258 pins the full chain).
    *
    * Scale shape: the candidate join keys on the CLUSTER (fan-out one
    * article's sentences squared, like [[bitextAlign]] — never
    * corpus-shaped); the kNN normalizers are WINDOWS over the pair
    * frame keyed by (cluster, lang pair, sentence) — no self-joins,
    * no global window, no collect. Corpus-wide mining (no cluster
    * key) is [[Similarity.cosineTopK]]'s bucketed regime instead —
    * this op is the high-precision path where hreflang/URL evidence
    * already clusters candidates. */
  def bitextMineByMargin(sentences: DataFrame,
                         clusterCol: String = "cluster_key",
                         langCol: String = "lang", idxCol: String = "idx",
                         sentCol: String = "sentence",
                         embCol: String = "embedding",
                         k: Int = 4, minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, v) => acc + v)
    val base = sentences.select(col(clusterCol),
        col(langCol).as("graft_lang"), col(idxCol).cast("long").as("graft_idx"),
        col(sentCol).as("graft_sent"), col(embCol).as("graft_emb"))
      .withColumn("graft_norm", sqrt(dot(col("graft_emb"), col("graft_emb"))))
      .filter(col("graft_norm") > 0)
    val a = base.select(col(clusterCol), col("graft_lang").as("src_lang"),
      col("graft_idx").as("src_idx"), col("graft_sent").as("src_sentence"),
      col("graft_emb").as("graft_se"), col("graft_norm").as("graft_sn"))
    val b = base.select(col(clusterCol), col("graft_lang").as("dst_lang"),
      col("graft_idx").as("dst_idx"), col("graft_sent").as("dst_sentence"),
      col("graft_emb").as("graft_de"), col("graft_norm").as("graft_dn"))
    val wS = Window.partitionBy(clusterCol, "src_lang", "dst_lang", "src_idx")
    val wD = Window.partitionBy(clusterCol, "src_lang", "dst_lang", "dst_idx")
    val wBest = wS.orderBy(col("margin").desc, col("dst_idx"))
    a.join(b, Seq(clusterCol)).filter(col("src_lang") < col("dst_lang"))
      .withColumn("cos_sim", dot(col("graft_se"), col("graft_de")) /
        (col("graft_sn") * col("graft_dn")))
      .drop("graft_se", "graft_de", "graft_sn", "graft_dn")
      // each side's k nearest OTHER-LANGUAGE neighbors (the candidate
      // included — the neighborhood definition of the margin paper)
      .withColumn("graft_rs", row_number().over(
        wS.orderBy(col("cos_sim").desc, col("dst_idx"))))
      .withColumn("graft_rd", row_number().over(
        wD.orderBy(col("cos_sim").desc, col("src_idx"))))
      .withColumn("graft_ks",
        avg(when(col("graft_rs") <= k, col("cos_sim"))).over(wS))
      .withColumn("graft_kd",
        avg(when(col("graft_rd") <= k, col("cos_sim"))).over(wD))
      // the ratio margin assumes a POSITIVE neighborhood: with a zero
      // or negative denominator the division yields NaN/Inf or flips
      // the sign — and NaN both sorts greatest and passes `>= gate`
      // in Spark, so a degenerate pair would WIN the argmax. Such
      // neighborhoods (all cross-language cosines ≤ 0) carry no
      // translation evidence; drop them before the division.
      .filter(col("graft_ks") + col("graft_kd") > 0)
      .withColumn("margin",
        col("cos_sim") * 2.0 / (col("graft_ks") + col("graft_kd")))
      .withColumn("graft_rn", row_number().over(wBest))
      .filter(col("graft_rn") === 1 && col("margin") >= minMargin)
      .select(col(clusterCol), col("src_lang"), col("dst_lang"),
        col("src_idx"), col("dst_idx"), col("src_sentence"),
        col("dst_sentence"), col("cos_sim"), col("margin"))
  }

  /** CORPUS-WIDE margin bitext mining — the CCMatrix regime where no
    * hreflang/URL evidence clusters candidates: sign-LSH candidate
    * generation across the two languages' sentence pools
    * ([[graft.functions.LshSignatures]] — ONE hash family, so the two
    * sides' buckets are comparable) followed by the
    * [[bitextMineByMargin]] ratio-margin scorer, with the kNN
    * normalizers computed over each sentence's CANDIDATE neighborhood
    * (the ANN approximation CCMatrix itself uses: the margin paper's
    * k-nearest sets come from a faiss index, not a full scan). Input:
    * one row per `(idCol, langCol, sentCol, embCol)` across the corpus;
    * only rows of `srcLang`/`dstLang` participate. Output: per src
    * sentence its best-margin dst candidate at `minMargin`+ —
    * `(src_lang, dst_lang, src_id, dst_id, src_sentence, dst_sentence,
    * cos_sim, margin)`.
    *
    * Scale shape: candidates are bucket equi-joins (never all-pairs),
    * hot buckets capped over the COMBINED two-sided occupancy
    * (`maxBucketSize`, the [[Similarity.lshCosineNearDupPairs]]
    * defense — a mass-duplicated embedding floods buckets on either
    * side); scoring is windows over the candidate-bounded pair frame.
    * Identical embeddings share every bucket, so true translations
    * with cos ≈ 1 are found at near-certain recall; the
    * SimilaritySpec recall floor pins the LSH path against the exact
    * all-pairs margin ([[bitextMineGlobalMd5]] with `buckets = 1` IS
    * that reference — every id hashes to bucket 0). */
  def bitextMineGlobal(sentences: DataFrame, srcLang: String,
                       dstLang: String,
                       idCol: String = "sent_id", langCol: String = "lang",
                       sentCol: String = "sentence",
                       embCol: String = "embedding",
                       planes: Int = 8, tables: Int = 12,
                       maxBucketSize: Int = Dedup.DefaultHotKeyCap,
                       k: Int = 4, minMargin: Double = 1.0): DataFrame =
    bitextMineGlobalImpl(sentences, srcLang, dstLang, idCol, langCol,
      sentCol, embCol, (_, e) =>
        graft.functions.VectorFunctions.lshSignatures(e, planes, tables),
      maxBucketSize, k, minMargin)

  /** Engine-portable sibling of [[bitextMineGlobal]] (the q210
    * annLshMd5 trick): the SAME candidate/score/rank machinery fed by
    * deterministic md5-derived bucket ids — per table `t`, bucket =
    * `md5_prefix60(id || ':' || t) % buckets + t·10⁶` — so a DuckDB
    * oracle re-derives the candidate set and every margin from its own
    * builtins (q269). `buckets = 1, tables = 1` degenerates to the
    * EXACT all-pairs margin (every id in bucket 0) — the brute-force
    * reference the spec's recall floor measures [[bitextMineGlobal]]
    * against. */
  def bitextMineGlobalMd5(sentences: DataFrame, srcLang: String,
                          dstLang: String,
                          idCol: String = "sent_id",
                          langCol: String = "lang",
                          sentCol: String = "sentence",
                          embCol: String = "embedding",
                          buckets: Int = 32, tables: Int = 4,
                          maxBucketSize: Int = 0,
                          k: Int = 4, minMargin: Double = 1.0): DataFrame =
    bitextMineGlobalImpl(sentences, srcLang, dstLang, idCol, langCol,
      sentCol, embCol, (id, _) => array((0 until tables).map { t =>
        graft.functions.Md5Functions.md5Prefix60(
          concat(id.cast("string"), lit(":"), lit(t.toString))) % buckets +
          lit(t.toLong * 1000000L)
      }: _*), maxBucketSize, k, minMargin)

  private def bitextMineGlobalImpl(sentences: DataFrame, srcLang: String,
                                   dstLang: String, idCol: String,
                                   langCol: String, sentCol: String,
                                   embCol: String,
                                   sigs: (Column, Column) => Column,
                                   maxBucketSize: Int, k: Int,
                                   minMargin: Double): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(srcLang != dstLang,
      s"src and dst languages must differ, got '$srcLang' twice")
    import org.apache.spark.sql.expressions.Window
    def dp(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, v) => acc + v)
    val base = sentences.select(col(langCol).as("graft_lang"),
        col(idCol).cast("long").as("graft_id"),
        col(sentCol).as("graft_sent"),
        col(embCol).cast("array<double>").as("graft_emb"))
      .withColumn("graft_norm", sqrt(dp(col("graft_emb"), col("graft_emb"))))
      .filter(col("graft_norm") > 0)
    val src = base.filter(col("graft_lang") === srcLang).select(
      col("graft_id").as("src_id"), col("graft_sent").as("src_sentence"),
      col("graft_emb").as("graft_se"), col("graft_norm").as("graft_sn"))
    val dst = base.filter(col("graft_lang") === dstLang).select(
      col("graft_id").as("dst_id"), col("graft_sent").as("dst_sentence"),
      col("graft_emb").as("graft_de"), col("graft_norm").as("graft_dn"))
    val sb0 = src.select(col("src_id"),
      explode(sigs(col("src_id"), col("graft_se"))).as("bucket"))
    val db0 = dst.select(col("dst_id"),
      explode(sigs(col("dst_id"), col("graft_de"))).as("bucket"))
    // the hot-bucket cap counts COMBINED occupancy: a bucket flooded
    // from either side alone still emits |src∩bucket|·|dst∩bucket|
    // candidates, so capping per side would miss one-sided floods
    val (sb, db) =
      if (maxBucketSize <= 0) (sb0, db0)
      else {
        val hot = sb0.select("bucket").unionByName(db0.select("bucket"))
          .groupBy("bucket").count()
          .filter(col("count") > maxBucketSize).select("bucket")
        (sb0.join(hot, Seq("bucket"), "left_anti"),
          db0.join(hot, Seq("bucket"), "left_anti"))
      }
    // candidate id pairs first (the distinct shuffles 16 bytes per
    // pair, not embeddings); vectors re-attach after dedup
    val candIds = sb.join(db, Seq("bucket"))
      .select("src_id", "dst_id").distinct()
    val pairs = candIds.join(src, Seq("src_id")).join(dst, Seq("dst_id"))
      .withColumn("cos_sim", dp(col("graft_se"), col("graft_de")) /
        (col("graft_sn") * col("graft_dn")))
      .drop("graft_se", "graft_de", "graft_sn", "graft_dn")
    val wS = Window.partitionBy("src_id")
    val wD = Window.partitionBy("dst_id")
    pairs
      // each side's k nearest CANDIDATE neighbors (the margin paper's
      // neighborhood, ANN-approximated — the bitextMineByMargin shape)
      .withColumn("graft_rs", row_number().over(
        wS.orderBy(col("cos_sim").desc, col("dst_id"))))
      .withColumn("graft_rd", row_number().over(
        wD.orderBy(col("cos_sim").desc, col("src_id"))))
      .withColumn("graft_ks",
        avg(when(col("graft_rs") <= k, col("cos_sim"))).over(wS))
      .withColumn("graft_kd",
        avg(when(col("graft_rd") <= k, col("cos_sim"))).over(wD))
      // non-positive neighborhoods carry no translation evidence and
      // would NaN/flip the ratio (NaN sorts greatest AND passes >= in
      // Spark — the bitextMineByMargin trap)
      .filter(col("graft_ks") + col("graft_kd") > 0)
      .withColumn("margin",
        col("cos_sim") * 2.0 / (col("graft_ks") + col("graft_kd")))
      .withColumn("graft_rn", row_number().over(
        wS.orderBy(col("margin").desc, col("dst_id"))))
      .filter(col("graft_rn") === 1 && col("margin") >= minMargin)
      .select(lit(srcLang).as("src_lang"), lit(dstLang).as("dst_lang"),
        col("src_id"), col("dst_id"), col("src_sentence"),
        col("dst_sentence"), col("cos_sim"), col("margin"))
  }

  /** Tiny per-language stopword profiles for heuristic lang-ID. A real
    * pipeline ships char-n-gram models; the heuristic keeps identical
    * plumbing (score → argmax) with a deterministic, dependency-free
    * scorer. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "value", "data", "row"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "es" -> Seq("el", "la", "de", "los", "las", "es", "un", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une"))

  /** Heuristic language ID: character-class gate (CJK / non-latin scripts)
    * then stopword-profile argmax over latin text. Output: doc_id,
    * pred_lang, lang_score, n_tokens_ws, n_tokens_bpe. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    // argmax via array_max over (score, lang) structs: each score expression
    // is evaluated once (a when-chain fold re-evaluates every score at every
    // comparison level); ties break to the lexicographically larger lang.
    val best = array_max(array(profiles.map { case (lang, words) =>
      struct((size(filter(toks, t => t.isin(words: _*))).cast("double") / nTok).as("s"),
        lit(lang).as("l"))
    }: _*))
    val hasCjk = col("text").rlike("[\\u4e00-\\u9fff]")
    // `best` is referenced three times below, partly inside when-branches
    // where codegen subexpression elimination cannot reach — materialize
    // it in its own projection so the 4-profile scan runs ONCE per row
    // (CollapseProject keeps multi-referenced expensive aliases intact).
    Spread.cpu(docs).withColumn("graft_best", best)
      .select(col("doc_id"),
        when(hasCjk, lit("zh"))
          .when(col("graft_best.s") > 0, col("graft_best.l"))
          .otherwise(lit("unknown")).as("pred_lang"),
        round(col("graft_best.s"), 3).as("lang_score"),
        size(toks).cast("long").as("n_tokens_ws"),
        bpeishTokenCount(col("text")).as("n_tokens_bpe"))
  }

  /** Character-trigram profiles for [[langIdTrigram]]: the classic
    * Cavnar–Trenkle n-gram-profile shape over a broad latin-script
    * language set — per language, its most characteristic space-padded
    * lowercase trigrams, weight = rank position (strongest first). The
    * lists are the well-known high-frequency trigrams of each language
    * (function words and inflection endings), deterministic and
    * dependency-free: the same broadcast-model-table plumbing as a
    * learned profile, with a reproducible scorer. */
  private val trigramProfileData: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", "ing", "ng ",
      " of", "of ", " to", "to ", "ed ", "ion", "ent"),
    "de" -> Seq("en ", "er ", "der", " de", "ich", "sch", "ein", " ei",
      "die", " di", "und", " un", "ch ", "cht", "ung"),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "que", " qu", "ue ",
      "el ", " el", "ión", "ón ", "ció", "los", " lo"),
    "fr" -> Seq(" de", "de ", "es ", "le ", " le", "ent", "nt ", "et ",
      " et", " la", "la ", "les", "que", "ais", "eur"),
    "it" -> Seq(" di", "di ", "to ", "la ", " la", "che", " ch", "he ",
      "re ", "ion", "del", " de", "ell", "zio", "gli"),
    "pt" -> Seq(" de", "de ", "os ", "ão ", "da ", " da", "do ", " do",
      "que", " qu", "ue ", "em ", "ção", "res", " co"),
    "nl" -> Seq("en ", " de", "de ", "et ", " he", "het", "van", " va",
      "an ", "der", "een", " ee", "n d", "ij ", "aar"),
    "sv" -> Seq("en ", " de", "et ", "er ", " oc", "och", "ch ", " at",
      "att", "tt ", "för", " fö", "ar ", "det", " ha"),
    "da" -> Seq("er ", " de", "det", "en ", " at", "og ", " og", "der",
      "de ", " ha", "at ", "ere", "til", " ti", "ige"),
    "fi" -> Seq("en ", "in ", "an ", "ist", " on", "on ", "aan", "een",
      "ssa", " ka", " ja", "ja ", "sta", "lla", "tta"),
    "pl" -> Seq("ie ", "nie", " ni", "em ", " po", "prz", "rze", " na",
      "na ", "ego", "go ", "ych", " pr", "owa", "ach"),
    "cs" -> Seq(" pr", " po", "ost", "ní ", " ne", "pro", " je", "je ",
      "se ", " se", " na", "na ", "ho ", "ou ", "ých"),
    "tr" -> Seq("lar", "ler", " bi", "bir", "ir ", "in ", "an ", "ar ",
      "da ", "de ", "ın ", " ka", " ol", "eri", "nda"),
    "ro" -> Seq(" de", "de ", "ul ", "re ", "are", "ea ", "lor", "or ",
      " cu", "cu ", " pe", "ste", "ele", " ca", "ate"))

  /** Script-range gates applied BEFORE trigram scoring: languages whose
    * script identifies them outright (the trigram profiles are
    * latin-script). Kana is checked before CJK ideographs — Japanese
    * text contains both. Same ranges expressible in RE2 (`\x{..}`) for
    * the oracle. */
  private def scriptGateRanges: Seq[(String, Int, Int)] =
    graft.functions.ScriptGateOps.ranges // one definition (r16: the fused
                                         // native gate shares it)

  /** (lang, Java-regex char class) — Spark side. */
  private def scriptGates: Seq[(String, String)] =
    scriptGateRanges.map { case (l, lo, hi) => (l, f"[\\u$lo%04x-\\u$hi%04x]") }

  /** Minimum share (integer micros over the document's character count)
    * of a script's characters for its gate to fire: a single stray
    * Greek letter or CJK ideograph in otherwise-Latin prose (math
    * notation, a quoted name) must NOT override the trigram argmax, but
    * genuinely gated-script text — including Japanese, where kana
    * typically run ~30% of characters against kanji — clears 10%
    * comfortably. The cheap any-char `rlike` stays as a short-circuit
    * in front of the share count, so Latin-only rows never pay the
    * per-gate character tally. */
  val ScriptGateMinShareMicros: Long = 100000L

  /** Gate conditions over a text column: char-class hit AND minimum
    * in-script character share ([[ScriptGateMinShareMicros]]). The
    * share counts characters via the length-minus-stripped identity,
    * mirrored verbatim by the oracle's RE2 form. */
  /** Reference (expression-chain) form of the gates — retained for the
    * native-kernel parity spec; [[langIdTrigram]] now evaluates the
    * fused [[graft.functions.ScriptGateLang]] single-pass kernel
    * instead (r16: up to 18 regex passes per row → one codepoint
    * pass; decision rule identical, see the expression's scaladoc). */
  private[graft] def scriptGateConds(text: Column): Seq[(String, Column)] =
    scriptGates.map { case (l, re) =>
      val nScript = length(text) -
        length(regexp_replace(text, re, ""))
      (l, text.rlike(re) &&
        Micros.ratio(nScript.cast("long"),
          greatest(length(text), lit(1)).cast("long")) >=
          ScriptGateMinShareMicros)
    }

  /** (lang, RE2 char class) — for DuckDB-oracle mirrors of the gates. */
  def scriptGatesRe2: Seq[(String, String)] =
    scriptGateRanges.map { case (l, lo, hi) => (l, f"[\\x{$lo%04x}-\\x{$hi%04x}]") }

  /** The [[langIdTrigram]] model table: one row per (lang, trigram,
    * weight) — 14 languages × 15 trigrams, broadcast-sized by
    * construction (a learned profile at 1000s of trigrams per language
    * is still broadcast-sized). */
  /** Flat (lang, trigram, weight) rows — public so oracle mirrors can
    * embed the IDENTICAL model as SQL literals (one source of truth). */
  def trigramProfileRows: Seq[(String, String, Long)] =
    trigramProfileData.flatMap { case (lang, tris) =>
      require(tris.distinct.size == tris.size, s"dup trigram in $lang profile")
      tris.zipWithIndex.map { case (t, r) => (lang, t, (tris.size - r).toLong) }
    }

  def trigramProfiles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    trigramProfileRows.toDF("lang", "trigram", "w")
  }

  /** Trigram-profile language ID over a broad language set — the scale
    * successor to the [[langId]] stopword heuristic (kept as the q53
    * baseline). Per doc: lowercase, collapse whitespace, pad with one
    * space each side, take all character trigrams; score each language
    * as the weight-sum of profile hits normalized by the doc's trigram
    * count (integer micros, order-free); argmax with lexicographically-
    * larger-language tie-break. Script-range gates ([[scriptGates]])
    * take precedence and claim score 1.0 — kana/hangul/ideograph/
    * cyrillic/greek/arabic/hebrew/devanagari/thai text is identified by
    * its script, not latin trigrams — but only when the script holds at
    * least [[ScriptGateMinShareMicros]] of the document's characters: a
    * lone Greek letter or CJK char in Latin prose (math, a quoted name)
    * never hijacks the verdict. Docs with zero profile hits →
    * `unknown`, score 0.
    *
    * Scale shape: the profile table (≤ a few thousand rows even
    * learned) broadcasts; the trigram explode never shuffles raw rows —
    * the (doc, lang) weight-sum is map-side combined, so the shuffled
    * cardinality is docs × hit-languages, then a doc-keyed argmax
    * aggregate and one doc-keyed join back to the per-row features. No
    * window, no cartesian, no UDF: every stage is codegen'd
    * expressions + two bounded aggregates. */
  def langIdTrigram(docs: DataFrame): DataFrame = {
    val sExpr = concat(lit(" "),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")), lit(" "))
    // The normalized string is materialized in its OWN projection
    // (multi-referenced below, so CollapseProject keeps the alias — the
    // langId precedent).
    val norm = Spread.cpu(docs).select(col("doc_id"), col("text"),
      sExpr.as("graft_s"))
    val nTri = greatest(length(col("graft_s")) - 2, lit(0)).cast("long")
    // r16: scoring against the compile-time-constant profile is
    // per-document work — the trigram explode (one row per character),
    // the broadcast model join, the (doc, lang) weight-sum, the argmax
    // aggregate, and the join back to the features all collapse into
    // the fused [[graft.functions.TrigramLangBest]] kernel (one
    // codepoint pass; identical `max(struct(w, lang))` ordering — the
    // q213/q216 oracles pin the values cross-engine, and the parity
    // spec pins kernel-vs-chain equality). A deployment that LEARNS a
    // profile at runtime would keep the broadcast-join form — this
    // operator's model is the static table the oracle embeds.
    val base = norm.select(col("doc_id"), col("text"),
      nTri.as("n_trigrams"),
      graft.functions.TrigramLangFunctions.trigramLangBest(col("graft_s"))
        .as("b"))
    // r16: the 9 per-script gates (each an `rlike` scan + a
    // `regexp_replace` rewrite, referenced by BOTH output columns) fold
    // into one fused native codepoint pass returning the gate verdict
    // directly — decision rule identical by construction (parity spec
    // in NativeKernelParitySpec; the q213/q216 oracles pin the
    // values cross-engine).
    val gLang = graft.functions.ScriptGateFunctions
      .scriptGateLang(col("text"), ScriptGateMinShareMicros)
    base
      .select(col("doc_id"), col("text"), col("b"), col("n_trigrams"),
        gLang.as("graft_gate"))
      .select(col("doc_id"),
        coalesce(col("graft_gate"),
          when(col("b").isNotNull, col("b.lang")).otherwise(lit("unknown")))
          .as("pred_lang"),
        when(col("graft_gate").isNotNull, lit(1000000L))
          .when(col("b").isNotNull,
            Micros.ratio(col("b.w"), col("n_trigrams")))
          .otherwise(lit(0L)).as("score_micros"),
        col("n_trigrams"))
  }

  /** Gopher-style repetition score: the share of all word bigrams taken
    * by the single most frequent bigram (high → templated/spammy text).
    * Shape: fully per-row, ZERO shuffle — the native codegen'd
    * [[graft.functions.BigramTopCount]] expression finds the max bigram
    * count in one fused primitive pass (per-token FNV-1a, pair fold,
    * primitive sort, longest run), so the score computes inside the scan
    * stage with no per-bigram rows at all; across the corpus it's
    * embarrassingly parallel, the shape that wins at 100 TB over the
    * exploded wordcount (which shuffles one row per bigram; measured
    * ~4.8 s → ~1.5 s cold-subset at sf0.1, the residue being session
    * setup). Two rejected shapes, for the
    * record: `transform(array_distinct(bg), w -> size(filter(bg, ...)))`
    * is a NESTED higher-order form, quadratic per document and
    * re-evaluating the bigram subtree per lambda call (>100× slower);
    * and a built-in `aggregate` fold over `array_sort` is linear but
    * interpreted per element with a struct allocation per step — it
    * measured ~35% SLOWER than the exploded wordcount. Interpreted HOF
    * lambdas lose to Tungsten; primitive native expressions beat both.
    *
    * Counts are exact modulo 64-bit bigram-hash collisions *within one
    * document* (~n²/2⁶⁵ per doc — the standard hash-identity argument,
    * and the oracle's string-keyed recount confirms it on the
    * fixtures). */
  def topBigramShare(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.filter(size(toks) >= 2)
      .select(col("doc_id"), (size(toks) - 1).cast("long").as("n_bigrams"),
        graft.functions.ShingleFunctions.bigramTopCount(toks).as("top"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("top").cast("double") / col("n_bigrams"), 4).as("top_bigram_share"))
  }

  /** CCNet-style unigram LM quality score: mean ln p(token) under the
    * corpus unigram distribution (low → out-of-distribution / junk
    * text). The frequency model is one map-side-combined wordcount over
    * `corpus`; scoring joins the exploded tokens of `docs` to the
    * frequency table — vocabulary-sized, hence broadcast, so the doc
    * side never shuffles for the join. Tokens absent from the corpus are
    * dropped (smoothing is a modeling choice left to callers); with
    * `corpus = docs` every token is present. */
  def unigramLogProb(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val docToks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // The freq table feeds BOTH the totals aggregate and the doc-side
    // join; ReuseExchange runs the wordcount's shuffle once for both.
    val freq = corpus.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("tot"))
    // integer-micros per-token scoring (the q88/q110 convention): long
    // sums commute, so the score is identical across partitionings,
    // engines, and re-runs — round(avg(double)) here was the same
    // order-dependent summation class that flaked q110 (ln inputs are
    // irrational, so the half-micro rounding boundary is never hit)
    val lpMicros = round(
      log(col("c").cast("double") / col("tot")) * lit(1000000.0), 0).cast("long")
    docToks.join(broadcast(freq), Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(lpMicros).as("sum_micros"))
      .select(col("doc_id"), col("n_tokens"),
        microAvg4("sum_micros", "n_tokens").as("avg_logprob"))
  }

  /** Interpolated bigram LM score — the next rung above
    * [[unigramLogProb]] toward what CCNet's KenLM actually measures
    * (context-sensitive fluency; a unigram model scores shuffled text
    * identically, a bigram model does not):
    * `p(w|prev) = 0.7·cb/c(prev) + 0.3·(cu+1)/(N+V)` — Jelinek-Mercer
    * interpolation with an add-one-smoothed unigram floor, falling back
    * to the unigram term alone for the first token and for a `prev`
    * unseen in the LM corpus. Determinism discipline is the whole
    * unigram/DSIR family's: per-token `round(ln(p)·1e6)` Longs (order-
    * free sums), [[microAvg4]] for the 4-decimal average, and the same
    * double expression shapes the oracle mirrors term for term.
    *
    * Scale shape: the unigram table is vocabulary-bounded; the distinct-
    * bigram table is NOT bounded — it grows with corpus size (the
    * Heaps-law tail, see [[bigramLogProb]]) — so its broadcast hint fits
    * curated model corpora and must be dropped for a web-scale
    * corpus-as-model (AQE then picks a shuffled join, semantics
    * unchanged). The `prev` token is derived row-wise from the token
    * array (slice + arrays_zip, the [[bigramLogProb]] idiom) — no
    * doc-keyed window, so the doc side never shuffles at all before the
    * final doc_id aggregate. */
  def interpolatedBigramLogProb(docs: DataFrame, corpus: DataFrame): DataFrame = {
    // prev per position computed inside the scan stage: zip the token
    // array against itself shifted by one (null head) instead of a
    // lag window — the window form shuffles + sorts the entire exploded
    // token stream by doc_id, the largest intermediate of the job.
    def stream(df: DataFrame): DataFrame =
      df.select(col("doc_id"), tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), posexplode(arrays_zip(
          col("w").as("tok"),
          concat(array(lit(null).cast("string")),
            slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))))
            .as("prev"))))
        .select(col("doc_id"), col("pos"), col("col.tok").as("tok"),
          col("col.prev").as("prev"))
    val uni = corpus.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").cast("long").as("n"),
      count(lit(1)).cast("long").as("v"))
    val big = stream(corpus).filter(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("cb"))
    val prevUni = uni.select(col("tok").as("prev"), col("cu").as("cuprev"))
    val joined = stream(docs)
      .join(broadcast(uni), Seq("tok"), "left")
      .join(broadcast(big), Seq("prev", "tok"), "left")
      .join(broadcast(prevUni), Seq("prev"), "left")
      .crossJoin(broadcast(tot))
    // mirrored term for term in the oracle SQL — association order is
    // load-bearing for bit-identical doubles
    val uniP = (coalesce(col("cu"), lit(0L)) + 1).cast("double") /
      (col("n") + col("v"))
    val p = when(col("prev").isNull || col("cuprev").isNull, uniP)
      .otherwise(lit(0.7) *
        (coalesce(col("cb"), lit(0L)).cast("double") / col("cuprev")) +
        lit(0.3) * uniP)
    val lpMicros = round(log(p) * lit(1000000.0), 0).cast("long")
    joined.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(lpMicros).as("sum_micros"))
      .select(col("doc_id"), col("n_tokens"),
        microAvg4("sum_micros", "n_tokens").as("avg_logprob"))
  }

  /** round(sum_micros / 1e6 / n, 4) computed ENTIRELY in integer
    * arithmetic — half-away-from-zero on the exact rational via floor
    * division of nonnegative longs — then one exact int→double division
    * by 1e4, identical IEEE in any engine. The double-division form
    * (`round(sum/1e6/n, 4)`) is tie-PRONE for micro-summed rationals:
    * sum/(100·n) lands on an exact .00005 boundary with probability
    * ~1/(200·n) per group, where Spark's BigDecimal HALF_UP and
    * DuckDB's scaled std::round can disagree on the nearest double
    * (measured: one 5000-doc sf0.1 bigram row flipped at the 4th
    * decimal). Oracle SQL mirrors the same CASE + `//` chain. Shared by
    * the unigram/bigram/DSIR score family and q42's avg_norm. */
  private[graft] def microAvg4(sumCol: String, nCol: String): Column =
    expr(s"CASE WHEN $sumCol >= 0 THEN (2*$sumCol + 100*$nCol) DIV (200*$nCol) " +
         s"ELSE -((-2*$sumCol + 100*$nCol) DIV (200*$nCol)) END")
      .cast("double") / lit(10000.0)

  /** CCNet-style bigram LM quality score: mean conditional log-probability
    * ln p(w2|w1) = ln(c(w1,w2) / c_prefix(w1)) under the corpus bigram
    * model — the next step up from [[unigramLogProb]] (real CCNet ships a
    * 5-gram KenLM; the plumbing — frequency model broadcast, doc side
    * never shuffles — is identical at any order). Unlike the unigram
    * table (genuinely vocabulary-bounded), the distinct-bigram table
    * grows with corpus size (Heaps-law tail), so the broadcast hint fits
    * curated model corpora; for a web-scale corpus-as-model drop the
    * hint and let AQE pick a shuffled join — semantics unchanged
    * (SCALE.md, Curation). Bigrams absent from the corpus are dropped
    * like q69's unknown tokens (smoothing left to callers). */
  def bigramLogProb(docs: DataFrame, corpus: DataFrame): DataFrame = {
    // Materialize the token array before zipping: a lambda capturing the
    // raw split() would re-run it per element (the q66 O(n²) trap); the
    // slice/arrays_zip pair needs no lambda at all — one linear pass.
    def bigrams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // two consumers (prefix fold + model join) share one shuffle of the
    // corpus-wide bigram count via ReuseExchange
    val freq = bigrams(corpus).groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    // c_prefix(w1) = Σ_w2 c(w1,w2): fold the vocab²-sized freq table
    // instead of re-scanning the corpus bigram stream a second time, then
    // fold the conditional log-prob into it so the (big) doc side pays a
    // single broadcast join against one finished model table.
    val prefix = freq.groupBy("w1").agg(sum("c").as("cp"))
    val model = freq.join(prefix, "w1").select(col("w1"), col("w2"),
      log(col("c").cast("double") / col("cp")).as("lp"))
    bigrams(docs)
      .join(broadcast(model), Seq("w1", "w2"))
      .groupBy("doc_id")
      // integer-micros per-bigram scoring — order-free long sum, see
      // unigramLogProb for the q110-class rationale
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(col("lp") * lit(1000000.0), 0).cast("long")).as("sum_micros"))
      .select(col("doc_id"), col("n_bigrams"),
        microAvg4("sum_micros", "n_bigrams").as("avg_logprob"))
  }

  /** Corpus-level collocation mining via pointwise mutual information:
    * the `topK` adjacent word pairs whose co-occurrence most exceeds
    * chance — PMI(w₁,w₂) = ln(p(w₁w₂) / (p(w₁)·p(w₂))), computed as
    * ln((c₁₂·N·N) / (B·c₁·c₂)) from integer counts (N tokens, B
    * bigrams). Distinct from [[bigramLogProb]]: that scores DOCUMENTS
    * under a conditional LM; this ranks PAIRS by association strength —
    * the phrase-detection pass (word2vec-style "new_york" joining,
    * terminology mining) a curation pipeline runs before tokenization.
    *
    * Scale: both count tables are map-side-combined aggregates of the
    * tokenized corpus, and the totals fold those tables (N = Σ c₁,
    * B = Σ c₁₂ before the `minCount` prune — exact integer identities),
    * so the corpus is never re-aggregated; the PMI join touches only the
    * vocabulary-bounded count tables, never the corpus; `minCount`
    * prunes the rare-pair tail (PMI's classic noise: a 1-occurrence
    * pair of two rare words maxes the score) BEFORE the joins; top-k is
    * a distributed TakeOrderedAndProject, no global sort. Determinism:
    * one ln on an all-integer-derived ratio (the q20/q69 ln-parity
    * precedent), emitted in integer micros; ties break on the pair. */
  def pmiCollocations(corpus: DataFrame, minCount: Long = 5,
                      topK: Int = 50): DataFrame = {
    val toked = corpus.select(tokens(col("text")).as("w"))
    val bg = toked.filter(size(col("w")) >= 2)
      .select(explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("w1"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("w2"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val uni = toked.select(explode(col("w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val allPairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val pairs = allPairs.filter(col("c12") >= minCount)
    // one-row totals, the dsirLogRatio shape: broadcast cross join
    val totals = uni.agg(sum("c").cast("long").as("n_tok"))
      .crossJoin(allPairs.agg(sum("c12").cast("long").as("n_big")))
    pairs
      .crossJoin(broadcast(totals))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c12").as("pair_count"),
        // denominator goes double-first: three long factors can pass
        // 2⁶³ on a large corpus (ANSI overflow), and the identical
        // double chain on both engines keeps the ln argument bit-equal
        round(log((col("c12").cast("double") * col("n_tok") * col("n_tok")) /
          (col("n_big").cast("double") * col("c1") * col("c2"))) * 1000000.0, 0)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Corpus-mixture drift diagnostic: per-source KL divergence of the
    * source's unigram distribution from the whole-corpus distribution —
    * KL(P_s ‖ Q) = Σ_w P_s(w)·ln(P_s(w)/Q(w)). High divergence marks a
    * source whose token distribution departs from the blend (templated
    * boilerplate, wrong language, format noise) — the check a pipeline
    * runs after `Curation.mixCorpus`-style rebalancing. No smoothing
    * needed: every token a source contains exists in the corpus count,
    * so Q(w) > 0 wherever P_s(w) > 0.
    *
    * Scale: the corpus is scanned once into the (source, token) count
    * table; everything after joins vocabulary-bounded model tables
    * (source totals, global counts, the one-row grand total broadcast)
    * — the per-term ln chain is the exact IEEE sequence the oracle
    * mirrors, and terms sum as integer micros (order-free, the
    * q69/q80 LM-family rationale; terms can be negative, so HALF_UP
    * away-from-zero rounding matches both engines per that precedent). */
  def sourceKlDivergence(docs: DataFrame, sourceCol: String = "source"): DataFrame = {
    val sw = docs
      .select(col(sourceCol).as("src"), explode(tokens(col("text"))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c_sw"))
    val sTot = sw.groupBy("src").agg(sum("c_sw").as("n_s"))
    val gw = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val totals = sw.agg(sum("c_sw").as("n"))
    sw.join(sTot, "src").join(gw, "w").crossJoin(broadcast(totals))
      .select(col("src"), col("n_s"),
        round((col("c_sw").cast("double") / col("n_s")) *
          log((col("c_sw").cast("double") * col("n")) /
            (col("n_s").cast("double") * col("c_w"))) * 1000000.0, 0)
          .cast("long").as("term_micro"))
      .groupBy("src", "n_s")
      .agg(sum("term_micro").as("kl_micro"))
      .select(col("src").as("source"), col("n_s").as("n_tokens"),
        col("kl_micro"))
  }

  /** TF-IDF keyword extraction: the `topK` highest tf·idf terms per doc,
    * idf = ln(N / df). Both model tables are vocabulary-bounded
    * (broadcast); the ranking window partitions per doc over its own
    * vocabulary only. The score is a short IEEE chain (long counts →
    * one division, one ln, one multiply), so ranks are engine-identical
    * (the q20/q69 ln-parity precedent); exact ties break on the term. */
  def tfIdfTopK(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(broadcast(df), "tok").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf"), col("rnk"))
  }

  /** BM25 (Okapi) ranked retrieval: score each corpus document against
    * each query document's distinct terms, return the top-`topK` docs per
    * query. Fixed k1 = 1.2, b = 0.75 (the standard defaults).
    *
    * Scale shape: the corpus side is a term-frequency inverted index
    * (one shuffle, by token); the query term list and the df/idf model
    * table are vocabulary-bounded → broadcast, and the corpus-wide
    * (n_docs, avgdl) scalar rides along as a one-row broadcast. The
    * corpus index shuffles once and joins everything else in place —
    * the same shape as [[tfIdfTopK]] and [[unigramLogProb]].
    *
    * Determinism: the per-(query, doc) score is a SUM of per-term
    * contributions, and float summation order differs between engines —
    * so each term's contribution (a pure mul/div/ln chain, IEEE-identical
    * per the q20/q69 ln-parity precedent) is scaled to integer micros
    * first and summed as a long: exact, order-free, oracle-mirrorable.
    * avgdl is exact (integer-valued double partial sums ≪ 2⁵³). */
  def bm25TopK(queries: DataFrame, corpus: DataFrame, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusToks = corpus.select(col("doc_id"), tokens(col("text")).as("toks"))
    // dl rides along as a grouping column (constant per doc), so the index
    // needs no corpus-wide doc-length join afterwards — ONE shuffle builds it
    val tf = corpusToks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val stats = corpusToks.agg(count(lit(1)).as("n_docs"),
      avg(size(col("toks")).cast("long")).as("avgdl"))
    val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val qTerms = queries.select(col("doc_id").as("query_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfNorm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    val contrib = tf
      .join(broadcast(qTerms), Seq("tok"))
      .join(broadcast(dfT), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfNorm * lit(1000000.0), 0).cast("long").as("micros"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("doc_id").asc)
    contrib.groupBy("query_id", "doc_id")
      .agg(sum("micros").as("score_micros"), count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"),
        round(col("score_micros").cast("double") / lit(1000000.0), 4).as("score"),
        col("n_terms"), col("rnk"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttner 2009): combine
    * several per-query rankings — each a (q_id, doc_id, rnk) DataFrame,
    * e.g. [[bm25TopK]] lexical plus [[Dedup.jaccardTopK]] or a cosine
    * ANN list — into one, scoring each (q_id, doc_id) as
    * Σ_lists 1/(k + rnk). Rank-based, so no score calibration across
    * heterogeneous retrievers is needed — the hybrid-search default.
    *
    * Determinism: each contribution is one correctly-rounded division of
    * exact small integers, and with two lists the per-doc sum is a
    * single IEEE addition (commutative) — engine-identical; beyond two
    * lists summation order matters only within a (q_id, doc_id) group of
    * near-tied doubles, and the doc_id tiebreak absorbs it. Scale shape:
    * the inputs are already topK-bounded (|queries|·topK rows per list);
    * fusion shuffles only those id/rank triples and windows per query —
    * the corpus is never touched. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60, topK: Int = 5): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && topK >= 1, s"need k >= 1 and topK >= 1; got k=$k topK=$topK")
    val contribs = rankings.map(_.select(col("q_id"), col("doc_id"),
      (lit(1.0) / (lit(k.toDouble) + col("rnk").cast("double"))).as("contrib")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf_score").desc, col("doc_id").asc)
    contribs.reduce(_ unionAll _)
      .groupBy("q_id", "doc_id")
      .agg(sum("contrib").as("rrf_score"), count(lit(1)).as("n_lists"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("doc_id"),
        round(col("rrf_score"), 6).as("rrf_score"), col("n_lists"), col("rnk"))
  }

  /** BPE-style merge learning over the word stream ("word-pair
    * encoding"): `nMerges` rounds, each picking the corpus's most
    * frequent adjacent token pair (count desc, then lexicographic —
    * fully deterministic) and fusing it into a single token for the next
    * round, exactly the BPE training loop with words as the base
    * alphabet. Merged tokens join with U+0001 so spaces stay the
    * separator.
    *
    * Shape per round: one distributed pair-count aggregate (map-side
    * combined) + a ONE-ROW argmax collect (control-plane sized, like the
    * IVF trainer's bounded sample) + one codegen regexp projection that
    * applies the merge left-to-right non-overlapping — the same greedy
    * order BPE uses. Rounds are driver-coordinated but never move data
    * to the driver; cost is nMerges corpus passes, the textbook BPE
    * trainer cost. Returns (merge_rank, left, right, n). */
  def learnWpeMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    var cur = docs.select(col("doc_id"), col("text"))
    // each round's state persists, or round k would re-evaluate the whole
    // k-deep regexp lineage from the raw scan (O(rounds²) corpus passes;
    // measured 6.0 s → 2.6 s at sf0.1 for 8 rounds). At real corpus scale
    // the same role is played by materializing trainer state to storage.
    var prev: Option[DataFrame] = None
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val toks = split(col("text"), " ")
      val top = cur.select(
          explode(arrays_zip(slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1))).as("p"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect() // exactly one row per round — control plane
      // the count above materialized cur's cache — the previous round's
      // state is no longer reachable and can release now (not earlier:
      // unpersisting before cur materializes would re-expose the full
      // k-deep regexp lineage)
      prev.foreach(_.unpersist(blocking = false))
      if (cur ne docs) prev = Some(cur)
      if (top.nonEmpty) {
        val Row(l: String, r: String, n: Long) = top(0)
        learned += ((rank, l, r, n))
        val (pat, rep) = mergeRegex(l, r)
        cur = cur.select(col("doc_id"),
          regexp_replace(col("text"), pat, rep).as("text")).persist()
      }
    }
    prev.foreach(_.unpersist(blocking = false))
    if ((cur ne docs) && !prev.contains(cur)) cur.unpersist(blocking = false)
    import spark.implicits._
    learned.result().toDF("merge_rank", "left", "right", "n")
      .select(col("merge_rank").cast("long").as("merge_rank"),
        // report merges in the user's vocabulary: U+0001 joiners from
        // earlier rounds render as spaces inside the fused token
        regexp_replace(col("left"), "\u0001", " ").as("left"),
        regexp_replace(col("right"), "\u0001", " ").as("right"), col("n"))
  }

  /** The ONE construction of a merge's regex: global leftmost
    * non-overlapping fuse of adjacent tokens (l, r) — boundary
    * lookarounds, joiner U+0001. Shared by the trainer's corpus-state
    * update and [[applyWpeMerges]], so train/apply semantics cannot
    * drift. `l`/`r` are in INTERNAL form (joiners, not spaces). */
  private def mergeRegex(l: String, r: String): (String, String) = (
    "(?<![^ ])" + java.util.regex.Pattern.quote(l) + " " +
      java.util.regex.Pattern.quote(r) + "(?![^ ])",
    java.util.regex.Matcher.quoteReplacement(l + "\u0001" + r))

  /** The ENCODE half of the tokenizer loop: apply a learned merge table
    * ([[learnWpeMerges]] output — merge_rank, left, right) to documents,
    * yielding one row per post-merge token: (doc_id, pos, token).
    * Semantics are trainer-identical by construction: merges apply in
    * rank order, each as ONE global leftmost non-overlapping pass (the
    * same lookaround regexp the trainer's corpus-state update uses), so
    * encoding a corpus with its own learned merges reproduces the
    * trainer's final segmentation exactly — the property a tokenizer
    * must have for train/apply consistency (pinned in ClusterDedupSpec
    * against a sequential reference implementation). Note this is
    * sequential-by-rank application, NOT the pair-rank-priority-queue
    * BPE encoder: priority encoding can re-visit earlier ranks on pairs
    * created by later merges and would DIVERGE from this trainer.
    *
    * Merged tokens render their joiners as spaces (a merged unit reads
    * "deep learning"), matching the trainer's reported vocabulary;
    * re-joining the output tokens with single spaces reproduces the
    * original text byte-for-byte (merges regroup, never rewrite).
    *
    * Scale shape: the merge table is control-plane sized (one row per
    * merge) and collapses into a single chained-regexp projection —
    * |merges| codegen'd regex passes per row, zero joins, zero shuffles;
    * the explode is the only row-count change. */
  def applyWpeMerges(docs: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.select(col("merge_rank").cast("long").as("rk"),
        col("left"), col("right"))
      .orderBy("rk").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val encoded = ms.foldLeft(col("text")) { case (c, (l0, r0)) =>
      // reported merges render earlier joiners as spaces — re-join for
      // pattern building so second-order merges match the internal state
      val (pat, rep) = mergeRegex(l0.replace(' ', '\u0001'), r0.replace(' ', '\u0001'))
      regexp_replace(c, pat, rep)
    }
    Spread.cpu(docs).select(col("doc_id"), encoded.as("enc"))
      .select(col("doc_id"), posexplode(split(col("enc"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        regexp_replace(col("tok"), "\u0001", " ").as("token"))
  }

  /** Sketch-based heavy hitters: a count-min sketch over the exploded token
    * stream estimates per-token frequency without carrying exact per-token
    * state; candidates above `minShare` of total are then exact-counted.
    * The 100 TB shape: the sketch merges associatively executor-side (one
    * small binary per partition), so the full-shuffle wordcount happens
    * only for the few candidate tokens. */
  def heavyHitters(docs: DataFrame, minShare: Double,
                   eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    val toksDf = docs.select(explode(tokens(col("text"))).as("tok"))
    // ONE pass builds the sketch; the stream length falls out of it for
    // free (CountMinSketch tracks totalCount of added items) — no separate
    // count() scan over the exploded tokens.
    val sketch = toksDf.stat.countMinSketch("tok", eps, confidence, seed = 42)
    val total = sketch.totalCount()
    val threshold = (total * minShare).toLong
    // candidate set from the sketch (over-approximation), then exact
    // count. The probe is the native CountMinEstimate expression — the
    // sketch ships as a plan reference object and the filter runs inside
    // whole-stage codegen, no ScalaUDF serde on the full token stream.
    val estimate =
      graft.functions.SketchFunctions.countMinEstimate(sketch, col("tok"))
    toksDf.filter(estimate >= threshold)
      .groupBy("tok").agg(fcount(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(col("n").desc, col("tok"))
  }

  /** [[heavyHitters]] via a Misra-Gries summary ([[MisraGriesAgg]])
    * instead of count-min: ONE aggregation pass builds a ≤ k-entry
    * mergeable sketch (the token count rides along in the same pass),
    * whose guarantee — every token with share > 1/(k+1) survives any
    * merge order — makes the candidate set a proven superset of the
    * heavy hitters whenever `minShare > 1/(k+1)` (required). The exact
    * confirm over ≤ k candidate literals then makes the OUTPUT exact
    * and deterministic even though the sketch's below-threshold
    * survivors are merge-order-dependent. Driver traffic: one row of
    * ≤ k (token, count) pairs — bounded by construction. */
  def heavyHittersMG(docs: DataFrame, minShare: Double, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    require(minShare > 1.0 / (k + 1),
      s"minShare $minShare is below the sketch guarantee 1/(k+1) = ${1.0 / (k + 1)}" +
        " — raise k or minShare, or candidates may miss true heavy hitters")
    val toksDf = docs.select(explode(tokens(col("text"))).as("tok"))
    val mgAgg = udaf(MisraGriesAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    val row = toksDf.agg(mgAgg(col("tok")).as("mg"),
      fcount(lit(1)).as("total")).head()
    val total = row.getLong(1)
    val threshold = (total * minShare).toLong
    val candidates = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    toksDf.filter(col("tok").isin(candidates: _*))
      .groupBy("tok").agg(fcount(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(col("n").desc, col("tok"))
  }

  /** Frequency-ranked token vocabulary: the `vocabSize` most frequent
    * corpus tokens, id 0 = most frequent, ties broken lexicographically
    * (so the id assignment is engine- and rerun-stable — a vocabulary
    * whose ids shuffle between builds poisons every checkpoint trained
    * against it). The ranking window is global but runs over the
    * DISTINCT-TOKEN table (vocabulary-bounded, the q69/q83 model-table
    * argument), not the corpus; the wordcount under it is map-side
    * combined. */
  def buildVocab(corpus: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize >= 1, got $vocabSize")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    corpus.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
      .filter(col("token_id") < vocabSize)
      .select("tok", "token_id")
  }

  /** Tokenizer encode to id sequences: map each document's tokens to
    * vocabulary ids ([[buildVocab]] or a loaded vocab table), truncate to
    * `maxLen` positions, out-of-vocabulary tokens → `unkId` (callers pass
    * the vocab size, the conventional UNK slot). Output is the EXPLODED
    * (doc_id, pos, token_id) form — the shape downstream packers consume
    * and the only driver-comparable one (raw array columns are
    * unhashable in the harness, the q68 lesson). Scale shape: the vocab
    * is broadcast, the document side never shuffles; truncation is a
    * pushed filter on the position BEFORE the join, so over-length tails
    * never pay the lookup. */
  def encodeToIds(docs: DataFrame, vocab: DataFrame, maxLen: Int,
                  unkId: Long): DataFrame = {
    require(maxLen >= 1, s"maxLen >= 1, got $maxLen")
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(col("pos") < maxLen)
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(unkId)).as("token_id"))
  }

  /** Latin∪Cyrillic homoglyph spoofing signals — the mixed-script check
    * every crawl pipeline runs against Unicode-confusable spam (a
    * Cyrillic 'а' inside a Latin word evades exact AND shingle dedup
    * while rendering identically). Two columns:
    *  - `n_mixed`: tokens containing BOTH a Latin and a Cyrillic letter
    *    (explicit code-point ranges, identical in Java regex and RE2 —
    *    script classes like `\p{IsLatin}` spell differently per engine);
    *  - `skeleton`: the text with the common Cyrillic confusables folded
    *    to their Latin homoglyphs (`translate`, one table) — the dedup
    *    key that reunites spoofed duplicates with their originals.
    * Pure per-row projections; codegen'd. */
  val CyrillicConfusables = "аеорсухАВЕКМНОРСТХ"
  val LatinFold = "aeopcyxABEKMHOPCTX"

  /** Collapse runs of consecutively-repeated tokens down to `keep`
    * occurrences — the within-document repetition cleanup ("very very
    * very very good" → "very good") that complements the cross-document
    * span dedup in [[Dedup.removeDuplicateSpans]] and the corpus-level
    * gates: generation artifacts and scraped chat logs repeat in-place,
    * which no document-level hash catches. Pure index-filter HOF chain
    * (keep position i iff fewer than `keep` of its immediate
    * predecessors carry the same token) — engine-identical, zero
    * shuffle, codegen-safe array ops over one row. */
  def collapseTokenRuns(text: Column, keep: Int = 1): Column = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val a = split(text, " ")
    val idx = filter(sequence(lit(1), size(a)), i =>
      (1 to keep).map(k => i <= k || element_at(a, i) =!= element_at(a, i - k))
        .reduce(_ || _))
    array_join(transform(idx, i => element_at(a, i)), " ")
  }

  /** Per-document DEFLATE compression ratio — the classic cheap proxy
    * for repetition/boilerplate (near-duplicate boilerplate compresses
    * to almost nothing; diverse prose doesn't), used as a quality gate
    * alongside [[topBigramShare]]: the two catch different failure
    * shapes (exact repetition vs low lexical diversity).
    *
    * mapPartitions with ONE `Deflater` per partition, reset per row —
    * the per-partition-init shape of [[Multimodal.decodePayloads]]
    * (codec handles are exactly the kind of state you init once per
    * executor task, never per row). Output ratio is integral micros
    * (compressed·10⁶ div raw). Deterministic for a fixed zlib level on
    * a platform; engine-internal by nature → rows-only + spec-gated,
    * like the other codec/sketch surfaces. */
  def compressionSignals(spark: SparkSession, docs: DataFrame,
                         level: Int = 6): DataFrame = {
    import spark.implicits._
    require(level >= 1 && level <= 9, s"bad deflate level $level")
    Spread.cpu(docs).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level, true)
        // release native zlib memory when the task ends (normally OR on
        // early abort/limit) instead of waiting for finalization — across
        // many tasks on a large corpus the unreleased handles pressure
        // off-heap memory
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          val ratio = if (raw.length == 0) 1000000L
            else compressed * 1000000L / raw.length
          (id, raw.length.toLong, compressed, ratio)
        }
      }
      .toDF("doc_id", "raw_bytes", "compressed_bytes", "ratio_micros")
  }

  /** Encoding-anomaly signals — the ftfy-class detector every crawl
    * pipeline runs before content dedup (mis-decoded text poisons both
    * the dedup key and the language model downstream; a corpus slice
    * that is 2% mojibake is a FETCH bug, not a content property). Four
    * per-document counters plus the standard keep flag:
    *  - `n_mojibake`: UTF-8-read-as-Latin-1 artifacts — a lead byte
    *    rendered in U+00C2..C5 followed by a continuation byte
    *    rendered in the U+0080–U+00FF range (catches 'Ã©' for 'é'), plus
    *    the windows-1252 'â€¦' punctuation family ('â€' + the curly
    *    quote/dash/ellipsis tail);
    *  - `n_replacement`: U+FFFD replacement characters (a decoder
    *    already gave up);
    *  - `n_control`: C0 control characters other than `\t\n\r` (binary
    *    bleed-through);
    *  - `n_nbsp`: U+00A0 no-break spaces (layout residue; normalization
    *    candidate, not a drop signal — reported, excluded from the flag).
    * `enc_ok` = no mojibake, no replacement chars, no control chars.
    * All counters are `size(regexp_extract_all(...))` over explicit
    * code-point classes — Java-regex∩RE2 identical (script/property
    * classes spell differently per engine and are avoided), pure
    * codegen'd projections, zero shuffle. */
  def encodingSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def n(pat: String): Column =
      size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")
    // Explicit \x{..} escapes (valid in BOTH Java regex and RE2) instead
    // of literal artifact characters: the pattern must survive editors,
    // JSON oracle transport, and code review without invisible-char bugs.
    //  - arm 1: a UTF-8 lead byte for the Latin-1/Latin-Extended planes
    //    rendered as \u00c2/\u00c3/\u00c4/\u00c5 (U+00C2..C5) followed by a
    //    continuation-byte rendering (U+00A0..BF, identical in Latin-1
    //    and cp1252);
    //  - arm 2: the cp1252 curly-punctuation family: lead E2 renders as
    //    U+00E2, continuation 80 as U+20AC, and the third byte lands on
    //    a cp1252 remap (U+2122 U+201C U+201D U+0153 U+2022 U+2013
    //    U+2014 U+00A6).
    docs
      .withColumn("n_mojibake",
        n("[\\x{00C2}-\\x{00C5}][\\x{00A0}-\\x{00BF}]|" +
          "\\x{00E2}\\x{20AC}[\\x{2122}\\x{201C}\\x{201D}\\x{0153}" +
          "\\x{2022}\\x{2013}\\x{2014}\\x{00A6}]"))
      .withColumn("n_replacement", n("\\x{FFFD}"))
      .withColumn("n_control",
        n("[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]"))
      .withColumn("n_nbsp", n("\\x{00A0}"))
      .withColumn("enc_ok",
        (col("n_mojibake") === 0 && col("n_replacement") === 0 &&
          col("n_control") === 0).cast("int"))
  }

  /** Exact integral ratio in micros — `floor(x * 1e6 / d)` in pure Long
    * arithmetic, 0 when the denominator is 0. The order-free idiom every
    * ratio column in this library uses (floats aggregate
    * order-dependently; integers don't). */
  private def microsRatio(x: Column, d: Column): Column = Micros.ratio(x, d)

  /** Word n-grams WITH multiplicity, in document order — the counting
    * sibling of [[graft.ops.Dedup.shingles]] (which is distinct-set
    * shaped): same slice/zip_with fold, no `array_distinct`, so repeated
    * grams keep their copies and positions line up with token index. */
  private def gramsWithRepeats(toks: Column, n: Int): Column = {
    val m = greatest(size(toks) - (n - 1), lit(0))
    (1 until n).foldLeft(slice(toks, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(1 + j), m), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** Gopher/MassiveText duplicate-LINE signals, per document: of a doc's
    * lines, how many are repeats of an earlier identical line in the SAME
    * doc (`dup_line_micros` = duplicate occurrences / lines) and how much
    * text they hold (`dup_char_micros` = duplicate-occurrence chars /
    * total line chars, newline separators excluded from both sides).
    * Templated pages repeat nav rows and list stubs dozens of times;
    * prose repeats nothing — the classic within-doc companion to the
    * corpus-level [[graft.ops.Dedup.removeBoilerplateLines]].
    *
    * Shape: explode lines → groupBy (doc_id, line) with map-side partial
    * count (a doc's repeated lines collapse before the shuffle) →
    * groupBy doc_id. Both shuffles are keyed by doc_id(+line): per-key
    * cardinality is bounded by single-document size, skew-free at any
    * corpus scale, and duplicate counting needs no window — `count - 1`
    * per distinct line IS the duplicate-occurrence count. */
  def dupLineSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col("doc_id"), explode(split(col(textCol), "\n")).as("line"))
      .groupBy("doc_id", "line").agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"), length(col("line")).as("len"))
    per.groupBy("doc_id").agg(
      sum("c").as("n_lines"),
      microsRatio(sum(col("c") - 1), sum(col("c"))).as("dup_line_micros"),
      microsRatio(sum((col("c") - 1) * col("len")),
        sum(col("c") * col("len"))).as("dup_char_micros"))
  }

  /** Gopher top n-gram character fraction, per document: the single most
    * frequent word n-gram's character mass — `count × len(gram)` over the
    * doc's total characters (micros). High values mark the "lorem ipsum
    * lorem ipsum …" templated-repetition shape that per-line signals
    * miss when the repeat has no line break. Ties break to the
    * lexicographically smallest gram, so the reported gram is
    * deterministic. Docs with fewer than `n` words have no gram and are
    * absent (mirrored by the oracle's length filter).
    *
    * Shape: explode grams → (doc_id, gram) count with map-side combine →
    * per-doc argmax as `min(struct(-count, gram))` — no window, no
    * second pass over the corpus; denominators ride the same row. */
  def topNgramCharFraction(docs: DataFrame, n: Int = 3,
                           textCol: String = "text"): DataFrame = {
    require(n >= 2, s"top n-gram needs n >= 2, got $n")
    // r17: the top n-gram is a per-DOCUMENT statistic, so the explode →
    // (doc, gram)-count shuffle → per-doc argmax shuffle collapses to ONE
    // scan-stage kernel (§1.2 step 1 — the q172 DupNgramStats precedent).
    // [[graft.functions.TopNgramOps]] applies the identical rules: count
    // by gram (64-bit hashed identity, the topBigramShare caveat), ties →
    // binary-smallest gram string (= the old `min(struct(-c, gram))`
    // ordering); under-n docs return null and stay absent, as before.
    val toks = split(col(textCol), " ")
    docs
      .select(col("doc_id"), length(col(textCol)).cast("long").as("tchars"),
        graft.functions.TopNgramFunctions.topNgramStats(toks, n).as("best"))
      .filter(col("best").isNotNull)
      .select(col("doc_id"), col("best.gram").as("top_gram"),
        col("best.c").as("top_count"),
        microsRatio(col("best.c") * length(col("best.gram")),
          col("tchars")).as("top_char_micros"))
  }

  /** Gopher duplicate n-gram COVERAGE fraction, per document: the share
    * of token characters covered by at least one occurrence of a
    * duplicated n-gram (a gram appearing ≥ 2 times in the doc). Coverage
    * is a UNION over token positions — overlapping duplicate grams count
    * each token once, the subtlety that makes this the honest "how much
    * of this doc is self-repetition" number (summing `count × len` double
    * counts overlaps and can exceed 1). Denominator = total token chars
    * (separator spaces excluded — they belong to no token).
    *
    * Shape: every stage is keyed by doc_id (+gram/+token-position), so
    * per-key cardinality is bounded by document length, never corpus
    * size: grams with positions → duplicated grams (count ≥ 2, positions
    * kept as a per-doc-bounded list) → covered token indexes via
    * `sequence(pos, pos+n-1)` explode + distinct → join back to token
    * lengths → per-doc char sum. Docs with no duplicated gram get 0 via
    * the final left join onto the doc list. */
  def dupNgramCoverage(docs: DataFrame, n: Int = 5,
                       textCol: String = "text"): DataFrame = {
    require(n >= 2, s"dup n-gram coverage needs n >= 2, got $n")
    // r16: the coverage union is computable per DOCUMENT, so the whole
    // five-stage pipeline (grams explode → per-gram count → positions
    // explode → distinct → char-sum joins; 4 shuffles + a join, 12 jobs
    // at sf0.1) collapses to ONE scan-stage projection around the fused
    // native [[graft.functions.DupNgramStats]] kernel (guide §1.2 step 1:
    // the cheapest execution is zero shuffles — per-doc work never needed
    // the cluster-wide stages). Values unchanged: the kernel applies the
    // identical duplicated-gram position-union and codepoint-count rules
    // (exact modulo within-doc 64-bit gram-hash collisions, the
    // [[topBigramShare]] precedent; the q172 string-keyed oracle
    // confirms on the fixtures). Docs with a null text column vanish
    // from the output exactly as the prior posexplode(null) did.
    val stats = graft.functions.ShingleFunctions
      .dupNgramStats(split(col(textCol), " "), n)
    docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), stats.as("st"))
      .select(col("doc_id"),
        microsRatio(element_at(col("st"), 1), element_at(col("st"), 2))
          .as("dup_ngram_micros"))
  }

  /** Shared micros least-squares: exact Long normal-equation sums over
    * an integer-micros (x, y) point frame, two final IEEE divisions —
    * the determinism scheme [[zipfFit]] and [[heapsFit]] both use.
    * Slope/intercept are null when the x spread is degenerate (k·Σx² =
    * (Σx)², e.g. a single point) — surfaced, not masked. */
  private def microsLeastSquares(pts: DataFrame): DataFrame =
    pts.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("k").as("n_points"),
        round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round((col("sy").cast("double") / col("k") -
          ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            col("sx").cast("double") / col("k")) / 1e6, 6).as("intercept"))

  /** Zipf-fit corpus-health audit: least-squares slope of ln(freq) on
    * ln(rank) over the top-`topN` tokens — natural text sits near −1;
    * templated/synthetic corpora flatten toward 0, token-salad steepens.
    * One row: (n_points, slope rounded to 6dp, intercept likewise).
    *
    * Determinism: each point's ln() is rounded to integer MICROS
    * per row (ln itself is correctly-rounded IEEE — the q69/q20 parity
    * argument), and the normal-equation sums then run as exact Long
    * aggregates — order-free under any partial-aggregation split, with
    * every product bounded well under 2⁶³ at topN ≤ 1000 (micros ~1e7,
    * xy ~1e14, n·Σxy ~1e18 at the extreme). The only float ops are the
    * two final divisions of exact integers. Rank ties break by token, so
    * the point set itself is engine-stable.
    *
    * Shape: one map-side-combined wordcount, a TakeOrderedAndProject
    * top-`topN` (no global sort), a window over those `topN` rows only,
    * one 1-row aggregate. */
  def zipfFit(docs: DataFrame, topN: Int = 100,
              textCol: String = "text"): DataFrame = {
    require(topN >= 3, s"need topN >= 3 points, got $topN")
    val counts = docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok").asc)
    val pts = counts.withColumn("r", row_number().over(w))
      .select(
        round(log(col("r").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("n").cast("double")) * 1e6, 0).cast("long").as("y"))
    microsLeastSquares(pts)
  }

  /** Heaps-law corpus-health audit — the vocabulary-growth companion to
    * [[zipfFit]]: one point per `groupCol` value (x = ln total tokens,
    * y = ln distinct types), least-squares slope/intercept across
    * groups. Natural-language sources sit at slope ≈ 0.4–0.6 (Heaps β);
    * templated sources flatten (vocab stops growing with size),
    * token-salad pushes toward 1. Needs ≥ 2 groups with distinct sizes
    * for a meaningful slope; with fewer the denominator is 0 and slope
    * is null (surfaced, not masked).
    *
    * Determinism: the same integer-micros normal-equation scheme as
    * [[zipfFit]] — per-point ln rounded to Long micros, exact Long
    * sums, two final IEEE divisions. Shape: one (group, token)
    * wordcount, one per-group rollup (both map-side combined), one
    * 1-row aggregate — nothing corpus-wide beyond the wordcount. */
  def heapsFit(docs: DataFrame, groupCol: String = "source",
               textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col(groupCol).as("g"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    val pts = per.groupBy("g")
      .agg(sum("c").as("ntok"), count(lit(1)).as("ntyp"))
      .select(
        round(log(col("ntok").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("ntyp").cast("double")) * 1e6, 0).cast("long").as("y"))
    microsLeastSquares(pts)
  }

  /** Per-source length-distribution drift: the max binned-CDF gap
    * (two-sample Kolmogorov–Smirnov over fixed-width bins) between each
    * source's `lenCol` distribution and the whole corpus — the "did
    * this feed's documents suddenly get truncated / concatenated?"
    * audit that catches fetcher regressions a mean would smooth over.
    *
    * Exactness: each side's CDF is floored to integer MICROS first
    * (`floor(cum·1e6 / n)` in exact Long division — order-free,
    * engine-identical, and overflow-safe to ~9·10¹² documents, where
    * the cross-multiplied alternative `cum_s·n_all` overflows at ~10⁹),
    * then the statistic is `max_b |f_s(b) − f_all(b)|` — within 1 µ of
    * the true KS, deterministically. The bin grid is densified (every
    * source × every bin) before the cumulative window so step functions
    * are compared on a common grid; grid size is #sources × `bins` —
    * audit-sized, never corpus-sized. */
  def lengthDriftBySource(docs: DataFrame, groupCol: String = "source",
                          lenCol: String = "n_chars", bins: Int = 64,
                          binWidth: Int = 64): DataFrame = {
    require(bins >= 2 && binWidth >= 1, s"bad bins=$bins width=$binWidth")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("b")
    val bCol = least(floor(col(lenCol).cast("double") / binWidth), lit(bins - 1))
      .cast("long")
    // null lengths are excluded from BOTH the CDFs and the corpus
    // count (least() would otherwise silently bucket them as max-length)
    val clean = docs.filter(col(lenCol).isNotNull)
    val per = clean.select(col(groupCol).as("g"), bCol.as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
    val grid = per.select("g").distinct()
      .crossJoin(docs.sparkSession.range(bins).toDF("b"))
    val cums = grid.join(per, Seq("g", "b"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum", sum("c").over(w))
    val tot = cums.groupBy("g").agg(max("cum").as("n_g"))
    val all = cums.groupBy("b").agg(sum("c").as("call"))
      .withColumn("cum_all", sum("call").over(
        org.apache.spark.sql.expressions.Window.orderBy("b")))
    val nAll = clean.select(count(lit(1)).as("n_all"))
    cums.join(tot, "g").join(all.select("b", "cum_all"), "b")
      .crossJoin(broadcast(nAll))
      .select(col("g"), col("n_g"),
        microsRatio(col("cum"), col("n_g")).as("f_g"),
        microsRatio(col("cum_all"), col("n_all")).as("f_all"))
      .groupBy(col("g").as(groupCol))
      .agg(max("n_g").as("n_docs"),
        max(abs(col("f_g") - col("f_all"))).as("ks_micros"))
  }

  /** Per-document lexical diversity: token count, distinct-type count,
    * type/token ratio, and hapax share (types occurring exactly once /
    * types) — the cheap vocabulary-richness screens (low TTR ⇒
    * templated/repetitive; hapax near 1 on long docs ⇒ token salad).
    * Exact integral micros; both aggregations keyed by doc_id(+token),
    * per-key cardinality document-bounded. */
  def lexicalDiversity(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    per.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("n_types"),
      microsRatio(count(lit(1)), sum(col("c"))).as("ttr_micros"),
      microsRatio(sum(when(col("c") === 1, 1L).otherwise(0L)),
        count(lit(1))).as("hapax_micros"))
  }

  def mixedScriptSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    val latin = "[A-Za-z]"
    val cyr = "[Ѐ-ӿ]"
    docs
      .withColumn("n_mixed",
        size(filter(toks, t => t.rlike(latin) && t.rlike(cyr))).cast("long"))
      .withColumn("skeleton",
        translate(col(textCol), CyrillicConfusables, LatinFold))
  }
}
