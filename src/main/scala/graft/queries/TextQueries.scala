package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextStats}
import graft.util.Stages
import Q._

/** Text-analysis + near-dup operator coverage over `documents`
  * (north-star ops; SURVEY §2.11). The deterministic-count queries carry
  * DuckDB oracles; hash-based signature/pair queries are rows-only (their
  * semantics are asserted in ScalaTest with planted near-duplicates).
  */
object TextQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** documents unioned with slightly-perturbed copies (id + 1,000,000,
    * one token appended) — plants guaranteed near-dup pairs so pair-mining
    * queries have deterministic, non-empty output on any corpus. */
  private def withPlantedNearDups(docs: DataFrame): DataFrame =
    docs.unionByName(docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" zyxqj"))))

  /** The three term-count retrieval probes behind q114: (query_id,
    * terms). Term-frequency ranking keeps the metric oracle compact —
    * the BM25 ranker itself is independently hash-checked (q63). */
  private val irQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("join", "spark"),
    2L -> Seq("window", "merge"),
    3L -> Seq("table", "scan"))

  val queries: Map[String, QFn] = Map(
    // Ranked-retrieval evaluation: recall/MRR/nDCG@10 of three
    // term-count retrieval runs against graded term-presence qrels —
    // the measurement loop that grades every ranker in the library.
    // All three metric rows hash-checked against DuckDB.
    "q114_retrieval_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = regexp_extract_all(lower(coalesce(col("text"), lit(""))),
        lit("\\S+"), lit(0))
      val runs = irQueries.map { case (qid, terms) =>
        val tfs = terms.map(tm =>
          size(filter(toks, x => x === lit(tm))).cast("long"))
        val score = tfs.reduce(_ + _)
        // top-20 candidate list, then rank the bounded sliver (the
        // rrfFuse global-window-on-candidates contract)
        docs.select(col("doc_id"), score.as("__tf"))
          .filter(col("__tf") > 0)
          .orderBy(col("__tf").desc, col("doc_id"))
          .limit(20)
          .withColumn("rnk", row_number().over(Window
            .orderBy(col("__tf").desc, col("doc_id"))))
          .select(lit(qid).as("query_id"), col("doc_id"), col("rnk"))
      }.reduce(_ unionByName _)
      val qrels = irQueries.map { case (qid, terms) =>
        val rel = terms.map(tm =>
          when(size(filter(toks, x => x === lit(tm))) > 0, 1)
            .otherwise(0)).reduce(_ + _)
        docs.select(lit(qid).as("query_id"), col("doc_id"),
            rel.as("rel"))
          .filter(col("rel") > 0)
      }.reduce(_ unionByName _)
      graft.ext.Eval.retrievalMetrics(runs, qrels, "query_id", "doc_id",
          "rnk", "rel", k = 10)
        .orderBy(col("query_id"))
    }),

    // Inter-annotator agreement: Cohen's kappa per source between the
    // declared corpus language and the langId heuristic — the "can I
    // trust this label as a filter signal" gate. Hash-checked.
    "q116_annotator_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        col("lang").as("a"),
        graft.ext.TextStats.langId(col("text")).as("b"))
      graft.ext.Eval.cohenKappa(d, Seq("source"), "a", "b")
        .orderBy(col("source"))
    }),

    // Natural-language vs source-code routing signals (symbol density,
    // reserved words, indentation) — every ratio hash-checked.
    "q117_code_detect" -> ((s, dir) => {
      graft.ext.TextStats.codeSignals(t(s, dir, "documents"), "doc_id",
          "text")
        .orderBy(col("doc_id"))
    }),

    // Exact heavy hitters via two-pass Misra-Gries: bounded-memory
    // candidate sketch (NO vocabulary-wide shuffle), then exact counts
    // on the candidate set only. A per-doc junk token is appended so
    // the token domain (531 distinct) overflows the 100-slot sketch and
    // the eviction/guarantee path actually runs; the DuckDB oracle
    // computes the same answer from the FULL vocabulary — exactness of
    // the sketch-screened path is precisely what the hash check proves.
    "q97_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" u"), col("doc_id")).as("text"))
      graft.ext.HeavyHitters.frequentTokens(docs, "text",
        minFreqRatio = 0.02)
    }),

    // CCNet perplexity bucketing: head/middle/tail split at the exact
    // p33/p67 avg-NLL percentiles, thresholds via one broadcast
    // single-row aggregate (no global sort). Hash-checked end-to-end —
    // integer micro-nat scores (q67 class) + interpolated percentiles
    // (q50 class).
    "q98_perplexity_buckets" -> ((s, dir) => {
      graft.ext.TextModel.perplexityBuckets(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
          col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance resampling: pick the 100 raw docs that look most
    // like the doc_id%7 target domain under hashed-unigram LMs, by
    // Gumbel-max sampling on integer micro-nat log-weights — every
    // stage deterministic (md5 bucket bridge + q67 micro-nat class +
    // hash-derived Gumbel), so the selection hash-matches end-to-end.
    "q100_dsir_resample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Dsir.resample(docs,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        k = 100, dim = 64, hash = TextStats.md5Hash64)
    }),

    // WEIGHTED heavy hitters (top sources by character mass): odd docs
    // contribute per-doc junk items so the 260-item domain overflows the
    // 200-slot weighted sketch; the oracle computes the same answer from
    // the full groupBy — exactness of the weighted screen is the check.
    "q101_weighted_hitters" -> ((s, dir) => {
      val items = t(s, dir, "documents").select(
        when(col("doc_id") % 2 === 0, col("source"))
          .otherwise(concat(lit("u"), col("doc_id"))).as("item"),
        col("n_chars").cast("long").as("w"))
      graft.ext.HeavyHitters.frequentWeighted(items, "item", "w",
        minWeightRatio = 0.01)
    }),

    // Budget-constrained quality selection (FineWeb-Edu-style "top
    // quality under a token budget"): q28's quality score bands + md5
    // hash tiebreak, maximal prefix with Σtokens ≤ 40% of corpus mass.
    // The grouped two-phase cut must equal the oracle's global-order
    // running-sum prefix exactly.
    "q102_budget_select" -> ((s, dir) => {
      // snapshot the scored projection ONCE: the regex-heavy quality/
      // token pass otherwise re-runs for every downstream action (the
      // total agg here + selectByTokenBudget's group walk, boundary
      // window and final filter — 4 corpus scans measured, r18 opt)
      val scored = graft.util.Caches.snapshot(
        t(s, dir, "documents").select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("score"),
          TextStats.tokenCount(col("text")).as("toks")))
      val total = scored
        .filter(col("score").isNotNull && col("toks").isNotNull &&
          col("toks") >= 0)
        .agg(coalesce(sum(col("toks")), lit(0L))).head().getLong(0)
      graft.ext.Sampling.selectByTokenBudget(scored, "doc_id", "score",
          "toks", budgetTokens = total * 2 / 5, bands = 256, seed = 7)
        .select(col("doc_id"), col("score"), col("toks"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated bigram LM scoring (Jelinek-Mercer λ=0.75 over the
    // add-1 unigram floor), corpus as its own reference — the fluency
    // rung above q67's unigram NLL; integer micro-nat sums keep it
    // hash-exact.
    "q103_bigram_nll" -> ((s, dir) => {
      graft.ext.TextModel.bigramNll(t(s, dir, "documents"), "doc_id",
          "text", lambda = 0.75, alpha = 1.0)
        .orderBy(col("doc_id"))
    }),

    // Per-doc deterministic text statistics.
    "q24_text_stats" -> ((s, dir) => {
      TextStats.stats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Regex token counting (BPE-ish proxy).
    "q25_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.nWords(col("text")).as("n_words"))
        .orderBy(col("doc_id"))
    }),

    // Corpus profile by language/source.
    "q26_lang_profile" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("source"))
    }),

    // Stopword-argmax language ID (oracle replicates the argmax in SQL).
    "q27_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextStats.langId(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring rubric.
    "q28_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("score"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup pairs over planted dups, via the PORTABLE
    // md5-hash-family variant so the whole pipeline — shingle sets, the
    // 32 minhash functions, banding, candidate join, exact-Jaccard
    // verification — is reproduced in DuckDB and hash-gated. The gated
    // payload is the integer pair statistics (n_inter, n_union) with the
    // J >= 0.5 floor as 2*n_inter >= n_union (the q111 lesson: never put
    // a rounded float on the hash boundary). The production operator
    // (Dedup.minHashLsh, xxhash64 + OPH aggregate — engine-specific
    // hashes, so its candidate set is not replayable in SQL) stays
    // hash-gated through its q57/q70/q112 compositions and
    // recall-asserted in ExtSpec.
    "q29_minhash_pairs" -> ((s, dir) => {
      Dedup.minHashLshPortable(withPlantedNearDups(t(s, dir, "documents")),
          "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 4)
        .orderBy(col("a"), col("b"))
    }),

    // SimHash near-dup pairs over planted dups. md5-derived token hash →
    // the signature AND the rep-mediated pair graph are reproducible in
    // DuckDB (bit-majority per bit, 16-bit-band candidates are complete
    // for hamming ≤3 by pigeonhole), so this is hash-checked; the
    // xxhash64 default remains the production path.
    "q30_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashPairs(withPlantedNearDups(t(s, dir, "documents")),
          "doc_id", "text", maxHamming = 3,
          hash = graft.ext.TextStats.md5Hash64)
        .orderBy(col("a"), col("b"))
    }),

    // Exact n-gram Jaccard pairs within a source block, top candidates
    // (rows-only: double-threshold tie behavior is asserted in tests).
    "q31_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          blockCols = Seq("source", "lang"), shingleSize = 3)
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(100)
    }),

    // Canonical normalization + stopword-ratio quality signal.
    "q48_text_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.normalizeText(col("text")).as("norm_text"),
          TextStats.stopwordRatio(col("text"), "en").as("en_stopword_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Gopher/C4-style duplicated-n-gram quality filter.
    "q54_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.repetitionRatio(col("text"), 3).as("repetition"))
        .orderBy(col("doc_id"))
    }),

    // PII-style redaction (email/card/phone placeholders).
    "q55_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.redact(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end near-dup corpus dedup over planted duplicates: the
    // C4/GPT-style cleaning entry point (rows-only; graph semantics
    // asserted in ExtSpec). Scoped to a deterministic subset — the
    // operator is already exercised at full width by q29; this query
    // demonstrates the composition.
    "q57_dedup_corpus" -> ((s, dir) => {
      val subset = t(s, dir, "documents").filter(col("doc_id") < 1500)
      Dedup.dedupNearDuplicates(withPlantedNearDups(subset),
          "doc_id", "text", minJaccard = 0.8)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Full curation recipe: rule filters + exact dedup + near-dup dedup.
    "q58_curate_corpus" -> ((s, dir) => {
      val subset = t(s, dir, "documents").filter(col("doc_id") < 1500)
      graft.ext.TextPipeline.curate(
          withPlantedNearDups(subset), "doc_id", "text",
          minQuality = 0.7, maxRepetition = 0.5, minChars = 50,
          computeStats = false)
        .curated
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing: context-window filling at a 2048-token budget
    // via the scalable two-phase running sum (no global window).
    "q61_pack_sequences" -> ((s, dir) => {
      val tc = t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Packing.packByBudgetScalable(tc, "doc_id", "n_tokens", 2048)
        .orderBy(col("doc_id"))
    }),

    // Pack ASSEMBLY: the packed training examples themselves — member
    // texts concatenated in pack order (one budget-bounded collect_list
    // group per pack). String output is DuckDB-hash-checked via
    // string_agg with the same order.
    "q99_assemble_packs" -> ((s, dir) => {
      val tc = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextStats.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.ext.Packing.packByBudgetScalable(
        tc, "doc_id", "n_tokens", 2048)
      graft.ext.Packing.assemblePacks(packed, "text",
          Seq(col("doc_id")), "n_tokens")
        .orderBy(col("pack_id"))
    }),

    // Pack member SPANS (attention-reset / loss-mask boundaries): the
    // trainer-facing twin of q99 — one row per (pack, member) with the
    // member's token offset inside the concatenated pack, here with a
    // 2-token separator between members so the sepTokens shift is on
    // the hashed path too. A wrong sort, a dropped member, or an
    // off-by-one in the running offset flips the hash.
    "q182_pack_spans" -> ((s, dir) => {
      val tc = t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.ext.Packing.packByBudgetScalable(
        tc, "doc_id", "n_tokens", 2048)
      graft.ext.Packing.packSpans(packed, "doc_id",
          Seq(col("doc_id")), "n_tokens", sepTokens = 2)
        .orderBy(col("pack_id"), col("member_rank"))
    }),

    // Deterministic train/val/test split (md5-bucket variant → the
    // assignment itself is DuckDB-hash-checked).
    "q59_hash_split" -> ((s, dir) => {
      graft.ext.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hash = TextStats.md5Hash64)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified mixture: per-language keep rates.
    "q60_stratified_sample" -> ((s, dir) => {
      graft.ext.Sampling.stratifiedSample(t(s, dir, "documents"),
          strataCol = "lang", idCol = "doc_id",
          rates = Map("en" -> 1.0, "de" -> 0.5), defaultRate = 0.25,
          hash = TextStats.md5Hash64)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-weighted source mixture table (α = 0.5 flattening):
    // exact long token sums + fixed-order power-sum normalizer make the
    // weight/rate doubles cross-engine-checkable at round(6).
    "q85_mixture_weights" -> ((s, dir) => {
      graft.ext.Sampling.mixtureWeights(t(s, dir, "documents"),
          sourceCol = "source", tokensCol = "n_chars",
          alpha = 0.5, targetTokens = 1000000L)
        .orderBy(col("source"))
    }),

    // Materialized mixture sample with repetition (md5-bucket variant):
    // per-doc epoch counts from the q85 rates — floor(rate) full epochs
    // plus a deterministic fractional pass. The repeated-row set itself
    // is DuckDB-hash-checked.
    "q86_mixture_sample" -> ((s, dir) => {
      graft.ext.Sampling.mixtureSample(t(s, dir, "documents"),
          sourceCol = "source", idCol = "doc_id", tokensCol = "n_chars",
          alpha = 0.5, targetTokens = 1000000L,
          hash = TextStats.md5Hash64)
        .select(col("doc_id"), col("source"),
          col("epoch").cast("long").as("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // Winnowing fingerprints through the NATIVE one-pass expression
    // (WinnowHashes, exact md5 mode) + exploded to scalar rows: the
    // hash check against the Column-form oracle proves the native
    // rewrite is bit-identical.
    "q32_fingerprint" -> ((s, dir) => {
      TextStats.winnowingFingerprintNative(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), explode(col("fingerprint")).as("gram"))
        .orderBy(col("doc_id"), col("gram"))
    }),

    // MOSS matcher on the q32 fingerprints: doc pairs sharing ≥2 selected
    // fingerprints after the df≤20 boilerplate screen — POSITIONAL local
    // overlap (a copied paragraph) where set-level Jaccard dilutes away.
    // Every pair + shared count hash-checked.
    "q119_winnow_pairs" -> ((s, dir) => {
      graft.ext.Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Corpus drift in KIND: JS divergence between the en and de token
    // distributions — the release gate row-level corpusDiff can't see.
    // Totals, vocab overlap and the divergence itself hash-checked.
    "q123_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Diff.tokenDistributionDrift(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text")
    }),

    // The drill-down: top-20 tokens by probability shift between the
    // same two corpora, ranked on the rounded shift (q110 convention)
    // so the cut is deterministic cross-engine. Hash-checked.
    "q124_drifted_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Diff.topDriftedTokens(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text", k = 20)
    }),

    // Exact ROC AUC of doc length as an "is English" classifier —
    // Mann–Whitney on distinct-score cells, ties folded exactly, no
    // global row rank. Hash-checked.
    "q150_auc" -> ((s, dir) => {
      graft.ext.Eval.binaryAuc(
        t(s, dir, "documents").select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en")
    }),

    // Flesch reading ease per doc (heuristic sentences/syllables on
    // exact integer counts). Hash-checked.
    "q147_readability" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.fleschReadingEase(col("text")).as("flesch"))
        .orderBy(col("doc_id"))
    }),

    // Weight-of-evidence binning of doc length against the "is English"
    // label + information value — the credit-scoring feature transform
    // on corpus signals. Hash-checked per bin including the IV.
    "q138_woe_binning" -> ((s, dir) => {
      graft.ext.Stats.weightOfEvidence(
          t(s, dir, "documents").select(col("n_chars"),
            (col("lang") === "en").as("is_en")),
          "n_chars", "is_en")
        .orderBy(col("bin"))
    }),

    // Key-skew diagnostics (broadcast/salt/AQE-split advisor): heaviest
    // values + share + distincts for lang and source, all columns
    // through one melted shuffle. Hash-checked.
    "q132_skew_report" -> ((s, dir) => {
      graft.ext.Profile.skewReport(t(s, dir, "documents"),
          Seq("lang", "source"), topN = 3)
        .orderBy(col("column_name"), col("rnk"))
    }),

    // Weighted sample without replacement (A-ES exponential keys,
    // length-weighted, 10 docs per lang): the deterministic draw and
    // its selection order both hash-checked — the md5-derived dyadic
    // uniform reproduces bit-exactly in DuckDB.
    "q125_weighted_sample" -> ((s, dir) => {
      graft.ext.Sampling.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")),
          "doc_id", "n_chars", k = 10, groupCols = Seq("lang"))
        .orderBy(col("lang"), col("sample_rank"))
    }),

    // Benchmark decontamination: corpus docs sharing a word 3-gram with the
    // "benchmark" subset (doc_id % 97 == 0). Output exposes only counts/ids,
    // so the production xxhash64 join key is itself oracle-checked (the
    // oracle joins on gram STRINGS — identical result absent collisions).
    "q62_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Decontam.contaminated(docs,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Same contamination semantics as q62, through the 100 TB physical
    // path: Bloom filter over the benchmark grams probed in a zero-shuffle
    // narrow map, exact gram join only on the flagged sliver. Output is
    // identical to q62 by construction (no bloom false negatives; the
    // exact pass discards false positives) — the oracle proves it.
    "q78_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Decontam.contaminatedScreened(docs,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Exact-substring dedup (ExactSubstr, Lee et al. 2022): non-first
    // occurrences of corpus-duplicated 8-token spans masked out, survivor
    // tokens re-joined. The cleaned TEXT itself is hash-checked, so the
    // whole span-mask/window/reassembly path is oracle-verified.
    "q80_span_dedup" -> ((s, dir) => {
      graft.ext.TextPipeline.dedupSpans(t(s, dir, "documents"),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // Text-only semantic dedup: feature-hashed bag-of-words embeddings
    // (hashing trick; md5 hash variant for oracle parity), argmax-bucket
    // coarse cells, cluster-confined pairwise cosine. The full composition
    // — embed, quantize to cells, dedup — is DuckDB-hash-checked.
    "q81_hashed_semantic_dedup" -> ((s, dir) => {
      // repartition = a materialization barrier: clusterDupes references
      // the vector column from several expressions on each self-join side,
      // and CollapseProject would re-inline the whole O(dim·tokens)
      // embedding pipeline into every reference. Behind the exchange the
      // embedding is computed ONCE per row total (exchange reuse shares it
      // across both join branches) — the playbook lambda-capture trap.
      val emb = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.TextModel.hashEmbedding(col("text"), dim = 16,
            hash = TextStats.md5Hash64).as("v"))
        .repartition(col("doc_id"))
      Similarity.clusterDupes(emb, "doc_id", "v",
          array_position(col("v"), array_max(col("v"))), minCos = 0.98)
        .orderBy(col("doc_id"))
    }),

    // Trained quality filter (fastText/CCNet shape): distill the rubric
    // heuristic into a hashed-BoW logistic regression on the corpus as
    // its own seed, then score every doc with the pure-Column decision
    // function (broadcast weights, O(tokens)/doc, rides the scan).
    // Rows-only: L-BFGS float iteration order is engine-specific.
    // Distilled linear quality classifier (fastText/CCNet-style topical
    // filter): the teacher labels docs by the relative frequency of a
    // topic token — a signal the mean-hashed-BOW featurizer genuinely
    // carries, so distillation must separate the classes. The LR
    // probabilities are engine-specific (L-BFGS float paths), so the
    // hashed payload is the distillation contract instead: exact class
    // sizes (DuckDB recomputes the token-rate teacher) plus a Spark-side
    // flag that the student RANKS teacher-positives above negatives with
    // AUC ≥ 0.9 (threshold-calibration-free; measured 0.985 at sf0.01).
    // A broken featurizer, trainer, or scorer flips the flag red.
    "q83_quality_classifier" -> ((s, dir) => {
      // stage lines split the fit (featurize + L-BFGS) from the
      // score+AUC pass, so a regression shows WHICH half moved
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val toks = regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))
      val rate = size(filter(toks, x => x === lit("spark"))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")
      // dim 128 / maxIter 5: measured at sf0.1, AUC is 0.9965 here vs
      // 0.9973 at dim=256/iters 8-100 — far above the 0.9 gate floor,
      // and the featurize + L-BFGS cost halves (fit ~2.4 s -> ~1.2 s
      // warm). The checked output (n_pos/n_neg/auc_ok) is insensitive
      // to both knobs long before these values.
      val model = Stages.time("q83", "fit")(
        graft.ext.QualityClassifier.distill(
          docs, "text", rate, threshold = 0.03, dim = 128, maxIter = 5))
      Stages.time("q83", "score-auc") {
        val scored = docs.select(
          (rate >= 0.03).cast("int").as("lab"),
          graft.ext.QualityClassifier.scoreColumn(col("text"), model).as("p"))
        graft.util.Caches.snapshot(
          graft.ext.Eval.binaryAuc(scored, "p", "lab")
            .select(col("n_pos"), col("n_neg"),
              (col("auc") >= 0.9).as("auc_ok")))
      }
    }),

    // Okapi BM25 lexical scoring against a fixed query; fixed-order term
    // sum + round(4) make the double score cross-engine-checkable.
    "q63_bm25" -> ((s, dir) => {
      graft.ext.Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("join", "spark", "window", "merge"))
        .orderBy(col("doc_id"))
    }),

    // Flagship composition: curate → decontaminate (docs sharing a
    // 13-gram with the doc_id%97 benchmark) → temperature mixture →
    // curriculum pack → epoch shuffle, one call — HASH-GATED end to end
    // with the md5 hash family injected (mixture bucket, curriculum
    // spread, shuffle key all replayable in DuckDB; near-dup survivors
    // equal the exact-Jaccard pair-graph rule on this corpus — the
    // q57/q58 oracle argument). The oracle recomputes every stage from
    // raw documents: one mismatch anywhere in the five-stage pipeline
    // flips the hash.
    "q96_training_data" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.TextPipeline.prepareTrainingData(docs, "doc_id", "text",
          sourceCol = "source",
          benchmark = Some(docs.filter(col("doc_id") % 97 === 0)),
          computeStats = false,
          hash = TextStats.md5Hash64)
        .data
        .select(col("doc_id"), col("source"),
          col("epoch").cast("long").as("epoch"),
          col("pack_id"), col("shuffle_key"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // Curriculum packing: order by (quality desc, doc_id) and walk the
    // 2048-token budget down the curriculum — early packs hold the
    // highest-quality docs. Two-phase cumsum, no global window; the
    // pack assignment is DuckDB-hash-checked.
    "q92_curriculum_pack" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("quality"),
          TextStats.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Packing.packByBudgetOrdered(scored,
          Seq(col("quality").desc, col("doc_id")), "n_tokens", 2048)
        .orderBy(col("doc_id"))
    }),

    // Corpus version diff: v2 drops every 13th doc, edits every 17th,
    // adds 50 new ones — the full-outer status classification is
    // DuckDB-hash-checked.
    // Per-doc top-5 TF-IDF keywords (sklearn-style smoothed idf); ranking
    // runs on the rounded score so ties break identically cross-engine.
    "q110_keywords" -> ((s, dir) => {
      graft.ext.TextModel.keywords(t(s, dir, "documents"), "doc_id",
          "text", k = 5)
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // PMI collocations over adjacent token pairs (phrase discovery),
    // floored at 5 occurrences. The GATE compares the integer sufficient
    // statistics (pair/unigram/total counts) rather than the rounded
    // float PMI: round(ln(...), 4) flipped one row's last digit across
    // libm implementations two rounds running, and the counts determine
    // the score exactly. TextModel.pmiCollocations keeps emitting pmi
    // for library users.
    "q111_pmi_collocations" -> ((s, dir) => {
      graft.ext.TextModel.pmiCollocationCounts(t(s, dir, "documents"),
          "doc_id", "text", minCount = 5)
        .orderBy(col("term_a"), col("term_b"))
    }),

    // Leakage-safe split: assignment keyed on the near-dup component
    // representative (planted dups land in the same split as their
    // source by construction — the property a doc-keyed split violates).
    "q112_leak_safe_split" -> ((s, dir) => {
      val subset = t(s, dir, "documents").filter(col("doc_id") < 1500)
      graft.ext.Sampling.leakSafeSplit(withPlantedNearDups(subset),
          "doc_id", "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hash = TextStats.md5Hash64)
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Per-doc 3-gram novelty (share of distinct grams no other doc has)
    // — the memorization/boilerplate screen. Every value hash-checked.
    "q113_novelty" -> ((s, dir) => {
      graft.ext.TextModel.noveltyScore(t(s, dir, "documents"), "doc_id",
          "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Cross-source duplicate-overlap matrix on a corpus with planted
    // cross-source copies: every 5th doc re-scraped into an aggregator
    // source 'crawl_mix', every 7th into 'crawl_mix2' (so the two mixes
    // also overlap with each other on the %35 docs). Hash-checked.
    "q106_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text", "source")
      def replant(mod: Int, idOff: Long, src: String) =
        d.filter(col("doc_id") % mod === 0).select(
          (col("doc_id") + idOff).as("doc_id"), col("text"),
          lit(src).as("source"))
      val planted = d
        .unionByName(replant(5, 1000000L, "crawl_mix"))
        .unionByName(replant(7, 2000000L, "crawl_mix2"))
      graft.ext.Dedup.sourceOverlap(planted, "text", "source")
        .orderBy(col("source_a"), col("source_b"))
    }),

    "q89_corpus_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.ext.Diff.corpusDiff(v1, v2, "doc_id", Seq("text"))
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval: BM25 top-50 ∪ hashed-BoW-cosine top-50 fused by
    // reciprocal rank (no score calibration — only ranks enter). Both
    // branches use md5 hashing / fixed-order math, so the fused list is
    // DuckDB-hash-checked end-to-end.
    "q87_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qTerms = Seq("join", "spark", "window", "merge")
      val lex = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        qTerms, k = 50)
      val qv = graft.ext.TextModel.hashEmbedding(
        lit(qTerms.mkString(" ")), dim = 16, hash = TextStats.md5Hash64)
      val dv = graft.ext.TextModel.hashEmbedding(col("text"), dim = 16,
        hash = TextStats.md5Hash64)
      // let-bind the doc embedding: dot + norm must not re-run the
      // O(dim·tokens) histogram (qv constant-folds — it's literal-rooted)
      val cos = element_at(transform(array(dv), v =>
        when(Similarity.norm(v) > 0 && Similarity.norm(qv) > 0,
          Similarity.dot(v, qv) / (Similarity.norm(v) * Similarity.norm(qv)))
          .otherwise(lit(0.0))), 1)
      val dense = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), round(cos, 4).as("score"))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      graft.ext.Retrieval.rrfFuse(Seq(lex, dense), "doc_id")
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // Sliding token-window chunking (RAG/context assembly): 32-token
    // chunks, stride 24 (8-token overlap).
    "q64_chunk_documents" -> ((s, dir) => {
      graft.ext.Retrieval.chunk(t(s, dir, "documents"), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Deterministic seeded corpus shuffle (stable epoch order); md5-bucket
    // variant so the permutation itself is DuckDB-hash-checked.
    "q65_shuffle_order" -> ((s, dir) => {
      graft.ext.Sampling.shuffled(t(s, dir, "documents"), "doc_id",
          seed = 7, hash = TextStats.md5Hash64)
        .select(col("doc_id"), col("shuffle_key"))
    }),

    // Top-200 corpus vocabulary with frequency rank (tokenizer-training
    // prep; rank window only over the LIMITED set).
    "q66_vocabulary" -> ((s, dir) => {
      graft.ext.TextModel.topVocabulary(t(s, dir, "documents"),
          "doc_id", "text", v = 200)
        .orderBy(col("rank"))
    }),

    // Unigram LM scoring (CCNet-style perplexity filter): integer
    // micro-nat contributions make the per-doc sum order-independent and
    // cross-engine exact.
    "q67_lm_score" -> ((s, dir) => {
      graft.ext.TextModel.unigramNll(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Line-level corpus dedup (C4/RefinedWeb boilerplate removal): docs
    // are first re-laid-out as 8-word lines (the synthetic corpus is
    // single-line), then every line repeating corpus-wide is dropped and
    // survivors reassembled in order.
    "q68_line_dedup" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
      val multi = t(s, dir, "documents").select(col("doc_id"),
        element_at(transform(array(toks), ts =>
          concat_ws("\n", transform(sequence(lit(0), size(ts) - 1, lit(8)),
            st => concat_ws(" ", slice(ts, st + 1, lit(8)))))), 1).as("text"))
      graft.ext.TextPipeline.dedupLines(multi, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Incremental near-dup dedup (the daily-increment shape): kept corpus
    // = docs < 250, new batch = docs ≥ 250 plus perturbed copies of docs
    // < 100 (guaranteed matches into kept). kept×kept is never joined.
    // Oracle-checkable like q57: LSH recall is complete at ≥0.8 on this
    // corpus, so survivors equal the exact-Jaccard pairwise rule.
    "q70_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = docs.filter(col("doc_id") < 250)
      val fresh = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", concat(col("text"), lit(" zyxqj"))))
      graft.ext.Dedup.incrementalNearDup(fresh, kept, "doc_id", "text",
          minJaccard = 0.8)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }))

  private def sqlStop(lang: String): String = {
    val words = graft.ext.TextStats.stopwords(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> list_contains([$words], x))) AS h_$lang"
  }

  private def enStopList: String =
    graft.ext.TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")

  /** Shared oracle fragments for the corpus-composition queries (q57/q58):
    * the planted corpus, word-3-shingle sets, the exact-Jaccard ≥0.8 pair
    * graph, and min-label connected components as a recursive CTE. Valid
    * as an oracle because the LSH mining is exact-Jaccard VERIFIED and, on
    * this deterministic subset, finds every ≥0.8 pair — so the survivor
    * set equals exact-pair-graph CC (established empirically, bit-exact). */
  private val ccTail: String =
    """ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_inter
      |  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
      |pairs AS (
      |  SELECT i.a, i.b
      |  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
      |reach(id, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |cc AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)""".stripMargin

  private val shingleList: String =
    """list_distinct(CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
      |      ELSE list_transform(range(1, len(tk) - 1),
      |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END)""".stripMargin

  /** Shared by q62 (exact path) and q78 (bloom-screened path): the two
    * queries are output-identical by construction, so they must verify
    * against the SAME oracle text — binding it once prevents silent
    * divergence if the tokenization ever changes. */
  private val decontamOracle: String =
    s"""WITH ct AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
       |  FROM documents),
       |bt AS (SELECT * FROM ct WHERE doc_id % 97 = 0),
       |cg AS (SELECT doc_id, unnest($shingleList) AS g
       |       FROM (SELECT doc_id, tk FROM ct)),
       |bg AS (SELECT doc_id, unnest($shingleList) AS g
       |       FROM (SELECT doc_id, tk FROM bt))
       |SELECT c.doc_id,
       |  COUNT(DISTINCT c.g) AS n_hit_grams,
       |  COUNT(DISTINCT b.doc_id) AS n_bench_docs,
       |  MIN(b.doc_id) AS first_bench_id
       |FROM cg c JOIN bg b ON c.g = b.g
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Per-probe CTE block for the q114 oracle: term-count run (top-20),
    * graded qrels, ideal DCG, hit aggregates, metric row — the exact
    * arithmetic `Eval.retrievalMetrics` evaluates at k = 10. */
  private def irBlock(qid: Long, terms: Seq[String]): String = {
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      s"len(list_filter(tk, x -> x = '$tm')) AS tf$i"
    }.mkString(",\n|    ")
    val tfSum = terms.indices.map(i => s"tf$i").mkString(" + ")
    val relSum = terms.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""d$qid AS (
       |  SELECT doc_id,
       |    $tfCols
       |  FROM tkall),
       |res$qid AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY $tfSum DESC, doc_id) AS rnk
       |  FROM d$qid WHERE $tfSum > 0
       |  QUALIFY row_number() OVER (ORDER BY $tfSum DESC, doc_id) <= 20),
       |qrel$qid AS (
       |  SELECT doc_id, $relSum AS rel
       |  FROM d$qid WHERE $relSum > 0),
       |ideal$qid AS (
       |  SELECT COUNT(*) AS n_rel,
       |    SUM(CASE WHEN i <= 10
       |      THEN (POW(2, rel) - 1) / log2(CAST(i AS DOUBLE) + 1)
       |      ELSE CAST(0 AS DOUBLE) END) AS idcg
       |  FROM (SELECT rel,
       |          row_number() OVER (ORDER BY rel DESC, doc_id) AS i
       |        FROM qrel$qid)),
       |hit$qid AS (
       |  SELECT COUNT(*) AS n_hits, MIN(r.rnk) AS minr,
       |    SUM((POW(2, q.rel) - 1) / log2(CAST(r.rnk AS DOUBLE) + 1)) AS dcg
       |  FROM res$qid r JOIN qrel$qid q USING (doc_id)
       |  WHERE r.rnk <= 10),
       |row$qid AS (
       |  SELECT CAST($qid AS BIGINT) AS query_id,
       |    CAST(n_rel AS BIGINT) AS n_rel,
       |    CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       |    ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_rel AS DOUBLE), 6) AS recall_at_k,
       |    ROUND(COALESCE(1.0 / CAST(minr AS DOUBLE), 0), 6) AS mrr_at_k,
       |    ROUND(COALESCE(dcg, 0) / idcg, 6) AS ndcg_at_k
       |  FROM ideal$qid CROSS JOIN hit$qid)""".stripMargin
  }

  private val q114Oracle: String = {
    val blocks = irQueries.map { case (qid, terms) =>
      irBlock(qid, terms)
    }.mkString(",\n")
    val union = irQueries.map { case (qid, _) => s"SELECT * FROM row$qid" }
      .mkString("\nUNION ALL\n")
    s"""WITH tkall AS (
       |  SELECT doc_id,
       |    regexp_extract_all(lower(coalesce(text, '')), '\\S+') AS tk
       |  FROM documents),
       |$blocks
       |$union
       |ORDER BY query_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q114_retrieval_metrics" -> q114Oracle,

    "q116_annotator_kappa" ->
      s"""WITH t AS (
         |  SELECT source, lang AS a,
         |    regexp_extract_all(lower(text), '\\S+') AS toks
         |  FROM documents),
         |p AS (
         |  SELECT source, a,
         |    ${sqlStop("de")}, ${sqlStop("en")}, ${sqlStop("es")}, ${sqlStop("fr")}
         |  FROM t),
         |s AS (
         |  SELECT source, a,
         |    CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |         WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
         |         WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
         |         WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
         |         ELSE 'fr' END AS b
         |  FROM p),
         |base AS (
         |  SELECT source, COUNT(*) AS tot,
         |    SUM(CASE WHEN a IS NULL OR b IS NULL THEN 1 ELSE 0 END) AS n_excluded
         |  FROM s GROUP BY source),
         |v AS (SELECT * FROM s WHERE a IS NOT NULL AND b IS NOT NULL),
         |agree AS (
         |  SELECT source, COUNT(*) AS n,
         |    SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS ag
         |  FROM v GROUP BY source),
         |ma AS (SELECT source, a AS cat, COUNT(*) AS na FROM v GROUP BY 1, 2),
         |mb AS (SELECT source, b AS cat, COUNT(*) AS nb FROM v GROUP BY 1, 2),
         |petab AS (
         |  SELECT ma.source, SUM(na * nb) AS ab
         |  FROM ma JOIN mb ON ma.source = mb.source AND ma.cat = mb.cat
         |  GROUP BY ma.source),
         |m AS (
         |  SELECT b.source, agree.n, b.n_excluded,
         |    CAST(agree.ag AS DOUBLE) / CAST(agree.n AS DOUBLE) AS po,
         |    CAST(COALESCE(pe2.ab, 0) AS DOUBLE)
         |      / (CAST(agree.n AS DOUBLE) * CAST(agree.n AS DOUBLE)) AS pe
         |  FROM base b
         |  LEFT JOIN agree USING (source)
         |  LEFT JOIN petab pe2 USING (source))
         |SELECT source, CAST(COALESCE(n, 0) AS BIGINT) AS n,
         |  CAST(n_excluded AS BIGINT) AS n_excluded,
         |  ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
         |  ROUND(CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END, 6) AS kappa
         |FROM m ORDER BY source""".stripMargin,

    "q117_code_detect" ->
      """WITH f AS (
        |  SELECT doc_id, coalesce(text, '') AS t,
        |    CASE WHEN text IS NULL THEN 0
        |      ELSE len(regexp_extract_all(text, '\S+')) END AS nw
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) > 0
        |      THEN CAST(length(t) - length(regexp_replace(t, '[{}();=<>\[\]]', '', 'g')) AS DOUBLE)
        |           / CAST(length(t) AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS symr,
        |    CASE WHEN nw > 0
        |      THEN CAST(len(regexp_extract_all(lower(t),
        |             '\b(def|class|import|return|if|else|for|while|function|var|const)\b')) AS DOUBLE)
        |           / CAST(nw AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS kwr,
        |    CASE WHEN length(t) > 0
        |      THEN CAST(len(regexp_extract_all(t, '(?m)^(?:  +|\t)')) AS DOUBLE)
        |           / CAST(len(regexp_extract_all(t, chr(10))) + 1 AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS indr
        |  FROM f)
        |SELECT doc_id,
        |  ROUND(symr, 4) AS sym_ratio,
        |  ROUND(kwr, 4) AS kw_ratio,
        |  ROUND(indr, 4) AS indent_ratio,
        |  ROUND(LEAST(1.0, 4.0 * symr + 2.0 * kwr + indr), 4) AS code_score,
        |  LEAST(1.0, 4.0 * symr + 2.0 * kwr + indr) >= 0.5 AS is_code
        |FROM r ORDER BY doc_id""".stripMargin,
    // full-vocabulary exact computation of what the sketch-screened
    // two-pass returns; threshold arithmetic mirrors the Scala side
    // (double multiply then ceil)
    "q97_heavy_hitters" ->
      """WITH aug AS (
        |  SELECT lower(trim(text || ' u' || CAST(doc_id AS VARCHAR))) AS t
        |  FROM documents),
        |toks AS (
        |  SELECT unnest(regexp_extract_all(t, '\S+')) AS token
        |  FROM aug WHERE t IS NOT NULL AND t <> ''),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
        |cnt AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM toks GROUP BY token)
        |SELECT token, freq FROM cnt
        |WHERE freq >= CEIL((SELECT n FROM tot) * 0.02)
        |ORDER BY freq DESC, token""".stripMargin,

    // full-groupBy exact computation of the weighted-screen output
    "q101_weighted_hitters" ->
      """WITH it AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN source
        |              ELSE 'u' || CAST(doc_id AS VARCHAR) END AS item,
        |    CAST(n_chars AS BIGINT) AS w
        |  FROM documents
        |  -- mirror frequentWeighted's guards: null items AND
        |  -- non-positive weights contribute nothing
        |  WHERE n_chars > 0 AND (doc_id % 2 = 1 OR source IS NOT NULL)),
        |tot AS (SELECT CAST(SUM(w) AS DOUBLE) AS tw FROM it),
        |s AS (SELECT item, CAST(SUM(w) AS BIGINT) AS weight
        |      FROM it GROUP BY item)
        |SELECT item, weight FROM s
        |WHERE weight >= CEIL((SELECT tw FROM tot) * 0.01)
        |ORDER BY weight DESC, item""".stripMargin,

    // same pair stream + count tables + interpolation arithmetic,
    // assembled relationally; COALESCEd sides mirror the Spark
    // left-join coalesces so the (here impossible) OOV path can never
    // null out a pair's micro-nat contribution
    "q103_bigram_nll" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |pairs AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        |  FROM d, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r),
        |toks AS (SELECT doc_id, unnest(tk) AS term FROM d),
        |bg AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2),
        |cx AS (SELECT w1, COUNT(*) AS cc FROM pairs GROUP BY w1),
        |un AS (SELECT term AS w2, COUNT(*) AS cu FROM toks GROUP BY term),
        |st AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS v FROM un),
        |m AS (
        |  SELECT p.doc_id,
        |    CAST(ROUND(-ln(
        |      0.75 * (CASE WHEN COALESCE(cx.cc, 0) > 0
        |                THEN CAST(COALESCE(bg.cb, 0) AS DOUBLE) / CAST(cx.cc AS DOUBLE)
        |                ELSE 0 END)
        |      + 0.25 * ((CAST(COALESCE(un.cu, 0) AS DOUBLE) + 1.0) / (st.t + 1.0 * st.v))
        |    ) * 1000000.0) AS BIGINT) AS mm
        |  FROM pairs p
        |  LEFT JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
        |  LEFT JOIN cx ON p.w1 = cx.w1
        |  LEFT JOIN un ON p.w2 = un.w2
        |  CROSS JOIN st)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(mm) AS BIGINT) AS nll_micros,
        |  ROUND(CAST(SUM(mm) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS BIGINT), 4) AS avg_nll
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // global-order running-sum prefix — the one-shot form of the
    // grouped two-phase cut (q28 score expr + q25 token expr + md5
    // bridge, budget = 40% integer-division of eligible token mass)
    "q102_budget_select" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_words BETWEEN 20 AND 10000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |     + CASE WHEN digit_ratio < 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |     + CASE WHEN n_chars >= 100 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS score,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS toks
        |  FROM (
        |    SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
        |      CASE WHEN text IS NULL THEN 0
        |        ELSE CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) END AS n_words,
        |      CASE WHEN length(text) > 0
        |        THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |        ELSE CAST(1 AS DOUBLE) END AS digit_ratio
        |    FROM documents)),
        |e AS (
        |  SELECT doc_id, score, toks,
        |    CAST(LEAST(GREATEST(floor(score * 256), 0), 255) AS INT) AS band,
        |    ('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM s WHERE score IS NOT NULL AND toks IS NOT NULL AND toks >= 0),
        |b AS (SELECT CAST(SUM(toks) AS BIGINT) * 2 // 5 AS budget FROM e),
        |o AS (
        |  SELECT doc_id, score, toks,
        |    SUM(toks) OVER (ORDER BY band DESC, h ASC, doc_id ASC
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM e)
        |SELECT o.doc_id, o.score, CAST(o.toks AS BIGINT) AS toks
        |FROM o, b WHERE o.cum <= b.budget
        |ORDER BY o.doc_id""".stripMargin,

    // bucket LMs + per-doc micro-nat weights + hash-Gumbel keys, all
    // replicated with the md5 bridge; LIMIT after (key desc, id) order
    "q100_dsir_resample" ->
      """WITH raw AS (
        |  SELECT doc_id, lower(trim(text)) AS t FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> ''),
        |rtok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(t, '\S+')) AS tok
        |  FROM raw),
        |ttok AS (SELECT tok FROM rtok WHERE doc_id % 7 = 0),
        |rb AS (
        |  SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b,
        |    COUNT(*) AS c
        |  FROM rtok GROUP BY 1),
        |tb AS (
        |  SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b,
        |    COUNT(*) AS c
        |  FROM ttok GROUP BY 1),
        |bk AS (SELECT i AS b FROM range(0, 64) t(i)),
        |j AS (
        |  SELECT bk.b, COALESCE(tb.c, 0) AS ct, COALESCE(rb.c, 0) AS cr
        |  FROM bk LEFT JOIN tb ON bk.b = tb.b LEFT JOIN rb ON bk.b = rb.b),
        |tot AS (
        |  SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr
        |  FROM j),
        |mi AS (
        |  SELECT b, CAST(ROUND(ln(
        |      (CAST(ct AS DOUBLE) + 1) / (tt + 64) /
        |      ((CAST(cr AS DOUBLE) + 1) / (tr + 64))) * 1e6) AS BIGINT) AS m
        |  FROM j, tot),
        |sc AS (
        |  SELECT r.doc_id, CAST(SUM(mi.m) AS BIGINT) AS score_micros
        |  FROM rtok r
        |  JOIN mi ON ('0x' || substr(md5(r.tok), 1, 15))::BIGINT % 64 = mi.b
        |  GROUP BY r.doc_id),
        |g AS (
        |  SELECT doc_id, score_micros,
        |    CAST(ROUND(-ln(-ln(
        |      ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 15))::BIGINT
        |        % 1000000) + 0.5) / 1000000.0)) * 1e6) AS BIGINT) AS gm
        |  FROM sc)
        |SELECT doc_id, score_micros, score_micros + gm AS key_micros
        |FROM g ORDER BY key_micros DESC, doc_id LIMIT 100""".stripMargin,

    // q67's integer micro-nat scoring + q50's quantile_cont parity; the
    // percentile fractions are the exact double literals Spark
    // interpolates (1.0/3, 2.0/3 in shortest-decimal form)
    "q98_perplexity_buckets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT term, COUNT(*) AS nt FROM t GROUP BY term),
        |s AS (SELECT CAST(SUM(nt) AS DOUBLE) AS tt FROM c),
        |m AS (
        |  SELECT doc_id,
        |    CAST(ROUND(-ln(CAST(nt AS DOUBLE) / tt) * 1e6) AS BIGINT) AS mi
        |  FROM t JOIN c USING (term), s),
        |d AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    ROUND(CAST(SUM(mi) AS DOUBLE) / 1e6 / COUNT(*), 4) AS avg_nll
        |  FROM m GROUP BY doc_id),
        |th AS (
        |  SELECT
        |    ROUND(quantile_cont(avg_nll, 0.3333333333333333), 6) AS t1,
        |    ROUND(quantile_cont(avg_nll, 0.6666666666666666), 6) AS t2
        |  FROM d)
        |SELECT doc_id, n_tokens, avg_nll,
        |  CASE WHEN avg_nll <= (SELECT t1 FROM th) THEN 'head'
        |       WHEN avg_nll <= (SELECT t2 FROM th) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM d ORDER BY doc_id""".stripMargin,

    "q62_decontaminate" -> decontamOracle,

    // bloom-screened path: same exact-output semantics as q62
    "q78_bloom_decontaminate" -> decontamOracle,

    // keep-first = smallest (doc_id, pos) per duplicated gram; a token is
    // masked when a masked span starts within the previous 7 positions
    "q80_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '\S+') AS ltk,
        |    regexp_extract_all(text, '\S+') AS otk
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ltk) <= 8 THEN [array_to_string(ltk, ' ')]
        |         ELSE list_transform(range(1, len(ltk) - 6),
        |                i -> array_to_string(ltk[i:i+7], ' ')) END AS grams
        |  FROM t),
        |occ AS (
        |  SELECT doc_id, unnest(grams) AS gr, generate_subscripts(grams, 1) AS pos
        |  FROM g),
        |ranked AS (
        |  SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY gr ORDER BY doc_id, pos) AS rn,
        |    COUNT(*) OVER (PARTITION BY gr) AS c
        |  FROM occ),
        |mask AS (SELECT doc_id, pos FROM ranked WHERE c > 1 AND rn > 1),
        |tok AS (
        |  SELECT doc_id, len(otk) AS n_tokens, unnest(otk) AS w,
        |    generate_subscripts(otk, 1) AS pos
        |  FROM t),
        |cov AS (
        |  SELECT k.doc_id, k.n_tokens, k.pos, k.w,
        |    MAX(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY k.doc_id ORDER BY k.pos
        |            RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
        |  FROM tok k LEFT JOIN mask m ON k.doc_id = m.doc_id AND k.pos = m.pos)
        |SELECT doc_id,
        |  CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN covered = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN covered = 0 THEN w END, ' ' ORDER BY pos), '')
        |    AS text_clean
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // md5-derived 60-bit bucket hash == Spark TextStats.md5Hash64 % 16;
    // argmax cell = 1-based first position of the max count both engines
    "q81_hashed_semantic_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 16), b -> CAST(len(list_filter(tk,
        |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 16 = b))
        |      AS DOUBLE)) AS v
        |  FROM t),
        |c AS (SELECT doc_id, v, list_position(v, list_max(v)) AS cell FROM e),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    ROUND(list_cosine_similarity(x.v, y.v), 4) AS sim
        |  FROM c x JOIN c y ON x.cell = y.cell AND x.doc_id < y.doc_id)
        |SELECT b AS doc_id, MIN(a) AS dup_of, MAX(sim) AS max_sim
        |FROM pairs WHERE sim >= 0.98
        |GROUP BY b ORDER BY doc_id""".stripMargin,

    "q63_bm25" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(coalesce(text, '')), '\S+') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(tk) END AS dl,
        |    len(list_filter(tk, x -> x = 'join')) AS tf0,
        |    len(list_filter(tk, x -> x = 'spark')) AS tf1,
        |    len(list_filter(tk, x -> x = 'window')) AS tf2,
        |    len(list_filter(tk, x -> x = 'merge')) AS tf3
        |  FROM t),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) AS sdl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
        |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
        |  FROM d)
        |SELECT doc_id, ROUND(
        |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |  + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5))
        |      * (CAST(tf3 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n))), 4) AS score
        |FROM d, s ORDER BY doc_id""".stripMargin,

    "q64_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS st FROM t)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(tk, st + 1, st + 32), ' ') AS chunk_text,
        |  CAST(LEAST(len(tk) - st, 32) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q65_shuffle_order" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '7'), 1, 15))::BIGINT AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,

    "q70_incremental_dedup" ->
      s"""WITH kept AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 250),
         |newd AS (
         |  SELECT doc_id, lang, source, text FROM documents WHERE doc_id >= 250
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, text || ' zyxqj'
         |  FROM documents WHERE doc_id < 100),
         |allc AS (
         |  SELECT doc_id, text, TRUE AS is_kept FROM kept
         |  UNION ALL
         |  SELECT doc_id, text, FALSE FROM newd),
         |toks AS (
         |  SELECT doc_id, is_kept,
         |    regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM allc),
         |sh AS (SELECT doc_id, is_kept, $shingleList AS s FROM toks),
         |ex AS (SELECT doc_id, is_kept, unnest(s) AS h FROM sh),
         |inter AS (
         |  SELECT n.doc_id AS a, m.doc_id AS b, COUNT(*) AS n_inter
         |  FROM ex n JOIN ex m ON n.h = m.h
         |  WHERE NOT n.is_kept
         |    AND (m.is_kept OR m.doc_id < n.doc_id)
         |    AND n.doc_id <> m.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         |matched AS (
         |  SELECT DISTINCT i.a FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.a
         |  JOIN sizes sb ON sb.doc_id = i.b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.8)
         |SELECT n.doc_id, n.lang, n.source FROM newd n
         |WHERE n.doc_id NOT IN (SELECT a FROM matched)
         |ORDER BY n.doc_id""".stripMargin,

    "q68_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(tk), 8),
        |      st -> array_to_string(list_slice(tk, st + 1, st + 8), ' ')) AS lines
        |  FROM t),
        |e AS (
        |  SELECT doc_id, unnest(lines) AS line,
        |    generate_subscripts(lines, 1) AS pos
        |  FROM l),
        |c AS (SELECT line, COUNT(*) AS n FROM e GROUP BY line),
        |k AS (SELECT e.* FROM e JOIN c USING (line) WHERE c.n <= 1),
        |tot AS (SELECT doc_id, len(lines) AS total FROM l)
        |SELECT k.doc_id,
        |  string_agg(k.line, chr(10) ORDER BY k.pos) AS dedup_text,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
        |  CAST(ANY_VALUE(tot.total) - COUNT(*) AS BIGINT) AS n_lines_dropped
        |FROM k JOIN tot ON tot.doc_id = k.doc_id
        |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin,

    "q66_vocabulary" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |v AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM t GROUP BY term)
        |SELECT term, n_tokens, n_docs,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, term) AS BIGINT) AS rank
        |FROM v ORDER BY n_tokens DESC, term LIMIT 200""".stripMargin,

    "q67_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |c AS (SELECT term, COUNT(*) AS nt FROM t GROUP BY term),
        |s AS (SELECT CAST(SUM(nt) AS DOUBLE) AS tt FROM c),
        |m AS (
        |  SELECT doc_id,
        |    CAST(ROUND(-ln(CAST(nt AS DOUBLE) / tt) * 1e6) AS BIGINT) AS mi
        |  FROM t JOIN c USING (term), s)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(mi) AS BIGINT) AS nll_micros,
        |  ROUND(CAST(SUM(mi) AS DOUBLE) / 1e6 / COUNT(*), 4) AS avg_nll
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q61_pack_sequences" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM tc)
        |SELECT doc_id, n_tokens,
        |  CAST(FLOOR(CAST(b AS DOUBLE) / 2048) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // q61's pack assignment + string_agg assembly in the same order
    "q99_assemble_packs" ->
      """WITH tc AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM tc),
        |p AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST(FLOOR(CAST(b AS DOUBLE) / 2048) AS BIGINT) AS pack_id
        |  FROM c)
        |SELECT pack_id,
        |  string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS pack_text,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin,

    // q182: q99's pack assignment, then within-pack rank + running token
    // sum + the (rank-1)*2 separator shift — the span arithmetic mirrored
    "q182_pack_spans" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM tc),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(FLOOR(CAST(b AS DOUBLE) / 2048) AS BIGINT) AS pack_id
        |  FROM c)
        |SELECT pack_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY pack_id ORDER BY doc_id)
        |    AS BIGINT) AS member_rank,
        |  doc_id,
        |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_id ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + (ROW_NUMBER() OVER (PARTITION BY pack_id ORDER BY doc_id) - 1) * 2
        |    AS BIGINT) AS start,
        |  n_tokens AS len
        |FROM p ORDER BY pack_id, member_rank""".stripMargin,

    "q59_hash_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN b < 800000 THEN 'train'
        |       WHEN b < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q60_stratified_sample" ->
      """SELECT doc_id, lang
        |FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
        |  FROM documents)
        |WHERE b < CASE lang WHEN 'en' THEN 1000000
        |                    WHEN 'de' THEN 500000 ELSE 250000 END
        |ORDER BY doc_id""".stripMargin,

    "q92_curriculum_pack" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_words BETWEEN 20 AND 10000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |     + CASE WHEN digit_ratio < 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |     + CASE WHEN n_chars >= 100 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS quality,
        |    n_tokens
        |  FROM (
        |    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |      CASE WHEN text IS NULL THEN 0
        |        ELSE CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) END AS n_words,
        |      CASE WHEN length(text) > 0
        |        THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |        ELSE CAST(1 AS DOUBLE) END AS digit_ratio,
        |      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens
        |    FROM documents)),
        |c AS (
        |  SELECT doc_id, quality, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM q)
        |SELECT doc_id, quality, n_tokens,
        |  CAST(FLOOR(CAST(b AS DOUBLE) / 2048) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "q110_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(CAST(tf.tf AS DOUBLE) *
        |      (LN((CAST(n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) + 1.0),
        |      6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term, nd)
        |SELECT doc_id, term, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    "q111_pmi_collocations" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |uni AS (SELECT unnest(tk) AS term FROM t),
        |uc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS T FROM uni),
        |bi AS (SELECT u.a, u.b FROM t,
        |  LATERAL (SELECT unnest(tk[1:len(tk)-1]) AS a,
        |           unnest(tk[2:len(tk)]) AS b) u
        |  WHERE len(tk) >= 2),
        |bc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair
        |  FROM bi GROUP BY 1, 2),
        |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bi)
        |SELECT bc.a AS term_a, bc.b AS term_b, n_pair,
        |  ua.n AS n_a, ub.n AS n_b, T AS t_total, nb AS b_total
        |FROM bc, tot, btot
        |JOIN uc ua ON ua.term = bc.a
        |JOIN uc ub ON ub.term = bc.b
        |WHERE n_pair >= 5
        |ORDER BY term_a, term_b""".stripMargin,

    "q106_source_overlap" ->
      """WITH planted AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'crawl_mix' FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 'crawl_mix2' FROM documents
        |  WHERE doc_id % 7 = 0),
        |h AS (SELECT DISTINCT md5(text) AS h, source FROM planted
        |  WHERE text IS NOT NULL),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared, ta.n AS n_a, tb.n AS n_b,
        |  ROUND(CAST(n_shared AS DOUBLE) / LEAST(ta.n, tb.n), 6) AS overlap
        |FROM p
        |JOIN tot ta ON ta.source = p.source_a
        |JOIN tot tb ON tb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "q89_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.text IS NOT DISTINCT FROM v2.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q87_hybrid_retrieval" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(tk) END AS dl,
        |    len(list_filter(tk, x -> x = 'join')) AS tf0,
        |    len(list_filter(tk, x -> x = 'spark')) AS tf1,
        |    len(list_filter(tk, x -> x = 'window')) AS tf2,
        |    len(list_filter(tk, x -> x = 'merge')) AS tf3
        |  FROM t),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) AS sdl,
        |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
        |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
        |  FROM d),
        |lex AS (
        |  SELECT doc_id, ROUND(
        |      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
        |        * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |    + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
        |        * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
        |        * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n)))
        |    + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5))
        |        * (CAST(tf3 AS DOUBLE) * (1.2 + 1.0))
        |        / (CAST(tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (sdl / n))), 4) AS score
        |  FROM d, s),
        |lextop AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM lex WHERE score > 0
        |  QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 50),
        |e AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 16), b -> CAST(len(list_filter(tk,
        |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 16 = b))
        |      AS DOUBLE)) AS v
        |  FROM t WHERE text IS NOT NULL),
        |qv AS (
        |  SELECT list_transform(range(0, 16), b -> CAST(len(list_filter(
        |    ['join', 'spark', 'window', 'merge'],
        |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 16 = b))
        |    AS DOUBLE)) AS q),
        |dense AS (
        |  SELECT doc_id, ROUND(list_cosine_similarity(v, q), 4) AS score
        |  FROM e CROSS JOIN qv),
        |densetop AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
        |  FROM dense WHERE score > 0
        |  QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 50),
        |u AS (
        |  SELECT doc_id, 1.0 / (60.0 + r) AS c FROM lextop
        |  UNION ALL
        |  SELECT doc_id, 1.0 / (60.0 + r) AS c FROM densetop)
        |SELECT doc_id, ROUND(SUM(c), 6) AS rrf,
        |  CAST(COUNT(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id""".stripMargin,

    "q85_mixture_weights" ->
      """WITH per AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT SUM(n_tokens) AS total FROM per),
        |pa AS (
        |  SELECT source, n_tokens,
        |    POW(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 0.5) AS pa
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT SUM(pa) AS z FROM pa)
        |SELECT source, n_tokens, ROUND(pa / z, 6) AS weight,
        |  ROUND(1000000.0 * (pa / z) / CAST(n_tokens AS DOUBLE), 6) AS rate
        |FROM pa CROSS JOIN z
        |ORDER BY source""".stripMargin,

    "q86_mixture_sample" ->
      """WITH per AS (
        |  SELECT source, SUM(n_chars) AS n_tokens FROM documents GROUP BY source),
        |tot AS (SELECT SUM(n_tokens) AS total FROM per),
        |pa AS (
        |  SELECT source, n_tokens,
        |    POW(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 0.5) AS pa
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT SUM(pa) AS z FROM pa),
        |rates AS (
        |  SELECT source,
        |    ROUND(1000000.0 * (pa / z) / CAST(n_tokens AS DOUBLE), 6) AS rate
        |  FROM pa CROSS JOIN z),
        |d AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
        |  FROM documents),
        |rep AS (
        |  SELECT doc_id, d.source,
        |    CAST(FLOOR(rate) AS INT) +
        |      (CASE WHEN b < ROUND((rate - FLOOR(rate)) * 1000000.0, 0)
        |            THEN 1 ELSE 0 END) AS n
        |  FROM d JOIN rates USING (source))
        |SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS BIGINT) AS epoch
        |FROM rep WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin,

    // Full replay of the portable MinHash+LSH pipeline: md5-family
    // minhash signatures, identical-signature clustering (rep->member
    // links), 8x4 banding over reps, bucket-join candidates, exact
    // integer Jaccard verification (2*n_inter >= n_union <=> J >= 0.5).
    "q29_minhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 1000000, text || ' zyxqj' FROM documents)
        |  WHERE text IS NOT NULL AND trim(text) <> ''),
        |toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM corpus),
        |shs AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_transform(range(1, len(tk) - 1),
        |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END)
        |    AS shset
        |  FROM toks),
        |hb AS (
        |  SELECT s.doc_id,
        |    ('0x' || substr(md5(g.sh), 1, 15))::BIGINT % 2147483647 AS h
        |  FROM shs s, LATERAL (SELECT unnest(s.shset) AS sh) g),
        |hv AS (
        |  SELECT doc_id, f.i,
        |    MIN(((2 * f.i + 3) * h + f.i) % 2147483647) AS m
        |  FROM hb, (SELECT unnest(range(0, 32)) AS i) f
        |  GROUP BY doc_id, f.i),
        |sigs AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(list(m ORDER BY i),
        |      x -> CAST(x AS VARCHAR)), ',') AS sigstr,
        |    list(m ORDER BY i) AS sig
        |  FROM hv GROUP BY doc_id),
        |clustered AS (SELECT sigstr, MIN(doc_id) AS rep FROM sigs GROUP BY sigstr),
        |dup AS (
        |  SELECT c.rep AS a, s.doc_id AS b
        |  FROM sigs s JOIN clustered c USING (sigstr) WHERE s.doc_id <> c.rep),
        |reps AS (
        |  SELECT s.doc_id, s.sig FROM sigs s
        |  JOIN clustered c ON c.sigstr = s.sigstr AND c.rep = s.doc_id),
        |bands AS (
        |  SELECT doc_id, bb.b AS band,
        |    array_to_string(list_transform(
        |      list_slice(sig, bb.b * 4 + 1, bb.b * 4 + 4),
        |      x -> CAST(x AS VARCHAR)), ',') AS bkey
        |  FROM reps, (SELECT unnest(range(0, 8)) AS b) bb),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |allc AS (SELECT DISTINCT a, b FROM
        |  (SELECT a, b FROM dup UNION ALL SELECT a, b FROM cand)),
        |ver AS (
        |  SELECT allc.a, allc.b,
        |    CAST(len(list_intersect(sa.shset, sb.shset)) AS BIGINT) AS n_inter,
        |    CAST(len(sa.shset) + len(sb.shset)
        |      - len(list_intersect(sa.shset, sb.shset)) AS BIGINT) AS n_union
        |  FROM allc
        |  JOIN shs sa ON sa.doc_id = allc.a
        |  JOIN shs sb ON sb.doc_id = allc.b)
        |SELECT a, b, n_inter, n_union FROM ver
        |WHERE 2 * n_inter >= n_union
        |ORDER BY a, b""".stripMargin,

    "q30_simhash_pairs" ->
      """WITH
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' zyxqj' FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS t
        |  FROM corpus),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
        |bits AS (
        |  SELECT doc_id, b.bit,
        |    CASE WHEN 2 * SUM((hv >> b.bit) & 1) > COUNT(*)
        |         THEN (1::BIGINT << b.bit) ELSE 0 END AS bv
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
        |  GROUP BY doc_id, b.bit),
        |sig AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
        |clustered AS (SELECT simhash, MIN(doc_id) AS rep FROM sig GROUP BY simhash),
        |dup AS (
        |  SELECT c.rep AS a, s.doc_id AS b, 0::BIGINT AS hamming
        |  FROM sig s JOIN clustered c USING (simhash) WHERE s.doc_id <> c.rep),
        |near AS (
        |  SELECT x.rep AS a, y.rep AS b,
        |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |  FROM clustered x JOIN clustered y ON x.rep < y.rep
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)
        |SELECT a, b, hamming FROM (SELECT * FROM dup UNION ALL SELECT * FROM near)
        |ORDER BY a, b""".stripMargin,

    "q32_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |gs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_transform(range(1, len(tk) - 1),
        |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS sh
        |  FROM toks),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(sh, s -> (('0x' || substr(md5(s), 1, 15))::BIGINT)) AS h
        |  FROM gs),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) <= 4 THEN [list_min(h)]
        |         ELSE list_distinct(list_transform(range(0, len(h) - 3),
        |                i -> list_min(list_slice(h, i + 1, i + 4)))) END AS f
        |  FROM hs)
        |SELECT doc_id, unnest(f) AS gram FROM fp ORDER BY doc_id, gram""".stripMargin,

    // identical JS arithmetic: exact counts, double p/q/m, log2, round(6)
    "q123_token_drift" ->
      """WITH ta AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE lang = 'de'),
        |ca AS (SELECT tok, COUNT(*) AS c FROM ta GROUP BY tok),
        |cb AS (SELECT tok, COUNT(*) AS c FROM tb GROUP BY tok),
        |v AS (
        |  SELECT COALESCE(ca.tok, cb.tok) AS tok,
        |    COALESCE(ca.c, 0) AS cca, COALESCE(cb.c, 0) AS ccb
        |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |t AS (SELECT CAST(SUM(cca) AS DOUBLE) AS na,
        |             CAST(SUM(ccb) AS DOUBLE) AS nb FROM v)
        |SELECT
        |  CAST(SUM(v.cca) AS BIGINT) AS n_tokens_a,
        |  CAST(SUM(v.ccb) AS BIGINT) AS n_tokens_b,
        |  CAST(SUM(CASE WHEN v.cca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
        |  CAST(SUM(CASE WHEN v.ccb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
        |  CAST(SUM(CASE WHEN v.cca > 0 AND v.ccb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_shared,
        |  ROUND(SUM(
        |    CASE WHEN v.cca > 0 THEN 0.5 * (CAST(v.cca AS DOUBLE) / t.na)
        |      * log2((CAST(v.cca AS DOUBLE) / t.na)
        |              / (((CAST(v.cca AS DOUBLE) / t.na) + (CAST(v.ccb AS DOUBLE) / t.nb)) / 2.0))
        |      ELSE 0.0 END
        |    + CASE WHEN v.ccb > 0 THEN 0.5 * (CAST(v.ccb AS DOUBLE) / t.nb)
        |      * log2((CAST(v.ccb AS DOUBLE) / t.nb)
        |              / (((CAST(v.cca AS DOUBLE) / t.na) + (CAST(v.ccb AS DOUBLE) / t.nb)) / 2.0))
        |      ELSE 0.0 END), 6) AS js_divergence
        |FROM v, t""".stripMargin,

    "q124_drifted_tokens" ->
      """WITH ta AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents WHERE lang = 'de'),
        |ca AS (SELECT tok, COUNT(*) AS c FROM ta GROUP BY tok),
        |cb AS (SELECT tok, COUNT(*) AS c FROM tb GROUP BY tok),
        |v AS (
        |  SELECT COALESCE(ca.tok, cb.tok) AS tok,
        |    COALESCE(ca.c, 0) AS cca, COALESCE(cb.c, 0) AS ccb
        |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |t AS (SELECT CAST(SUM(cca) AS DOUBLE) AS na,
        |             CAST(SUM(ccb) AS DOUBLE) AS nb FROM v)
        |SELECT v.tok,
        |  ROUND(CAST(v.cca AS DOUBLE) / t.na, 6) AS p_a,
        |  ROUND(CAST(v.ccb AS DOUBLE) / t.nb, 6) AS p_b,
        |  ROUND(CAST(v.ccb AS DOUBLE) / t.nb - CAST(v.cca AS DOUBLE) / t.na, 6) AS shift
        |FROM v, t
        |ORDER BY abs(ROUND(CAST(v.ccb AS DOUBLE) / t.nb - CAST(v.cca AS DOUBLE) / t.na, 6)) DESC, tok
        |LIMIT 20""".stripMargin,

    // same distinct-score cells + Mann–Whitney half-tie identity
    "q150_auc" ->
      """WITH c AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS s,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |w AS (
        |  SELECT np, nn,
        |    COALESCE(SUM(nn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM c)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  ROUND(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    SUM(CAST(np AS DOUBLE) * (CAST(cb AS DOUBLE) + CAST(nn AS DOUBLE) / 2.0))
        |      / (CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)) END, 6) AS auc
        |FROM w""".stripMargin,

    // same token/sentence/vowel-group regexes on exact integer counts
    "q147_readability" ->
      """WITH t AS (
        |  SELECT doc_id, COALESCE(text, '') AS tx,
        |    regexp_extract_all(lower(COALESCE(text, '')), '\S+') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  ROUND(CASE WHEN len(tk) > 0 THEN
        |    206.835
        |    - 1.015 * (CAST(len(tk) AS DOUBLE)
        |        / CAST(greatest(1, len(regexp_extract_all(tx, '[.!?]+'))) AS DOUBLE))
        |    - 84.6 * (CAST(list_sum(list_transform(tk, w ->
        |          greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS DOUBLE)
        |        / CAST(len(tk) AS DOUBLE))
        |  END, 6) AS flesch
        |FROM t ORDER BY doc_id""".stripMargin,

    // same decile cuts, list-filter binning, Laplace-smoothed log-odds
    "q138_woe_binning" ->
      """WITH e AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |cuts AS (SELECT quantile_cont(v,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM e),
        |b AS (SELECT 1 + len(list_filter((SELECT q FROM cuts),
        |        x -> v > x)) AS bin, y FROM e),
        |cells AS (SELECT bin, COUNT(*) AS n,
        |            SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
        |          FROM b GROUP BY bin),
        |sc AS (SELECT CAST(i AS INT) AS bin FROM range(1, 11) t(i)),
        |f AS (
        |  SELECT sc.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |    CAST(COALESCE(c.n_pos, 0) AS BIGINT) AS n_pos,
        |    CAST(COALESCE(c.n, 0) - COALESCE(c.n_pos, 0) AS BIGINT) AS n_neg
        |  FROM sc LEFT JOIN cells c ON sc.bin = c.bin),
        |t AS (SELECT CAST(SUM(n_pos) AS DOUBLE) AS tp,
        |             CAST(SUM(n_neg) AS DOUBLE) AS tn FROM f),
        |w AS (
        |  SELECT bin, n, n_pos, n_neg,
        |    ln(((CAST(n_pos AS DOUBLE) + 0.5) / (t.tp + 5.0))
        |       / ((CAST(n_neg AS DOUBLE) + 0.5) / (t.tn + 5.0))) AS woe,
        |    (((CAST(n_pos AS DOUBLE) + 0.5) / (t.tp + 5.0))
        |     - ((CAST(n_neg AS DOUBLE) + 0.5) / (t.tn + 5.0)))
        |      * ln(((CAST(n_pos AS DOUBLE) + 0.5) / (t.tp + 5.0))
        |            / ((CAST(n_neg AS DOUBLE) + 0.5) / (t.tn + 5.0))) AS ivc
        |  FROM f, t),
        |iv AS (SELECT SUM(ivc) AS iv FROM w)
        |SELECT bin, n, n_pos, n_neg, ROUND(woe, 6) AS woe,
        |  ROUND(ivc, 6) AS iv_contrib, ROUND(iv.iv, 6) AS iv
        |FROM w, iv ORDER BY bin""".stripMargin,

    // per-column cell counts → totals → pinned-null-order top-N rank
    "q132_skew_report" -> {
      def block(c: String) =
        s"""SELECT column_name, value, CAST(n AS BIGINT) AS n,
           |  ROUND(CAST(n AS DOUBLE) / CAST(t.n_rows AS DOUBLE), 6) AS share,
           |  CAST(rnk AS INT) AS rnk, t.n_distinct, t.n_rows
           |FROM (
           |  SELECT '$c' AS column_name, value, n,
           |    ROW_NUMBER() OVER (ORDER BY n DESC, value ASC NULLS FIRST) AS rnk
           |  FROM (SELECT CAST($c AS VARCHAR) AS value, COUNT(*) AS n
           |        FROM documents GROUP BY 1)) r,
           |  (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           |          CAST(COUNT(*) AS BIGINT) AS n_distinct
           |   FROM (SELECT CAST($c AS VARCHAR) AS value, COUNT(*) AS n
           |         FROM documents GROUP BY 1)) t
           |WHERE rnk <= 3""".stripMargin
      s"""SELECT * FROM (
         |${block("lang")}
         |UNION ALL
         |${block("source")}
         |) ORDER BY column_name, rnk""".stripMargin
    },

    // same A-ES key arithmetic: dyadic uniform from the md5 hash, -ln/w
    "q125_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    -ln(((('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15))::BIGINT
        |          % 9007199254740992 + 1) / 9007199254740992.0)
        |      ) / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id)
        |      AS sample_rank
        |  FROM s)
        |SELECT doc_id, lang, n_chars, CAST(sample_rank AS INT) AS sample_rank
        |FROM r WHERE sample_rank <= 10
        |ORDER BY lang, sample_rank""".stripMargin,

    // same fingerprint CTE chain as q32, then df-screen + pair join
    "q119_winnow_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |gs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_transform(range(1, len(tk) - 1),
        |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS sh
        |  FROM toks),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(sh, s -> (('0x' || substr(md5(s), 1, 15))::BIGINT)) AS h
        |  FROM gs),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) <= 4 THEN [list_min(h)]
        |         ELSE list_distinct(list_transform(range(0, len(h) - 3),
        |                i -> list_min(list_slice(h, i + 1, i + 4)))) END AS f
        |  FROM hs),
        |fps AS (SELECT doc_id, unnest(f) AS fp FROM fp),
        |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 20),
        |s AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM rare))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q57_dedup_corpus" ->
      s"""WITH RECURSIVE
         |corpus AS (
         |  SELECT doc_id, lang, source, text FROM documents WHERE doc_id < 1500
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, text || ' zyxqj'
         |  FROM documents WHERE doc_id < 1500),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM corpus),
         |sh AS (SELECT doc_id, $shingleList AS s FROM toks),
         |$ccTail
         |SELECT c.doc_id, c.lang, c.source FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT id FROM cc WHERE comp < id)
         |ORDER BY c.doc_id""".stripMargin,

    "q112_leak_safe_split" ->
      s"""WITH RECURSIVE
         |corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 1500
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zyxqj'
         |  FROM documents WHERE doc_id < 1500),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM corpus),
         |sh AS (SELECT doc_id, $shingleList AS s FROM toks),
         |$ccTail,
         |g AS (
         |  SELECT c.doc_id, COALESCE(cc.comp, c.doc_id) AS group_id
         |  FROM corpus c LEFT JOIN cc ON cc.id = c.doc_id),
         |b AS (
         |  SELECT doc_id, group_id,
         |    ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bk
         |  FROM g)
         |SELECT doc_id, group_id,
         |  CASE WHEN bk < 800000 THEN 'train'
         |       WHEN bk < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "q113_novelty" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |sh AS (SELECT doc_id, $shingleList AS s FROM t),
         |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |dfc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1),
         |agg AS (
         |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM g JOIN dfc ON dfc.gram = g.gram GROUP BY 1)
         |SELECT doc_id, n_grams, n_unique,
         |  ROUND(CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS novelty
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q58_curate_corpus" ->
      s"""WITH RECURSIVE
         |corpus AS (
         |  SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id < 1500
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, n_chars, text || ' zyxqj'
         |  FROM documents WHERE doc_id < 1500),
         |sig AS (
         |  SELECT doc_id, lang, n_chars, text,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm,
         |    CAST(length(text) AS BIGINT) AS len_chars,
         |    CASE WHEN text IS NULL THEN 0
         |      ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) END AS n_words,
         |    CASE WHEN length(text) > 0
         |      THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |      ELSE CAST(1 AS DOUBLE) END AS digit_ratio,
         |    regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM corpus),
         |rep AS (
         |  SELECT doc_id,
         |    CASE WHEN len(rsh) > 0
         |      THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(rsh)) AS DOUBLE)/CAST(len(rsh) AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS repetition
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
         |           ELSE list_transform(range(1, len(tk) - 1),
         |                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS rsh
         |    FROM sig)),
         |filtered AS (
         |  SELECT s.doc_id, s.lang, s.n_chars, s.text, s.norm, s.tk
         |  FROM sig s JOIN rep r ON r.doc_id = s.doc_id
         |  WHERE length(s.norm) >= 50
         |    AND (CASE WHEN s.n_words BETWEEN 20 AND 10000 THEN 0.5 ELSE 0 END
         |       + CASE WHEN s.digit_ratio < 0.3 THEN 0.3 ELSE 0 END
         |       + CASE WHEN s.len_chars >= 100 THEN 0.2 ELSE 0 END) >= 0.7
         |    AND r.repetition <= 0.5),
         |exact AS (
         |  SELECT * FROM filtered
         |  WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY norm)),
         |sh AS (SELECT doc_id, $shingleList AS s FROM exact),
         |$ccTail
         |SELECT e.doc_id, e.lang, e.n_chars FROM exact e
         |WHERE e.doc_id NOT IN (SELECT id FROM cc WHERE comp < id)
         |ORDER BY e.doc_id""".stripMargin,

    // Full five-stage replay of the flagship training-data composition:
    // curate (q58 fragment) → 13-gram benchmark decontamination →
    // temperature mixture with the md5 fraction bucket (q86 fragment) →
    // curriculum pack over (quality DESC, md5 spread, eid) → md5 pack
    // shuffle keys. Near-dup survivors = exact-Jaccard pair-graph CC
    // (recall-complete at 0.8 on this corpus — the q57/q58 argument).
    "q96_training_data" ->
      s"""WITH RECURSIVE
         |sig AS (
         |  SELECT doc_id, source, text,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm,
         |    CAST(length(text) AS BIGINT) AS len_chars,
         |    CASE WHEN text IS NULL THEN 0
         |      ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) END AS n_words,
         |    CASE WHEN length(text) > 0
         |      THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
         |      ELSE CAST(1 AS DOUBLE) END AS digit_ratio,
         |    regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM documents),
         |rep AS (
         |  SELECT doc_id,
         |    CASE WHEN len(rsh) > 0
         |      THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(rsh)) AS DOUBLE)/CAST(len(rsh) AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS repetition
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
         |           ELSE list_transform(range(1, len(tk) - 1),
         |                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS rsh
         |    FROM sig)),
         |qual AS (
         |  SELECT s.*,
         |    (CASE WHEN s.n_words BETWEEN 20 AND 10000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
         |     + CASE WHEN s.digit_ratio < 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
         |     + CASE WHEN s.len_chars >= 100 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS quality
         |  FROM sig s),
         |filtered AS (
         |  SELECT q.* FROM qual q JOIN rep r ON r.doc_id = q.doc_id
         |  WHERE length(q.norm) >= 50 AND q.quality >= 0.7
         |    AND r.repetition <= 0.5),
         |exact AS (
         |  SELECT * FROM filtered
         |  WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY norm)),
         |sh AS (SELECT doc_id, $shingleList AS s FROM exact),
         |$ccTail,
         |cur AS (SELECT e.* FROM exact e
         |  WHERE e.doc_id NOT IN (SELECT id FROM cc WHERE comp < id)),
         |bt AS (SELECT regexp_extract_all(lower(text), '\\S+') AS tk
         |  FROM documents WHERE doc_id % 97 = 0),
         |cg AS (SELECT doc_id, unnest(
         |    CASE WHEN len(tk) <= 13 THEN [array_to_string(tk, ' ')]
         |         ELSE list_transform(range(1, len(tk) - 11),
         |                i -> array_to_string(tk[i:i+12], ' ')) END) AS g
         |  FROM cur),
         |bg AS (SELECT DISTINCT g FROM (SELECT unnest(
         |    CASE WHEN len(tk) <= 13 THEN [array_to_string(tk, ' ')]
         |         ELSE list_transform(range(1, len(tk) - 11),
         |                i -> array_to_string(tk[i:i+12], ' ')) END) AS g
         |  FROM bt)),
         |clean AS (
         |  SELECT doc_id, source, quality,
         |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens
         |  FROM cur
         |  WHERE doc_id NOT IN (
         |    SELECT DISTINCT c.doc_id FROM cg c JOIN bg b ON c.g = b.g)),
         |tgt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM clean),
         |per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS stok
         |  FROM clean WHERE source IS NOT NULL GROUP BY source),
         |ptot AS (SELECT CAST(SUM(stok) AS DOUBLE) AS ptotal FROM per),
         |pa AS (SELECT source, stok,
         |    POW(CAST(stok AS DOUBLE) / ptotal, 0.5) AS pa
         |  FROM per CROSS JOIN ptot),
         |z AS (SELECT SUM(pa) AS z FROM pa),
         |rates AS (SELECT source,
         |    ROUND(CAST(total AS DOUBLE) * (pa / z) / CAST(stok AS DOUBLE), 6) AS rate
         |  FROM pa CROSS JOIN z CROSS JOIN tgt),
         |d AS (SELECT c.*,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
         |  FROM clean c),
         |repn AS (SELECT d.*,
         |    CAST(FLOOR(rate) AS INT) +
         |      (CASE WHEN b < ROUND((rate - FLOOR(rate)) * 1000000.0, 0)
         |            THEN 1 ELSE 0 END) AS nrep
         |  FROM d JOIN rates USING (source)),
         |sampled AS (SELECT doc_id, source, quality, n_tokens,
         |    CAST(unnest(generate_series(1, nrep)) AS BIGINT) AS epoch
         |  FROM repn WHERE nrep > 0),
         |wk AS (SELECT *,
         |    CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS eid
         |  FROM sampled),
         |spreadk AS (SELECT *,
         |    ('0x' || substr(md5(eid || ':' || '0'), 1, 15))::BIGINT AS spr
         |  FROM wk),
         |cum AS (SELECT *,
         |    COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, spr, eid
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bsum
         |  FROM spreadk),
         |packed AS (SELECT *, CAST(bsum // 2048 AS BIGINT) AS pack_id
         |  FROM cum)
         |SELECT doc_id, source, epoch, pack_id,
         |  ('0x' || substr(md5(CAST(pack_id AS VARCHAR) || ':' || '0'), 1, 15))::BIGINT AS shuffle_key
         |FROM packed ORDER BY doc_id, epoch""".stripMargin,

    "q54_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    END AS sh
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(sh) > 0
        |    THEN CAST(1 AS DOUBLE) - CAST(len(list_distinct(sh)) AS DOUBLE)/CAST(len(sh) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS repetition
        |FROM s ORDER BY doc_id""".stripMargin,

    "q55_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{16}\b', '<CARD>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, source, lang,
        |    regexp_extract_all(lower(text), '\S+') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
        |      ELSE list_transform(range(1, len(tk) - 1),
        |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, source, lang, unnest(s) AS h FROM sh),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_inter
        |  FROM ex x JOIN ex y
        |    ON x.source = y.source AND x.lang = y.lang AND x.h = y.h
        |    AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh)
        |SELECT i.a, i.b,
        |  CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.a
        |JOIN sizes sb ON sb.doc_id = i.b
        |ORDER BY jaccard DESC, a, b LIMIT 100""".stripMargin,

    "q48_text_normalize" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
         |  CASE WHEN n_words > 0 THEN CAST(hits AS DOUBLE)/CAST(n_words AS DOUBLE)
         |       ELSE CAST(0 AS DOUBLE) END AS en_stopword_ratio
         |FROM (
         |  SELECT doc_id, text,
         |    CASE WHEN text IS NULL THEN 0
         |      ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) END AS n_words,
         |    len(list_filter(regexp_extract_all(lower(text), '\\S+'),
         |        x -> list_contains([$enStopList], x))) AS hits
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q27_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    regexp_extract_all(lower(text), '\\S+') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, labeled_lang,
         |    ${sqlStop("de")}, ${sqlStop("en")}, ${sqlStop("es")}, ${sqlStop("fr")}
         |  FROM t)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
         |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
         |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
         |       ELSE 'fr' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin,

    "q24_text_stats" ->
      """SELECT doc_id, n_chars, n_words, n_digits, n_nonspace,
        |  CASE WHEN n_words > 0 THEN CAST(n_nonspace AS DOUBLE)/CAST(n_words AS DOUBLE) END AS avg_word_len
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CASE WHEN text IS NULL THEN 0
        |      ELSE CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) END AS n_words,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q25_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS BIGINT) AS n_tokens,
        |  CASE WHEN text IS NULL THEN 0
        |    ELSE CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) END AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q26_lang_profile" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // teacher class sizes recomputed from the same token-rate rule; the
    // student's AUC flag is computed Spark-side, expected TRUE
    "q83_quality_classifier" ->
      """SELECT CAST(SUM(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN lab = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  TRUE AS auc_ok
        |FROM (
        |  SELECT CASE WHEN
        |    CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x = 'spark')) AS DOUBLE)
        |      / CAST(greatest(len(regexp_extract_all(lower(text), '\S+')), 1) AS DOUBLE) >= 0.03
        |    THEN 1 ELSE 0 END AS lab
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin,

    "q28_quality_score" ->
      """SELECT doc_id,
        |  (CASE WHEN n_words BETWEEN 20 AND 10000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |   + CASE WHEN digit_ratio < 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
        |   + CASE WHEN n_chars >= 100 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS score
        |FROM (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CASE WHEN text IS NULL THEN 0
        |      ELSE CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) END AS n_words,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |      ELSE CAST(1 AS DOUBLE) END AS digit_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)
}
