package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation — the LLM-training-data composition tying the text
  * operators together (the `ext` analogue of `graft.Pipeline`'s EP1):
  *
  *   normalize → per-doc quality signals → rule filter (quality score,
  *   repetition, length, language) → exact dedup → near-dup dedup →
  *   curated corpus + per-stage survivor counts.
  *
  * All filter signals evaluate in ONE projection pass over the text; the
  * dedup stages are the shuffle-bounded operators from [[Dedup]]. This is
  * the C4/Gopher-style cleaning recipe expressed as a reusable call.
  */
object TextPipeline {

  final case class CurationStats(
      input: Long,
      afterRuleFilter: Long,
      afterExactDedup: Long,
      afterNearDedup: Long)

  final case class CurationResult(curated: DataFrame, stats: CurationStats)

  /** The curate rule filter: keeps the docs whose normalized text
    * ([[TextStats.normalizeText]]) has at least `minChars` characters,
    * whose [[TextStats.qualityScore]] reaches `minQuality`, whose
    * [[TextStats.repetitionRatio]] is at most `maxRepetition` (NULL text
    * fails it) and, when `allowedLangs` is non-empty, whose
    * [[TextStats.langId]] is one of them. A narrow filter, no new column:
    * with the default `allowedLangs` every signal is a native one-pass
    * expression. */
  private[graft] def ruleFilter(
      docs: DataFrame,
      textCol: String,
      minQuality: Double = 0.7,
      maxRepetition: Double = 0.5,
      minChars: Int = 50,
      allowedLangs: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val langOk: Column =
      if (allowedLangs.isEmpty) lit(true)
      else TextStats.langId(t).isin(allowedLangs: _*)
    docs.filter(length(TextStats.normalizeText(t)) >= minChars &&
      TextStats.qualityScore(t) >= minQuality &&
      TextStats.repetitionRatio(t) <= maxRepetition &&
      langOk)
  }

  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = 0.7,
      maxRepetition: Double = 0.5,
      minChars: Int = 50,
      allowedLangs: Seq[String] = Nil,
      nearDupJaccard: Double = 0.8,
      computeStats: Boolean = true): CurationResult = {
    // per-stage counts are extra actions; callers that only want the
    // curated frame skip them (-1 sentinel)
    def maybeCount(df: DataFrame): Long = if (computeStats) df.count() else -1L

    import graft.util.Stages.{time => stage}
    val input = maybeCount(docs)
    val filtered0 = ruleFilter(docs, textCol, minQuality, maxRepetition,
      minChars, allowedLangs)
    // `filtered` has exactly ONE downstream consumer (the exact-dedup
    // window below), so its persist+count buys nothing but the
    // afterRuleFilter stat — with stats off, skip the extra corpus
    // materialization pass entirely and let exact's fill run the filter
    // chain once (r19; guide §1.2 — don't compute what you throw away)
    val filtered = if (computeStats) filtered0.persist() else filtered0
    // the materializing counts double as (free) stage stats
    val afterFilter =
      if (computeStats) stage("curate", "rule-filter") { filtered.count() }
      else -1L

    // exact dedup: survivors are min-id per content hash. Same rule as
    // [[Dedup.exactDedup]] (min id per md5 of the normalized text)
    // expressed as ONE shuffle: rank rows within their content-hash group
    // and keep rank 1 — ids are unique, so the rank-1 row IS the row the
    // old groupBy(min id) + semi-join kept, at a third of the shuffles
    // (r18 opt; the groupBy + semi-join form shuffled the corpus three
    // times: hash agg, then both SMJ sides on the id). The window keys on
    // the 32-char md5 alone: the normalized text itself is never a column,
    // so neither the exchange nor the `exact` cache carries a second copy
    // of every surviving text.
    //
    // PRECONDITION (the curate contract): idCol is unique per row. With
    // duplicate ids the old form kept EVERY row bearing the surviving
    // id while row_number keeps one arbitrary row among tied ids.
    //
    // Skew bound (r19 audit): the window has no partial aggregation, so
    // ONE task sees every copy of a given content hash — a corpus that
    // is mostly copies of one document serializes that group on a
    // single task. Kept deliberately: the skew unit is rows-per-
    // identical-document (cheap — the window only ranks by id), AQE
    // splits cannot help any form keyed on the same hash, and the
    // alternative (salted two-level min + a semi-join on the survivor
    // ids) pays TWO more corpus-scale shuffles on every healthy corpus
    // to shave one straggler task on a pathological one.
    val w = Window.partitionBy(md5(TextStats.normalizeText(col(textCol))))
      .orderBy(col(idCol))
    val exact = filtered
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    val afterExact = stage("curate", "exact-dedup") { exact.count() }
    if (computeStats) { filtered.unpersist(); () }

    // eager snapshot (Caches contract), taken while `exact` is still
    // cached: the plan anti-joins against exact, and materializing after
    // release would recompute the whole filter+dedup chain over the
    // corpus. No CacheManager entry rides out with the result; its
    // blocks GC-release once the caller drops the frame.
    val near = stage("curate", "near-dedup") { graft.util.Caches.snapshot(
      Dedup.dedupNearDuplicates(exact, idCol, textCol,
        minJaccard = nearDupJaccard)) }
    // cheap (scans the snapshot blocks) but still a job: only run it when
    // the stat is wanted
    val afterNear = maybeCount(near)
    exact.unpersist()

    CurationResult(near,
      CurationStats(input, afterFilter, afterExact, afterNear))
  }

  final case class TrainingDataStats(
      curation: CurationStats,
      afterDecontamination: Long,
      sampledRows: Long,
      nPacks: Long)

  final case class TrainingDataResult(data: DataFrame,
      stats: TrainingDataStats)

  /** The full pretraining-data run as one call — curate (rule filter +
    * exact + near dedup) → benchmark decontamination → temperature
    * mixture sampling (per `sourceCol`, repeating small sources) →
    * curriculum packing (quality desc) → deterministic PACK shuffle.
    * Output rows: original columns + quality, n_tokens, epoch, pack_id,
    * shuffle_key, ordered for sequential write with every pack's
    * members adjacent (the pack is the training example; shuffling
    * rows instead would scatter each context window).
    *
    * Composition of independently-tested operators; each stage keeps
    * its own scale shape (bounded near-dup joins, broadcast benchmark
    * grams, broadcast mixture rates, two-phase pack cumsum, range-sort
    * shuffle). The intermediate corpus persists across the count
    * barriers exactly once per stage. `computeStats = false` drops every
    * pure-reporting corpus scan (input count, decontamination count,
    * distinct-pack count) and keeps only the actions that materialize a
    * cache or feed a downstream stage — the production setting; skipped
    * stats report the -1 sentinel. */
  def prepareTrainingData(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      benchmark: Option[DataFrame] = None,
      minQuality: Double = 0.7,
      nearDupJaccard: Double = 0.8,
      mixtureAlpha: Double = 0.5,
      targetTokens: Long = 0L, // 0 ⇒ natural size (one epoch of everything)
      packBudget: Long = 2048,
      shuffleSeed: Long = 0L,
      computeStats: Boolean = true,
      // the composition's only remaining engine-specific ingredient is
      // its seeded hash (mixture fraction bucket, curriculum spread
      // tiebreak, pack shuffle key). Inject TextStats.md5Hash64 and the
      // WHOLE pipeline output becomes replayable in a reference SQL
      // engine (the q96 gate); xxhash64 stays the production default.
      hash: Column => Column = xxhash64(_)): TrainingDataResult = {
    import graft.util.Stages.{time => stage}
    val cur = stage("tdata", "curate") {
      curate(docs, idCol, textCol, minQuality = minQuality,
        nearDupJaccard = nearDupJaccard, computeStats = computeStats) }
    val clean = benchmark match {
      case Some(bench) =>
        val hits = Decontam.contaminatedScreened(cur.curated, bench,
          idCol, textCol, n = 13).select(col(idCol))
        cur.curated.join(hits, Seq(idCol), "left_anti")
      case None => cur.curated
    }
    val scored = clean
      .withColumn("quality", TextStats.qualityScore(col(textCol)))
      .withColumn("n_tokens", TextStats.tokenCount(col(textCol)))
      .persist()
    // `scored` is read several times downstream (target sum, mixture
    // rates, sampling); the persist populates lazily on the first of
    // those actions, so the explicit count here is REPORTING only.
    val afterDecon = if (computeStats) scored.count() else -1L
    val target = stage("tdata", "decontam+target") {
      if (targetTokens > 0) targetTokens
      else scored.agg(coalesce(sum(col("n_tokens")), lit(0L)))
        .head().getLong(0) }
    val sampled = stage("tdata", "mixture-rates") {
      if (target == 0) scored.withColumn("epoch", lit(1))
      else Sampling.mixtureSample(scored, sourceCol, idCol, "n_tokens",
        mixtureAlpha, target, hash = hash) }
    // epoch-qualified id keeps repeated docs distinct through packing
    // and shuffling (they are separate training rows); __spread (a
    // seeded hash of the epoch-qualified id) tiebreaks INSIDE each
    // quality level, so the epoch copies of a repeated small-source doc
    // scatter across their quality band instead of stacking
    // back-to-back into one context window
    val withKey = sampled
      .withColumn("__eid",
        concat_ws(":", col(idCol).cast("string"), col("epoch").cast("string")))
      .withColumn("__spread",
        hash(concat_ws(":", col("__eid"), lit(shuffleSeed.toString))))
    val packOrder = Seq(col("quality").desc, col("__spread"), col("__eid"))
    val packed = stage("tdata", "pack-range-sort") {
      Packing.packByBudgetOrdered(withKey, packOrder, "n_tokens",
        packBudget) }
    // shuffle PACKS, not rows: a pack IS the training example, so its
    // members must stay adjacent in the emitted order. The seeded hash
    // of the pack id permutes pack order; within a pack, rows keep the
    // exact curriculum order packing used.
    val shuffled = packed
      .withColumn("shuffle_key", hash(
        concat_ws(":", col("pack_id").cast("string"),
          lit(shuffleSeed.toString))))
      .orderBy(col("shuffle_key") +: col("pack_id") +: packOrder: _*)
      .drop("__eid", "__spread")
    // eager snapshot while `scored` is still cached (same rationale as
    // curate's afterNear); stats run over the snapshot blocks. Distinct
    // packs — NOT max(pack_id)+1: a doc larger than the budget spills
    // past whole budget windows, leaving empty pack ids.
    val out = stage("tdata", "mix+pack+shuffle") {
      graft.util.Caches.snapshot(shuffled) }
    val (nRows, nPacks) =
      if (computeStats) {
        val r = out.agg(count(lit(1)), countDistinct(col("pack_id"))).head()
        (r.getLong(0), r.getLong(1))
      } else (out.count(), -1L) // cheap: counts the snapshot blocks
    scored.unpersist()
    // release the curated-corpus cache too: `out` is materialized, so
    // nothing downstream re-reads it through this plan
    cur.curated.unpersist(blocking = false)
    TrainingDataResult(out,
      TrainingDataStats(cur.stats, afterDecon, nRows, nPacks))
  }

  /** Line-level corpus deduplication (the C4/RefinedWeb boilerplate
    * remover): any line occurring more than `maxOccurrences` times ACROSS
    * THE WHOLE CORPUS (navigation chrome, cookie banners, license
    * headers) is dropped from every document; surviving lines are
    * reassembled in original order. Docs that lose every line disappear.
    *
    * Output: (idCol, dedup_text, n_lines_kept, n_lines_dropped).
    *
    * Scale: lines explode narrowly; occurrence counting is one shuffle on
    * the 8-byte line hash with map-side combine; the drop is a left-anti
    * join against the (small — only lines that repeat corpus-wide)
    * over-threshold hash set; reassembly is one shuffle on doc id with
    * `array_sort(struct(pos, line))` making the collect order
    * deterministic under any partitioning. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxOccurrences: Long = 1): DataFrame = {
    require(maxOccurrences >= 1, "maxOccurrences must be >= 1")
    val lines = docs
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
      .withColumn("__lh", xxhash64(col("__line")))
    val over = lines.groupBy(col("__lh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOccurrences)
      .select(col("__lh"))
    lines.join(over, Seq("__lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("dedup_text"),
        count(lit(1)).as("n_lines_kept"))
      .join(
        docs.select(col(idCol),
          size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
            .cast("long").as("__total")),
        Seq(idCol))
      .withColumn("n_lines_dropped", col("__total") - col("n_lines_kept"))
      .drop("__total")
  }

  /** Exact-substring dedup (ExactSubstr; Lee et al. 2022,
    * arXiv:2107.06499): every occurrence of a corpus-duplicated `n`-token
    * span is masked out of the text EXCEPT the corpus-wide first
    * occurrence (smallest (doc id, position) — deterministic under any
    * partitioning), and each doc's surviving tokens are re-joined.
    * Duplicated spans overlap and chain, so coverage is computed per
    * TOKEN with a bounded range window (a token is masked when any
    * masked span starts within the previous n-1 positions), not per span.
    *
    * Output: one row per input doc with non-null text —
    * (idCol, n_tokens, n_kept, text_clean); text_clean = "" when every
    * token was masked (an exact short duplicate of an earlier doc).
    * Tokens keep their original case; gram matching is case-folded
    * ([[graft.functions.GramPosHashes]] — same tokenizer as the rest of
    * the gram family). Gram equality is 64-bit-hash equality (identical
    * to string equality absent collisions — the q62/q78 caveat).
    *
    * Scale: token rows are the unit of work (the same explosion
    * [[dedupLines]] pays) and every stage is key-partitioned — gram
    * groupBy to find duplicated spans + their first occurrence, a join
    * of token rows against the duplication-sized masked-start set, one
    * per-doc window + regroup to reassemble. Nothing collects to the
    * driver. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__tk"),
        Shingles.gramPosHashes(col(textCol), n).as("__grams"))
    val occ = base
      .select(col("__id"), posexplode(col("__grams")).as(Seq("__i", "__g")))
      .select(col("__id"), (col("__i") + 1).as("__pos"), col("__g"))
    // duplicated grams only (a unique gram is its own first occurrence);
    // min(struct) = corpus-wide first occurrence in (id, pos) order
    val dup = occ.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("__id"), col("__pos"))).as("__f"))
      .filter(col("__c") > 1)
      .select(col("__g"), col("__f.__id").as("__fid"),
        col("__f.__pos").as("__fpos"))
    val maskStarts = occ.join(dup, Seq("__g"))
      .filter(!(col("__id") === col("__fid") && col("__pos") === col("__fpos")))
      .select(col("__id"), col("__pos"))
      .withColumn("__m", lit(1))
    val toks = base
      .select(col("__id"), size(col("__tk")).cast("long").as("__ntok"),
        posexplode(col("__tk")).as(Seq("__ti", "__w")))
      .select(col("__id"), col("__ntok"), (col("__ti") + 1).as("__pos"),
        col("__w"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
      .rangeBetween(-(n - 1), 0)
    val marked = toks
      .join(maskStarts, Seq("__id", "__pos"), "left")
      .withColumn("__cov", max(coalesce(col("__m"), lit(0))).over(w))
    marked.groupBy(col("__id"))
      .agg(first(col("__ntok")).as("n_tokens"),
        sum(when(col("__cov") === 0, 1L).otherwise(0L)).as("n_kept"),
        // when() without otherwise -> null for masked tokens, which
        // collect_list skips; sort by (pos, token) restores doc order
        array_join(transform(
          array_sort(collect_list(
            when(col("__cov") === 0, struct(col("__pos"), col("__w"))))),
          e => e.getField("__w")), " ").as("text_clean"))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_kept"),
        col("text_clean"))
  }
}
