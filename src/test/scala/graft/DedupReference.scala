package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.ext.Dedup.{NearDupIndex, shingleSets}
import graft.ext.Shingles

/** The five near-dup candidate paths as they stood before [[graft.ext.Dedup]]
  * shared one rep-selection window and one band → cap → self-join core:
  * `minHashLsh` (the window form the core was taken from),
  * `minHashLshPortable` (explode + groupBy signatures, groupBy + min_by
  * clusters joined back), `hammingPairs64` (groupBy clusters joined back,
  * bucket-count aggregate joined back), the index build over `sigReps`
  * (groupBy + min_by) and `incrementalNearDupMatches` (groupBy + min_by
  * reps, a `memberOf` join, a bucket-count aggregate on the kept side).
  * Kept, with their own `bandify` / `boundBuckets` copies, as the
  * reference the parity property compares the shared core against. */
object DedupReference {

  private def sigsFromSets(sets: DataFrame, numHashes: Int): DataFrame =
    sets.select(col("id"),
      graft.functions.MinHashArray.minhash(col("shset"), numHashes)
        .as("sig"))

  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    import graft.util.Stages.{time => stageT}
    val numHashes = bands * rowsPerBand
    // ONE narrow cached projection carries the shingle sets, the
    // row-local MinHash signatures AND the 128-bit signature keys
    // (r19: MinHashArray removed the explode+aggregate shuffle, which
    // also collapses the former sets/withSigKey cache pair into one
    // frame and one fill action). It feeds the cluster aggregate, the
    // member join and (twice) the exact verification join. Tokenless
    // docs are dropped inside shingleSets, exactly as the exploded
    // aggregation dropped them; such docs never joined a candidate pair.
    //
    // Signature grouping/joining rides a 128-bit hash of the signature
    // (two independent xxhash64 streams), not the array itself: the
    // 32-long array key is ~16× the bytes and element-wise to compare
    // on the hottest dedup shuffle, while a 128-bit collision needs
    // ~2^64 DISTINCT signatures before the birthday bound bites (at
    // 10^9 distinct sigs the any-collision probability is ~10^-21). A
    // single 64-bit key would NOT be safe here (birthday-collides at
    // ~10^9 with real probability, silently merging unrelated groups).
    val keyed = shingleSets(docs, idCol, textCol, shingleSize)
      .select(col("id"), col("shset"),
        graft.functions.MinHashArray.minhash(col("shset"), numHashes)
          .as("sig"))
      .select(col("id"), col("shset"), col("sig"),
        xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .persist()
    // force the cache ONCE before fan-out: the final action would
    // otherwise launch its branch stages concurrently and they'd race to
    // fill the cache, recomputing the shingle pipeline per branch
    stageT("lsh", "sets+signatures") { keyed.count() }
    // rep = min(id) over ONE window on the signature key: the same frame
    // yields the member→rep pairs (id ≠ rep) and the representatives with
    // their own sig arrays (id = rep) — no aggregate, and no join back
    // against keyed to re-attach the rep to each member.
    // Skew bound: a window has no partial aggregation, so one task holds a
    // whole signature group (every exact copy of a document), as the
    // member join of the aggregate form already did; the rows are ids and
    // one sig array each, and the task only takes a running min.
    val withRep = keyed.select(col("id"), col("sig"),
      min(col("id")).over(Window.partitionBy(col("__sk1"), col("__sk2")))
        .as("rep"))
      .persist()
    val dupCand = withRep.filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))

    // band-block only distinct signatures, skipping non-discriminating
    // (over-full) buckets — their members remain reachable via other bands.
    // The ONE banding action fills both caches (bounded's plan reads
    // withRep's), so neither window runs again for the candidates below.
    val reps = withRep.filter(col("id") === col("rep"))
      .select(col("id"), col("sig"))
    val bounded = boundBuckets(bandify(reps, bands, rowsPerBand),
      maxBucketSize).persist()
    stageT("lsh", "banding") { bounded.count() }
    val bandCand = bounded
      .select(col("band"), col("band_hash"), col("id").as("a"))
      .join(bounded.select(col("band"), col("band_hash"), col("id").as("b")),
        Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b")

    // eager snapshot: materialize the (small) verified pair set, then
    // release the intermediate caches — repeated calls in a long-lived
    // session must not accumulate cached blocks (util.Caches contract).
    // Only the band side needs the pair dedup: a band pair can repeat
    // across bands, while dupCand pairs are unique by construction (one
    // signature group per id) and DISJOINT from band pairs (a dupCand
    // `b` is a non-rep member; band pairs join reps only) — so dupCand
    // rows skip the dropDuplicates exchange entirely (guide §2.4).
    val result = stageT("lsh", "candidates+verify") {
      graft.util.Caches.snapshot(
        dupCand.unionByName(bandCand.dropDuplicates("a", "b"))
          .join(keyed.select(col("id").as("a"), col("shset").as("sh_a")),
            Seq("a"))
          .join(keyed.select(col("id").as("b"), col("shset").as("sh_b")),
            Seq("b"))
          .withColumn("jaccard", Shingles.jaccard(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= minJaccard)
          .select(col("a"), col("b"), col("jaccard"))) }
    keyed.unpersist(); withRep.unpersist(); bounded.unpersist()
    result
  }

  def minHashLshPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    val base = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("id"),
        array_distinct(Shingles.wordShingles(col(textCol), shingleSize))
          .as("shset"))
      .persist()
    base.count() // fill once before the fan-out (minHashLsh discipline)
    val p = 2147483647L // 2^31 − 1; (2k+3)·h + k < 2^38 — overflow-free
    val minCols = (0 until numHashes).map { i =>
      min((lit(2L * i + 3) * col("__hb") + lit(i.toLong)) % p)
        .as(s"__m$i")
    }
    val sigs = base.select(col("id"), explode(col("shset")).as("sh"))
      .select(col("id"),
        (conv(substring(md5(col("sh")), 1, 15), 16, 10).cast(LongType)
          % p).as("__hb"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
    // signature as a canonical string — the portable stand-in for the
    // 128-bit xxhash64 key (cluster and join keys must be reproducible
    // too; at gate scale the byte weight is irrelevant)
    val withKey = sigs.select(col("id"), col("sig"),
      concat_ws(",", transform(col("sig"), _.cast(StringType)))
        .as("__sigstr")).persist()
    withKey.count()
    // min_by carries the rep's own sig array out of the SAME aggregate
    // (the minHashLsh cluster shape): all rows of a __sigstr group share
    // one sig array (the string is the canonical rendering), so the old
    // left_semi join back against withKey re-shuffled the whole keyed
    // signature set only to recover a value the aggregate already held
    // (r18 opt — one corpus-keyed shuffle removed from the gate path)
    val clusters = withKey.groupBy(col("__sigstr"))
      .agg(min(col("id")).as("rep"),
        min_by(col("sig"), col("id")).as("__repsig"))
    val dup = withKey
      .join(clusters.select(col("__sigstr"), col("rep")), Seq("__sigstr"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))
    val reps = clusters.select(col("rep").as("id"),
      col("__repsig").as("sig"))
    val banded = reps.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws(",", transform(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast(StringType)))))
        .as(Seq("band", "bkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val result = graft.util.Caches.snapshot(
      dup.unionByName(cand).dropDuplicates("a", "b")
        .join(base.select(col("id").as("a"), col("shset").as("sh_a")),
          Seq("a"))
        .join(base.select(col("id").as("b"), col("shset").as("sh_b")),
          Seq("b"))
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("n_union",
          (size(col("sh_a")) + size(col("sh_b"))).cast(LongType)
            - col("n_inter"))
        .filter(col("n_inter") * 2 >= col("n_union"))
        .select(col("a"), col("b"), col("n_inter"), col("n_union")))
    base.unpersist(); withKey.unpersist()
    result
  }

  def hammingPairs64(sigsIn: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = sigsIn.select(col("id"), col("sig")).persist()
    sigs.count() // materialize once before the branches race for the cache

    // identical-signature clusters: rep = min id, members pair to the rep
    val clustered = sigs.groupBy(col("sig"))
      .agg(min(col("id")).as("rep"))
    val dupPairs = sigs.join(clustered, Seq("sig"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"),
        lit(0L).as("hamming"))

    // band-block only distinct signatures (one rep per signature)
    val reps = clustered.select(col("rep").as("id"), col("sig"))
    val banded = reps.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "band_val")))
    val bucketSizes = banded.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("__bucket_n"))
    val bounded = banded.join(
      bucketSizes.filter(col("__bucket_n") <= maxBucketSize),
      Seq("band", "band_val"))
    val l = bounded.select(col("band"), col("band_val"),
      col("id").as("a"), col("sig").as("sig_a"))
    val r = bounded.select(col("band"), col("band_val"),
      col("id").as("b"), col("sig").as("sig_b"))
    // hamming is a cheap bit_count — filter BEFORE the dedup shuffle so
    // only surviving pairs (not every multi-band candidate) get shuffled
    val nearPairs = l.join(r, Seq("band", "band_val"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")

    // eager snapshot, then release the signature cache (Caches contract)
    val result = graft.util.Caches.snapshot(dupPairs.unionByName(nearPairs))
    sigs.unpersist()
    result
  }

  private def bandify(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
          lit(rowsPerBand)), b)))
        .as(Seq("band", "band_hash")))

  private def boundBuckets(banded: DataFrame, cap: Int): DataFrame =
    banded
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_hash"))))
      .filter(col("__n") <= cap).drop("__n")

  private def sigReps(sigs: DataFrame): DataFrame =
    sigs.groupBy(xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .agg(min(col("id")).as("id"), min_by(col("sig"), col("id")).as("sig"))
      .select(col("id"), col("sig"))

  def buildNearDupIndex(kept: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): NearDupIndex =
    buildIndexFromSets(shingleSets(kept, idCol, textCol, shingleSize),
      shingleSize, bands, rowsPerBand, maxBucketSize)

  private def buildIndexFromSets(sets: DataFrame, shingleSize: Int,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int): NearDupIndex = {
    // band one rep per distinct signature (duplicate-heavy guard, same as
    // minHashLsh): a new copy of kept boilerplate matches the rep — and
    // rep verification (exact Jaccard vs the rep's shingle set) decides
    val reps = sigReps(sigsFromSets(sets, bands * rowsPerBand))
    // snapshot before boundBuckets: unsnapshotted, every read of
    // index.banded (one per increment) would re-run the whole kept
    // shingle/MinHash pipeline
    val banded = graft.util.Caches.snapshot(
      bandify(reps, bands, rowsPerBand))
    val bounded = boundBuckets(banded, maxBucketSize)
    NearDupIndex(sets, bounded, bands, rowsPerBand, shingleSize)
  }

  def incrementalNearDupMatches(newDocs: DataFrame, index: NearDupIndex,
      idCol: String, textCol: String, minJaccard: Double,
      maxBucketSize: Int): DataFrame = {
    import graft.util.Stages.{time => stageT}
    // ONE narrow cached projection carries the delta's shingle sets,
    // row-local MinHash signatures and 128-bit signature keys (r19: the
    // explode+aggregate signature shuffle is gone — MinHashArray — and
    // with it the separate newSets/newSigs cache pair and one fill
    // action per call). Feeds reps, memberOf and the verify attach.
    val newKeyed = shingleSets(newDocs, idCol, textCol, index.shingleSize)
      .select(col("id"), col("shset"),
        graft.functions.MinHashArray.minhash(col("shset"),
          index.bands * index.rowsPerBand).as("sig"))
      .select(col("id"), col("shset"), col("sig"),
        xxhash64(col("sig")).as("__sk1"),
        xxhash64(col("sig"), lit(1L)).as("__sk2"))
      .persist()
    stageT("incdup", "new-sets+sigs") { newKeyed.count() }
    // duplicate-heavy DELTA guard (mirrors the batch path's sigReps): band
    // ONE representative per distinct signature. Banding members
    // individually means a delta carrying >maxBucketSize copies of the
    // same boilerplate overflows every one of its band buckets, the cap
    // drops them all, and every copy silently survives. Non-rep members
    // inherit their rep's candidates (plus a member→rep candidate), all
    // exact-Jaccard verified against each member's own shingle set.
    // Signature grouping/joining is on the compact 128-bit hash key (see
    // minHashLsh's cluster step), with the rep's own sig array riding
    // along via min_by for banding.
    val reps = newKeyed.groupBy(col("__sk1"), col("__sk2"))
      .agg(min(col("id")).as("rep_id"),
        min_by(col("sig"), col("id")).as("sig"))
      .persist()
    stageT("incdup", "new-reps") { reps.count() }
    // NOT persisted (r19): both consumers (candidate expansion and the
    // member→rep intra pairs) join two already-cached inputs — letting
    // the tiny join evaluate twice is cheaper than a fill action per call
    val memberOf = newKeyed
      .join(reps.select(col("__sk1"), col("__sk2"), col("rep_id")),
        Seq("__sk1", "__sk2"))
      .select(col("id"), col("rep_id"))
    val newBand = bandify(reps.select(col("rep_id").as("id"), col("sig")),
      index.bands, index.rowsPerBand).persist()
    stageT("incdup", "new-banding") { newBand.count() }
    // cap hot NEW buckets too (a hot bucket × every kept member is the
    // incremental analogue of the self-join blow-up); reps-only banding
    // means identical-content floods no longer trip this cap. SAME
    // helper as the batch path — a drifted copy of the cap rule would
    // make the incremental index stop being interchangeable with a
    // re-dedup (the invariant the shared helpers protect)
    val nb = boundBuckets(newBand, maxBucketSize)
    // the DELTA side broadcasts (it's small by contract): the index
    // streams map-side through the join — no corpus-sized shuffle per
    // increment. The kept side RE-APPLIES the bucket cap on the touched
    // buckets: an accumulated store (streaming ingest appends per-batch
    // deltas, each individually under the cap) can grow a boilerplate
    // bucket far past maxBucketSize, and pairing every delta rep with
    // that bucket's whole population is exactly the hot-bucket blow-up
    // the cap exists to stop. Touched membership is delta-confined, so
    // the re-cap is one aggregate over the pruned join output — never an
    // index-wide shuffle; over-cap buckets drop entirely (their members
    // stay reachable via other bands — the batch boundBuckets rule).
    val keptTouched = index.banded
      .select(col("band"), col("band_hash"), col("id").as("matched_id"))
      .join(broadcast(nb.select(col("band"), col("band_hash")).distinct()),
        Seq("band", "band_hash"))
      .persist()
    // force the cache ONCE before the fan-out (okBuckets + candKept both
    // scan it) — the same discipline as every other persist in this
    // function; racing an unfilled cache runs the index join twice
    stageT("incdup", "kept-touched") { keptTouched.count() }
    val okBuckets = keptTouched.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__kn")).filter(col("__kn") <= maxBucketSize)
      .select(col("band"), col("band_hash"))
    val candKept = keptTouched
      .join(broadcast(okBuckets), Seq("band", "band_hash"))
      .join(broadcast(nb.select(col("band"), col("band_hash"),
        col("id").as("rep_id"))), Seq("band", "band_hash"))
      .select(col("rep_id"), col("matched_id"))
      .withColumn("matched_kept", lit(true))
    val candNew = nb.select(col("band"), col("band_hash"),
        col("id").as("rep_id"))
      .join(nb.select(col("band"), col("band_hash"),
        col("id").as("matched_id")), Seq("band", "band_hash"))
      .filter(col("rep_id") > col("matched_id"))
      .select(col("rep_id"), col("matched_id"))
      .withColumn("matched_kept", lit(false))
    // expand rep-level candidates to every member of the rep's signature
    // group (a member is ≥ its rep, so the new-vs-new smaller-id ordering
    // is preserved), and pair each non-rep member with its own rep
    val expanded = memberOf.join(candKept.unionByName(candNew), Seq("rep_id"))
      .select(col("id").as("new_id"), col("matched_id"), col("matched_kept"))
    val intraGroup = memberOf.filter(col("id") =!= col("rep_id"))
      .select(col("id").as("new_id"), col("rep_id").as("matched_id"),
        lit(false).as("matched_kept"))
    val allSets = index.sets
      .unionByName(newKeyed.select(col("id"), col("shset")))
    // broadcast ID-ONLY candidate pairs into the kept-set attach (the
    // kept shingle sets stream map-side); the new side's shingle sets
    // attach AFTER, as their own delta-sized broadcast. Attaching sh_n
    // BEFORE the pair broadcast would ship |pairs| × shingle-array —
    // pairs can be ~100× the delta, exactly the blow-up to avoid.
    val candIds = expanded.unionByName(intraGroup)
      .dropDuplicates("new_id", "matched_id")
    // eager snapshot, then release the delta-side caches
    val result = stageT("incdup", "verify") {
      graft.util.Caches.snapshot(allSets
        .select(col("id").as("matched_id"), col("shset").as("sh_m"))
        .join(broadcast(candIds), Seq("matched_id"))
        .join(broadcast(newKeyed.select(col("id").as("new_id"),
          col("shset").as("sh_n"))), Seq("new_id"))
        .withColumn("jaccard", Shingles.jaccard(col("sh_n"), col("sh_m")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("new_id"), col("matched_id"), col("jaccard"),
          col("matched_kept"))) }
    newKeyed.unpersist(); newBand.unpersist(); reps.unpersist()
    keptTouched.unpersist()
    result
  }
}
