package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.10 — the reference *declared*
  * streaming via CHECKPOINT_PATH but never implemented it; this is the
  * honest minimal surface over the `events` table shape).
  *
  * Batch/stream parity: `hourlyAgg` is the streaming twin of
  * `q20_hourly_agg`, `dedupByKey` of WF1 (`dropDuplicatesWithinWatermark`),
  * `sessionize` of q21 (stateful gap sessions via
  * `flatMapGroupsWithState`). Watermarks bound state so the queries run
  * indefinitely at scale; state is partitioned by the group key — the same
  * shuffle contract as the batch versions.
  */
object Streams {

  val eventsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")

  /** File-based streaming source over an events directory.
    * `maxFilesPerTrigger` caps files per micro-batch (AvailableNow honors
    * it) — the lever replay harnesses use to force MULTI-batch drains so
    * cross-batch state actually gets exercised. */
  def eventsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(eventsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(path)
  }

  /** Tumbling-window hourly aggregation with late-data watermark. The
    * money sum goes through DECIMAL(18,2) — exact, so the streaming result
    * is bit-identical to the batch twin (q20) regardless of micro-batch
    * arrival order. */
  def hourlyAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Native session-window aggregation (`session_window` — Spark's
    * built-in merging-window state store): per-user sessions that close
    * after `gap` of inactivity, with event counts and exact decimal
    * value sums. The built-in operator handles out-of-order arrival by
    * MERGING overlapping window fragments in the state store — the
    * declarative twin of [[sessionize]], which keeps imperative
    * `flatMapGroupsWithState` state for custom per-session logic the
    * built-in cannot express (running gap statistics, mid-session
    * emission). Convention difference: the built-in's `session_end` is
    * last-event-time + gap (the window's close), while [[sessionize]]
    * reports the last event itself — callers comparing the two subtract
    * the gap. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming twin of WF1 keyed dedup: exactly-once per key within the
    * watermark horizon (state is GC'd past it). */
  def dedupByKey(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class SessionsState(islands: Seq[SessionState])
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Stateful sessionization (gap-close after `gapSeconds` of inactivity),
    * emitting a session when its gap elapses (event-time timeout). The
    * batch gap-and-island version is q21_sessionize; this one maintains
    * per-user state bounded by the watermark.
    *
    * Bounded-state trade, tunable via `maxOpenIslands` (default 1): up to
    * K islands per key stay open in state; anything older closes at batch
    * end, and an open island closes for good once the watermark passes
    * its `end + gap` (no in-watermark event can extend it after that).
    * At K=1, two in-watermark stragglers that belong to the SAME earlier
    * island but arrive in DIFFERENT micro-batches emit as two sessions
    * (possibly overlapping) where q21's batch gap-and-islands would merge
    * them into one; K≥2 closes exactly that window for up to K−1
    * concurrently open earlier islands, at K× the per-key state. State
    * stays O(keys × K) regardless of how disordered the stream is.
    * Downstream consumers that must match the batch semantics exactly
    * under deeper disorder than K covers should re-merge overlapping
    * sessions per key (a cheap batch gap-and-islands over the tiny
    * session table). */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "10 minutes",
      maxOpenIslands: Int = 1): Dataset[Session] = {
    import events.sparkSession.implicits._
    require(maxOpenIslands >= 1,
      s"maxOpenIslands must be >= 1, got $maxOpenIslands")

    def fn(userId: Long, evs: Iterator[Event],
        state: GroupState[SessionsState]): Iterator[Session] = {
      val gapMs = gapSeconds * 1000
      val wm = state.getCurrentWatermarkMs()
      def sess(iv: (Long, Long, Long)): Session =
        Session(userId, new Timestamp(iv._1), new Timestamp(iv._2), iv._3)
      def islands: List[(Long, Long, Long)] = state.getOption.toList
        .flatMap(_.islands.map(s => (s.start, s.end, s.n)))
      def keepOpen(open: Seq[(Long, Long, Long)]): Unit =
        if (open.isEmpty) { if (state.exists) state.remove() }
        else {
          state.update(SessionsState(open.map(iv =>
            SessionState(iv._1, iv._2, iv._3))))
          // earliest pending close; islands past the horizon were closed
          // above, so this is always > the current watermark
          state.setTimeoutTimestamp(open.map(_._2 + gapMs).min)
        }
      if (state.hasTimedOut) {
        // close every island whose gap horizon the watermark passed;
        // younger islands stay open for their own timeout
        val (expired, open) = islands.partition(_._2 + gapMs <= wm)
        keepOpen(open)
        return expired.sortBy(iv => (iv._1, iv._2)).map(sess).iterator
      }
      // true gap-and-islands over the open state plus this batch's
      // events, IN TIME ORDER: an in-watermark straggler that predates
      // the open sessions by more than the gap forms (or extends) an
      // EARLIER island instead of being glued onto the newest one — the
      // old single-cursor fold compared only `t - end <= gap`, whose
      // negative delta merged arbitrarily old events and silently
      // diverged from the batch twin (q21).
      val intervals = (islands ++ evs.map(e => (e.ts.getTime, e.ts.getTime, 1L)))
        .sortBy(iv => (iv._1, iv._2))
      val mergedDesc = intervals.foldLeft(List.empty[(Long, Long, Long)]) {
        case ((hs, he, hn) :: tl, (s2, e2, n2)) if s2 - he <= gapMs =>
          (hs, math.max(he, e2), hn + n2) :: tl
        case (acc, iv) => iv :: acc
      }
      val asc = mergedDesc.reverse
      // close: everything beyond the newest K, plus any kept island the
      // watermark already aged past its gap horizon (the newest island
      // always holds an event from this batch or a live horizon, so at
      // K=1 this matches the old one-open-island behavior exactly)
      val keepN = math.min(maxOpenIslands, asc.size)
      val (older, newest) = asc.splitAt(asc.size - keepN)
      val (aged, open) = newest.partition(_._2 + gapMs <= wm)
      keepOpen(open)
      (older ++ aged).sortBy(iv => (iv._1, iv._2)).map(sess).iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Replay-safe micro-batch landing — the idempotence contract every
    * continuous sink here shares: the batch's rows land in their own
    * `ingest_batch=<id>` partition via dynamic-partition OVERWRITE, so
    * a checkpoint-replayed batch REWRITES its partition instead of
    * double-appending. A zero-row frame touches no partitions (a free
    * no-op — callers need no emptiness probe for the write itself). */
  private def writeBatchPartition(df: DataFrame, dir: String,
      batchId: Long): Unit =
    df.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(dir)

  /** Continuous MERGE into a [[graft.io.VersionedTable]] — the standard
    * CDC-ingest sink shape: each micro-batch is reduced to its latest row
    * per key (intra-batch CDC ordering by `orderCol`; remaining columns
    * tie-break so the winner is a DETERMINISTIC total order, which makes a
    * checkpoint-replayed batch upsert the same row again), then committed
    * through the table log with `VersionedTable.merge`, which rewrites
    * only the files holding a batch key. A missing target is first
    * created by an empty `VersionedTable.append` that records only the
    * schema, so even the first batch's rows go through merge. Read the
    * target with `VersionedTable.snapshot`. A second writer on the same
    * target commits optimistically instead of failing on a lock: two
    * empty bootstrap appends are harmless, and a merge that raced another
    * merge over the same files or the same new keys raises
    * [[graft.io.Upsert.ConcurrentWriteException]] and fails the batch.
    *
    * Each merge retires the files it rewrote; `vacuumRetired` (default on)
    * runs `VersionedTable.vacuum` with `retainMs` on the first batch and
    * then on the first batch at least `retainMs` after the last run —
    * leave it on for continuous streams or retired files accumulate.
    * Vacuum replays the whole log, so it runs once per `retainMs`, not
    * once per batch; while batches arrive, a retired file goes within
    * about 2 × `retainMs`.
    *
    * Scale: state-free — all heavy lifting is the file-granular merge
    * join, whose small CDC batches AQE broadcasts against the touched
    * target files. */
  def mergeSink(events: DataFrame, targetPath: String, keys: Seq[String],
      orderCol: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      vacuumRetired: Boolean = true,
      retainMs: Long = 3600L * 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lastVacuumMs = new java.util.concurrent.atomic.AtomicLong(0L)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // tie-break by the remaining ORDERABLE columns (maps can't sort;
          // tie-breaking by the partition keys would be a no-op) so a
          // checkpoint-replayed batch deterministically picks the same row.
          // Non-orderable columns (maps) still participate via their JSON
          // serialization as the FINAL tie-breaker — without it, two rows
          // equal on orderCol + all orderable columns but differing only in
          // a map could yield different winners on replay.
          def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(dt)
          val rest = batch.schema.fields.filterNot(f =>
            keys.contains(f.name) || f.name == orderCol)
          val ties = rest.filter(f => orderable(f.dataType)).map(_.name).toSeq
          val unord = rest.filterNot(f => orderable(f.dataType)).map(_.name)
          val tieJson = "__graft_tiebreak_json"
          val withJson =
            if (unord.isEmpty) batch
            else batch.withColumn(tieJson,
              to_json(struct(unord.map(col).toSeq: _*)))
          val latest = graft.ops.Transforms.deduplicateByKey(
            withJson, keys, orderCol, ascending = false,
            tieBreakers = if (unord.isEmpty) ties else ties :+ tieJson)
            .drop(tieJson)
          val vt = graft.io.VersionedTable
          if (vt.latestVersion(targetPath).isEmpty)
            vt.append(batch.sparkSession, latest.limit(0), targetPath)
          vt.merge(batch.sparkSession, latest, targetPath, keys)
          val now = System.currentTimeMillis()
          if (vacuumRetired && now - lastVacuumMs.get() >= retainMs) {
            vt.vacuum(targetPath, retainMs, now)
            lastVacuumMs.set(now)
          }
        }
        ()
      }
      .start()
  }

  /** True iff the directory holds at least one COMMITTED data file —
    * `fs.exists` alone is not loadability: a crash mid-write leaves the
    * directory with only `_temporary`/metadata droppings, and
    * `read.parquet` on it throws "unable to infer schema" forever,
    * bricking the replayed batch. Used by the ingest sinks to decide
    * between loading persistent state and the empty-state fallback. */
  private def hasCommittedFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && {
      val base = p.toUri.getPath
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        // reject ANY hidden path segment below p, not just the leaf
        // name: dynamic-partition-overwrite stages task output under
        // <dir>/.spark-staging-<job>/..., whose LEAF names look
        // committed — counting them as data re-bricks the exact replay
        // this guard exists to heal
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        found = f.isFile && !rel.split('/')
          .exists(s => s.startsWith("_") || s.startsWith("."))
      }
      found
    }

  /** Continuous corpus ingestion with near-dup filtering — the streaming
    * face of [[graft.ext.Dedup.incrementalNearDup]]: every micro-batch is
    * matched against the persistent kept-corpus index (per-batch cost
    * tracks the DELTA; the accumulated corpus is never re-scanned),
    * in-batch duplicates resolve to the smallest id, and survivors append
    * both to the corpus and to the index (their shingle sets + band
    * buckets), so later batches dedup against them too.
    *
    * Replay safety: every write lands in an `ingest_batch=<id>` partition
    * with dynamic-partition overwrite, so a checkpoint-replayed batch
    * rewrites its own partition instead of duplicating — idempotent
    * at-least-once, the same contract as [[mergeSink]]. Readers of the
    * index drop the partition column, so index frames stay byte-compatible
    * with [[graft.ext.Dedup.buildNearDupIndex]] output. */
  def dedupIngestSink(docs: DataFrame, corpusDir: String, indexDir: String,
      checkpoint: String, idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8, maxBucketSize: Int = 1000,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val setsDir = s"$indexDir/sets"
          val bandedDir = s"$indexDir/banded"
          val setsPath = new org.apache.hadoop.fs.Path(setsDir)
          val bandedPath = new org.apache.hadoop.fs.Path(bandedDir)
          val fs = setsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          // BOTH halves need committed data files before the index is
          // loadable: a crash between the sets write and the banded write
          // (below) leaves setsDir alone — and a crash MID-write leaves a
          // directory with only _temporary droppings that read.parquet
          // fails on forever. Falling back to the empty index is safe —
          // the replay rewrites its own ingest_batch partitions.
          // The batch's OWN partition is excluded from the index read:
          // with task-level committers a crashed write can leave SOME of
          // this batch's rows visible, and a replayed doc matching its
          // own half-committed copy would be dropped from survivors while
          // the dynamic overwrite deletes that copy — silent loss. Prior
          // batches' partitions are immutable, so the exclusion only ever
          // removes this batch's partial state.
          val idx =
            if (hasCommittedFiles(fs, setsPath) &&
              hasCommittedFiles(fs, bandedPath))
              graft.ext.Dedup.NearDupIndex(
                s.read.parquet(setsDir)
                  .filter(col("ingest_batch") =!= batchId)
                  .select("id", "shset"),
                s.read.parquet(bandedDir)
                  .filter(col("ingest_batch") =!= batchId)
                  .select("band", "band_hash", "id"),
                bands, rowsPerBand, shingleSize)
            else // first batch: an empty index with the right schemas
              graft.ext.Dedup.buildNearDupIndex(batch.limit(0), idCol,
                textCol, shingleSize, bands, rowsPerBand, maxBucketSize)
          // keep the handle: incrementalNearDupMatches returns a
          // PERSISTED frame, and a continuous stream would otherwise pin
          // one cached block set per micro-batch forever
          val matchedFrame = graft.ext.Dedup.incrementalNearDupMatches(
            batch, idx, idCol, textCol, minJaccard, maxBucketSize)
          val matched = matchedFrame
            .select(col("new_id").as(idCol)).distinct()
          val survivors = batch.join(matched, Seq(idCol), "left_anti")
            .persist()
          if (survivors.count() > 0) {
            writeBatchPartition(survivors, corpusDir, batchId)
            val delta = graft.ext.Dedup.buildNearDupIndex(survivors, idCol,
              textCol, shingleSize, bands, rowsPerBand, maxBucketSize)
            writeBatchPartition(delta.sets, setsDir, batchId)
            writeBatchPartition(
              delta.banded.select("band", "band_hash", "id"), bandedDir,
              batchId)
            // delta.banded is a Caches.snapshot frame (buildNearDupIndex
            // materializes it): without this a continuous stream pins
            // one localCheckpoint block set per micro-batch forever
            graft.util.Caches.release(delta.banded)
          }
          survivors.unpersist()
          // matchedFrame is a Caches.snapshot frame: Dataset.unpersist
          // would be a silent no-op (its blocks are localCheckpoint
          // RDDs, not CacheManager entries) — release them explicitly
          graft.util.Caches.release(matchedFrame)
        }
        ()
      }
      .start()

  /** Continuous embedding ingestion with semantic dedup — the streaming
    * face of [[graft.ext.Similarity.semDedupIncrement]], and the vector
    * twin of [[dedupIngestSink]]: each micro-batch is matched against the
    * persistent kept corpus (cell-confined cosine; per-batch cost tracks
    * the delta × cell density, never kept×kept), in-batch duplicates
    * resolve keep-min-id, and survivors append to the corpus so later
    * batches dedup against them.
    *
    * The kept store is ONE parquet dir (vectors re-cell on read via the
    * fixed `quantizer`), so there is no two-halves crash window; writes
    * land in `ingest_batch=<id>` partitions with dynamic-partition
    * overwrite — a checkpoint-replayed batch rewrites its own partition
    * (or, if it fully committed, self-matches at cosine 1.0 and writes
    * nothing) — idempotent at-least-once. The quantizer must stay fixed
    * for the life of the corpus: re-quantizing would re-cell the world. */
  def semanticIngestSink(embeddings: DataFrame, corpusDir: String,
      checkpoint: String, idCol: String = "vec_id",
      vecCol: String = "embedding", minCos: Double = 0.99,
      quantizer: Column => Column =
        v => graft.ext.Similarity.signCells(v, 8),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    embeddings.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val cellOf = quantizer(col(vecCol).cast("array<double>"))
          val dir = new org.apache.hadoop.fs.Path(corpusDir)
          val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
          // committed-files guard + own-partition exclusion: same replay
          // reasoning as dedupIngestSink — an exists-but-uncommitted dir
          // must read as empty (not throw forever), and a replayed batch
          // must never self-match rows its crashed attempt left visible
          // (they'd drop from survivors while the dynamic overwrite
          // deletes them — silent loss). Here the match source IS the
          // overwrite target, so the exclusion is the whole defense.
          val matched =
            if (hasCommittedFiles(fs, dir)) {
              val kept = s.read.parquet(corpusDir)
                .filter(col("ingest_batch") =!= batchId)
                .drop("ingest_batch")
              graft.ext.Similarity.semDedupIncrement(
                kept, batch, idCol, vecCol, cellOf, minCos)
                .select(col(idCol))
            } else // first batch: in-batch dedup only
              graft.ext.Similarity.clusterDupes(
                batch, idCol, vecCol, cellOf, minCos)
                .select(col(idCol))
          val survivors = batch.join(matched, Seq(idCol), "left_anti")
            .persist()
          if (survivors.count() > 0)
            writeBatchPartition(survivors, corpusDir, batchId)
          survivors.unpersist()
        }
        ()
      }
      .start()

  /** Continuous quality-gated ingestion: each micro-batch is scored by
    * the TRAINED quality classifier's pure-Column decision function
    * ([[graft.ext.QualityClassifier.scoreColumn]] — broadcast literal
    * weights, O(tokens)/doc, no model object on the stream) and only
    * docs clearing `minScore` land in the corpus, with the score
    * attached for downstream mixture weighting.
    *
    * Replay safety: same `ingest_batch=<id>` dynamic-partition-overwrite
    * contract as [[dedupIngestSink]] — a checkpoint-replayed batch
    * rewrites its own partition. The model trains ONCE before the
    * stream starts (pass it in); training inside the sink would refit
    * per micro-batch on batch-local data. */
  def qualityIngestSink(docs: DataFrame, corpusDir: String,
      checkpoint: String,
      model: graft.ext.QualityClassifier.LinearTextModel,
      textCol: String = "text", minScore: Double = 0.5,
      scoreCol: String = "quality_p",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // no survivor emptiness probe: it would re-score the whole
          // batch just to decide, and a zero-row frame under dynamic
          // partition overwrite touches no partitions anyway (the
          // tokenCountSink rationale) — worst case was a full extra
          // scoring pass on exactly the all-filtered low-quality floods
          // this sink exists to absorb
          writeBatchPartition(batch
            .withColumn(scoreCol,
              graft.ext.QualityClassifier.scoreColumn(col(textCol), model))
            .filter(col(scoreCol) >= minScore), corpusDir, batchId)
        }
        ()
      }
      .start()

  /** Continuous corpus token statistics — the streaming face of
    * [[graft.ext.HeavyHitters]]: each micro-batch reduces its own token
    * stream to (token, cnt) partials (a BATCH-sized vocabulary shuffle —
    * the only aggregation that ever runs) and lands them in an
    * `ingest_batch=<id>` partition. Counts are additive, so the store
    * accumulates exact corpus-wide state at delta cost: no read-
    * modify-write of prior state, no state store, and nothing ever
    * re-scans history on the write path.
    *
    * Replay safety: the dynamic-partition overwrite REWRITES a replayed
    * batch's own partition — counts never double. (Pure insert-only
    * replay contract; unlike the ingest sinks there is no cross-batch
    * read at write time, so no committed-files guard is needed.)
    *
    * Read side: [[frequentTokensFromCounts]]. Compact sporadically by
    * summing partitions into a single base partition if batch count
    * grows into the thousands — the read-side groupBy handles either
    * layout. */
  def tokenCountSink(docs: DataFrame, countsDir: String, checkpoint: String,
      textCol: String = "text",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // no emptiness probe at all: a zero-row frame under dynamic
        // partition overwrite touches no partitions (a free no-op), and
        // probing would cost an extra pass over the batch
        writeBatchPartition(batch
          .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
          .select(explode(regexp_extract_all(lower(col(textCol)), lit("\\S+"), lit(0)))
            .as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("cnt")), countsDir, batchId)
        ()
      }
      .start()

  /** Exact heavy hitters over everything [[tokenCountSink]] has ingested:
    * the store holds one row per (token, batch) — already collapsed
    * within batches, far below the raw token stream — and the screen
    * delegates to [[graft.ext.HeavyHitters.frequentExact]] (whose
    * documented use case this is), so threshold and ordering can never
    * drift from the batch path. Returns (token, freq) for
    * freq ≥ ceil(minFreqRatio·n), ordered. */
  def frequentTokensFromCounts(spark: SparkSession, countsDir: String,
      minFreqRatio: Double): DataFrame = {
    require(minFreqRatio > 0 && minFreqRatio <= 1,
      s"minFreqRatio must be in (0, 1], got $minFreqRatio")
    // committed-files guard, same crash window as the ingest sinks: a
    // store holding only _temporary droppings (or not yet created) must
    // read as empty, not throw "unable to infer schema" at the caller
    val p = new org.apache.hadoop.fs.Path(countsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hasCommittedFiles(fs, p))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "token STRING, freq BIGINT"))
    val counts = spark.read.parquet(countsDir)
    // one implementation of the exactness contract: frequentExact is the
    // full-aggregation form for exactly this pre-aggregated-store shape
    // (no sketch pass — the store's domain is already collapsed, and a
    // sketch would pointlessly funnel a capacity-sized candidate array
    // through the driver)
    graft.ext.HeavyHitters.frequentExact(counts, "token", "cnt",
        minFreqRatio)
      .withColumnRenamed("weight", "freq")
  }

  /** Streaming MATERIALIZED-VIEW maintenance: tail a versioned table's
    * CHANGE FEED (`readChangeFeed=true` — write-time envelope sidecars,
    * [[graft.io.VersionedTable.CdfProp]]) and fold every micro-batch of
    * envelopes into a retractable keyed sum-state table
    * ([[graft.ops.IncrementalAgg.applyChangeFeed]]): inserts and
    * update-postimages add, deletes and update-preimages retract. The
    * CDF stream's first batch is the source SNAPSHOT as inserts, so the
    * view bootstraps itself from an empty state; from then on every
    * refresh costs O(changes), never a source rescan — the 100 TB
    * materialized-view shape.
    *
    * State WRITES are file-granular, not a full-state overwrite: the
    * batch's envelopes name the touched groups, the fold runs over just
    * those groups' prior rows (semi-join against the state), and the
    * refreshed rows land through
    * [[graft.io.VersionedTable.applyChanges]] keyed on the group keys —
    * only state files HOLDING a touched group rewrite (manifest stats on
    * the keys pre-prune the candidates), every other file carries over
    * by reference. A billion-group state absorbing a 1-row delta
    * rewrites one file, not the table — write amplification is
    * O(touched files), where the pre-r12 snapshot→overwrite shape paid
    * O(state) per trigger and grew the state's own log by a full file
    * set per batch. Writes are txn-keyed on the batch id, so a
    * checkpoint-replayed batch finds its own earlier commit and the
    * maintained state stays EXACTLY `sumState(snapshot)` at every commit
    * boundary (CdfSpec asserts the equivalence AND that an untouched
    * state file's name survives a refresh; the q167 gate hashes it
    * against the DuckDB recompute). */
  def materializedViewSink(spark: SparkSession, sourceTable: String,
      stateTable: String, keys: Seq[String], valueCol: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    mvSink(spark, sourceTable, stateTable, keys, checkpoint, trigger,
      empty => graft.ops.IncrementalAgg.sumState(empty, keys, valueCol),
      (prev, batch) => graft.ops.IncrementalAgg.applyChangeFeed(
        prev, batch, keys, valueCol))

  /** [[materializedViewSink]] over SEVERAL measures: one state row per
    * group carries every sum
    * ([[graft.ops.IncrementalAgg.sumStateMulti]], columns `sum_<c>`),
    * maintained by ONE feed fold per micro-batch — the
    * sum(amount)+sum(fee) views real pipelines keep, without k sinks
    * tailing the same change feed into k state tables. Identical
    * exactly-once, file-granularity and null-group semantics. */
  def materializedViewSinkMulti(spark: SparkSession, sourceTable: String,
      stateTable: String, keys: Seq[String], valueCols: Seq[String],
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    mvSink(spark, sourceTable, stateTable, keys, checkpoint, trigger,
      empty => graft.ops.IncrementalAgg.sumStateMulti(empty, keys, valueCols),
      (prev, batch) => graft.ops.IncrementalAgg.applyChangeFeedMulti(
        prev, batch, keys, valueCols))

  /** Shared micro-batch loop of the MV sinks: `bootstrap` shapes the
    * canonical EMPTY state (schema only), `fold` applies one batch of
    * envelopes to the touched slice of the previous state. */
  private def mvSink(spark: SparkSession, sourceTable: String,
      stateTable: String, keys: Seq[String], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      bootstrap: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-versioned")
      .option("readChangeFeed", "true")
      .load(sourceTable)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // metadata-only / optimize source commits arrive as empty
        // batches: folding them would still read and REWRITE the whole
        // state table for nothing — and on an auto-compacted source
        // that is a full state rewrite per compaction
        if (!batch.isEmpty) {
        // the touched groups: only THEIR state rows can change. Joins on
        // group keys are NULL-SAFE throughout (VersionedTable.keyJoin):
        // NULL is a legitimate group of an arbitrary grouping column,
        // and a plain column-name join would never match its state row —
        // the null group would duplicate instead of folding
        val touched = batch.select(keys.map(col): _*).distinct()
        val prev = graft.io.VersionedTable.latestVersion(stateTable) match {
          // bootstrap: an empty state with the CANONICAL schema — the
          // snapshot-as-inserts first batch then builds the full view
          case None => bootstrap(batch.filter(lit(false)))
          case Some(_) => graft.io.VersionedTable.keyJoin(
            graft.io.VersionedTable.snapshot(s, stateTable),
            touched, keys, "left_semi")
        }
        // the fold is consumed TWICE (the upsert rows and the gone
        // anti-join) — persist it, or the groupBy + state join re-runs
        // per consumer
        val next = fold(prev, batch).persist()
        try {
          // groups whose count reached zero drop out of `next` — they
          // leave the state as explicit deletes; everything else upserts
          val gone = graft.io.VersionedTable.keyJoin(prev,
              next.select(keys.map(col): _*), keys, "left_anti")
            .withColumn("_change_type", lit("delete"))
          graft.io.VersionedTable.applyChanges(s,
            next.withColumn("_change_type", lit("insert"))
              .unionByName(gone),
            stateTable, keys, "graft-mv", batchId,
            // sticky key stats: single-key views then pre-prune the hit
            // candidates from the manifest alone
            statsFor = keys)
        } finally next.unpersist()
        }
        ()
      }
      .start()

  /** Streaming TYPE-2 SCD maintenance: tail a versioned table's change
    * feed and keep a versioned DIMENSION table of
    * `[effective_from, effective_to)` validity windows — the streaming
    * twin of [[graft.ops.Scd2.build]], fed by envelopes instead of a
    * change-log relation. Per micro-batch:
    *
    *  - inserts / update-postimages OPEN a version at their commit
    *    timestamp; an earlier version of the same key (in the batch via
    *    a `lead` over commit order, or already open in the dimension)
    *    CLOSES at that instant;
    *  - deletes close the key's open version and open nothing — the key
    *    simply has no current row until re-inserted.
    *
    * The dimension updates land through file-granular
    * [[graft.io.VersionedTable.applyChanges]] keyed on
    * `(key, since_version)` — the opening commit version, unique where
    * same-millisecond commits would collide a timestamp identity — and
    * txn-keyed on the batch id — only files
    * holding touched keys rewrite, and a checkpoint-replayed batch finds
    * its own earlier commit (exactly-once). The first batch is the
    * source snapshot as inserts, so the dimension bootstraps itself with
    * every key's initial open version. Cost per refresh: O(changed keys)
    * against the open slice of the dimension — never a source rescan.
    * (Validity bounds are COMMIT timestamps, as in Delta CDF-driven SCD:
    * wall-clock at commit, monotone per table.) */
  def scd2Sink(spark: SparkSession, sourceTable: String, dimTable: String,
      key: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-versioned")
      .option("readChangeFeed", "true")
      .load(sourceTable)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val metas = graft.io.VersionedStreamSource.MetaCols
        val dataCols = batch.columns.filterNot(metas.contains).toSeq
        val ev = batch
          .filter(col("_change_type")
            .isin("insert", "update_postimage", "delete"))
        if (!ev.isEmpty) { // preimage-only / empty batches are no-ops
          // per-key commit-ordered timeline WITHIN the batch: a later
          // event in the same batch closes the version the earlier one
          // opened (ties impossible — one final op per key per commit)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(key)).orderBy(col("_commit_version"))
          val timeline = ev
            .withColumn("__next_ts",
              lead(col("_commit_timestamp"), 1).over(w))
            .withColumn("__first", row_number().over(w) === 1)
          // `since_version` — the opening COMMIT VERSION — is the
          // dimension's row identity alongside the key: versions are
          // unique and monotone per table, where two commits can share
          // a wall-clock millisecond and would collide a
          // (key, effective_from) identity
          val opens = timeline
            .filter(col("_change_type") =!= "delete")
            .select(dataCols.map(col) ++ Seq(
              col("_commit_version").as("since_version"),
              col("_commit_timestamp").as("effective_from"),
              col("__next_ts").as("effective_to"),
              col("__next_ts").isNull.as("is_current")): _*)
          // each key's FIRST event in the batch closes the version
          // already open in the dimension (if any) at that instant
          val firstEv = timeline.filter(col("__first"))
            .select(col(key), col("_commit_timestamp").as("__close_ts"))
          val closes =
            if (graft.io.VersionedTable.latestVersion(dimTable).isEmpty)
              None
            else Some(graft.io.VersionedTable.snapshot(s, dimTable)
              .filter(col("is_current"))
              // null-safe: a null-keyed open version must still close
              .join(firstEv.withColumnRenamed(key, "__close_k"),
                col(key) <=> col("__close_k"))
              .drop("__close_k")
              .withColumn("effective_to", col("__close_ts"))
              .withColumn("is_current", lit(false))
              .drop("__close_ts")
              .withColumn("_change_type", lit("update_postimage")))
          val inserts = opens.withColumn("_change_type", lit("insert"))
          val feed = closes.fold(inserts)(c =>
            c.unionByName(inserts, allowMissingColumns = true))
          graft.io.VersionedTable.applyChanges(s, feed, dimTable,
            Seq(key, "since_version"), "graft-scd2", batchId)
        }
        ()
      }
      .start()

  /** Streaming sketch rollup: reduce each micro-batch to per-(hour,
    * event_type) MERGEABLE sketch partials — an HLL sketch of the user
    * domain, a KLL sketch of the value distribution, an exact row count
    * — and append them to a versioned metrics table txn-keyed on the
    * batch id (exactly-once under checkpoint replay, the
    * [[graft.io.VersionedTable.appendIdempotent]] contract). The raw
    * stream is never stored: each batch contributes kilobytes per
    * group, and [[sketchRollupRead]] folds partials at read time — the
    * observability shape for a 100 TB ingest (distinct-user and latency
    * percentile dashboards over any time range without ever rescanning
    * events). */
  def sketchRollupSink(events: DataFrame, table: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty-batch guard (same as the MV sink): an idle
        // processing-time trigger must not append one empty commit per
        // tick — the metrics table's log would grow unboundedly with no
        // data. Replay-safe: skipping writes nothing to skip.
        if (!batch.isEmpty) {
          val partial = batch
            .select(date_trunc("hour", col("ts")).as("hour"),
              col("event_type"), col("user_id"),
              col("value").cast("double").as("__v"))
            .groupBy(col("hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              hll_sketch_agg(col("user_id"), lit(12)).as("users_hll"),
              graft.functions.KllSketchAgg.sketch(col("__v")).as("value_kll"))
          graft.io.VersionedTable.appendIdempotent(batch.sparkSession,
            partial, table, "sketch-rollup", batchId)
        }
        ()
      }
      .start()

  /** Fold everything [[sketchRollupSink]] has ingested into one row per
    * (hour, event_type): exact counts, HLL distinct-user estimates, KLL
    * value quantiles at `probabilities`. The store holds per-batch
    * partials — one `hll_union_agg`/KLL-merge pass over kilobyte states,
    * never the raw events. */
  def sketchRollupRead(spark: SparkSession, table: String,
      probabilities: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val merged = graft.io.VersionedTable.snapshot(spark, table)
      .groupBy(col("hour"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        hll_union_agg(col("users_hll"), lit(false)).as("users_hll"),
        graft.functions.KllSketchAgg.mergeSketches(col("value_kll"))
          .as("value_kll"))
    // one projected quantile array, not one KllQuantiles eval per
    // probability (CodegenFallback — each copy re-deserializes the
    // sketch; see IncrementalAgg.finalizeQuantiles)
    // shared disambiguating labels (q_95 / q_995p) — see
    // IncrementalAgg.quantileLabel
    val labels = probabilities.map(graft.ops.IncrementalAgg.quantileLabel)
    require(labels.distinct.size == labels.size,
      s"quantile labels collide: $labels — probabilities closer than " +
        "0.001 need distinct rounding")
    merged.withColumn("__qs",
        graft.functions.KllSketchAgg.quantiles(col("value_kll"),
          probabilities))
      .select(Seq(col("hour"), col("event_type"), col("n"),
        hll_sketch_estimate(col("users_hll")).as("n_users_approx")) ++
        labels.zipWithIndex.map { case (l, i) =>
          element_at(col("__qs"), i + 1).as(l)
        }: _*)
  }

  /** Stream-stream inner join: each left event picks up right-side events
    * for the same user within the trailing `rangeSeconds` window. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so state on BOTH sides is GC-able — the canonical bounded
    * stream-stream join (ad-click attribution shape). One shuffle per side
    * on user_id. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      rangeSeconds: Long = 300, watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col("user_id"), col("ts"),
      col("event_id").as("l_event_id"), col("event_type").as("l_type"))
      .withWatermark("ts", watermark)
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
      col("event_id").as("r_event_id"), col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $rangeSeconds SECONDS") &&
        col("r_ts") <= col("ts"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("ts"), col("r_ts"), col("l_type"), col("r_type"))
  }

  /** Streaming numeric-drift monitor: every micro-batch's `valueCol`
    * population scores a PSI against a FIXED reference distribution
    * (the training-time population, passed as a static frame), and one
    * (ingest_batch, n_cur, psi) row lands in `metricsDir` — the live
    * "is serving data still the data we trained on" gate, the
    * streaming face of [[graft.ext.Stats.populationStability]].
    *
    * The reference is reduced ONCE at sink build to its decile cuts +
    * per-bin shares (2·bins doubles on the driver — the bounded-collect
    * pattern); each batch then pays ONE binning aggregate (bins rows
    * collected) and the PSI arithmetic runs on the driver in fixed bin
    * order — same floored-share formula as the batch operator.
    * Replay-safe the same way as the other sinks: the metrics row
    * partitions by batch id under dynamic partition overwrite, so a
    * replayed batch overwrites its own row instead of appending a
    * duplicate. */
  def driftMonitorSink(stream: DataFrame, reference: DataFrame,
      valueCol: String, metricsDir: String, checkpoint: String,
      bins: Int = 10,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(bins >= 2, "bins must be >= 2")
    val probs = (1 until bins).map(_.toDouble / bins)
    val refRows = reference.filter(col(valueCol).isNotNull)
    val cuts: Seq[Double] = Option(refRows
      .agg(percentile(col(valueCol).cast("double"),
        typedlit(probs)).as("c"))
      .head().getSeq[Double](0))
      .getOrElse(throw new IllegalArgumentException(
        s"driftMonitorSink: the reference frame has no non-null " +
          s"'$valueCol' values — no distribution to bin against"))
    def binOf: Column = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col(valueCol).cast("double") > c, 1).otherwise(0)
    }
    def binCounts(df: DataFrame): Array[Long] = {
      val m = df.filter(col(valueCol).isNotNull)
        .groupBy(binOf.as("bin")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      (1 to bins).map(b => m.getOrElse(b, 0L)).toArray
    }
    val refCounts = binCounts(refRows)
    val refTotal = refCounts.sum.toDouble
    val floor = 1e-6
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = binCounts(batch)
        val curTotal = cur.sum.toDouble
        // an all-null/empty batch has no distribution to score — its
        // metrics row records n_cur = 0 with a null psi (NaN would
        // poison downstream aggregates of the metrics table)
        val psi: Option[Double] =
          if (curTotal == 0) None
          else Some {
            val raw = (0 until bins).map { b =>
              val pr = math.max(refCounts(b) / refTotal, floor)
              val pc = math.max(cur(b) / curTotal, floor)
              (pc - pr) * math.log(pc / pr)
            }.sum
            BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
          }
        val spark = batch.sparkSession
        import spark.implicits._
        writeBatchPartition(
          Seq((batchId, curTotal.toLong, psi)).toDF("__b", "n_cur", "psi")
            .drop("__b"),
          metricsDir, batchId)
        ()
      }
      .start()
  }
}
