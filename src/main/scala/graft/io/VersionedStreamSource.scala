package graft.io

import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}

import graft.io.{VersionedTable => VT}

/** Structured Streaming over a [[VersionedTable]] commit log — the
  * "stream FROM the table" contract Delta calls a streaming source
  * (reference gets it from `spark.readStream.format("delta")`,
  * `/root/reference/src/utils/spark_utils.py:285-344` context);
  * [[VersionedTable.versionedSink]] is the write half,
  * [[ChangeConsumer]] the driver-loop CDC half.
  *
  * ```
  * spark.readStream.format("graft-versioned").load(tableDir)
  *   .groupBy(...).agg(...)
  *   .writeStream.option("checkpointLocation", ck).start()
  * ```
  *
  * Semantics (Delta's, deliberately):
  *  - **Offsets are commit versions.** Batch (a, b] serves exactly the
  *    data files added by versions a+1..b — deterministic replay from
  *    the immutable log, so checkpoint restart is exactly-once with any
  *    idempotent/transactional sink. The initial batch (no
  *    `startingVersion`) is the FULL snapshot at the version current
  *    when the query first plans, deletion vectors subtracted; the tail
  *    then picks up from there.
  *  - **Append commits only.** `optimize` rewrites (compact / Z-ORDER)
  *    move rows between files without changing them — skipped silently,
  *    like Delta's `dataChange = false` actions. Commits that change
  *    existing rows (MERGE, DELETE, RESTORE, overwrite, DV deletes)
  *    fail the stream by default — serving their adds would double-count
  *    and their removes cannot be expressed as appends; opt into
  *    `skipChangeCommits=true` to skip them wholesale (downstream then
  *    sees inserts-only, Delta's option of the same name).
  *  - **Frozen schema, loud evolution.** The source schema is the
  *    table's scan schema at query bind; files from before a column read
  *    nulls. A commit that EVOLVES the schema past the bound one (new
  *    column, re-typed column) FAILS the stream by default — serving it
  *    through the bound schema would silently drop the new column from
  *    the sink until a manual restart, a silent-data-loss window (Delta
  *    fails the query on schema change for the same reason; the error
  *    names the restart as the fix). `failOnSchemaChange=false` opts
  *    back into serve-through-bound-schema.
  *  - **`Trigger.AvailableNow`.** The source implements the
  *    [[SupportsTriggerAvailableNow]] admission contract (as Delta's
  *    source does): at query start the current latest version is pinned,
  *    and the engine keeps running PACED micro-batches (respecting
  *    `maxFilesPerTrigger`) until the pinned version is fully drained,
  *    then stops — no single-batch fallback, no "may not guarantee
  *    processing new data" warning, and a backlog bigger than one
  *    trigger's cap still drains completely before the query ends.
  *
  * Options: `startingVersion` (long — serve from that version as
  * appends, no initial snapshot; or `latest` — only commits after query
  * start), `skipChangeCommits` (bool), `maxFilesPerTrigger` (int — admit
  * versions per batch until their cumulative add-file count would exceed
  * the cap; at least one version per batch, so a single huge commit
  * still fits. The cap paces the INITIAL SNAPSHOT too, as in Delta: its
  * sorted file list streams `cap` files per batch under a compound
  * `{"v":N,"i":M}` offset — a 100 TB first batch must not land on a
  * deliberately paced query), `failOnSchemaChange` (bool, default true).
  *
  * Scale shape: `getOffset` is a directory listing + O(new commits)
  * manifest reads, zero data I/O; each batch plans its files through
  * [[GraftFileIndex]], so pushed-down filters still prune per-file
  * min/max stats INSIDE every micro-batch — a filtered stream over a
  * 100 TB table reads only matching files of each new commit. The one
  * retention caveat (also Delta's): [[VersionedTable.vacuum]] ages out
  * files a long-stalled checkpoint may still need; resume within the
  * retention window.
  */
final class VersionedStreamSource(
    spark: SparkSession,
    table: String,
    startExclusive: Option[Long],
    skipChangeCommits: Boolean,
    maxFilesPerTrigger: Option[Int],
    // readChangeFeed=true (Delta's option of the same name): serve
    // CHANGE ENVELOPES instead of rows — appends as `insert` rows,
    // MERGE/DELETE/CDC-apply commits from their write-time change-data
    // sidecars ([[VersionedTable.CdfProp]] must have been set when they
    // were written), each stamped with `_change_type` /
    // `_commit_version` / `_commit_timestamp`. The initial snapshot
    // arrives as inserts at its version. Updates and deletes thus
    // BECOME streamable — the append-only refusal below applies to the
    // plain-row mode only.
    readChangeFeed: Boolean,
    override val schema: StructType,
    failOnSchemaChange: Boolean = true)
  extends Source with SupportsTriggerAvailableNow {

  /** Data-column schema (the bound schema minus the three envelope
    * metadata columns in change-feed mode). */
  private val dataSchema: StructType =
    if (!readChangeFeed) schema
    else StructType(schema.fields.filterNot(f =>
      VersionedStreamSource.MetaCols.contains(f.name)))

  import VersionedStreamSource.{Cursor, Done, Partial}

  /** Total order: a partial snapshot sorts below its own completion,
    * completion below any later version. */
  private def ckey(c: Cursor): (Long, Long) = c match {
    case Done(v) => (v, Long.MaxValue)
    case Partial(v, i) => (v, i.toLong)
  }

  @volatile private var cursor: Option[Cursor] = None

  private def advance(c: Cursor): Unit = synchronized {
    import scala.math.Ordering.Implicits._
    if (cursor.forall(cur => ckey(c) > ckey(cur))) cursor = Some(c)
  }

  /** Offset wire format. A completed version is the bare long (the
    * format every pre-existing checkpoint holds — they deserialize as
    * [[Done]]); a mid-snapshot cursor is `{"v":N,"i":M}`. */
  private def parse(json: String): Cursor = {
    val t = json.trim
    if (!t.startsWith("{")) Done(t.toLong)
    else {
      def field(k: String): Long =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(t)
          .getOrElse(throw new IllegalStateException(
            s"unreadable graft-versioned offset: $t"))
          .group(1).toLong
      Partial(field("v"), field("i").toInt)
    }
  }

  private def toOffset(c: Cursor): Offset with OffsetV2 = c match {
    case Done(v) => LongOffset(v)
    case Partial(v, i) => VersionedStreamSource.PartialSnapshotOffset(v, i)
  }

  /** The pinned initial snapshot's parts, computed once per version:
    * SORTED file list (a deterministic slice order is what makes a
    * partial-snapshot offset replayable), stats, deletion vectors. */
  @volatile private var snapCache:
      Option[(Long, Seq[String], VT.FileStats, Seq[String])] = None
  private def snapshotAt(v: Long)
      : (Seq[String], VT.FileStats, Seq[String]) = {
    snapCache match {
      case Some((cv, f, st, dv)) if cv == v => (f, st, dv)
      case _ =>
        val (files, stats, snapSchema, dv) = VT.snapshotParts(table, v)
        // the bind→first-trigger gap is a schema-evolution window too:
        // a column added between sourceSchema and the first batch would
        // otherwise serve the WHOLE snapshot through the bound schema —
        // exactly the silent-loss window failOnSchemaChange closes for
        // tail commits (checkSchema guards only those)
        if (failOnSchemaChange) {
          val evolved = snapSchema.fields.filterNot(f =>
            boundTypes.get(f.name).contains(f.dataType.catalogString))
          if (evolved.nonEmpty)
            throw new IllegalStateException(
              s"streaming read of $table: the snapshot at version $v " +
                "carries columns the bound schema lacks (" +
                evolved.map(f =>
                  s"${f.name}: ${f.dataType.catalogString}")
                  .mkString(", ") +
                ") — the table evolved between schema bind and the " +
                "first batch. Restart the query to bind the evolved " +
                "schema, or set failOnSchemaChange=false to serve " +
                "through the bound schema anyway")
        }
        val sorted = files.sorted
        snapCache = Some((v, sorted, stats, dv))
        (sorted, stats, dv)
    }
  }

  /** What commit `c` serves in this stream's mode ([[VT.served]]). A
    * commit that changed existing rows fails the stream, unless
    * `skipChangeCommits` skips it wholesale. */
  private def slice(c: VT.Commit): Option[VT.Slice] =
    VT.served(c, readChangeFeed) match {
      case s: VT.Slice => Some(s)
      case VT.Skip => None
      case VT.Unservable if skipChangeCommits => None
      case VT.Unservable => throw new IllegalStateException(
        s"streaming read of $table hit version ${c.version} ('${c.op}'), " +
          "which changed existing rows" + (if (readChangeFeed)
            s" without a change-data sidecar (set ${VT.CdfProp}=true " +
              "before such writes)"
          else " — a tail of appends cannot express that") +
          ". Restart from a fresh checkpoint to reprocess the table, or " +
          "set skipChangeCommits=true to skip data-changing commits")
    }

  /** Files commit `c` contributes to a batch in the ACTIVE mode. */
  private def servedFiles(c: VT.Commit): Int =
    VT.served(c, readChangeFeed) match {
      case VT.Slice(files, _) => files.size
      case _ => 0
    }

  /** Rate-limited end version for a batch starting after
    * `fromExclusive`: admit whole versions until the NEXT one would push
    * the cumulative served-file count past the cap (never splitting a
    * commit, always admitting at least one). Admission must not throw on
    * a change commit — it is admitted and [[getBatch]] raises the
    * user-facing error. */
  private def admit(fromExclusive: Long, latest: Long,
      cap0: Option[Int]): Long =
    cap0 match {
      case None => latest
      case Some(cap) =>
        var end = fromExclusive
        var n = 0
        val it = VT.commitsIn(table, fromExclusive, latest).iterator
        var open = true
        while (it.hasNext && open) {
          val c = it.next()
          val k = servedFiles(c)
          if (end > fromExclusive && n + k > cap) open = false
          else { end = c.version; n += k }
        }
        end
    }

  /** Version pinned by [[prepareForTriggerAvailableNow]] — under
    * `Trigger.AvailableNow` the engine drains paced batches up to exactly
    * this version, then stops; commits landing after the pin wait for the
    * next run (the "available now" contract). None outside AvailableNow. */
  @volatile private var availableNowCap: Option[Long] = None

  /** Pin the drain target at query start. Called once per run by
    * `MicroBatchExecution` before any offset is requested, for
    * `Trigger.AvailableNow` only — the presence of this contract is what
    * keeps the engine looping batches (instead of falling back to a
    * single best-effort batch with a no-guarantee warning). */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(VT.latestVersion(table).getOrElse(-1L))

  /** Echo the pacing option into the admission-control contract; the
    * engine hands it back on every [[latestOffset]] call. */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(
      ReadLimit.allAvailable())

  /** One admission step from the current cursor under a file cap.
    * Mirrors Delta: the cap paces the INITIAL SNAPSHOT too (its sorted
    * file list streams `cap` files per batch — a 100 TB table behind a
    * deliberately paced query must not arrive as one batch), then whole
    * tail versions as before. `cap = None` = everything in one step. */
  private def step(latest: Long, cap: Option[Int]): Cursor =
    cursor.orElse(startExclusive.map(Done(_))) match {
      case None =>
        cap match {
          case None => Done(latest)
          case Some(c) =>
            val (files, _, _) = snapshotAt(latest)
            if (files.size <= math.max(1, c)) Done(latest)
            else Partial(latest, math.max(1, c))
        }
      case Some(Partial(v, i)) =>
        val (files, _, _) = snapshotAt(v)
        val j = cap.fold(files.size)(c =>
          math.min(files.size, i + math.max(1, c)))
        if (j < files.size) Partial(v, j)
        // uncapped completion (Trigger.Once resuming a paced run): the
        // rest of the snapshot AND the tail belong to this one batch
        else if (cap.isEmpty && latest > v) Done(latest)
        else Done(v)
      case Some(Done(f)) if f >= latest => Done(f)
      case Some(Done(f)) => Done(admit(f, latest, cap))
    }

  /** Admission under the engine-supplied limit and the AvailableNow pin.
    * `start` is the engine's restored checkpoint offset (null on a fresh
    * start) — seeding the cursor from it makes restart pacing exact even
    * before any `commit()` callback. Returning the unchanged cursor
    * signals "no new data". */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    Option(start).foreach(o => advance(parse(o.json)))
    val live = VT.latestVersion(table) match {
      case Some(v) => v
      case None => return null // table vanished / no commits yet
    }
    val latest = availableNowCap.fold(live)(math.min(_, live))
    if (latest < 0) return null // AvailableNow pinned an empty log
    val cap = limit match {
      case mf: ReadMaxFiles => Some(mf.maxFiles())
      // an EXPLICIT allAvailable (Trigger.Once's SingleBatchExecutor:
      // "process everything in one batch") overrides the constructor
      // pacing — re-capping here would end the run with the backlog
      // only partially drained, as the engine's own "read limit will
      // be ignored" log line promises it won't be
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
        None
      case _ => maxFilesPerTrigger
    }
    val next = step(latest, cap)
    advance(next)
    toOffset(next)
  }

  /** Live log tip for progress reporting — uncapped, so AvailableNow
    * progress shows how far behind the pinned drain target is. */
  override def reportLatestOffset(): OffsetV2 =
    VT.latestVersion(table).map(LongOffset(_)).orNull

  /** v1 offset discovery — same admission as [[latestOffset]] under the
    * constructor pacing. The engine itself always drives the
    * [[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]]
    * path once it sees the interface; this stays for direct drivers and
    * tests. */
  override def getOffset: Option[Offset] = {
    val latest = VT.latestVersion(table).getOrElse(return None)
    val next = step(latest, maxFilesPerTrigger)
    advance(next)
    Some(toOffset(next))
  }

  /** Commit schema jsons already proven compatible with the bound
    * schema — each distinct json is checked once, not once per batch. */
  private val okSchemas =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val boundTypes: Map[String, String] =
    dataSchema.fields.map(f => f.name -> f.dataType.catalogString).toMap

  /** Fail a SERVED commit whose schema evolved past the bound one: its
    * files carry columns (or re-typed columns) the bound schema would
    * silently drop from every downstream sink until a manual restart —
    * the silent-data-loss window Delta closes the same way. Subset
    * schemas pass (missing columns read as null, no data is lost);
    * nullability differences are ignored (catalogString). Commits whose
    * files are NOT served (skipChangeCommits, optimize) are never
    * checked — nothing of theirs can be dropped. */
  private def checkSchema(c: VT.Commit): Unit = {
    if (!failOnSchemaChange) return
    val json = c.schemaJson
    if (json == null || json.isEmpty || okSchemas.contains(json)) return
    val fields = scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType].fields.toSeq
    ).getOrElse(return) // unparseable: files still read through the bound schema
    val evolved = fields.filterNot(f =>
      boundTypes.get(f.name).contains(f.dataType.catalogString))
    if (evolved.nonEmpty)
      throw new IllegalStateException(
        s"streaming read of $table hit version ${c.version}, whose " +
          s"schema evolved past the one this query bound (new or " +
          s"re-typed: ${evolved.map(f =>
            s"${f.name}: ${f.dataType.catalogString}").mkString(", ")}). " +
          "Serving it through the bound schema would silently drop " +
          "those columns from the sink. Restart the query to bind the " +
          "evolved schema, or set failOnSchemaChange=false to serve " +
          "through the bound schema anyway")
    okSchemas.add(json)
  }

  /** Snapshot files [from, until) of the sorted list at version `v`,
    * deletion vectors subtracted (the DV anti-join is per-file — entries
    * for unserved files are inert, so every slice passes the full set).
    * Change-feed mode stamps the slice as inserts at the snapshot
    * version, like the unsliced bootstrap. */
  private def snapshotSlice(v: Long, from: Int, until: Int): DataFrame = {
    val (files, stats, dv) = snapshotAt(v)
    VT.changeSlice(spark, table, files.slice(from, until), dataSchema,
      stats, dv, streaming = true, stamp = Option.when(readChangeFeed)(
        VT.Stamp(v, VT.commitsIn(table, v - 1, v).headOption.fold(0L)(_.ts),
          inserts = true)))
  }

  /** Tail batch: the data (or change envelopes) of versions (f, endV],
    * read in the bound schema (files predating a column read nulls; see
    * [[checkSchema]] for columns added later). */
  private def tailBatch(f: Long, endV: Long): DataFrame = {
    val commits = VT.commitsIn(table, f, endV)
    val slices = commits.flatMap(c =>
      slice(c).map { s => checkSchema(c); (c, s) })
    if (!readChangeFeed) {
      // per-file stats come from the ADDING commit, not the end
      // state: a later (skipped) compaction may have already retired
      // these files from the live state, but their bytes are still
      // on disk until vacuum and their manifest stats still prune
      val stats = commits.foldLeft(Map.empty: VT.FileStats)(_ ++ _.stats)
      VT.changeSlice(spark, table, slices.flatMap(_._2.files), schema,
        stats, streaming = true)
    } else {
      // change-feed tail: one envelope slice per commit (versions
      // stamp differently, so slices don't merge into one scan);
      // sidecar files carry `_change_type` themselves, adds get it
      // synthesized
      val cdfSchema = // the sidecars' columns: data + `_change_type`
        StructType(dataSchema.fields ++ VT.ChangeMeta.take(1))
      slices.map { case (c, VT.Slice(files, inserts)) =>
        VT.changeSlice(spark, table, files,
          if (inserts) dataSchema else cdfSchema, c.stats, streaming = true,
          stamp = Some(VT.Stamp(c.version, c.ts, inserts)))
      }.reduceOption(_.unionByName(_)).getOrElse(
        org.apache.spark.sql.graftshim.GraftStreamingShim
          .emptyStreaming(spark, schema))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endC = parse(end.json)
    advance(endC)
    start.map(o => parse(o.json))
      .orElse(startExclusive.map(Done(_))) match {
      case None => endC match {
        // change-feed bootstrap: the whole current state as inserts,
        // attributed to the snapshot version (Delta's CDF-stream shape)
        case Done(v) => snapshotSlice(v, 0, snapshotAt(v)._1.size)
        // paced bootstrap: the snapshot's first i files
        case Partial(v, i) => snapshotSlice(v, 0, i)
      }
      case Some(Partial(v, i)) => endC match {
        case Partial(v2, j) =>
          require(v2 == v, s"mid-snapshot offset moved tables: $v2 != $v")
          snapshotSlice(v, i, j)
        case Done(w) =>
          // snapshot completion; an uncapped resume (Trigger.Once) may
          // fold the tail into the same batch
          val snap = snapshotSlice(v, i, snapshotAt(v)._1.size)
          if (w <= v) snap else snap.unionByName(tailBatch(v, w))
      }
      case Some(Done(f)) => endC match {
        case Partial(v2, _) => throw new IllegalStateException(
          s"offset log regressed from completed version $f into a " +
            s"partial snapshot at $v2 — corrupt checkpoint?")
        case Done(w) => tailBatch(f, w)
      }
    }
  }

  /** Seed the admission cursor from the engine: on a checkpoint
    * restart whose last batch already committed, `MicroBatchExecution`
    * calls `commit(restoredOffset)` before the first `getOffset` — and
    * without this seed the first getOffset would take the
    * initial-snapshot branch and hand the ENTIRE accumulated backlog to
    * one batch, bypassing `maxFilesPerTrigger` exactly when its pacing
    * matters most. (When the last batch was uncommitted, the getBatch
    * replay seeds the cursor instead.) */
  override def commit(end: Offset): Unit = advance(parse(end.json))

  override def stop(): Unit = ()

  override def toString: String = s"VersionedStreamSource[$table]"
}

/** `format("graft-versioned")` registration (see
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`).
  * The path option / `.load(path)` names the table directory. */
final class VersionedStreamSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tablePath(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "graft-versioned source needs the table directory: " +
        ".load(<dir>) or .option(\"path\", <dir>)"))

  private def cdf(params: Map[String, String]): Boolean =
    params.get("readChangeFeed").exists(_.toBoolean)

  private def logSchema(params: Map[String, String]): StructType = {
    val t = tablePath(params)
    val v = VT.latestVersion(t).getOrElse(
      throw new IllegalArgumentException(
        s"no versioned table at $t — the stream's schema comes from " +
          "the commit log, so the table must exist before readStream " +
          "binds"))
    val data = VT.snapshotParts(t, v)._3
    if (!cdf(params)) data
    else StructType(data.fields ++ VT.ChangeMeta)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-versioned derives its schema from " +
      "the table log; a user-specified schema is not supported")
    val bound = logSchema(parameters)
    // thread the JUST-BOUND schema to the matching createSource call: the
    // engine resolves the StreamingRelation's attributes from THIS result
    // but instantiates the provider again for createSource — re-deriving
    // there would race a schema-evolving commit landing between the two
    // calls and fail the query with a confusing attribute mismatch
    VersionedStreamSourceProvider.bound.put(parameters, bound)
    (shortName(), bound)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val t = tablePath(parameters)
    val startExclusive: Option[Long] =
      parameters.get("startingVersion").map {
        case "latest" => VT.latestVersion(t).getOrElse(-1L)
        // serve changes FROM version s (inclusive), Delta semantics
        case s => s.toLong - 1
      }
    new VersionedStreamSource(sqlContext.sparkSession, t, startExclusive,
      parameters.get("skipChangeCommits").exists(_.toBoolean),
      parameters.get("maxFilesPerTrigger").map(_.toInt),
      cdf(parameters),
      schema.orElse(Option(
          VersionedStreamSourceProvider.bound.remove(parameters)))
        .getOrElse(logSchema(parameters)),
      failOnSchemaChange =
        parameters.get("failOnSchemaChange").forall(_.toBoolean))
  }
}

object VersionedStreamSourceProvider {
  /** sourceSchema → createSource schema hand-off, keyed by the exact
    * options map (the engine passes the same map to both calls).
    * Entries are consumed by createSource; a createSource with no entry
    * (direct construction, engine internals changed) falls back to
    * re-deriving from the log, today's behavior. Equal-option concurrent
    * streams may steal each other's entry — harmless, the values are
    * equal unless an evolution raced, in which case both outcomes were
    * legal serializations. BOUNDED (insertion-order eviction at 64): a
    * `load()` that binds a schema but never starts its query would
    * otherwise retain its options map + StructType forever in a
    * long-lived driver; the hand-off window is call-adjacent, so a tiny
    * buffer loses nothing (an evicted entry just falls back to the
    * re-derive path). */
  private[io] object bound {
    private val map =
      new java.util.LinkedHashMap[Map[String, String], StructType]() {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Map[String, String], StructType])
            : Boolean = size() > 64
      }
    def put(k: Map[String, String], v: StructType): Unit =
      synchronized { map.put(k, v); () }
    def remove(k: Map[String, String]): StructType =
      synchronized { map.remove(k) }
  }
}

object VersionedStreamSource {
  /** Admission cursor: either everything through version `v` has been
    * handed out ([[Done]]), or the initial snapshot AT `v` is partially
    * handed out — its first `i` files in the deterministically sorted
    * snapshot file list ([[Partial]]). Purely an admission cursor —
    * correctness lives in the engine's offset log (restart re-seeds it
    * through the `getBatch` replay of any uncommitted range). */
  private[io] sealed trait Cursor { def v: Long }
  private[io] final case class Done(v: Long) extends Cursor
  private[io] final case class Partial(v: Long, i: Int) extends Cursor

  /** Mid-snapshot offset: the initial snapshot at version `v`, first `i`
    * files (sorted order) served. Completed versions stay bare longs
    * ([[LongOffset]]), so existing checkpoints read unchanged. */
  final case class PartialSnapshotOffset(v: Long, i: Int)
      extends Offset {
    override def json: String = s"""{"v":$v,"i":$i}"""
  }

  /** Names of the envelope metadata columns of change-feed mode. */
  val MetaCols: Set[String] = VT.ChangeMeta.map(_.name).toSet
}
