package graft.io

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed [[FileIndex]] for a [[VersionedTable]] snapshot — the
  * Catalyst integration point for stats-based data skipping (the same hook
  * Delta's `TahoeFileIndex` uses; reference
  * `src/utils/spark_utils.py:285-344` gets this from the Delta runtime).
  *
  * `FileSourceStrategy` hands every scan's pushed-down data filters to
  * [[listFiles]]; files whose log-recorded per-column (min, max) cannot
  * satisfy the conjunction are never turned into read tasks. The payoff
  * over the manual `snapshotWhere(column, lo, hi)` API: ANY
  * `snapshot(...).filter(...)` — including filters Catalyst derives
  * itself (join pushdown, constraint propagation, partition-wise
  * rewrites) — prunes at PLANNING time, with zero caller cooperation. On
  * a 100 TB table clustered on the filter column, the scan's task count
  * tracks the selected data, not the table.
  *
  * Pruning is conservative by construction:
  *  - a file with no recorded stats for a column (pre-stats commits,
  *    all-null files, column added later) is always kept;
  *  - an expression shape the evaluator does not understand keeps the
  *    file (`unknown → may-match`);
  *  - min/max are over NON-NULL values, which is exactly right: a
  *    comparison predicate is null-rejecting, so null rows can never
  *    satisfy it; per-file row/null counts (recorded alongside min/max)
  *    additionally prune `IsNull` on zero-null files, `IsNotNull` and
  *    every null-rejecting predicate on all-null files.
  * The residual filter always still runs on the surviving files, so
  * results are exact regardless of stats quality — skipping only ever
  * removes provably-empty work.
  *
  * Comparison semantics mirror the manifest encoding: numerics compare
  * as exact decimals; TIMESTAMP stats are zone-independent UTC micros
  * and compare numerically (a `CAST AS STRING` encoding would render
  * under the writer's session timezone and mis-prune for readers in a
  * different zone); strings, dates and NTZ timestamps are stored as
  * `CAST(col AS STRING)` and compare lexically (those renderings never
  * consult the zone and are order-faithful). Literals are rendered
  * through the SAME encoding so both sides of every comparison agree.
  * Other types never prune.
  *
  * Driver-side cost: pure in-memory compares over the manifest — zero
  * I/O, O(files × conjuncts), the same scaling class as Delta's
  * checkpoint-manifest skipping.
  */
final class GraftFileIndex(
    tableDir: String,
    fileNames: Seq[String],
    stats: VersionedTable.FileStats,
    dataSchema: StructType,
    zoneId: String,
    // per-(file, column) Bloom point-lookup index (loaded lazily by the
    // caller): a definitive NO for an equality/IN probe on a column the
    // files are not clustered on — where min/max can never prune
    bloom: (String, String) =>
      Option[org.apache.spark.util.sketch.BloomFilter] = (_, _) => None)
  extends FileIndex {

  private val statuses: Seq[(String, FileStatus)] = fileNames.map { n =>
    n -> new FileStatus(GraftFileIndex.fileBytes(tableDir, n, stats), false,
      1, 128L * 1024 * 1024, 0L /* mtime: immutable once committed */,
      new HPath(java.nio.file.Paths.get(tableDir, n).toUri))
  }

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(java.nio.file.Paths.get(tableDir).toUri))

  /** Versioned tables are not hive-partitioned: clustering lives in the
    * per-file stats (Z-ORDER/clusterBy compaction), not the directory
    * layout, so ALL skipping flows through data filters. */
  override def partitionSchema: StructType = StructType(Nil)

  /** Sum of live-file sizes — feeds the optimizer's size estimate, so a
    * small snapshot (or a heavily-pruned one after AQE re-plan) becomes
    * broadcast-join eligible exactly like a plain parquet directory. */
  override val sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  /** Snapshots are immutable — the file list is fixed at construction. */
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty) statuses.map(_._2)
      else statuses.collect {
        // a stats value the evaluator cannot interpret (double columns
        // render Infinity/NaN, which is not BigDecimal-parseable) must
        // KEEP the file, never fail the read — Try per (filter, file)
        case (name, st) if dataFilters.forall(f =>
          scala.util.Try(mayMatch(f, name, stats.getOrElse(name, Map.empty)))
            .getOrElse(true)) => st
      }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  // ------------------------------------------------------- stats evaluator

  private val fieldType: Map[String, DataType] =
    dataSchema.fields.map(f => f.name -> f.dataType).toMap

  /** Whether the stored string renderings of `dt` compare order-faithfully
    * (numerics via decimal, the rest lexically). */
  private def comparable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** String stats were computed by Spark's min/max, which order
    * UTF8Strings by UTF-8 BYTE order (= code-point order) — Java's
    * UTF-16 `String.compareTo` disagrees for strings mixing
    * [U+E000, U+FFFF] chars with supplementary-plane chars (surrogate
    * units sort below E000), and a mismatched order here would MIS-PRUNE
    * a file (wrong results, not just a missed skip). Compare exactly the
    * way the stats were made. */
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    // TimestampType stats and probes are both UTC micros (see below) —
    // integer strings, compared numerically
    case _: NumericType | TimestampType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => utf8Cmp(a, b)
  }

  /** The manifest encoding of a probe literal, matching EXACTLY how
    * [[VersionedTable.computeStats]] wrote the file stats, so comparisons
    * never straddle two formats. TimestampType renders as its internal
    * UTC-micros value — zone-independent, where `CAST(ts AS STRING)`
    * renders under the session timezone and a reader whose zone differs
    * from the writer's would compare two different renderings and
    * silently prune files that contain matching rows. Everything else is
    * `CAST(lit AS STRING)`, which never consults the zone for the
    * remaining comparable types. Null literals and failed casts yield
    * None (→ no pruning). */
  private def render(lit: Literal): Option[String] =
    if (lit.value == null) None
    else lit.dataType match {
      case TimestampType =>
        scala.util.Try(lit.value.asInstanceOf[Long].toString).toOption
      case _ => scala.util.Try(
          Cast(lit, StringType, Some(zoneId)).eval(InternalRow.empty)
        ).toOption.flatMap(v => Option(v).map(_.toString))
          .filterNot(exoticTemporal(lit.dataType, _))
    }

  /** Does this date/timestamp-NTZ rendering sort faithfully? Years
    * outside [0, 9999] render with a sign ("+10000-…", "-0044-…") and
    * break the lexical order ('+' < '9'); such stats must not prune.
    * (TimestampType never gets here — its micros compare numerically.) */
  private def exoticTemporal(dt: DataType, v: String): Boolean = dt match {
    case DateType | TimestampNTZType =>
      v.startsWith("+") || v.startsWith("-")
    case _ => false
  }

  /** Recorded TimestampType stats must be in the canonical micros form
    * to prune: stats written by a pre-micros writer are session-zone
    * renderings whose zone is unknown — comparing them at all could
    * mis-prune, so they conservatively keep the file. */
  private def microsForm(v: String): Boolean =
    GraftFileIndex.MicrosRe.matches(v)

  /** Range of `attr` in this file, as (min, max, type) — None when the
    * column is unknown, stats are absent, the type's rendering is not
    * order-faithful, or a temporal bound falls outside the faithful
    * form (signed-year date/NTZ renderings; legacy non-micros timestamp
    * stats). */
  private def range(attr: Attribute, fs: Map[String, (String, String)])
      : Option[(String, String, DataType)] =
    for {
      dt <- fieldType.get(attr.name) if comparable(dt)
      (lo, hi) <- fs.get(attr.name)
      if !exoticTemporal(dt, lo) && !exoticTemporal(dt, hi)
      if dt != TimestampType || (microsForm(lo) && microsForm(hi))
    } yield (lo, hi, dt)

  /** May any row of file `name` with stats `fs` satisfy `e`? `true` =
    * cannot exclude (keep the file); only a provable non-match prunes. */
  private def mayMatch(e: Expression, name: String,
      fs: Map[String, (String, String)]): Boolean = e match {
    case And(l, r) => mayMatch(l, name, fs) && mayMatch(r, name, fs)
    case Or(l, r) => mayMatch(l, name, fs) || mayMatch(r, name, fs)

    case EqualTo(a: Attribute, l: Literal) => mayEq(a, l, name, fs)
    case EqualTo(l: Literal, a: Attribute) => mayEq(a, l, name, fs)
    // null-safe equality against a non-null literal prunes like `=`; the
    // `<=> NULL` form would need null counts, so it keeps the file
    case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
      mayEq(a, l, name, fs)
    case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
      mayEq(a, l, name, fs)

    case GreaterThan(a: Attribute, l: Literal) => mayCmp(a, l, fs)(_ > 0)
    case GreaterThan(l: Literal, a: Attribute) => mayCmpMin(a, l, fs)(_ < 0)
    case GreaterThanOrEqual(a: Attribute, l: Literal) =>
      mayCmp(a, l, fs)(_ >= 0)
    case GreaterThanOrEqual(l: Literal, a: Attribute) =>
      mayCmpMin(a, l, fs)(_ <= 0)
    case LessThan(a: Attribute, l: Literal) => mayCmpMin(a, l, fs)(_ < 0)
    case LessThan(l: Literal, a: Attribute) => mayCmp(a, l, fs)(_ > 0)
    case LessThanOrEqual(a: Attribute, l: Literal) =>
      mayCmpMin(a, l, fs)(_ <= 0)
    case LessThanOrEqual(l: Literal, a: Attribute) =>
      mayCmp(a, l, fs)(_ >= 0)

    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => mayEq(a, v.asInstanceOf[Literal], name, fs))
    // large IN lists arrive optimized to InSet with INTERNAL values —
    // re-wrap each as a typed Literal so rendering is uniform. Cap the
    // per-file work: a 10k-value set over a million-file manifest is
    // O(set × files) driver-side — past the cap, skipping can't pay for
    // its own planning cost, so keep the file.
    case InSet(a: Attribute, set) if set.size <= 256 =>
      fieldType.get(a.name) match {
        case Some(dt) => set.exists(v => mayEq(a, Literal(v, dt), name, fs))
        case None => true
      }

    case StartsWith(a: Attribute, l: Literal)
        if fieldType.get(a.name).contains(StringType) =>
      mayStartWith(a, l, fs)

    // null counts ride the stats map under reserved keys ([[VersionedTable
    // .nullsKey]]): a file recorded with ZERO nulls cannot satisfy IsNull,
    // one with zero NON-nulls cannot satisfy IsNotNull; absent counts
    // (pre-counts commits) keep the file.
    case IsNull(a: Attribute) =>
      nullCount(a, fs).forall(_ > 0L)
    case IsNotNull(a: Attribute) => hasNonNull(a, fs)
    case _ => true // unknown shape: cannot exclude
  }

  /** Recorded null count of `attr` in this file, if the writer kept
    * counts for it. */
  private def nullCount(a: Attribute,
      fs: Map[String, (String, String)]): Option[Long] =
    fs.get(VersionedTable.nullsKey(a.name)).map(_._1.toLong)

  /** Can this file hold a NON-null value of `attr`? False only when the
    * recorded counts prove every row is null (or the file is empty) —
    * no null-rejecting predicate (=, <, IN, startsWith, IsNotNull) can
    * then match, even though an all-null column has no min/max entry. */
  private def hasNonNull(a: Attribute,
      fs: Map[String, (String, String)]): Boolean =
    (fs.get(VersionedTable.RowsKey).map(_._1.toLong), nullCount(a, fs)) match {
      case (Some(rows), Some(nulls)) => rows - nulls > 0L
      case _ => true
    }

  /** `attr = lit` may hold iff lit ∈ [min, max] AND (when a Bloom index
    * exists for this file+column) the filter admits the probe hash —
    * the point-lookup path min/max cannot serve on unclustered columns. */
  private def mayEq(a: Attribute, l: Literal, name: String,
      fs: Map[String, (String, String)]): Boolean = {
    val inRange = (range(a, fs), render(l)) match {
      case (Some((lo, hi, dt)), Some(v)) =>
        cmp(dt, lo, v) <= 0 && cmp(dt, hi, v) >= 0
      case _ => true
    }
    inRange && hasNonNull(a, fs) && bloomMayContain(a, l, name)
  }

  /** Probe the (file, column) Bloom filter with `xxhash64(lit)` — the
    * SAME hash the write-side aggregate fed the filter, so a negative is
    * proof of absence. Consulted only when the literal's type equals the
    * column's (a mismatched hash would risk a false NEGATIVE); null
    * literals and eval failures keep the file. */
  private def bloomMayContain(a: Attribute, l: Literal,
      name: String): Boolean =
    if (l.value == null || !fieldType.get(a.name).contains(l.dataType)) true
    else bloom(name, a.name) match {
      case Some(bf) => scala.util.Try(
        new XxHash64(Seq(l)).eval(InternalRow.empty).asInstanceOf[Long]
      ).toOption.forall(bf.mightContainLong)
      case None => true
    }

  /** Predicates satisfiable only by large values: test `cmp(max, lit)`. */
  private def mayCmp(a: Attribute, l: Literal,
      fs: Map[String, (String, String)])(ok: Int => Boolean): Boolean =
    hasNonNull(a, fs) && ((range(a, fs), render(l)) match {
      case (Some((_, hi, dt)), Some(v)) => ok(cmp(dt, hi, v))
      case _ => true
    })

  /** Predicates satisfiable only by small values: test `cmp(min, lit)`. */
  private def mayCmpMin(a: Attribute, l: Literal,
      fs: Map[String, (String, String)])(ok: Int => Boolean): Boolean =
    hasNonNull(a, fs) && ((range(a, fs), render(l)) match {
      case (Some((lo, _, dt)), Some(v)) => ok(cmp(dt, lo, v))
      case _ => true
    })

  /** `startswith(attr, p)`: a match lies in [p, next(p)) in CODE-POINT
    * order — keep the file iff that interval intersects [min, max].
    * `next(p)` bumps the last code point (skipping the surrogate gap —
    * a looser upper bound only keeps more files, never fewer); a last
    * code point at U+10FFFF has no successor → only the lower bound
    * prunes. */
  private def mayStartWith(a: Attribute, l: Literal,
      fs: Map[String, (String, String)]): Boolean =
    hasNonNull(a, fs) && ((range(a, fs), Option(l.value)
      .map(_.asInstanceOf[UTF8String].toString)
      .filter(_.nonEmpty)) match {
      case (Some((lo, hi, _)), Some(p)) =>
        val cps = p.codePoints().toArray
        val last = cps.last
        if (last >= 0x10FFFF) utf8Cmp(hi, p) >= 0
        else {
          val bumped = if (last + 1 == 0xD800) 0xE000 else last + 1
          val next = new String(cps.init :+ bumped, 0, cps.length)
          utf8Cmp(hi, p) >= 0 && utf8Cmp(lo, next) < 0
        }
      case _ => true
    })
}

object GraftFileIndex {
  /** Length of data file `name`: from the MANIFEST when its commit
    * recorded it (exact — data files are immutable), else a filesystem
    * stat for pre-size-stats commits. A million-file snapshot then costs
    * zero per-file HEAD requests to plan or to size for compaction. */
  private[io] def fileBytes(tableDir: String, name: String,
      stats: VersionedTable.FileStats): Long =
    stats.get(name).flatMap(_.get(VersionedTable.BytesKey))
      .flatMap(b => scala.util.Try(b._1.toLong).toOption)
      .getOrElse(java.nio.file.Files.size(
        java.nio.file.Paths.get(tableDir, name)))

  /** The canonical TimestampType stats encoding: a (possibly negative)
    * integer of UTC micros. Anything else is a legacy session-zone
    * rendering and must not prune. */
  private[io] val MicrosRe = "-?\\d+".r
}
