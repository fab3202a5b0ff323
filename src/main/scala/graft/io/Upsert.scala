package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE algebra (SURVEY §2.3 M1, §7.4).
  *
  * The reference uses Delta `MERGE` (reference `src/utils/spark_utils.py:285-344`):
  * equi-match on merge keys, matched rows update listed columns (or all),
  * unmatched source rows insert. Delta implements MERGE as a join plus a
  * file rewrite committed through its transaction log. [[merge]] is the
  * join half, a lazy full-outer join with source-wins resolution;
  * [[VersionedTable.merge]] is the commit half: it merges only the files
  * holding a source key and commits optimistically through the table log,
  * so concurrent writers serialize there (EP2 and the streaming
  * `mergeSink` both upsert that way).
  *
  * Scale note: the join shuffles both sides on the merge keys; when the
  * source batch is small relative to the target (the common CDC shape)
  * AQE converts it to a broadcast join automatically.
  */
object Upsert {

  /** Thrown when a write loses to a concurrent writer: a
    * [[VersionedTable]] read-modify-write commit whose read version was
    * overtaken by a conflicting commit, a commit that could not claim a
    * log slot, or a [[Maintenance]] rewrite that finds the directory's
    * writer lock held. Nothing of the losing write is visible; re-read
    * and retry. */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Pure (lazy) merge of `source` into `target`: full-outer join on `keys`;
    * on match, `updateColumns` (default: all non-key columns) come from the
    * source; unmatched source rows are inserted; unmatched target rows are
    * kept. Null-safe on data columns: presence is judged by join-side marker
    * columns, not by data nullability, so a source row carrying NULLs still
    * wins its matched columns.
    *
    * PRECONDITION: the source must be key-unique. Duplicate source keys
    * match the same target row repeatedly — the output then carries the
    * key twice (Delta MERGE raises an error here; this emulation cannot
    * detect it without an extra pass).
    * Pre-reduce CDC batches with `Transforms.deduplicateByKey` — the
    * streaming `mergeSink` does exactly that. */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateColumns: Option[Seq[String]] = None): DataFrame = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    val updSet = updateColumns.getOrElse(dataCols).toSet

    // Rename every source column up front: the aliased projection mints
    // fresh attribute ids, so merging a frame into ITSELF (or any shared
    // lineage) cannot hit self-join attribute ambiguity.
    val s = source.select(
      source.columns.map(c => col(c).as(s"__s_$c")).toIndexedSeq :+
        lit(true).as("__s_present"): _*)
    val t = target.withColumn("__t_present", lit(true))

    val cond = keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val sHere = col("__s_present").isNotNull
    val tHere = col("__t_present").isNotNull
    val keyCols = keys.map(k =>
      when(sHere, col(s"__s_$k")).otherwise(col(k)).as(k))
    val valCols = dataCols.map { c =>
      val fromSource = if (updSet.contains(c)) sHere else sHere && !tHere
      when(fromSource, col(s"__s_$c")).otherwise(col(c)).as(c)
    }
    joined.select(keyCols ++ valCols: _*)
  }
}
