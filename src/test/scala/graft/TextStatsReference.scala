package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The Column forms of `TextStats.normalizeText`, `nWords` and
  * `qualityScore` that [[graft.functions.NormalizeText]] and
  * [[graft.functions.TextQuality]] replaced — kept as the reference the
  * parity tests compare against. */
object TextStatsReference {

  /** Lowercase, non-alphanumerics → space, whitespace collapsed, trimmed. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** `\S+` match count; NULL → 0. */
  def nWords(text: Column): Column =
    when(text.isNull, lit(0L))
      .otherwise(regexp_count(text, lit("\\S+")).cast(LongType))

  private def digitCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast(LongType)

  def qualityScore(text: Column): Column = {
    val words = nWords(text)
    val digitRatio = when(length(text) > 0,
      digitCount(text).cast(DoubleType) / length(text).cast(DoubleType))
      .otherwise(lit(1.0))
    (when(words.between(20, 10000), lit(0.5)).otherwise(lit(0.0)) +
      when(digitRatio < 0.3, lit(0.3)).otherwise(lit(0.0)) +
      when(length(text) >= 100, lit(0.2)).otherwise(lit(0.0)))
  }
}
