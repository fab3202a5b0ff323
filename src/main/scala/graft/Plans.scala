package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: dump formatted physical plans for plan-quality review.
  *
  * `runMain graft.Plans [sfDir] [name...]` prints each named frame's
  * `.explain("formatted")` between `========== <name> ==========`
  * markers. A name is a [[SparkEntry]] query, or one of the INTERNAL
  * operator frames in [[ops]] (names starting with `op_`): the heavy
  * compositions materialize eagerly (snapshot/persist+count), so their
  * returned frames' plans are stub scans and the load-bearing plan
  * shapes live one level down. Uses the same [[GraftSession]]
  * configuration as Verify/Bench so the dumped plans are the plans the
  * engine actually runs (AQE + coalescing flags, graft extensions, 8
  * local threads — plan SHAPE is thread-count-independent). Timing of
  * those eager interiors is in the `graft.util.Stages` lines instead. */
object Plans {
  private val ops: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the per-doc MinHash signature pipeline feeding every near-dup
    // operator (minHashLsh / buildNearDupIndex / incremental matches)
    "op_minhash_signatures" -> ((s, dir) => graft.ext.Dedup
      .minHashSignatures(Tables.load(s, dir, "documents"), "doc_id", "text",
        3, 32)),
    // the per-doc SimHash signature pipeline feeding simHashPairs
    "op_simhash_signatures" -> ((s, dir) => graft.ext.Dedup
      .simHash(Tables.load(s, dir, "documents"), "doc_id", "text")))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q02_filter_pushdown", "q03_top_orders", "q04_dim_join", "q13_merge_upsert")
    val spark = GraftSession.local("graft-plans", 8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val frame = if (n.startsWith("op_")) ops(n) else SparkEntry.queries(n)
      println(s"========== $n ==========")
      println(frame(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
