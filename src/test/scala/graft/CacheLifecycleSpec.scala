package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.ext._
import graft.monitoring.Monitoring
import graft.ops.Transforms

/** The operator cache-lifecycle contract (util.Caches): every eager
  * library entry point must return WITHOUT leaving an entry in the
  * session CacheManager — intermediates it persisted are released before
  * return, and its result is an RDD-block-backed snapshot whose blocks
  * the ContextCleaner reclaims once the caller drops the frame (and which
  * Caches.clearAll can force-drop). r7's bench measured the failure mode:
  * ~20 operators each pinning a result cache turned a 152-query session
  * into a storage-pool eviction fight (2.4× phantom slowdown).
  *
  * The assertion is CacheManager emptiness, not getPersistentRDDs
  * emptiness: snapshot/loop-checkpoint blocks legitimately appear in the
  * RDD registry until GC (that is the design — weakly held, cleaner-
  * managed), so the spec instead verifies clearAll drains the registry
  * to zero on demand.
  */
class CacheLifecycleSpec extends SparkSpec {

  private def docs(n: Int): DataFrame =
    spark.range(n).selectExpr(
      "id as doc_id",
      """concat_ws(' ', transform(sequence(0, 17),
        |  i -> concat('w', pmod(id * 13 + i * 5, 41)))) as text"""
        .stripMargin)

  private def events(n: Int): DataFrame =
    spark.range(n).selectExpr(
      "id",
      "pmod(id, 20) as user_id",
      "concat('s', pmod(id, 4)) as state",
      "cast(concat('2024-01-', lpad(cast(pmod(id, 28) + 1 as string), 2, '0'), ' 0', pmod(id, 9), ':00:00') as timestamp) as ts",
      "cast(pmod(id * 7, 100) as double) as amount",
      "pmod(id, 2) = 0 as label")

  private def assertNoCacheEntry(tag: String)(body: => DataFrame): Unit = {
    graft.util.Caches.clearAll(spark)
    val out = body
    out.count() // materialize like a caller would
    assert(Bridge.cachedPlanCount(spark) == 0,
      s"$tag left a CacheManager entry behind")
    // the registry drains fully on demand (bench hygiene between queries)
    graft.util.Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$tag left blocks clearAll could not drop")
  }

  test("minHashLsh leaves no CacheManager entry") {
    assertNoCacheEntry("minHashLsh") {
      Dedup.minHashLsh(docs(300), "doc_id", "text", 3, 4, 4, 0.3)
    }
  }

  test("minHashLshPortable leaves no CacheManager entry") {
    assertNoCacheEntry("minHashLshPortable") {
      Dedup.minHashLshPortable(docs(300), "doc_id", "text", 3, 4, 4)
    }
  }

  test("simHashPairs (hammingPairs64) leaves no CacheManager entry") {
    assertNoCacheEntry("simHashPairs") {
      Dedup.simHashPairs(docs(300), "doc_id", "text")
    }
  }

  test("winnowPairs leaves no CacheManager entry") {
    assertNoCacheEntry("winnowPairs") {
      Dedup.winnowPairs(docs(200), "doc_id", "text")
    }
  }

  test("incrementalNearDupMatches leaves no CacheManager entry") {
    assertNoCacheEntry("incrementalNearDupMatches") {
      Dedup.incrementalNearDupMatches(
        docs(80), docs(200).withColumn("doc_id", col("doc_id") + 10000L),
        "doc_id", "text")
    }
  }

  test("pairRules leaves no CacheManager entry") {
    assertNoCacheEntry("pairRules") {
      Associations.pairRules(events(500), "user_id", "state",
        minSupport = 0.01)
    }
  }

  test("stats operators leave no CacheManager entry") {
    assertNoCacheEntry("chiSquareIndependence") {
      Stats.chiSquareIndependence(events(500), "state", "label")
    }
    assertNoCacheEntry("populationStability") {
      Stats.populationStability(events(400), events(300), "amount")
    }
    assertNoCacheEntry("weightOfEvidence") {
      Stats.weightOfEvidence(events(400), "amount", "label", bins = 4)
    }
    assertNoCacheEntry("benfordDeviation") {
      Stats.benfordDeviation(events(400).filter(col("amount") > 0),
        Seq("state"), "amount")
    }
  }

  test("profile/sequence/graph/drift operators leave no CacheManager entry") {
    assertNoCacheEntry("skewReport") {
      Profile.skewReport(events(400), Seq("state", "user_id"))
    }
    assertNoCacheEntry("transitionMatrix") {
      Sequences.transitionMatrix(events(400), "user_id", Seq("ts", "id"),
        "state")
    }
    assertNoCacheEntry("triangleStats") {
      Graph.triangleStats(events(300)
        .select(col("user_id").as("src"), (col("id") % 17).as("dst")))
    }
    assertNoCacheEntry("tokenDistributionDrift") {
      Diff.tokenDistributionDrift(docs(150), docs(150), "text")
    }
    assertNoCacheEntry("topDriftedTokens") {
      Diff.topDriftedTokens(docs(150), docs(150), "text", k = 5)
    }
  }

  test("monitoring operators leave no CacheManager entry") {
    assertNoCacheEntry("rollingActiveUsers") {
      Monitoring.rollingActiveUsers(events(500), "ts", "user_id")
    }
    assertNoCacheEntry("seasonalNaiveBacktest") {
      Monitoring.seasonalNaiveBacktest(events(500), "ts")
    }
    assertNoCacheEntry("seasonalAnomalyDF") {
      Monitoring.seasonalAnomalyDF(events(500), "ts")
    }
  }

  test("scalable surrogate key / packing leave no CacheManager entry") {
    assertNoCacheEntry("addSurrogateKeyScalable") {
      Transforms.addSurrogateKeyScalable(events(400), "sk", Seq("id"))
    }
    assertNoCacheEntry("packByBudgetOrdered") {
      Packing.packByBudgetOrdered(
        events(400).withColumn("n_tokens", col("id") % 50 + 1),
        Seq(col("id")), "n_tokens", budget = 512)
    }
  }

  test("curation pipeline leaves no CacheManager entry") {
    assertNoCacheEntry("TextPipeline.curate") {
      TextPipeline.curate(docs(200), "doc_id", "text").curated
    }
  }
}
