package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.functions._

import graft.io.{VersionedTable => VT}

/** Write-time change data feed (io/VersionedTable.scala `cdcAdd` +
  * `tableChanges`; io/VersionedStreamSource.scala `readChangeFeed`):
  * envelope capture on MERGE / DELETE / DV-DELETE / CDC-apply, the
  * keyless sidecar-backed batch reader, vacuum retention of sidecars,
  * and change envelopes through a real streaming query. */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshName(): String = { n += 1; s"cdf_$n" }

  private def withDirs[T](body: (String, String) => T): T = {
    val dir = Files.createTempDirectory("graft-cdf")
    try body(dir.resolve("t").toString, dir.resolve("ck").toString)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  private def df(pairs: (Int, String)*) = pairs.toDF("id", "v")

  private def enable(t: String): Unit =
    VT.setProperties(t, Map(VT.CdfProp -> "true"))

  private def envelopes(t: String, from: Long, to: Long): Seq[(Int, String, String, Long)] =
    VT.tableChanges(spark, t, from, to)
      .select(col("id"), col("v"), col("_change_type"), col("_commit_version"))
      .as[(Int, String, String, Long)].collect().toSeq
      .sortBy(r => (r._4, r._3, r._1))

  test("merge captures update pre/post images and inserts") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t) // v0
      enable(t)                                             // v1
      VT.merge(spark, df(2 -> "B", 4 -> "D"), t, Seq("id")) // v2
      assert(envelopes(t, 1, 2) == Seq(
        (4, "D", "insert", 2L),
        (2, "B", "update_postimage", 2L),
        (2, "b", "update_preimage", 2L)))
      // and from the table start: v0's appends surface as inserts
      assert(envelopes(t, -1, 2).count(_._3 == "insert") == 4)
    }
  }

  test("merge captures envelopes for NULL-keyed rows (null-safe key " +
    "joins — a plain column join would write NO envelope)") {
    withDirs { (t, _) =>
      VT.append(spark, Seq((Some(1), "a"), (None, "n"), (Some(3), "c"))
        .toDF("id", "v"), t)                                   // v0
      enable(t)                                                // v1
      // the source updates the NULL-keyed row and inserts another key
      VT.merge(spark, Seq((None: Option[Int], "N2"), (Some(4), "d"))
        .toDF("id", "v"), t, Seq("id"))                        // v2
      val env = VT.tableChanges(spark, t, 1, 2)
        .select(col("id"), col("v"), col("_change_type"))
        .collect().map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
          r.getString(1), r.getString(2))).toSeq
        .sortBy(e => (e._3, e._1))
      assert(env == Seq(
        (4, "d", "insert"),
        (-1, "N2", "update_postimage"),
        (-1, "n", "update_preimage")), env.toString)
    }
  }

  test("deleteWhere captures delete envelopes; NULL predicate keeps rows") {
    withDirs { (t, _) =>
      VT.append(spark,
        Seq((1, "a"), (2, null), (3, "c")).toDF("id", "v").repartition(1), t)
      enable(t)
      // predicate is NULL for id=2 (null v): SQL DELETE must keep it
      VT.deleteWhere(spark, t, col("v") < "c")
      val left = VT.snapshot(spark, t).select("id")
        .as[Int].collect().toSeq.sorted
      assert(left == Seq(2, 3))
      val env = envelopes(t, 1, 2)
      assert(env == Seq((1, "a", "delete", 2L)))
    }
  }

  test("deferred (deletion-vector) delete captures delete envelopes") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)
      enable(t)
      VT.deleteWhereDeferred(spark, t, col("id") % 2 === 1)
      assert(envelopes(t, 1, 2) == Seq(
        (1, "a", "delete", 2L), (3, "c", "delete", 2L)))
    }
  }

  test("applyChanges captures delete / update pre+post / insert") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t) // v0
      enable(t)                                             // v1
      val feed = Seq(
        (1, null.asInstanceOf[String], "delete"),
        (2, "B", "update_postimage"),
        (4, "D", "insert")).toDF("id", "v", "_change_type")
      VT.applyChanges(spark, feed, t, Seq("id"), "cdfspec", 1L) // v2
      assert(envelopes(t, 1, 2) == Seq(
        (1, "a", "delete", 2L),
        (4, "D", "insert", 2L),
        (2, "B", "update_postimage", 2L),
        (2, "b", "update_preimage", 2L)))
      // table state agrees with the envelope algebra
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(2 -> "B", 3 -> "c", 4 -> "D"))
    }
  }

  test("overwrite captures delete-all + insert-all; restore always throws") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)  // v0
      enable(t)                                    // v1
      VT.deleteWhereDeferred(spark, t, col("id") === 2) // v2: DV
      VT.overwrite(spark, df(3 -> "c"), t)         // v3: full replace
      // DV-retired row 2 is ALREADY deleted at v2 — the overwrite's
      // envelope must not re-delete it
      assert(envelopes(t, 2, 3) == Seq(
        (1, "a", "delete", 3L), (3, "c", "insert", 3L)))
      VT.restore(spark, t, 0)                      // v4: history rewrite
      val e = intercept[IllegalStateException] {
        VT.tableChanges(spark, t, 3, 4).collect()
      }
      assert(e.getMessage.contains("restore"))
    }
  }

  test("change commit without sidecar throws; appends never need one") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)  // v0: fine keyless
      VT.merge(spark, df(2 -> "B"), t, Seq("id"))  // v1: CDF off!
      val e = intercept[IllegalStateException] {
        VT.tableChanges(spark, t, -1, 1).collect()
      }
      assert(e.getMessage.contains("version 1"))
      assert(e.getMessage.contains(VT.CdfProp))
      // the append-only prefix still reads
      assert(envelopes(t, -1, 0) ==
        Seq((1, "a", "insert", 0L), (2, "b", "insert", 0L)))
    }
  }

  test("optimize is invisible to the change feed") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a"), t)
      enable(t)
      VT.append(spark, df(2 -> "b"), t)
      VT.compact(spark, t, targetFiles = 1)
      VT.merge(spark, df(1 -> "A"), t, Seq("id"))
      val env = envelopes(t, 1, 4)
      assert(env == Seq(
        (2, "b", "insert", 2L),
        (1, "A", "update_postimage", 4L),
        (1, "a", "update_preimage", 4L)))
    }
  }

  test("vacuum keeps cdc sidecars in retention, GCs them after") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      enable(t)
      VT.deleteWhereDeferred(spark, t, col("id") === 1)
      def cdcFiles: Seq[String] = {
        val l = Files.list(java.nio.file.Paths.get(t))
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.getFileName.toString)
            .filter(_.contains("-cdc")).toSeq
        } finally l.close()
      }
      assert(cdcFiles.nonEmpty)
      // within retention: survives
      VT.vacuum(t, retainMs = 3600L * 1000)
      assert(cdcFiles.nonEmpty)
      assert(envelopes(t, 1, 2) == Seq((1, "a", "delete", 2L)))
      // far future: aged out
      VT.vacuum(t, retainMs = 3600L * 1000,
        nowMs = System.currentTimeMillis() + 7200L * 1000)
      assert(cdcFiles.isEmpty)
      // reading past the retention window names the cause, not a raw
      // scan-time file-not-found
      val e = intercept[IllegalStateException] {
        VT.tableChanges(spark, t, 1, 2).collect()
      }
      assert(e.getMessage.contains("vacuumed"))
      assert(e.getMessage.contains("retention"))
    }
  }

  test("streaming readChangeFeed: snapshot as inserts, then change tail") {
    withDirs { (t, ck) =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)
      enable(t)
      val name = freshName()
      val q = spark.readStream.format("graft-versioned")
        .option("readChangeFeed", "true").load(t)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        val snap = spark.table(name)
          .select(col("id"), col("_change_type"), col("_commit_version"))
          .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
        assert(snap == Seq((1, "insert", 1L), (2, "insert", 1L),
          (3, "insert", 1L)))
        VT.merge(spark, df(2 -> "B", 4 -> "D"), t, Seq("id")) // v2
        VT.deleteWhereDeferred(spark, t, col("id") === 3)     // v3
        q.processAllAvailable()
        val tail = spark.table(name)
          .filter(col("_commit_version") > 1)
          .select(col("id"), col("v"), col("_change_type"),
            col("_commit_version"))
          .as[(Int, String, String, Long)].collect().toSeq
          .sortBy(r => (r._4, r._3, r._1))
        assert(tail == Seq(
          (4, "D", "insert", 2L),
          (2, "B", "update_postimage", 2L),
          (2, "b", "update_preimage", 2L),
          (3, "c", "delete", 3L)))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
  }

  test("streaming readChangeFeed restart is exactly-once") {
    withDirs { (t, ck) =>
      // memory sink refuses recovery — restart through a file sink
      val out = s"$ck.out"
      def run(): Unit = {
        val q = spark.readStream.format("graft-versioned")
          .option("readChangeFeed", "true").load(t)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck).start()
        try q.processAllAvailable() finally q.stop()
      }
      VT.append(spark, df(1 -> "a"), t)
      enable(t)
      run()
      VT.merge(spark, df(1 -> "A"), t, Seq("id")) // while down
      run()
      // exactly-once: the snapshot insert once, the merge's pre+post
      // once — no replayed snapshot on restart
      val rows = spark.read.parquet(out)
        .select(col("_change_type")).as[String].collect().toSeq.sorted
      assert(rows == Seq("insert", "update_postimage", "update_preimage"))
    }
  }

  test("materialized view maintained by the change-feed stream " +
    "equals recompute") {
    withDirs { (t, ck) =>
      val state = s"$ck.state"
      def run(): Unit = {
        val q = graft.streaming.Streams.materializedViewSink(
          spark, t, state, Seq("v"), "id", ck)
        try q.processAllAvailable() finally q.stop()
      }
      VT.append(spark, df(1 -> "a", 2 -> "a", 3 -> "b"), t)
      enable(t)
      run() // bootstrap: snapshot-as-inserts builds the view from empty
      def view(): Seq[(String, Long, Double)] =
        VT.snapshot(spark, state)
          .select(col("v"), col("n"), col("sum_v").cast("double"))
          .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(view() == Seq(("a", 2L, 3.0), ("b", 1L, 3.0)))
      // updates move weight between groups; deletes retract; a group
      // whose count reaches zero drops out
      VT.merge(spark, df(2 -> "b", 4 -> "c"), t, Seq("id"))
      VT.deleteWhereDeferred(spark, t, col("v") === "a")
      run()
      assert(view() == Seq(("b", 2L, 5.0), ("c", 1L, 4.0)))
      // and the maintained state equals the full recompute
      val recomputed = graft.ops.IncrementalAgg.sumState(
        VT.snapshot(spark, t), Seq("v"), "id")
        .select(col("v"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(view() == recomputed)
    }
  }

  test("multi-measure materialized view maintained by the change-feed " +
    "stream equals recompute across both measures") {
    withDirs { (t, ck) =>
      val state = s"$ck.state"
      def run(): Unit = {
        val q = graft.streaming.Streams.materializedViewSinkMulti(
          spark, t, state, Seq("grp"), Seq("amt", "fee"), ck)
        try q.processAllAvailable() finally q.stop()
      }
      VT.append(spark, Seq((1, "x", 10.0, 1.0), (2, "x", 20.0, 2.0),
        (3, "y", 30.0, 3.0)).toDF("id", "grp", "amt", "fee"), t)
      enable(t)
      run() // bootstrap: both sums from the snapshot-as-inserts batch
      def view(): Seq[(String, Long, Double, Double)] =
        VT.snapshot(spark, state)
          .select(col("grp"), col("n"), col("sum_amt").cast("double"),
            col("sum_fee").cast("double"))
          .as[(String, Long, Double, Double)].collect().toSeq.sortBy(_._1)
      assert(view() == Seq(("x", 2L, 30.0, 3.0), ("y", 1L, 30.0, 3.0)))
      // update moves id=2 to group y; delete retracts group x's last+1
      VT.merge(spark, Seq((2, "y", 25.0, 2.5)).toDF("id", "grp", "amt", "fee"),
        t, Seq("id"))
      VT.deleteWhereDeferred(spark, t, col("id") === 1)
      run()
      assert(view() == Seq(("y", 2L, 55.0, 5.5)),
        "group x must drop at n=0; y must carry both folded measures")
      // and the maintained state equals the full recompute
      val recomputed = graft.ops.IncrementalAgg.sumStateMulti(
        VT.snapshot(spark, t), Seq("grp"), Seq("amt", "fee"))
        .select(col("grp"), col("n"), col("sum_amt").cast("double"),
          col("sum_fee").cast("double"))
        .as[(String, Long, Double, Double)].collect().toSeq.sortBy(_._1)
      assert(view() == recomputed)
    }
  }

  test("materialized view folds a NULL group key instead of duplicating " +
    "its state row") {
    withDirs { (t, ck) =>
      val state = s"$ck.state"
      def run(): Unit = {
        val q = graft.streaming.Streams.materializedViewSink(
          spark, t, state, Seq("v"), "id", ck)
        try q.processAllAvailable() finally q.stop()
      }
      // NULL is a legitimate group of an arbitrary grouping column
      VT.append(spark,
        Seq[(Int, String)](1 -> "a", 2 -> null, 3 -> null).toDF("id", "v"),
        t)
      enable(t)
      run() // bootstrap: groups a=(1,1) and null=(2,5)
      def view(): Seq[(Option[String], Long, Double)] =
        VT.snapshot(spark, state)
          .select(col("v"), col("n"), col("sum_v").cast("double"))
          .as[(Option[String], Long, Double)].collect().toSeq.sortBy(_._1)
      assert(view() == Seq((None, 2L, 5.0), (Some("a"), 1L, 1.0)))
      // a new null-group row must FOLD into the existing state row —
      // with null-unsafe key joins it duplicated instead
      VT.merge(spark,
        Seq[(Int, String)](4 -> null).toDF("id", "v"), t, Seq("id"))
      run()
      assert(view() == Seq((None, 3L, 9.0), (Some("a"), 1L, 1.0)))
      // retracting every null-group row drops the group entirely
      VT.deleteWhereDeferred(spark, t, col("v").isNull)
      run()
      assert(view() == Seq((Some("a"), 1L, 1.0)))
    }
  }

  test("MV refresh rewrites only the state files holding touched groups") {
    withDirs { (t, ck) =>
      val state = s"$ck.state"
      def run(): Unit = {
        val q = graft.streaming.Streams.materializedViewSink(
          spark, t, state, Seq("v"), "id", ck)
        try q.processAllAvailable() finally q.stop()
      }
      // two group keys PROVEN to hash into different shuffle partitions
      // (hash-partitioned groups then land in different state files)
      val numParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val Seq(ka, kz) = ('a' to 'p').map(_.toString)
        .map(l => l -> spark.range(1)
          .select(pmod(hash(lit(l)), lit(numParts))).head.getInt(0))
        .distinctBy(_._2).take(2).map(_._1)
      VT.append(spark, df(1 -> ka, 2 -> ka, 3 -> kz), t)
      enable(t)
      // bootstrap with AQE partition-coalescing off, so the two groups
      // hash into SEPARATE state files — the layout the file-granularity
      // assertion below needs (tiny test data would otherwise coalesce
      // into one file and make every refresh trivially whole-table)
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val saved = spark.conf.get(coalesceKey)
      spark.conf.set(coalesceKey, "false")
      try run() finally spark.conf.set(coalesceKey, saved)
      val before = VT.snapshot(spark, state).inputFiles.toSet
      val zFiles = before.filter(f =>
        spark.read.parquet(f).filter(col("v") === kz).count() > 0)
      val aFiles = before.filter(f =>
        spark.read.parquet(f).filter(col("v") === ka).count() > 0)
      assert(zFiles.nonEmpty && aFiles.nonEmpty &&
        zFiles.intersect(aFiles).isEmpty,
        s"groups colocated ($aFiles vs $zFiles) — pick different keys")
      VT.merge(spark, df(4 -> ka), t, Seq("id")) // touches group ka only
      run()
      val after = VT.snapshot(spark, state).inputFiles.toSet
      // the untouched group's file carried over BY NAME; the touched
      // group's file was replaced — write amplification is O(touched
      // files), not O(state)
      assert(zFiles.subsetOf(after), "untouched state file was rewritten")
      assert(aFiles.intersect(after).isEmpty,
        "touched state file should have been replaced")
      val view = VT.snapshot(spark, state)
        .select(col("v"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(view.sortBy(_._2) == Seq((kz, 1L, 3.0), (ka, 3L, 7.0)))
    }
  }

  test("scd2Sink maintains type-2 validity windows from the change stream") {
    withDirs { (t, ck) =>
      val dim = s"$ck.dim"
      def run(): Unit = {
        val q = graft.streaming.Streams.scd2Sink(spark, t, dim, "id", ck)
        try q.processAllAvailable() finally q.stop()
      }
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      enable(t)
      run() // bootstrap: every key gets its initial open version
      assert(VT.snapshot(spark, dim).filter(col("is_current")).count() == 2)
      VT.merge(spark, df(2 -> "B", 3 -> "c"), t, Seq("id"))        // v2
      VT.deleteWhereDeferred(spark, t,
        col("id") === 1 || col("id") === 2)                        // v3
      run() // one batch spanning BOTH commits: within-batch ordering
      val rows = VT.snapshot(spark, dim)
        .select(col("id"), col("v"), col("is_current"),
          col("effective_to").isNull.as("open"))
        .as[(Int, String, Boolean, Boolean)].collect().toSeq
        .sortBy(r => (r._1, r._2))
      assert(rows == Seq(
        (1, "a", false, false),   // deleted: closed, nothing current
        (2, "B", false, false),   // opened at v2, closed by v3 delete
        (2, "b", false, false),   // bootstrap version closed at v2
        (3, "c", true, true)))    // inserted at v2, still current
      // windows tile: b's close instant IS B's open instant, and B
      // closes at the delete's commit time (> its open)
      val k2 = VT.snapshot(spark, dim).filter(col("id") === 2)
        .select(col("v"), col("effective_from"), col("effective_to"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getTimestamp(2))).sortBy(_._1)
      // sorted: k2(0) = "B" (v2 open, v3 close), k2(1) = "b" (bootstrap)
      assert(k2(1)._3 == k2(0)._2)        // "b".to == "B".from — they tile
      assert(!k2(0)._3.before(k2(0)._2))  // B closes at/after it opens
      // idle rerun: no new commits, dimension untouched
      val v = VT.latestVersion(dim)
      run()
      assert(VT.latestVersion(dim) == v)
    }
  }

  test("merge envelopes survive a WriteSerializable rebase over a " +
    "racing blind append") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)          // v0
      enable(t)                                            // v1
      // a REAL interleaved append lands at the instant the merge tries
      // to claim its slot — the merge must rebase, and its sidecar must
      // still describe exactly the MERGE's changes (the racer's rows
      // stream as their own version's inserts)
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val racer = new graft.io.CommitArbiter {
        def tryClaim(dir: java.nio.file.Path, target: java.nio.file.Path,
            json: String): Boolean =
          if (fired.getAndSet(true))
            graft.io.CommitArbiter.PosixLink.tryClaim(dir, target, json)
          else { VT.append(spark, df(9 -> "z"), t); false } // steals v2
      }
      val prev = VT.commitArbiter
      try {
        VT.commitArbiter = racer
        VT.merge(spark, df(2 -> "B"), t, Seq("id"))        // rebases → v3
      } finally VT.commitArbiter = prev
      assert(VT.latestVersion(t).contains(3L))
      assert(envelopes(t, 2, 3) == Seq(
        (2, "B", "update_postimage", 3L),
        (2, "b", "update_preimage", 3L)))
      assert(envelopes(t, 1, 3) == Seq(
        (9, "z", "insert", 2L),
        (2, "B", "update_postimage", 3L),
        (2, "b", "update_preimage", 3L)))
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "B", 9 -> "z"))
    }
  }

  test("readChangeFeed composes with startingVersion: envelopes from " +
    "that version, no snapshot batch") {
    withDirs { (t, ck) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)        // v0
      enable(t)                                          // v1
      VT.merge(spark, df(2 -> "B"), t, Seq("id"))        // v2
      VT.append(spark, df(3 -> "c"), t)                  // v3
      val name = freshName()
      val q = spark.readStream.format("graft-versioned")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").load(t)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        val rows = spark.table(name)
          .select(col("id"), col("_change_type"), col("_commit_version"))
          .as[(Int, String, Long)].collect().toSeq.sortBy(r => (r._3, r._2))
        // v0/v1 never served (no snapshot); v2's envelopes + v3's insert
        assert(rows == Seq(
          (2, "update_postimage", 2L), (2, "update_preimage", 2L),
          (3, "insert", 3L)))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
  }

  test("scd2Sink reopens a key deleted in an earlier batch") {
    withDirs { (t, ck) =>
      val dim = s"$ck.dim"
      def run(): Unit = {
        val q = graft.streaming.Streams.scd2Sink(spark, t, dim, "id", ck)
        try q.processAllAvailable() finally q.stop()
      }
      VT.append(spark, df(1 -> "a"), t)
      enable(t)
      run()
      VT.deleteWhereDeferred(spark, t, col("id") === 1)
      run() // closed, nothing current
      assert(VT.snapshot(spark, dim).filter(col("is_current")).count() == 0)
      VT.append(spark, df(1 -> "a2"), t) // the key returns
      run()
      val k1 = VT.snapshot(spark, dim).orderBy("since_version")
        .select(col("v"), col("is_current"))
        .as[(String, Boolean)].collect().toSeq
      assert(k1 == Seq(("a", false), ("a2", true)))
    }
  }

  test("maxFilesPerTrigger paces the change-feed tail by served files") {
    withDirs { (t, ck) =>
      VT.append(spark, df(1 -> "a"), t)
      enable(t)
      (2 to 4).foreach(i => VT.append(spark, df(i -> s"v$i").coalesce(1), t))
      VT.merge(spark, df(2 -> "B"), t, Seq("id"))
      val name = freshName()
      val q = spark.readStream.format("graft-versioned")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .option("maxFilesPerTrigger", "1").load(t)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        // 4 served versions (3 appends + the merge's sidecar), capped
        // at one file per batch → one version per micro-batch
        assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
        val rows = spark.table(name)
          .select(col("id"), col("_change_type"))
          .as[(Int, String)].collect().toSeq.sorted
        assert(rows == Seq((2, "insert"), (2, "update_postimage"),
          (2, "update_preimage"), (3, "insert"), (4, "insert")))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
  }

  test("schema evolution: pre-evolution sidecars null-fill new columns") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)            // v0
      enable(t)                                              // v1
      VT.deleteWhere(spark, t, col("id") === 1)              // v2
      VT.append(spark, Seq((3, "c", 30)).toDF("id", "v", "w"),
        t, mergeSchema = true)                               // v3
      val env = VT.tableChanges(spark, t, 1, 3)
        .select(col("id"), col("w"), col("_change_type"))
        .as[(Int, Option[Int], String)].collect().toSeq.sortBy(_._1)
      assert(env == Seq((1, None, "delete"), (3, Some(30), "insert")))
    }
  }

  test("one range over a subset-schema append, a mergeSchema append and " +
    "a re-typing overwrite reads in the to-version schema") {
    withDirs { (t, _) =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)                 // v0
      enable(t)                                                   // v1
      VT.append(spark, Seq(3).toDF("id"), t)                      // v2
      VT.append(spark, Seq((4, "d", 40)).toDF("id", "v", "w"), t,
        mergeSchema = true)                                       // v3
      VT.overwrite(spark, Seq((5, "e", "50")).toDF("id", "v", "w"), t,
        overwriteSchema = true)                                   // v4: w int -> string
      def read(to: Long) = {
        val tc = VT.tableChanges(spark, t, 1, to)
        val rows = tc.select(col("id"), col("v"), col("w").cast("string"),
            col("_change_type"), col("_commit_version"))
          .as[(Int, Option[String], Option[String], String, Long)]
          .collect().toSeq.sortBy(r => (r._5, r._4, r._1))
        (tc.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)),
          rows)
      }
      val (schema, rows) = read(4)
      assert(rows == Seq(
        (3, None, None, "insert", 2L),
        (4, Some("d"), Some("40"), "insert", 3L),
        (1, Some("a"), None, "delete", 4L),
        (2, Some("b"), None, "delete", 4L),
        (3, None, None, "delete", 4L),
        (4, Some("d"), Some("40"), "delete", 4L),
        (5, Some("e"), Some("50"), "insert", 4L)))
      // data columns read nullable, as a parquet footer holds them
      assert(schema == Seq(("id", "int", true), ("v", "string", true),
        ("w", "string", true), ("_change_type", "string", true),
        ("_commit_version", "bigint", false),
        ("_commit_timestamp", "timestamp", false)))
      // before the overwrite the range ends in the int-typed w
      val (schema3, rows3) = read(3)
      assert(rows3 == rows.take(2))
      assert(schema3 == Seq(("id", "int", true), ("v", "string", true),
        ("w", "int", true), ("_change_type", "string", false),
        ("_commit_version", "bigint", false),
        ("_commit_timestamp", "timestamp", false)))
    }
  }
}
