package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  private lazy val eventsDir: String = {
    // stream source dir containing only the events table (batch-written)
    val dir = Files.createTempDirectory("events-stream").toString
    Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming hourly agg matches the batch query") {
    val stream = Streams.hourlyAgg(Streams.eventsStream(spark, eventsDir))
    runToMemory(stream, "hourly", mode = "complete")
    val got = spark.table("hourly")
      .select(col("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type")
      .as[(Timestamp, String, Long)].collect()
    val want = Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour", "event_type")
      .as[(Timestamp, String, Long)].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("streaming dedup drops duplicate keys within watermark") {
    val dir = Files.createTempDirectory("dup-stream").toString
    val base = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value").limit(100)
    base.union(base).write.mode("overwrite").parquet(dir)
    val stream = Streams.dedupByKey(Streams.eventsStream(spark, dir),
      Seq("event_id"), watermark = "1 hour")
    runToMemory(stream, "deduped")
    assert(spark.table("deduped").count() == 100)
  }

  test("dedup state is TTL'd by the watermark: a key re-emits after expiry, " +
    "a within-horizon duplicate still drops") {
    // the bounded-state trade the scaladoc documents ("state is GC'd
    // past the watermark horizon"), pinned: after the watermark passes a
    // key's sighting + delay, the state is gone and the SAME key emits
    // again; a duplicate whose original sighting is still inside the
    // horizon keeps being dropped. Cross-batch via maxFilesPerTrigger=1.
    val dir = Files.createTempDirectory("dup-ttl").toString
    def ev(id: Long, t: String) =
      (id, Timestamp.valueOf(t), 1L, "e", 1.0)
    def batch(name: String, rows: (Long, Timestamp, Long, String, Double)*)
        : Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(s"$dir/$name")
      Thread.sleep(1200) // distinct mtimes pin the file-source batch order
    }
    // batch 1: key 1 at 00:00, key 99 at 01:00 → watermark 00:50 after
    // the batch (10-minute delay)
    batch("b1", ev(1, "2024-01-01 00:00:00"), ev(99, "2024-01-01 01:00:00"))
    // batch 2 runs UNDER watermark 00:50: key 99's re-send at its
    // original time is not late (01:00 ≥ 00:50) and its state is alive
    // (expiry 01:10) — dropped; key 1's state (expiry 00:10 < 00:50) is
    // evicted during this batch. Key 50 advances the watermark to 01:20.
    batch("b2", ev(99, "2024-01-01 01:00:00"), ev(50, "2024-01-01 01:30:00"))
    // batch 3: key 1 again, long past its evicted sighting — re-emits
    // (the documented TTL trade: dedup is guaranteed only within the
    // watermark horizon; state past it is GC'd)
    batch("b3", ev(1, "2024-01-01 02:00:00"))
    val stream = Streams.dedupByKey(
      Streams.eventsStream(spark, s"$dir/*", maxFilesPerTrigger = Some(1)),
      Seq("event_id"), watermark = "10 minutes")
    runToMemory(stream, "dedup_ttl")
    val got = spark.table("dedup_ttl")
      .groupBy("event_id").count()
      .as[(Long, Long)].collect().toMap
    assert(got(99L) == 1L, s"within-horizon duplicate re-emitted: $got")
    assert(got(1L) == 2L, s"expired key did not re-emit: $got")
    assert(got(50L) == 1L, got.toString)
  }

  test("streaming parquet sink with checkpoint resumes without duplicates") {
    val out = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    def run(): Unit = {
      val q = Streams.eventsStream(spark, eventsDir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    val n = Tables.load(spark, sfDir, "events").count()
    assert(spark.read.parquet(out).count() == n)
    // re-run against the same checkpoint: no new data → no duplicates
    run()
    assert(spark.read.parquet(out).count() == n)
  }

  test("streaming merge sink upserts each micro-batch into the target") {
    val src = Files.createTempDirectory("cdc-src").toString
    val tgt = Files.createTempDirectory("cdc-tgt").toString + "/table"
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    def ev(id: Long, user: Long, sec: Int, v: Double) =
      (id, Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), user, "upd", v)
    def run(rows: Seq[(Long, Timestamp, Long, String, Double)], f: String): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$src/$f")
      val q = Streams.mergeSink(Streams.eventsStream(spark, s"$src/*"),
        tgt, keys = Seq("event_id"), orderCol = "ts", checkpoint = ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: keys 1,2 (key 1 twice — later ts must win inside the batch)
    run(Seq(ev(1, 10, 1, 1.0), ev(1, 10, 5, 7.0), ev(2, 20, 2, 2.0)), "b1")
    val after1 = graft.io.VersionedTable.snapshot(spark, tgt)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(after1 == Map(1L -> 7.0, 2L -> 2.0))
    // the first batch's rows go through merge too: an empty append that
    // records only the schema bootstraps the table
    assert(graft.io.VersionedTable.history(spark, tgt).orderBy("version")
      .select("op").as[String].collect().toSeq == Seq("append", "merge"))
    // batch 2: update key 2, insert key 3
    run(Seq(ev(2, 20, 9, 9.0), ev(3, 30, 9, 3.0)), "b2")
    val after2 = graft.io.VersionedTable.snapshot(spark, tgt)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(after2 == Map(1L -> 7.0, 2L -> 9.0, 3L -> 3.0))
  }

  test("streaming dedup ingest filters each batch against the kept index") {
    val src = Files.createTempDirectory("ingest-src").toString
    val corpus = Files.createTempDirectory("ingest-corpus").toString + "/kept"
    val index = Files.createTempDirectory("ingest-idx").toString + "/idx"
    val ckpt = Files.createTempDirectory("ingest-ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog while " +
      "spark shuffles partitions across the cluster nodes today"
    val novel1 = "completely novel text describing vector quantization " +
      "and token budget packing for pretraining corpora at scale"
    val novel2 = "another unrelated passage on streaming watermarks state " +
      "stores and exactly once sinks for incremental pipelines"
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def run(rows: Seq[(Long, String)], f: String): Unit = {
      rows.toDF("doc_id", "text").write.parquet(s"$src/$f")
      val stream = spark.readStream.schema(docSchema).parquet(s"$src/*")
      val q = Streams.dedupIngestSink(stream, corpus, index, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 2 is an in-batch near-dup of 1; 3 is novel
    run(Seq((1L, base), (2L, base + " zz"), (3L, novel1)), "b1")
    def keptIds: Seq[Long] = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptIds == Seq(1L, 3L))
    // batch 2: 10 duplicates kept 1, 12 duplicates in-batch 11
    run(Seq((10L, base + " qq"), (11L, novel2), (12L, novel2 + " rr")), "b2")
    assert(keptIds == Seq(1L, 3L, 11L))
    // replay with no new files: nothing changes
    val q3 = Streams.dedupIngestSink(
      spark.readStream.schema(docSchema).parquet(s"$src/*"), corpus, index,
      ckpt)
    q3.awaitTermination(60000)
    assert(keptIds == Seq(1L, 3L, 11L))
  }

  test("quality ingest keeps only docs clearing the classifier threshold") {
    val src = Files.createTempDirectory("qual-src").toString
    val corpus = Files.createTempDirectory("qual-corpus").toString + "/kept"
    val ckpt = Files.createTempDirectory("qual-ckpt").toString
    // train once on planted labels: alpha-vocab = quality
    val seed = (0 until 200).map { i =>
      val label = i % 2
      val word = if (label == 1) s"alpha${i % 20}" else s"beta${i % 20}"
      (i.toLong, Seq.fill(12)(word).mkString(" "), label)
    }.toDF("doc_id", "text", "label")
    val model = graft.ext.QualityClassifier.train(seed, "text", "label",
      dim = 32, maxIter = 30)
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def run(rows: Seq[(Long, String)], f: String): Unit = {
      rows.toDF("doc_id", "text").write.parquet(s"$src/$f")
      val q = Streams.qualityIngestSink(
        spark.readStream.schema(docSchema).parquet(s"$src/*"),
        corpus, ckpt, model)
      q.awaitTermination(60000)
    }
    run(Seq((1L, "alpha1 alpha2 alpha3 alpha4"),
      (2L, "beta1 beta2 beta3 beta4")), "b1")
    def kept: Map[Long, Double] = spark.read.parquet(corpus)
      .select("doc_id", "quality_p").as[(Long, Double)].collect().toMap
    assert(kept.keySet == Set(1L))
    assert(kept(1L) > 0.5)
    // batch 2 appends; batch 1's partition is untouched
    run(Seq((3L, "alpha5 alpha6 alpha7"), (4L, "beta5 beta6 beta7")), "b2")
    assert(kept.keySet == Set(1L, 3L))
    // replay with no new files: nothing changes
    val q3 = Streams.qualityIngestSink(
      spark.readStream.schema(docSchema).parquet(s"$src/*"),
      corpus, ckpt, model)
    q3.awaitTermination(60000)
    assert(kept.keySet == Set(1L, 3L))
  }

  test("semantic ingest dedups each batch against the kept embeddings") {
    val src = Files.createTempDirectory("sem-src").toString
    val corpus = Files.createTempDirectory("sem-corpus").toString + "/kept"
    val ckpt = Files.createTempDirectory("sem-ckpt").toString
    val a = Seq(1.0f, 0.5f, -0.25f, 2.0f)
    val b = Seq(-1.0f, 2.0f, 0.5f, -0.75f)
    val c = Seq(0.5f, -1.5f, 2.0f, 1.0f)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def run(rows: Seq[(Long, Seq[Float])], f: String): Unit = {
      rows.toDF("vec_id", "embedding").write.parquet(s"$src/$f")
      val q = Streams.semanticIngestSink(
        spark.readStream.schema(schema).parquet(s"$src/*"), corpus, ckpt)
      q.awaitTermination(60000)
    }
    def keptIds: Seq[Long] = spark.read.parquet(corpus)
      .select("vec_id").as[Long].collect().toSeq.sorted
    // batch 1: 2 is a scaled copy of 1 (in-batch dup); 3 is novel
    run(Seq((1L, a), (2L, a.map(_ * 2f)), (3L, b)), "b1")
    assert(keptIds == Seq(1L, 3L))
    // batch 2: 10 duplicates kept 1; 11 is novel
    run(Seq((10L, a.map(_ * 0.5f)), (11L, c)), "b2")
    assert(keptIds == Seq(1L, 3L, 11L))
    // replay with no new files: nothing changes
    val q3 = Streams.semanticIngestSink(
      spark.readStream.schema(schema).parquet(s"$src/*"), corpus, ckpt)
    q3.awaitTermination(60000)
    assert(keptIds == Seq(1L, 3L, 11L))
  }

  test("dedup ingest recovers when the banded index half is missing") {
    val src = Files.createTempDirectory("ingest2-src").toString
    val corpus = Files.createTempDirectory("ingest2-corpus").toString + "/kept"
    val index = Files.createTempDirectory("ingest2-idx").toString + "/idx"
    val base = "the quick brown fox jumps over the lazy dog while " +
      "spark shuffles partitions across the cluster nodes today"
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    Seq((1L, base), (2L, base + " zz")).toDF("doc_id", "text")
      .write.parquet(s"$src/b1")
    def runOnce(ck: String): Unit = {
      val q = Streams.dedupIngestSink(
        spark.readStream.schema(docSchema).parquet(s"$src/*"),
        corpus, index, ck)
      q.awaitTermination(60000)
    }
    runOnce(Files.createTempDirectory("ingest2-ckpt").toString)
    // simulate the crash window: the sink writes sets BEFORE banded, so a
    // crash between the two leaves a half-written index on disk
    val banded = new org.apache.hadoop.fs.Path(s"$index/banded")
    val fs = banded.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(banded, true)
    // replay: the half-written index must read as empty (not throw), the
    // batch rewrites its own ingest_batch partitions, the index heals
    runOnce(Files.createTempDirectory("ingest2-ckpt2").toString)
    val keptIds = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(keptIds == Seq(1L))
    assert(fs.exists(banded))
  }

  test("token count sink accumulates exact counts; replay never doubles") {
    val src = Files.createTempDirectory("tok-src").toString
    val store = Files.createTempDirectory("tok-store").toString + "/counts"
    val ckpt = Files.createTempDirectory("tok-ckpt").toString
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def run(rows: Seq[(Long, String)], f: String): Unit = {
      rows.toDF("doc_id", "text").write.parquet(s"$src/$f")
      val q = Streams.tokenCountSink(
        spark.readStream.schema(docSchema).parquet(s"$src/*"), store, ckpt)
      q.awaitTermination(60000)
    }
    run(Seq((1L, "a b a"), (2L, "b c")), "b1")
    run(Seq((3L, "a a b"), (4L, null.asInstanceOf[String])), "b2")
    def hh(ratio: Double): Seq[(String, Long)] =
      Streams.frequentTokensFromCounts(spark, store, ratio)
        .as[(String, Long)].collect().toSeq
    // 8 tokens total: a=4, b=3, c=1
    assert(hh(0.125) == Seq("a" -> 4L, "b" -> 3L, "c" -> 1L))
    assert(hh(0.3) == Seq("a" -> 4L, "b" -> 3L))
    // replay with no new files: counts unchanged (no doubling)
    val q3 = Streams.tokenCountSink(
      spark.readStream.schema(docSchema).parquet(s"$src/*"), store, ckpt)
    q3.awaitTermination(60000)
    assert(hh(0.125) == Seq("a" -> 4L, "b" -> 3L, "c" -> 1L))
    // batch parity: the streamed store answers exactly what the batch
    // operator computes over the full corpus at the same threshold
    val batchAnswer = graft.ext.HeavyHitters.frequentTokens(
      Seq((1L, "a b a"), (2L, "b c"), (3L, "a a b")).toDF("doc_id", "text"),
      "text", minFreqRatio = 0.3, capacity = 16)
      .as[(String, Long)].collect().toSeq
    assert(hh(0.3) == batchAnswer)
  }

  test("drift monitor scores batches against the fixed reference; replay-safe") {
    val src = Files.createTempDirectory("drift-src").toString
    val store = Files.createTempDirectory("drift-store").toString + "/metrics"
    val ckpt = Files.createTempDirectory("drift-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v DOUBLE")
    val ref = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    def run(rows: Seq[(Long, Double)], f: String): Unit = {
      rows.toDF("id", "v").write.parquet(s"$src/$f")
      val q = Streams.driftMonitorSink(
        spark.readStream.schema(schema).parquet(s"$src/*"), ref, "v",
        store, ckpt)
      q.awaitTermination(60000)
    }
    // batch 0: same distribution as the reference -> psi ~ 0
    run((1 to 1000).map(i => (i.toLong, i.toDouble)), "b0")
    // batch 1: shifted far right -> psi past the 0.25 drift bar
    run((1 to 1000).map(i => (2000L + i, i + 900.0)), "b1")
    val m = spark.read.parquet(store)
      .select("ingest_batch", "n_cur", "psi")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m.size == 2)
    assert(m(0L)._1 == 1000L)
    assert(math.abs(m(0L)._2.get) < 0.001)
    assert(m(1L)._2.get > 0.25)
    // replay with no new files: still exactly one row per batch
    val q3 = Streams.driftMonitorSink(
      spark.readStream.schema(schema).parquet(s"$src/*"), ref, "v",
      store, ckpt)
    q3.awaitTermination(60000)
    assert(spark.read.parquet(store).count() == 2)
  }

  test("stream-stream interval join attributes right events to left") {
    val lDir = Files.createTempDirectory("ss-left").toString
    val rDir = Files.createTempDirectory("ss-right").toString
    def ev(id: Long, user: Long, sec: Int, typ: String) =
      (id, Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d"),
        user, typ, 1.0)
    // left purchase at t=300; right clicks at t=60 (in 5-min window),
    // t=299 (in), t=301 (after → out), different user t=200 (out)
    Seq(ev(100, 1, 300, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(lDir)
    Seq(ev(1, 1, 60, "click"), ev(2, 1, 299, "click"),
      ev(3, 1, 301, "click"), ev(4, 2, 200, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(rDir)
    val joined = Streams.intervalJoin(
      Streams.eventsStream(spark, lDir), Streams.eventsStream(spark, rDir),
      rangeSeconds = 300, watermark = "1 hour")
    runToMemory(joined, "attributed")
    val got = spark.table("attributed")
      .select("l_event_id", "r_event_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (100L, 2L)))
  }

  test("stateful sessionize emits gap-separated sessions") {
    val dir = Files.createTempDirectory("sess-stream").toString
    def ev(id: Long, user: Long, minute: Long) =
      Streams.Event(id, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), user, "click", 1.0)
    // user 1: events at 0,10 min (session A), then 120,125 (session B)
    // user 2: single event (session C); plus a far-future row to advance
    // the watermark past all gaps so sessions A/B/C all time out and emit.
    val rows = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 120), ev(4, 1, 125),
      ev(5, 2, 30), ev(6, 99, 2000))
    rows.toDS().toDF().write.mode("overwrite").parquet(dir)
    val stream = Streams.sessionize(
      Streams.eventsStream(spark, dir).as[Streams.Event], gapSeconds = 1800,
      watermark = "0 seconds")
    runToMemory(stream.toDF(), "sessions")
    val got = spark.table("sessions")
      .filter(col("user_id").isin(1L, 2L))
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long)].collect()
    assert(got.length == 3)
    assert(got(0)._4 == 2) // user1 session A: 2 events
    assert(got(1)._4 == 2) // user1 session B: 2 events
    assert(got(2)._4 == 1) // user2: 1 event
  }

  test("sessionize: an in-watermark straggler older than the open " +
    "session forms its own island, not a bogus merge") {
    val dir = Files.createTempDirectory("sess-ooo").toString
    def ev(id: Long, user: Long, time: String) =
      Streams.Event(id, Timestamp.valueOf(time), user, "click", 1.0)
    def land(evs: Streams.Event*): Unit =
      evs.toSeq.toDS().toDF().write.mode("append").parquet(dir)
    // batch 1: the open session [12:00:00, 12:00:30]
    land(ev(1, 1, "2024-01-01 12:00:00"), ev(2, 1, "2024-01-01 12:00:30"))
    val q = Streams.sessionize(
      Streams.eventsStream(spark, dir).as[Streams.Event],
      gapSeconds = 60, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a legal straggler at 11:52 (>= the 11:50:30 watermark)
      // — 8 minutes BEFORE the open session with a 60s gap. The old
      // fold's `t - end <= gap` was satisfied by the negative delta and
      // glued it on, reporting ONE session of 3 starting 11:52.
      land(ev(3, 1, "2024-01-01 11:52:00"), ev(4, 99, "2024-01-01 13:00:00"))
      q.processAllAvailable()
      // batch 3: push the watermark far past every gap so timeouts fire
      land(ev(5, 99, "2024-01-01 15:00:00"))
      q.processAllAvailable()
      val got = spark.table("sess_ooo").filter(col("user_id") === 1L)
        .orderBy("session_start")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
      assert(got.map(_._4) == Seq(1L, 2L), got.toString) // two sessions
      assert(got(0)._2 == Timestamp.valueOf("2024-01-01 11:52:00"))
      assert(got(1)._2 == Timestamp.valueOf("2024-01-01 12:00:00"))
      assert(got(1)._3 == Timestamp.valueOf("2024-01-01 12:00:30"))
    } finally { q.stop(); spark.catalog.dropTempView("sess_ooo") }
  }

  test("sessionize maxOpenIslands=2: same-island stragglers across two " +
    "micro-batches merge into ONE session (matching the batch twin)") {
    val dir = Files.createTempDirectory("sess-k2").toString
    def ev(id: Long, user: Long, time: String) =
      Streams.Event(id, Timestamp.valueOf(time), user, "click", 1.0)
    def land(evs: Streams.Event*): Unit =
      evs.toSeq.toDS().toDF().write.mode("append").parquet(dir)
    // batch 1: the open (newest) session [12:00:00, 12:00:30], gap 60s
    land(ev(1, 1, "2024-01-01 12:00:00"), ev(2, 1, "2024-01-01 12:00:30"))
    val q = Streams.sessionize(
      Streams.eventsStream(spark, dir).as[Streams.Event],
      gapSeconds = 60, watermark = "10 minutes", maxOpenIslands = 2)
      .toDF().writeStream.format("memory").queryName("sess_k2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a legal straggler at 11:52:00 opens an EARLIER island.
      // At K=1 it would close at batch end; at K=2 it stays open.
      land(ev(3, 1, "2024-01-01 11:52:00"))
      q.processAllAvailable()
      // batch 3: a second straggler of the SAME island (within the 60s
      // gap of 11:52:00) in a DIFFERENT micro-batch — the documented
      // K=1 split; K=2 must merge it into the still-open island
      land(ev(4, 1, "2024-01-01 11:52:30"))
      q.processAllAvailable()
      // push the watermark past every gap horizon so timeouts fire
      land(ev(5, 99, "2024-01-01 15:00:00"))
      q.processAllAvailable()
      val got = spark.table("sess_k2").filter(col("user_id") === 1L)
        .orderBy("session_start")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
      // exactly what q21's batch gap-and-islands computes on these rows:
      // [11:52:00, 11:52:30] n=2 and [12:00:00, 12:00:30] n=2
      assert(got.size == 2, got.toString)
      assert(got(0)._2 == Timestamp.valueOf("2024-01-01 11:52:00") &&
        got(0)._3 == Timestamp.valueOf("2024-01-01 11:52:30") &&
        got(0)._4 == 2L, got.toString)
      assert(got(1)._2 == Timestamp.valueOf("2024-01-01 12:00:00") &&
        got(1)._3 == Timestamp.valueOf("2024-01-01 12:00:30") &&
        got(1)._4 == 2L, got.toString)
    } finally { q.stop(); spark.catalog.dropTempView("sess_k2") }
  }

  test("native session_window agrees with stateful sessionize modulo gap") {
    val dir = Files.createTempDirectory("sw-stream").toString
    def ev(id: Long, user: Long, minute: Long, v: Double) =
      Streams.Event(id, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), user, "click", v)
    val rows = Seq(ev(1, 1, 0, 1.5), ev(2, 1, 10, 2.5), ev(3, 1, 120, 1.0),
      ev(4, 1, 125, 4.0), ev(5, 2, 30, 3.0), ev(6, 99, 2000, 0.0))
    rows.toDS().toDF().write.mode("overwrite").parquet(dir)
    val stream = Streams.sessionWindowAgg(Streams.eventsStream(spark, dir),
      gap = "30 minutes", watermark = "0 seconds")
    runToMemory(stream, "swagg")
    val got = spark.table("swagg")
      .filter(col("user_id").isin(1L, 2L))
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
    assert(got.length == 3)
    // session bounds: start = first event; end = last event + gap
    assert(got(0)._2 == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(got(0)._3 == Timestamp.valueOf("2024-01-01 00:40:00"))
    assert(got(0)._4 == 2 && got(0)._5 == 4.0)
    assert(got(1)._2 == Timestamp.valueOf("2024-01-01 02:00:00"))
    assert(got(1)._4 == 2 && got(1)._5 == 5.0)
    assert(got(2)._4 == 1 && got(2)._5 == 3.0)
  }

  test("sketch rollup sink: partials fold to whole-stream stats; replay-safe") {
    val src = Files.createTempDirectory("skr-src").toString
    val table = Files.createTempDirectory("skr-store").toString + "/metrics"
    val ckpt = Files.createTempDirectory("skr-ckpt").toString
    // two micro-batches over the same hour + one other hour; user ids
    // overlap across batches so only a true sketch merge dedups them
    def ev(id: Long, user: Long, sec: Int, typ: String, v: Double) =
      (id, Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d"), user, typ, v)
    val b1 = (0 until 200).map(i => ev(i, i % 50, i, "click", i.toDouble))
    val b2 = (200 until 400).map(i =>
      ev(i, i % 80, i, "click", i.toDouble)) :+
      (400L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L, "view", 1.0)
    def run(rows: Seq[(Long, Timestamp, Long, String, Double)], f: String): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$src/$f")
      val q = Streams.sketchRollupSink(
        spark.readStream.schema(Streams.eventsSchema).parquet(s"$src/*"),
        table, ckpt)
      q.awaitTermination(60000)
    }
    run(b1, "b1")
    run(b2, "b2")
    val versionsAfter = graft.io.VersionedTable.latestVersion(table).get
    def read: Map[(Timestamp, String), (Long, Long, Double, Double)] =
      Streams.sketchRollupRead(spark, table, Seq(0.5, 0.95))
        .as[(Timestamp, String, Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    val first = read
    val clicks = first((Timestamp.valueOf("2024-01-01 10:00:00"), "click"))
    assert(clicks._1 == 400)        // exact count across both batches
    // distinct users = 80 (batch-2 ids 0..79 cover batch-1's 0..49):
    // HLL at lgK=12 is exact-ish at this cardinality
    assert(math.abs(clicks._2 - 80L) <= 2, s"users ${clicks._2}")
    // values 0..399 uniformly: p50 ≈ 200, p95 ≈ 380 (KLL exact at n=400)
    assert(math.abs(clicks._3 - 200.0) < 8 && math.abs(clicks._4 - 380.0) < 8)
    assert(first((Timestamp.valueOf("2024-01-01 11:00:00"), "view"))._1 == 1)
    // replay with no new files: no new versions, identical answers
    val q3 = Streams.sketchRollupSink(
      spark.readStream.schema(Streams.eventsSchema).parquet(s"$src/*"),
      table, ckpt)
    q3.awaitTermination(60000)
    assert(graft.io.VersionedTable.latestVersion(table).get == versionsAfter)
    assert(read((Timestamp.valueOf("2024-01-01 10:00:00"), "click"))._1 == 400)
  }
}
