package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** The dev profiler: `runMain graft.TaskCount q29 fx5_... ...` runs each
  * named SparkEntry query (or Bench fixture key) on SPARK_GRAFT_SF_DIR
  * (default sf0.1) in one warmed session and prints its wall time and row
  * count, the `bench-stage` lines of [[graft.util.Stages]], how many jobs
  * / stages / tasks it launched and the aggregate task run time — the
  * numbers that separate "the work got slower" from "we paid per-task
  * scheduling overhead on near-empty tasks" (guide §1.1/§2.2).
  *
  * Environment: SPARK_GRAFT_CPUS (local threads, default 32),
  * SPARK_GRAFT_SUBLINEAR=true (time the ANN queries at Bench's sub-linear
  * operating point) and SPARK_GRAFT_TIMEQ_CONF="k=v,k=v" (runtime SQL
  * confs applied to the session before the timed runs). */
object TaskCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // set here, not by -D: that route dies at sbt's fork boundary
    System.setProperty("graft.bench.stages", "true")
    if (sys.env.get("SPARK_GRAFT_SUBLINEAR").exists(_ == "true"))
      System.setProperty("graft.ann.sublinear", "true")
    val spark = GraftSession.local("graft-taskcount",
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32))
    sys.env.get("SPARK_GRAFT_TIMEQ_CONF").foreach(_.split(',')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val deserNanos = new AtomicLong
    val gcMillis = new AtomicLong
    // per-stage attribution: stageId -> (name, tasks, runMs, cpuMs)
    val byStage = new ConcurrentHashMap[Int, (String, Long, Long, Long)]()
    val stageNames = new ConcurrentHashMap[Int, String]()
    // job callsites with wall attribution: jobId -> (site, t0)
    val jobSites = new ConcurrentHashMap[Int, (String, Long)]()
    val bySite = new ConcurrentHashMap[String, (Long, Long)]() // n, wallMs
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption
            .map(_.name.takeWhile(_ != '\n').take(60)))
          .getOrElse("?")
        jobSites.put(j.jobId, (site, System.nanoTime()))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobSites.remove(j.jobId)).foreach { case (site, t0) =>
          val ms = (System.nanoTime() - t0) / 1000000L
          bySite.merge(site, (1L, ms),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
        ()
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stageNames.put(s.stageInfo.stageId,
          s.stageInfo.name.takeWhile(_ != '\n').take(60))
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          deserNanos.addAndGet(m.executorDeserializeTime * 1000000L)
          gcMillis.addAndGet(m.jvmGCTime)
          byStage.merge(t.stageId,
            (stageNames.getOrDefault(t.stageId, "?"), 1L,
              m.executorRunTime, m.executorCpuTime / 1000000L),
            (a, b) => (a._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fixtures = (graft.queries.VersionedQueries.fixtureGroups ++
      graft.queries.VectorQueries.fixtureGroups).toMap
    args.foreach { name =>
      val fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame =
        SparkEntry.queries.getOrElse(name,
          // fixture keys profile their build (counted as 0 rows)
          (s, d) => { fixtures(name)(s, d); s.range(0).toDF() })
      // settle listener events from the previous query (the bus is
      // private[spark]; a short quiesce is enough for a dev profiler)
      Thread.sleep(500)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskNanos.set(0); deserNanos.set(0); gcMillis.set(0)
      byStage.clear(); stageNames.clear(); bySite.clear(); jobSites.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[taskcount] $name wall=$wall%.2f s jobs=${jobs.get}%d " +
        f"stages=${stages.get}%d tasks=${tasks.get}%d " +
        f"taskTime=${taskNanos.get / 1e9}%.2f s " +
        f"deser=${deserNanos.get / 1e9}%.2f s " +
        f"gc=${gcMillis.get / 1e3}%.2f s ($n rows)")
      import scala.jdk.CollectionConverters._
      byStage.asScala.toSeq.sortBy(-_._2._3).take(6).foreach {
        case (sid, (nm, nt, runMs, cpuMs)) =>
          println(f"[taskcount]   stage $sid%4d tasks=$nt%4d " +
            f"run=${runMs / 1e3}%7.2f s cpu=${cpuMs / 1e3}%7.2f s  $nm")
      }
      bySite.asScala.toSeq.sortBy(-_._2._2).take(10).foreach {
        case (site, (nj, wallMs)) =>
          println(f"[taskcount]   jobs $nj%3d wall=${wallMs / 1e3}%7.2f s  $site")
      }
    }
    spark.stop()
  }
}
