package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's public engine calls, plus an optional
  * SparkListener that attributes every job to the enclosing span and to
  * the engine module of its call site.
  *
  * A span tags the jobs it starts through the `lakebench.span` local
  * property. Wall time per span is always recorded; the listener is only
  * registered in a traced run, and then only counts while `enabled`, so
  * traced and untraced iterations can alternate inside one JVM. Every
  * aggregate lives in memory until the run writes its result.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val listener = new Listener
  @volatile var enabled: Boolean = false

  /** (span, module) → counters; read after the bus is drained. */
  val byKey: mutable.Map[(String, String), Acc] = mutable.Map.empty
  /** span → (total wall seconds, calls) over traced iterations. */
  val wall: mutable.Map[String, (Double, Int)] = mutable.Map.empty

  if (traced) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      if (enabled) {
        val (s, n) = wall.getOrElse(name, (0.0, 0))
        wall(name) = (s + dt, n + 1)
      }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Turn counting on or off at an iteration boundary. The bus is drained
    * first so the previous iteration's events land under its own flag. */
  def setEnabled(on: Boolean): Unit = {
    if (traced) org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
    enabled = traced && on
  }

  def finish(): Unit = if (traced) {
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
    sc.removeSparkListener(listener)
  }

  private final class Listener extends SparkListener {
    private val stageKey = mutable.Map.empty[Int, (String, String)]
    private val jobKey = mutable.Map.empty[Int, ((String, String), Long)]
    private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    private val execModule = mutable.Map.empty[Long, String]

    private def acc(k: (String, String)): Acc = byKey.getOrElseUpdate(k, new Acc)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val own = moduleOf(x.details)
        execModule(x.executionId) =
          if (own != "other") own
          else x.rootExecutionId.flatMap(execModule.get).getOrElse(own)
      case x: SparkListenerSQLExecutionEnd => execModule.remove(x.executionId)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Unattributed)
      // a SQL job's module is its execution's: AQE submits shuffle stages
      // from a pool thread whose own call site names no engine file
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(x => execModule.get(x.toLong))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
        .getOrElse("")
      val k = (span, exec.getOrElse(moduleOf(site)))
      jobKey(e.jobId) = (k, e.time)
      e.stageIds.foreach(s => stageKey(s) = k)
      acc(k).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobKey.remove(e.jobId).foreach { case (k, t0) =>
        acc(k).jobSeconds += (e.time - t0) / 1e3
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageKey.get(e.stageId).foreach { k =>
        val a = acc(k)
        val info = e.taskInfo
        a.tasks += 1
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          info.duration
        Option(e.taskMetrics).foreach { m =>
          a.cpuSeconds += m.executorCpuTime / 1e9
          a.gcSeconds += m.jvmGCTime / 1e3
          a.schedSeconds += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime) / 1e3
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      for (k <- stageKey.remove(id); ms <- taskMs.remove(id)
           if ms.size >= 2) {
        val sorted = ms.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        val a = acc(k)
        a.maxSkew = math.max(a.maxSkew, sorted.last.toDouble / med)
      }
    }
  }
}

object Tracer {
  val SpanKey = "lakebench.span"
  val Unattributed = "unattributed"

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var jobSeconds = 0.0
    var cpuSeconds = 0.0
    var gcSeconds = 0.0
    var schedSeconds = 0.0
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var maxSkew = 0.0
  }

  /** Engine source file → module. A job is credited to the module of the
    * innermost engine file in its call stack (`Writers.scala:30` for a
    * silver write inside `Pipeline.ingestTransactions`). Helper files
    * (`Caches`, `Stages`) are skipped so a snapshot taken inside `Dedup`
    * counts as `ext.Dedup`; stacks with no engine file count as `other`. */
  private val modules: Map[String, String] = Map(
    "DataGenerator" -> "generator",
    "DataQuality" -> "dq",
    "Pipeline" -> "pipeline",
    "SilverPipeline" -> "ops", "Transforms" -> "ops",
    "IncrementalAgg" -> "ops",
    "FintechGold" -> "gold", "Gold" -> "gold",
    "Writers" -> "io", "Maintenance" -> "io", "Upsert" -> "io",
    "VersionedTable" -> "io.VersionedTable",
    "GraftFileIndex" -> "io.VersionedTable",
    "FooterStats" -> "io.VersionedTable",
    "Monitoring" -> "monitoring",
    "TextPipeline" -> "ext.TextPipeline", "TextStats" -> "ext.TextPipeline",
    "Dedup" -> "ext.Dedup",
    "Ivf" -> "ext.Ivf", "Similarity" -> "ext.Ivf")

  private val Frame = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r

  def moduleOf(longCallSite: String): String =
    Frame.findAllMatchIn(longCallSite).map(_.group(1))
      .collectFirst { case f if modules.contains(f) => modules(f) }
      .getOrElse("other")
}
