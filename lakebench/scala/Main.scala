package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM: `Main <params.json> <result.json>`.
  *
  * The params file (written by `run.py`) names the workload, the seed, the
  * measuring window, the sizes and the seeded plan of planted facts. This
  * side only drives the engine's public entry points and times them; the
  * output checks and the metric arithmetic live in the Python package.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: lakebench.Main <params.json> <result.json>")
    val p = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val cores = p.get("cores").asInt()
    val spark = GraftSession.local("lakebench", cores)
    val sessionSeconds = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(spark, p)
    val parts: Seq[Part] = p.get("workload").asText() match {
      case "lakehouse" => Seq(Medallion, CdcMerge)
      case "corpus_search" => Seq(CorpusCurate, VectorSearch)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      val prepared = run.setup(dir => parts.map { part =>
        run.beginPart(part.name)
        part.prepare(run, dir)
      })
      parts.zip(prepared).foreach { case (part, state) =>
        run.beginPart(part.name)
        part.measure(run, state.asInstanceOf[part.State])
      }
    } finally run.tracer.finish()
    run.out("session_s") = sessionSeconds
    run.out("peak_rss_mb") = peakRssMb()
    run.out("heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    run.out("storage_pool_mb") = spark.sparkContext.getExecutorMemoryStatus
      .values.map(_._1).sum / 1048576.0
    run.write(args(1))
    spark.stop()
  }

  /** VmHWM of this JVM: the resident-set high-water mark, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** State of one run: the timed-operation log, the tracer, the seeded plan
  * and the result fields the workload fills in. */
final class Run(val spark: SparkSession, val params: JsonNode) {
  private val traceRun = params.get("trace").asBoolean()
  val tracer = new Tracer(spark, traceRun)
  val work: String = params.get("work").asText()
  val seed: Int = params.get("seed").asInt()

  val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var windowStart = 0L
  private var iteration = 0
  private var part = ""
  private var cfg: JsonNode = params

  /** A setting of the current part (its section of the params). */
  def long(key: String): Long = cfg.get(key).asLong()
  def int(key: String): Int = cfg.get(key).asInt()
  def node(key: String): JsonNode = cfg.get(key)

  /** Switch to a part: its settings, and a fresh measuring window. */
  def beginPart(name: String): Unit = {
    part = name
    cfg = params.get(name)
    windowStart = 0L
    iteration = 0
  }

  /** Prepare the inputs `setupRepeats` times, each into a fresh directory,
    * and keep the last; `setup_prep_s` holds every preparation time. The
    * generator span is traced on the last preparation only. */
  def setup[T](prepare: String => T): T = {
    val setupRepeats = params.get("setup_repeats").asInt()
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (i <- 0 until setupRepeats) {
      val dir = s"$work/setup_$i"
      tracer.setEnabled(i == setupRepeats - 1)
      val t0 = System.nanoTime()
      last = Some(prepare(dir))
      times += (System.nanoTime() - t0) / 1e9
      if (i < setupRepeats - 1) Fs.delete(dir)
    }
    tracer.setEnabled(false)
    out("setup_prep_s") = times.toSeq
    last.get
  }

  /** True while the part's measuring window still has time left, or its
    * loop has not yet run its minimum number of iterations. A traced run
    * needs a warm-up iteration plus one traced and one untraced iteration
    * to state the tracing overhead. */
  def timeLeft: Boolean = {
    if (windowStart == 0L) windowStart = System.nanoTime()
    val minIterations = math.max(int("min_iterations"), if (traceRun) 3 else 1)
    iteration < minIterations ||
      (System.nanoTime() - windowStart) / 1e9 < cfg.get("seconds").asDouble()
  }

  /** Time one operation. In a traced run loop iteration 0 warms up
    * untraced, then traced and untraced iterations alternate, so the
    * result can state the tracing overhead; one-off operations are always
    * traced. An operation that throws, or whose `didWork` check fails,
    * counts as failed — a no-op is not a fast run. */
  def timed[T](op: String, rows: Long, loop: Boolean = true)(body: => T)(
      didWork: T => Boolean): Option[T] = {
    if (windowStart == 0L) windowStart = System.nanoTime()
    val traced = traceRun && (!loop || iteration % 2 == 1)
    if (loop) iteration += 1
    tracer.setEnabled(traced)
    val t0 = System.nanoTime()
    val res = scala.util.Try(body)
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.setEnabled(false)
    val ok = res.toOption.exists(didWork)
    res.failed.foreach(e => errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}")
    if (res.isSuccess && !ok) errors += s"$op: returned no work"
    ops += Map("part" -> part, "op" -> op, "s" -> dt, "ok" -> ok,
      "rows" -> rows, "traced" -> traced, "loop" -> loop)
    if (ok) res.toOption else None
  }

  /** A wrong value seen inside the JVM (e.g. a point read). */
  def mismatch(msg: String): Unit = errors += s"check: $msg"

  def write(path: String): Unit = {
    out("ops") = ops.toSeq
    out("errors") = errors.toSeq
    out("spans") = tracer.wall.map { case (k, (s, n)) =>
      k -> Map("wall_s" -> s, "calls" -> n) }.toMap
    out("acc") = tracer.byKey.toSeq.map { case ((span, module), a) => Map(
      "span" -> span, "module" -> module, "jobs" -> a.jobs,
      "tasks" -> a.tasks, "job_s" -> a.jobSeconds, "cpu_s" -> a.cpuSeconds,
      "gc_s" -> a.gcSeconds, "sched_s" -> a.schedSeconds,
      "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "spill_bytes" -> a.spillBytes, "input_bytes" -> a.inputBytes,
      "output_bytes" -> a.outputBytes, "max_skew" -> a.maxSkew) }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(path).toFile, Json.toJava(out.toMap))
  }
}

/** One part of a workload: inputs prepared in set-up, then measured. */
trait Part {
  type State
  def name: String
  def prepare(r: Run, dir: String): State
  def measure(r: Run, state: State): Unit
}

object Json {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq
}

object Fs {
  private def walk[T](path: String, ifMissing: T)(
      f: java.util.stream.Stream[java.nio.file.Path] => T): T = {
    val p = Paths.get(path)
    if (!Files.exists(p)) ifMissing
    else {
      val s = Files.walk(p)
      try f(s) finally s.close()
    }
  }

  def delete(path: String): Unit = walk(path, ()) { s =>
    s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** Total bytes of the files under `path`. */
  def bytes(path: String): Long = walk(path, 0L) { s =>
    s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
  }
}
