package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.io.{VersionedTable => VT}
import graft.util.Stages

/** `util.Stages` is the one stage timer: its line format, its property
  * gate, and a guard that keeps the copy-pasted timers from growing back
  * in `src/main`. */
class StagesSpec extends SparkSpec {
  import spark.implicits._

  private val Prop = "graft.bench.stages"

  /** Runs `body` with the property set (or cleared), restoring it after,
    * and returns the stdout lines it printed. */
  private def captured(on: Boolean)(body: => Unit): Seq[String] = {
    val prev = sys.props.get(Prop)
    if (on) sys.props(Prop) = "true" else sys.props -= Prop
    val buf = new ByteArrayOutputStream
    try Console.withOut(buf)(body)
    finally prev match {
      case Some(v) => sys.props(Prop) = v
      case None => sys.props -= Prop
    }
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private val Line = """bench-stage (\S+) (\S+) (\d+\.\d{3})""".r

  test("Stages.time prints one bench-stage line when on, none when off") {
    var out = 0
    val on = captured(on = true) { out = Stages.time("g", "seg")(41 + 1) }
    assert(out == 42)
    assert(on.size == 1)
    on.head match {
      case Line(g, seg, _) => assert(g == "g" && seg == "seg")
      case other => fail(s"unexpected line: $other")
    }
    val off = captured(on = false) { out = Stages.time("g", "seg")(7) }
    assert(out == 7 && off.isEmpty)
  }

  test("Stages.time propagates the body's exception and still prints") {
    var thrown: Option[Throwable] = None
    val lines = captured(on = true) {
      try Stages.time("g", "boom")(throw new IllegalStateException("x"))
      catch { case e: IllegalStateException => thrown = Some(e) }
    }
    assert(thrown.exists(_.getMessage == "x"))
    assert(lines.size == 1 && lines.head.startsWith("bench-stage g boom "))
  }

  test("VersionedTable row-level writes print vt <op>.<seg> lines") {
    TestDirs.withTempDir("graft-stages") { dir =>
      val t = dir.resolve("t").toString
      VT.append(spark, Seq(1 -> "a", 2 -> "b").toDF("id", "v"), t)
      val writes = Seq[(String, () => Any)](
        "merge" -> (() => VT.merge(spark,
          Seq(2 -> "B", 3 -> "c").toDF("id", "v"), t, Seq("id"))),
        "delete" -> (() => VT.deleteWhere(spark, t, col("id") === 1)),
        "apply_changes" -> (() => VT.applyChanges(spark,
          Seq((4, "d", "insert")).toDF("id", "v", "_change_type"), t,
          Seq("id"), "stages", 1L)))
      for ((op, write) <- writes) {
        val lines = captured(on = true)(write())
        val segs = lines.collect { case Line("vt", seg, _) => seg }
        // no CDF on this table, so no cdf-capture segment
        assert(segs == Seq("merge.hit-scan", "merge.write", "merge.stats",
          "merge.blooms", "merge.commit").map(_.replace("merge.", s"$op.")))
      }
      assert(VT.snapshot(spark, t).count() == 3)
    }
  }

  test("only util/Stages.scala reads graft.bench.stages; no onStage hook") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val stages = root.resolve("graft/util/Stages.scala")
    assert(files.contains(stages))
    // a read is any mention of the property that is not setting it
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if (f != stages && line.contains("\"" + Prop + "\"") &&
          !line.contains("System.setProperty(")) ||
        """\bonStage\b""".r.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
