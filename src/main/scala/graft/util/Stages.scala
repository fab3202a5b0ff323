package graft.util

/** The one stage timer. With the `graft.bench.stages` property set to
  * `true` (Bench and TaskCount set it), prints one
  * `bench-stage <group> <seg> <sec>` line per call, also when the body
  * throws, so a regression names its SEGMENT (shingle pass vs candidate
  * join, hit scan vs commit, encode vs probe), not just the query total.
  * Free when the property is unset; plain text above the bench machine
  * line, never in the JSON. No other code reads the property. */
object Stages {
  def time[T](group: String, seg: String)(body: => T): T =
    if (sys.props.get("graft.bench.stages").contains("true")) {
      val t0 = System.nanoTime()
      try body finally println("bench-stage " + group + " " + seg + " " +
        Fmt.fmt("%.3f", (System.nanoTime() - t0) / 1e9))
    } else body
}
