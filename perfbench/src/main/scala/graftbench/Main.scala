package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** The benchmark's engine process: one workload, one closed-loop client
  * (the next operation starts when the previous one returns), driving
  * graft only through its public API. Inputs come from the directory
  * `perfbench/gen.py` wrote; outputs (run.json, results.jsonl and, when
  * traced, spans.jsonl / jobs.jsonl) go to `--out`.
  *
  * Usage: graftbench.Main --workload W --in DIR --out DIR --seconds S
  *   --trace 0|1 --cpus N --local DIR --warehouse DIR */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opt("trace") == "1", opt("out"))
    val in = opt("in")
    val seconds = opt("seconds").toDouble
    try {
      opt("workload") match {
        case "sql_read" => SqlWorkloads.read(run, in, seconds)
        case "sql_write" => SqlWorkloads.write(run, in, seconds)
        case "pipeline" => Pipeline.run(run, in, opt("out"))
        case "serving" => Serving.run(run, in, seconds)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.writeResults()
      run.finish(run.heapRetainedMb())
    } finally spark.stop()
  }

  /** Deadline loops: untimed whole rounds for `warmUpS` seconds (none
    * when 0), then measured whole rounds until `seconds` have passed (at
    * least one), so every run attempts the same operations per round.
    * `round` gets one running index over both. */
  def rounds(run: Run, seconds: Double, warmUpS: Double = 0.0)(
      round: Int => Unit): Unit = {
    var r = 0
    def loop(s: Double, atLeastOne: Boolean)(timed: Double => Unit): Unit = {
      val deadline = System.nanoTime() + (s * 1e9).toLong
      var first = atLeastOne
      while (first || System.nanoTime() < deadline) {
        val (_, t) = run.seconds(round(r))
        timed(t)
        r += 1
        first = false
      }
    }
    run.phase = "warmup"
    loop(warmUpS, atLeastOne = false)(_ => ())
    run.startMeasuring()
    loop(seconds, atLeastOne = true)(run.rounds += _)
    run.stopMeasuring()
  }

  /** Traced runs only: force physical planning of a lazy frame in its
    * own span and record the optimized plan's scan leaves and
    * Catalyst's phase times. */
  def optimize(run: Run, df: DataFrame): Unit =
    if (run.traced) run.span("catalyst.optimize") {
      val qe = castToImpl(df).queryExecution
      qe.executedPlan
      run.attr("leaves", qe.optimizedPlan.collectLeaves().size)
      qe.tracker.phases.foreach { case (p, s) =>
        run.attr(s"phase_ms.$p", s.durationMs)
      }
    }
}
