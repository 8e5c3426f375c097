package kgbench

import org.apache.spark.sql.SparkSession
import graft.HostMeter

/** KG-construction benchmark: one JVM, `local[4]`, closed loop from one
  * driver thread.
  *
  * {{{
  *   kgbench.Main --workload kg_build|kg_link|kg_maintain|all --seed N
  *                --seconds S --trace 0|1 --work DIR [--trace-dir DIR]
  * }}}
  *
  * Untraced (`--trace 0`) runs give the end-to-end metrics; a traced run
  * (`--trace 1`) times each layer call as a span, forces each layer's
  * output at its boundary, charges Spark task metrics to spans through a
  * listener, and reports the per-layer metrics instead. The last stdout
  * line is the result object; the lines before it carry input sizes,
  * host context, sample counts and (traced) layer shares.
  */
object Main {

  val Workloads = Seq("kg_build", "kg_link", "kg_maintain")

  /** End-to-end metrics (untraced runs), with units. */
  val EndToEnd = Seq("setup_s" -> "s", "build_cpu_s" -> "s", "consumer_cpu_s" -> "s")

  /** The reference core speed, as a `Meter.refSpinS` time (it reads about
    * 0.09 s on the 4-core Xeon host the benchmark was tuned on). The CPU
    * metrics are reported at this speed: the run's median CPU per
    * operation times `RefSpinS` ÷ the median `ref_spin_s` sampled beside
    * them. */
  val RefSpinS = 0.08
  private val AtRefSpeed = Set("build_cpu_s", "consumer_cpu_s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceDir: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(w == "all" || Workloads.contains(w), s"unknown workload $w")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toInt, trace == "1", need("work"),
      m.get("trace-dir"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  final case class Result(workload: String, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val names = if (o.workload == "all") Workloads else Seq(o.workload)
    val results = names.zipWithIndex.map { case (n, k) =>
      runWorkload(spark, n, o, if (k == 0) sessionS else 0.0)
    }
    spark.stop()
    val metrics =
      if (results.length == 1) results.head.metrics
      else results.flatMap(r => r.metrics.map { case (m, v, u) => (s"${r.workload}.$m", v, u) })
    val attempted = results.map(_.attempted).sum
    val failed = results.map(_.failed).sum
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.map { case (m, v, u) =>
        s""""$m": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")}}}""")
  }

  def runWorkload(spark: SparkSession, name: String, o: Opts, sessionS: Double): Result = {
    val w = name match {
      case "kg_build" => new KgBuild(spark, o.seed, o.work)
      case "kg_link" => new KgLink(spark, o.seed, o.work)
      case _ => new KgMaintain(spark, o.seed, o.work, o.seconds)
    }
    val tr = if (o.trace) new SpanTracer(spark.sparkContext, name) else Tracer.Off
    // set-up: the input generation, then the warm-up iterations that fill
    // caches and compile the hot paths; their operations and checks
    // count, their times and counts do not
    val rec = new Recorder
    val tGen = System.nanoTime()
    val sizes = w.prepare()
    val genS = (System.nanoTime() - tGen) / 1e9
    rec.timing = false
    val tWarm = System.nanoTime()
    (0 until w.warmUps).foreach(_ => w.iteration(-1, tr, rec))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    rec.timing = true
    println(s"""{"workload": "$name", "seed": ${o.seed}, "inputs": {${
      sizes.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}}""")
    tr match { case s: SpanTracer => s.reset() case _ => }

    val calibMs = HostMeter.calibSpinMs()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    val (iters, busy, steal) = HostMeter.during {
      var i = 0
      while (i < w.maxIters && (i < (if (o.trace) 1 else w.minIters) || elapsed < o.seconds)) {
        tr match { case s: SpanTracer => s.iter = i case _ => }
        w.iteration(i, tr, rec)
        i += 1
      }
      i
    }
    val measuredS = elapsed
    val tChecks = System.nanoTime()
    println(f"""{"workload": "$name", "host": {"busy_pct": $busy%.2f, "steal_pct": $steal%.3f, """ +
      f""""calib_spin_ms": $calibMs%.1f, "iterations": $iters, "measured_s": $measuredS%.2f}}""")
    w.finalChecks(rec)
    val checksS = (System.nanoTime() - tChecks) / 1e9

    val metrics = tr match {
      case s: SpanTracer =>
        Report.perLayer(s, rec, measuredS,
          o.traceDir.map(d => s"$d/$name-seed${o.seed}.jsonl"))
      case _ =>
        val ms = EndToEnd.map { case (m, u) =>
          val v = if (m == "setup_s") sessionS + genS + warmS
            else if (AtRefSpeed(m))
              median(rec.samples(m).toSeq) * RefSpinS / median(rec.samples("ref_spin_s").toSeq)
            else median(rec.samples(m).toSeq)
          (m, v, u)
        }
        println(s"""{"workload": "$name", "samples": {${rec.samples.map { case (m, xs) =>
          s""""$m": {"n": ${xs.length}, "median": ${Json.num(median(xs.toSeq))}, """ +
            s""""all": [${xs.map(Json.num).mkString(", ")}]}"""
        }.mkString(", ")}}, "generate_s": ${Json.num(genS)}, """ +
          s""""warm_up_s": ${Json.num(warmS)}, "session_s": ${Json.num(sessionS)}, """ +
          s""""checks_s": ${Json.num(checksS)}}""")
        ms
    }
    println(s"""{"workload": "$name", "error_rate": ${
      Json.num(rec.failed.toDouble / math.max(1, rec.attempted))}, "failures": [${
      rec.failures.map(Json.str).mkString(", ")}]}""")
    Result(name, rec.attempted, rec.failed, metrics)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
