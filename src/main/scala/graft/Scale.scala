package graft

import java.nio.file.{Files, Paths}

/** Scaling-efficiency evidence for the north rule ("throughput scaling
  * efficiency ≥ 0.8 between N and 4N executors", BASELINE.json), by the
  * multi-JVM protocol pre-registered in BENCH.md. The gate is closed
  * (recorded unmeetable on the shared host after two pre-registered
  * failures); this main reproduces the record and is not to be re-run
  * against it.
  *
  * No real multi-node cluster exists in this sandbox, so each round
  * times 1 × local[N] JVM against 4 CONCURRENT local[N] JVMs, each a
  * separate OS process with its own pre-touched 6 GB heap — the
  * single-box proxy for "N executors vs 4N executors" (a cluster's
  * executors are separate JVMs on separate heaps). Every child runs a
  * warm-up over 10 % of the pages, then ONE timed flagship pass over the
  * same fixed parquet pages (graft.PagesGen). A round's efficiency is
  * t1 / max(t4_i); the graded statistic is the median over rounds.
  * Per-pass numbers go to stderr, the final JSON line to stdout.
  *
  * Usage: runMain graft.Scale <N> <rounds> <pagesParquet>
  */
object Scale {

  /** JDK17 module opens Spark needs outside spark-submit — mirrors
    * build.sbt (forked child JVMs don't inherit sbt's javaOptions). */
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Child-JVM entry: a warm-up pass over ~10% of the corpus (cluster
    * executors at the 100 TB design point run JIT-warm for hours —
    * steady state is the honest regime, and both cluster sizes get the
    * identical warm-up), then ONE timed full flagship pass (one action:
    * a second count would re-run the narrow chain); writes
    * "sec pages triples" to outFile. */
  private def runChild(pagesPath: String, cores: Int, outFile: String): Unit = {
    val spark = LocalSession(cores)
    try {
      import spark.implicits._
      val cfg = Pipeline.Config(nParts = spark.sparkContext.defaultParallelism * 2)
      def pages = spark.read.parquet(pagesPath).as[graft.sources.PageRow]
      // warm-up size is corpus-relative (a fixed row count would be the
      // WHOLE corpus for heavy-page inputs with fewer, larger rows);
      // the count is metadata-only on parquet
      val nRows = pages.count()
      Pipeline.run(spark,
        pages.limit(math.max(1L, nRows / 10).min(Int.MaxValue.toLong).toInt), cfg)
        .triples.count()
      val t0 = System.nanoTime()
      val nTriples = Pipeline.run(spark, pages, cfg).triples.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Files.writeString(Paths.get(outFile), f"$sec%.3f $nRows $nTriples")
    } finally spark.stop()
  }

  /** Fork one child JVM (own heap + GC — the executor shape). Child
    * stdout/stderr go to `<outFile>.log` so a crashed child is
    * diagnosable. */
  private def forkChild(pagesPath: String, cores: Int, outFile: String): Process = {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      "-Xmx6g", "-Xms6g", "-XX:+UseParallelGC",
      s"-XX:ParallelGCThreads=$cores", "-XX:+AlwaysPreTouch",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"),
      "graft.Scale", "__child", pagesPath, cores.toString, outFile)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectOutput(ProcessBuilder.Redirect.appendTo(new java.io.File(outFile + ".log")))
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** `count` concurrent child JVMs, each running the identical flagship
    * over `path`; returns (per-child secs, wall sec). */
  private def pass(path: String, n: Int, count: Int): (Array[Double], Double) = {
    val files = (0 until count)
      .map(i => Files.createTempFile(s"graft-scale-$count-$i", ".txt"))
    val t0 = System.nanoTime()
    // NOT pinned: taskset-pinning each child to its own core range was
    // measured 35% SLOWER (child worker+GC+JIT threads exceed the core
    // count; the OS's freedom to use a neighbor's momentarily-idle core
    // is slack a cluster node also has for its own executor's threads)
    val procs = files.map(f => forkChild(path, n, f.toString))
    val exits = procs.map(_.waitFor())
    val wall = (System.nanoTime() - t0) / 1e9
    // fail LOUDLY with the child's log tail instead of emitting a
    // benchmark JSON built on an empty result file
    exits.zip(files).foreach { case (rc, f) =>
      if (rc != 0) {
        val logPath = Paths.get(f.toString + ".log")
        val tail = if (Files.exists(logPath)) {
          val lines = Files.readAllLines(logPath)
          lines.subList(math.max(0, lines.size - 30), lines.size)
            .toArray.mkString("\n")
        } else "(no log)"
        sys.error(s"scale child exited rc=$rc; log tail:\n$tail")
      }
    }
    val secs = files.map(f => Files.readString(f).trim.split(" ")(0).toDouble)
    files.foreach { f =>
      Files.deleteIfExists(f)
      Files.deleteIfExists(Paths.get(f.toString + ".log"))
    }
    (secs.toArray, wall)
  }

  /** QUIET-GATE before each pass (round-4 pre-registration): the
    * [[HostMeter.probe]] must pass [[HostMeter.quiet]]; retry every 20 s
    * and abort the protocol (an infrastructure error — a restart is
    * allowed) after 15 min of waiting at any single gate. Returns the
    * seconds waited. */
  private def quietGate(tag: String): Double = {
    val t0 = System.nanoTime()
    var attempt = 1
    var p = HostMeter.probe()
    while (!HostMeter.quiet(p)) {
      System.err.println(
        f"[scale] gate busy ($tag) busy=${p.busy}%.1f%% steal=${p.steal}%.1f%% attempt=$attempt — waiting 20s")
      if (System.nanoTime() - t0 > 15L * 60 * 1000000000L)
        sys.error(s"quiet-gate deadline (15 min) exceeded at $tag — " +
          "host never went quiet; protocol aborted (infrastructure " +
          "error per pre-registration; a restart is permitted)")
      Thread.sleep(20000)
      attempt += 1
      p = HostMeter.probe()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    System.err.println(
      f"[scale] gate OPEN ($tag) busy=${p.busy}%.1f%% steal=${p.steal}%.1f%% waited=$waited%.0fs")
    waited
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("__child")) {
      runChild(args(1), args(2).toInt, args(3))
      return
    }
    val (n, trials, path) = args match {
      case Array(n, rounds, pages) => (n.toInt, rounds.toInt, pages)
      case _ => sys.error("usage: graft.Scale <N> <rounds> <pagesParquet>")
    }

    // Alternate 1-JVM and 4-JVM passes (fresh JVMs each pass → both
    // sides equally JIT-cold). GRADED STATISTIC (round-4 protocol,
    // pre-registered in BENCH.md before the run): the MEDIAN of
    // per-round efficiencies t1_r / max(t4_r). Pairing each 1-JVM
    // pass with its adjacent 4-JVM pass cancels slow box drift
    // (thermal / page-cache state changes on a scale of hours, not
    // the ~6 min of one round), and the median over the rounds
    // absorbs outliers without min-style cherry-picking. Min-based
    // numbers stay in the JSON as the round-2/3-comparable secondary.
    //
    // VOID RULE (round-4 pre-registration, v2 cap): a round in which
    // hypervisor steal exceeded 3% of host CPU during either timed pass
    // is voided and re-run ONCE (v1's two-re-run cap met chronic burst
    // steal and blew the session wall-clock — BENCH.md round-4 v1 abort
    // record); a second contaminated attempt counts as measured. Steal
    // is recorded per pass either way.
    // per kept round: (t1, s4, steal1, steal4, gateWaitSec)
    val roundsBuf = collection.mutable.ArrayBuffer
      .empty[(Double, Array[Double], Double, Double, Double)]
    var voided = 0
    for (round <- 1 to trials) {
      var attempts = 0
      var kept = false
      while (!kept) {
        attempts += 1
        val w0 = quietGate(s"round $round 1-jvm")
        val ((s1, w1), busy1, steal1) = HostMeter.during(pass(path, n, 1))
        System.err.println(
          f"[scale] round=$round 1-jvm: child=${s1.head}%.1fs wall=$w1%.1fs busy=$busy1%.1f%% steal=$steal1%.2f%%")
        val wG = quietGate(s"round $round 4-jvm")
        val ((s4, w4), busy4, steal4) = HostMeter.during(pass(path, n, 4))
        System.err.println(
          f"[scale] round=$round 4-jvm: children=${s4.map(x => f"$x%.1f").mkString(",")}s wall=$w4%.1fs busy=$busy4%.1f%% steal=$steal4%.2f%%")
        if ((steal1 > 3.0 || steal4 > 3.0) && attempts <= 1) {
          voided += 1
          System.err.println(
            f"[scale] round=$round VOIDED (steal1=$steal1%.2f%% steal4=$steal4%.2f%% > 3%%) — re-running (attempt $attempts of 2)")
        } else {
          if (steal1 > 3.0 || steal4 > 3.0)
            System.err.println(
              f"[scale] round=$round contaminated but COUNTED (2nd attempt; pre-registered cap)")
          roundsBuf += ((s1.head, s4, steal1, steal4, w0 + wG))
          kept = true
        }
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val perRound = roundsBuf.map { case (t1r, s4, _, _, _) => (t1r, s4.max, t1r / s4.max) }
    perRound.zipWithIndex.foreach { case ((a, b, e), i) =>
      System.err.println(f"[scale] round=${i + 1} t1=$a%.1fs t4max=$b%.1fs eff=$e%.3f")
    }
    val eff = median(perRound.map(_._3).toSeq)
    val t1 = median(perRound.map(_._1).toSeq)
    val t4 = median(perRound.map(_._2).toSeq)
    val spark0 = LocalSession(2)
    val pages = try spark0.read.parquet(path).count() finally spark0.stop()
    println(Bench.json(Seq("metric" -> "scaling_efficiency", "value" -> eff,
      "unit" -> "ratio", "statistic" -> "median_of_round_ratios",
      "mode" -> "multijvm", "units_n" -> 1, "units_4n" -> 4,
      "cores_per_unit" -> n, "rounds" -> trials, "sec_n" -> t1, "sec_4n" -> t4,
      "efficiency_rounds" -> perRound.map(_._3).toSeq,
      "sec_n_rounds" -> perRound.map(_._1).toSeq,
      "sec_4n_rounds" -> perRound.map(_._2).toSeq,
      "min_based_efficiency" -> perRound.map(_._1).min / perRound.map(_._2).min,
      "steal_pct_n_rounds" -> roundsBuf.map(_._3).toSeq,
      "steal_pct_4n_rounds" -> roundsBuf.map(_._4).toSeq,
      "gate_wait_sec_rounds" -> roundsBuf.map(_._5).toSeq,
      "voided_rounds" -> voided, "pages" -> pages,
      "docs_per_sec_n" -> pages / t1, "docs_per_sec_4n" -> 4 * pages / t4,
      "pages_path" -> path)))
  }
}
