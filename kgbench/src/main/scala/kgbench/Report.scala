package kgbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import Main.median

/** Per-layer metrics of a traced run, derived from its spans, the
  * listener's per-span Spark counters and the counts the workloads took
  * at layer boundaries. A layer not called on a workload reports 0. */
object Report {

  val Layers = Seq("pages", "stages", "linking", "canonicalize", "sink", "triplessource",
    "kgdelta")

  val PerLayer: Seq[(String, String)] = Seq(
    "pages.scan_s" -> "s", "pages.rows" -> "count", "pages.bytes_read" -> "bytes",
    "stages.extract_s" -> "s", "stages.tag_s" -> "s", "stages.triples_s" -> "s",
    "stages.zh_rows" -> "count", "stages.sentences" -> "count",
    "stages.raw_triples" -> "count", "stages.cpu_s" -> "s", "stages.task_skew" -> "ratio",
    "linking.nodes_s" -> "s", "linking.nodes" -> "count", "linking.shuffle_bytes" -> "bytes",
    "canonicalize.map_s" -> "s", "canonicalize.components" -> "count",
    "canonicalize.largest_component" -> "count", "canonicalize.rewrite_s" -> "s",
    "canonicalize.rewrite_shuffle_bytes" -> "bytes", "canonicalize.task_skew" -> "ratio",
    "sink.write_s" -> "s", "sink.commit_s" -> "s", "sink.files_written" -> "count",
    "sink.bytes_written" -> "bytes", "sink.bytes_per_row" -> "bytes", "sink.read_s" -> "s",
    "sink.lookup_s" -> "s", "sink.files_per_lookup" -> "count",
    "sink.deletes_outstanding" -> "count", "sink.compact_s" -> "s",
    "triplessource.scan_s" -> "s", "triplessource.rows" -> "count",
    "triplessource.cpu_s" -> "s",
    "kgdelta.fold_s" -> "s", "kgdelta.fold_growth" -> "ratio",
    "kgdelta.state_rows" -> "count", "kgdelta.additions" -> "count",
    "kgdelta.retractions" -> "count", "kgdelta.cpu_s" -> "s") ++
    Layers.map(l => s"share.$l" -> "ratio") ++
    Seq("bench.build_s" -> "s", "bench.span_coverage" -> "ratio")

  /** The LSH join's own metrics. Only kg_link calls `Linking.signatures`
    * and `Linking.edges` (kg_build links driver-locally, kg_maintain
    * inside `KgDelta.update`), so only its traced run reports them. */
  val Lsh: Seq[(String, String)] = Seq(
    "linking.signatures_s" -> "s", "linking.edges_s" -> "s",
    "linking.candidate_pairs" -> "count", "linking.max_bucket" -> "count",
    "linking.edges" -> "count", "linking.accept_ratio" -> "ratio")

  /** Layer calls timed as spans; `<name>_s` is the median call time. */
  private val Timed = Seq("pages.scan", "stages.extract", "stages.tag", "stages.triples",
    "linking.nodes", "linking.signatures", "linking.edges", "canonicalize.map",
    "canonicalize.rewrite", "sink.write", "sink.read", "sink.lookup", "sink.compact",
    "triplessource.scan", "kgdelta.fold")

  def perLayer(tr: SpanTracer, rec: Recorder, measuredS: Double,
               out: Option[String]): Seq[(String, Double, String)] = {
    val spans = tr.finish()
    val children = spans.groupBy(_._1.parent)
    def kids(s: Span) = children.getOrElse(s.id, Nil).map(_._1)
    def selfS(s: Span) = s.seconds - kids(s).map(_.seconds).sum
    def selfCpuS(s: Span) = (s.cpuNs - kids(s).map(_.cpuNs).sum) / 1e9
    def named(n: String) = spans.filter(_._1.name == n)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def perIter(f: ((Span, Counters)) => Boolean)(v: ((Span, Counters)) => Double) =
      med(spans.filter(f).groupBy(_._1.iter).values.map(_.map(v).sum).toSeq)
    def inLayer(l: String)(sc: (Span, Counters)) = sc._1.layer == l
    val lastIter = if (spans.isEmpty) 0 else spans.map(_._1.iter).max
    // max ÷ median task time of the layer's heaviest stage (last iteration)
    def skew(l: String) = {
      val stages = spans.filter(sc => inLayer(l)(sc) && sc._1.iter == lastIter)
        .flatMap(_._2.stageTaskMs.values)
      if (stages.isEmpty) 0.0
      else {
        val ts = stages.maxBy(_.sum).map(_.toDouble).toSeq
        val m = median(ts)
        if (m <= 0) 1.0 else ts.max / m
      }
    }
    val writes = named("sink.write")
    val folds = named("kgdelta.fold").filter(_._1.iter == lastIter).map(_._1.seconds)
    val q = math.max(1, folds.length / 4)
    val selfByLayer = spans.groupBy(_._1.layer).map { case (l, ss) => l -> ss.map(s => selfS(s._1)).sum }
    val roots = spans.filter(_._1.parent < 0).map(_._1.seconds).sum

    val v = Map.newBuilder[String, Double]
    Timed.foreach(n => v += s"${n}_s" -> med(named(n).map(_._1.seconds)))
    v ++= rec.counts
    // the traced build without the counters taken inside it; minus the
    // untraced build_s, this is the tracing overhead
    v += "bench.build_s" -> med(named("bench.build").map { case (s, _) =>
      s.seconds - kids(s).filter(_.name == "bench.counters").map(_.seconds).sum })
    v += "pages.bytes_read" -> med(named("pages.scan").map(_._2.inBytes.toDouble))
    v += "stages.cpu_s" -> perIter(inLayer("stages"))(sc => selfCpuS(sc._1))
    v += "stages.task_skew" -> skew("stages")
    v += "linking.shuffle_bytes" -> perIter(inLayer("linking"))(_._2.shuffleWrite.toDouble)
    v += "canonicalize.rewrite_shuffle_bytes" ->
      med(named("canonicalize.rewrite").map(_._2.shuffleWrite.toDouble))
    v += "canonicalize.task_skew" -> skew("canonicalize")
    v += "sink.commit_s" ->
      med(writes.map { case (s, c) => math.max(0.0, s.seconds - c.jobMs / 1e3) })
    v += "sink.bytes_written" -> med(writes.map(_._2.outBytes.toDouble))
    v += "sink.bytes_per_row" -> {
      val rows = writes.map(_._2.outRecords).sum
      if (rows == 0) 0.0 else writes.map(_._2.outBytes).sum.toDouble / rows
    }
    v += "triplessource.cpu_s" -> med(named("triplessource.scan").map(_._1.cpuNs / 1e9))
    v += "kgdelta.cpu_s" -> med(named("kgdelta.fold").map(_._1.cpuNs / 1e9))
    v += "kgdelta.fold_growth" ->
      (if (folds.length < 2) 0.0
       else if (folds.length < 4) folds.last / folds.head
       else (folds.takeRight(q).sum / q) / (folds.slice(q, 2 * q).sum / q))
    Layers.foreach(l => v += s"share.$l" -> selfByLayer.getOrElse(l, 0.0) / measuredS)
    v += "bench.span_coverage" -> roots / measuredS
    val values = v.result()

    println(s"""{"workload": "${tr.workload}", "spans": ${spans.length}, "layer_self_s": {${
      selfByLayer.toSeq.sortBy(-_._2).map { case (l, s) => s""""$l": ${Json.num(s)}""" }
        .mkString(", ")}}, "measured_s": ${Json.num(measuredS)}, "span_coverage": ${
      Json.num(roots / measuredS)}}""")
    out.foreach(write(_, tr.workload, spans, selfS))
    (PerLayer ++ (if (tr.workload == "kg_link") Lsh else Nil))
      .map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }
  }

  /** One JSON line per span, kept in memory during the run. */
  private def write(path: String, workload: String, spans: Seq[(Span, Counters)],
                    selfS: Span => Double): Unit = {
    val t0 = spans.headOption.map(_._1.startNs).getOrElse(0L)
    val lines = spans.map { case (s, c) =>
      s"""{"workload": "$workload", "id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""iter": ${s.iter}, "start_s": ${Json.num((s.startNs - t0) / 1e9)}, """ +
        s""""end_s": ${Json.num((s.endNs - t0) / 1e9)}, "self_s": ${Json.num(selfS(s))}, """ +
        s""""cpu_s": ${Json.num(s.cpuNs / 1e9)}, "gc_s": ${Json.num(s.gcMs / 1e3)}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWrite}, "spill_bytes": ${c.spill}, """ +
        s""""input_bytes": ${c.inBytes}, "output_bytes": ${c.outBytes}, """ +
        s""""job_s": ${Json.num(c.jobMs / 1e3)}, "task_cpu_s": ${Json.num(c.cpuNs / 1e9)}, """ +
        s""""tasks": ${c.stageTaskMs.values.map(_.length).sum}}"""
    }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
