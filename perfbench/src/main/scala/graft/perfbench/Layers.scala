package graft.perfbench

/** Turns one traced iteration's spans into the per-layer metrics. A layer
  * the workload does not call reports 0.
  */
object Layers {
  def report(tr: Tracer, it: Main.Iteration): Unit = {
    val spans = tr.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def layer(l: String) = spans.filter(_.name.startsWith(l + "."))
    def secs(n: String) = named(n).map(_.seconds).sum
    def extra(ss: Seq[Span], k: String) = ss.map(_.extra.getOrElse(k, 0.0)).sum
    def put(k: String, v: Double): Unit = it.values(k) = v

    // The writes' own planning phases are pipeline work inside sink spans.
    val sink = layer("sink")
    val sinkPlanning = extra(sink, "analysis_s") + extra(sink, "plan_s")
    put("pipelines.analyze_s", secs("pipelines.analyze") + extra(sink, "analysis_s"))
    put("pipelines.plan_s", extra(sink, "plan_s"))
    put("pipelines.plan_exprs", extra(sink, "exprs"))
    put("pipelines.codegen_stages", extra(sink, "codegen"))

    put("sources.read_s", secs("sources.read"))
    put("sources.jobs", layer("sources").map(_.counters.jobs).sum.toDouble)
    put("sources.rows", extra(layer("sources"), "rows"))

    put("sink.write_s", secs("sink.write") - sinkPlanning)
    put("sink.task_s", sink.map(_.counters.taskMs).sum / 1e3)
    put("sink.gc_s", sink.map(_.counters.gcMs).sum / 1e3)
    put("sink.files", extra(sink, "files"))
    put("sink.bytes", extra(sink, "bytes"))

    // The lake query set runs Jhu.LakeRounds times: lake.* are per round.
    val lake = layer("lake")
    val rounds = Jhu.LakeRounds.toDouble
    put("lake.infer_s", secs("lake.infer") / rounds)
    put("lake.query_s", secs("lake.query") / rounds)
    val total = extra(lake, "files_total")
    put("lake.files_scanned_ratio", if (total > 0) extra(lake, "files_read") / total else 0.0)
    put("lake.bytes_read", lake.map(_.counters.bytesRead).sum / rounds)

    val dedup = layer("dedup")
    put("dedup.pairs_s", secs("dedup.pairs"))
    put("dedup.cc_s", secs("dedup.cc"))
    put("dedup.candidate_pairs", extra(named("dedup.pairs"), "rows"))
    put("dedup.cc_jobs", named("dedup.cc").map(_.counters.jobs).sum.toDouble)
    put("dedup.shuffle_bytes", dedup.map(_.counters.shuffleBytes).sum.toDouble)
    put("dedup.spill_bytes", dedup.map(_.counters.spillBytes).sum.toDouble)
    put("dedup.driver_gap_s", dedup.map(_.driverGapSeconds).sum)

    val index = layer("index")
    Seq("train", "land", "commit", "compact", "cleanup", "serve").foreach(p => put(s"index.${p}_s", secs(s"index.$p")))
    put("index.jobs", index.map(_.counters.jobs).sum.toDouble)
    put("index.driver_gap_s", index.map(_.driverGapSeconds).sum)
    put("index.files_written", extra(index, "files"))
    put("index.bytes_written", extra(index, "bytes"))

    put("trace.overhead_s", tr.overheadSeconds)
  }
}
