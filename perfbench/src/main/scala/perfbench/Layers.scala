package perfbench

/** Per-layer metrics of a traced run, from the spans the benchmark
  * recorded around each call into a layer.
  *
  * Each span reports `<span>.<counter>`, the median over the span's
  * occurrences (one per query, or per set-up for `registry.register`);
  * a span a workload never opens reports 0. The pipeline is cut by
  * re-running it to a deeper point each time, so the self time and data
  * counters of `query.postprocess` are its span's minus `query.map`'s,
  * and those of `sources.write` are its span's minus `query.postprocess`'s.
  * Planning and codegen are not re-run work (each plan is planned anew,
  * and compiled code is cached), so `plan_ms` and `codegen_ms` are the
  * span's own.
  */
object Layers {

  val spans = Seq(
    "registry.register", "registry.read", "query.validate", "query.build",
    "query.map", "query.postprocess", "sources.write", "query.cache_lookup")

  val counters = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_run_s" -> "s",
    "task_cpu_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_rows" -> "rows", "input_bytes" -> "bytes",
    "plan_ms" -> "ms", "codegen_ms" -> "ms")

  /** Cut-pipeline spans and the span each one re-runs. */
  private val reruns = Map("query.postprocess" -> "query.map", "sources.write" -> "query.postprocess")
  private val notRerun = Set("plan_ms", "codegen_ms")
  /** Spans whose work is the query's data processing. */
  private val dataSpans = Set("query.map", "query.postprocess", "sources.write", "query.cache_lookup")

  /** A span's counters by name, with `self_s` given. */
  def values(s: Span, self: Double): Map[String, Double] = {
    val w = s.work
    Map(
      "self_s" -> self, "jobs" -> w.jobs.toDouble, "tasks" -> w.tasks.toDouble,
      "task_run_s" -> w.taskRunMs / 1e3, "task_cpu_s" -> w.taskCpuNs / 1e9, "gc_s" -> w.gcMs / 1e3,
      "shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble, "spill_bytes" -> w.spillBytes.toDouble,
      "input_rows" -> w.inputRows.toDouble, "input_bytes" -> w.inputBytes.toDouble,
      "plan_ms" -> w.planMs.toDouble, "codegen_ms" -> w.codegenNs / 1e6)
  }

  def metrics(
      tracer: Tracer,
      wl: Workload,
      untracedOps: Seq[Op],
      tracedOps: Seq[Op],
      ops: Seq[Op],
      cores: Int): Seq[(String, Double, String)] = {
    val all = tracer.spans.toSeq
    def inRun(run: Int, name: String) = all.find(s => s.run == run && s.name == name)
    val self: Seq[(String, Map[String, Double])] = all.map { s =>
      val own = values(s, tracer.selfSeconds(s))
      val rerun = reruns.get(s.name).flatMap(inRun(s.run, _))
      s.name -> rerun.fold(own) { b =>
        val base = values(b, b.seconds)
        own.map { case (k, v) => k -> (if (notRerun(k)) v else v - base(k)) }
      }
    }
    val perSpan = for (span <- spans; (counter, unit) <- counters) yield {
      val xs = self.collect { case (`span`, v) => v(counter) }
      (s"$span.$counter", Stats.median(xs), unit)
    }

    val data = all.filter(s => dataSpans(s.name))
    val slotUse = data.map(_.work.taskRunMs / 1e3).sum / (cores * data.map(_.seconds).sum).max(1e-9)
    // op i ran as tracer run i + 1; a miss's fact-table reads are those of
    // the spans the untraced query also runs: validate, build and the sink
    val misses = ops.zipWithIndex.filter { case (op, _) => op.ok && !op.hit }
    val scanUseful = misses.flatMap { case (op, i) =>
      val read = Seq("query.validate", "query.build", "sources.write")
        .flatMap(inRun(i + 1, _)).map(_.work.factRows).sum
      if (read > 0) Some(op.rows.toDouble / read) else None
    }
    val amplification = wl.written.toSeq.flatMap { case (run, bytes, _) =>
      inRun(run, "sources.write").filter(_ => bytes > 0).map(_.work.outputBytes.toDouble / bytes)
    }
    // like with like: the cut pipeline runs only for queries the result
    // cache does not serve
    val untracedP50 = Stats.median(untracedOps.filter(op => op.ok && !op.hit).map(_.seconds))
    val tracedSum = Stats.median(tracedOps.filter(op => op.ok && !op.hit).map(_.seconds))
    perSpan ++ Seq(
      ("spark.slot_use", slotUse, "ratio"),
      ("operators.scan_useful_ratio", Stats.median(scanUseful), "ratio"),
      ("query.cache_hit_ratio", ops.count(_.hit).toDouble / ops.size, "ratio"),
      ("sources.write_amplification", Stats.median(amplification), "ratio"),
      ("sources.output_files", Stats.median(wl.written.toSeq.map(_._3.toDouble)), "count"),
      ("trace.untraced_p50_s", untracedP50, "s"),
      ("trace.self_sum_s", tracedSum, "s"),
      ("trace.overhead_ratio", if (untracedP50 > 0) tracedSum / untracedP50 else 0.0, "ratio"))
  }
}
