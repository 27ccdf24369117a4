package lakebench

import scala.collection.mutable

/** Turns a run's samples and traced calls (lake workload, then suite
  * phase) into the metrics BENCHMARK.json names. */
object Report {
  def run(res: LakeWorkload.Result, suite: Suite.Result, shape: Shape, traced: Boolean,
      tr: Tracer): Outcome = {
    val s = res.samples.withDefaultValue(Seq.empty)
    val notes = mutable.LinkedHashMap[String, String](
      "rounds" -> res.rounds.toString, "measured_wall_s" -> Stats.num(res.windowS),
      "rows" -> shape.rows.toString, "shards" -> (1 << shape.numHashes).toString) ++
      res.phases.map { case (k, v) => k -> Stats.num(v) } ++
      // which tail percentile the single-call samples would allow
      Seq("knn_tail_rule" -> Stats.tailPercentile(res.samples.getOrElse("knn", Nil).size)
        .map(p => s"p$p").getOrElse("none (fewer than 20 samples)"),
        "suite_warmup_s" -> Stats.num(suite.warmupS)) ++
      suite.fingerprints.toSeq.sorted.map { case (q, fp) => s"fingerprint.$q" -> fp }
    val m = mutable.LinkedHashMap.empty[String, Metric]
    def med(key: String, name: String, unit: String): Unit =
      if (s(key).nonEmpty) m(name) = Metric(Stats.median(s(key)), unit, s(key).size)
    def rate(num: String, den: String, name: String, unit: String): Unit =
      if (s(den).nonEmpty) m(name) = Metric(s(num).sum / s(den).sum, unit, s(den).size)

    if (!traced) {
      // lake bulk loads (median of several) plus the suite's one warm-up
      if (s("setup").nonEmpty)
        m("setup_s") = Metric(Stats.median(s("setup")) + suite.warmupS, "s", s("setup").size + 1)
      m("suite_total_s") = Metric(suite.totalS, "s", suite.buildS.size)
      med("ingest_rows_per_s", "ingest_rows_per_s", "rows/s")
      med("knn", "knn_p50_s", "s")
      rate("routed_q", "routed_s", "batch_knn_qps", "1/s")
      rate("exact_q", "exact_s", "exact_knn_qps", "1/s")
      if (s("recall").nonEmpty)
        m("recall_at_10") = Metric(s("recall").sum / s("recall").size, "fraction", s("recall").size)
      med("append", "append_p50_s", "s")
      med("delete", "delete_p50_s", "s")
      med("feed", "feed_p50_s", "s")
      med("maintain", "maintain_s", "s")
    } else {
      val calls = res.calls.groupBy(_.fn).withDefaultValue(Seq.empty)
      def callMed(fn: String, name: String, f: Tracer.Call => Double, unit: String): Unit =
        if (calls(fn).nonEmpty) m(name) = Metric(Stats.median(calls(fn).map(f)), unit, calls(fn).size)
      def callMean(fn: String, name: String, f: Tracer.Call => Double, unit: String): Unit =
        if (calls(fn).nonEmpty) m(name) = Metric(calls(fn).map(f).sum / calls(fn).size, unit, calls(fn).size)

      Seq("topK", "topKBatchRouted", "topKBatch", "changesSince").foreach { fn =>
        callMed(s"Lake.$fn", s"Lake.$fn.build_s", _.buildS, "s")
        callMed(s"Lake.$fn", s"Lake.$fn.exec_s", _.execS, "s")
      }
      Seq("ingest", "deleteIds", "seal", "compactIncremental", "vacuum").foreach { fn =>
        callMed(s"Lake.$fn", s"Lake.$fn.s", _.wallS, "s")
      }
      // Catalyst and scheduling per single routed read
      Seq("analysis", "optimization", "planning").foreach { ph =>
        callMean("Lake.topK", s"catalyst.${ph}_s", _.d(s"${ph}_ms") / 1000.0, "s")
      }
      Seq("jobs_n", "stages_n", "tasks_n").foreach { c =>
        callMean("Lake.topK", s"spark.$c", _.d(c), "count")
      }
      // task time and parallelism of the exhaustive batch scan
      callMean("Lake.topKBatch", "spark.task_s", _.d("task_ns") / 1e9, "s")
      val ex = calls("Lake.topKBatch")
      if (ex.nonEmpty) m("spark.parallelism") =
        Metric(ex.map(_.d("task_ns")).sum / 1e9 / ex.map(_.execS).sum, "ratio", ex.size)
      val all = res.calls
      // whole run, suite phase included
      m("codegen.compile_n") = Metric(tr.compileCount().toDouble, "count", 1)
      m("codegen.compile_s") = Metric(
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9, "s", 1)
      m("codegen.timed_compile_n") = Metric(all.map(_.d("compile_n")).sum, "count", all.size)
      med("knn.rows_scanned_per_result", "knn.rows_scanned_per_result", "rows")
      // reads never create, rename, delete or write: only their lookups
      val readCounters = Seq("list_n", "status_n", "open_n", "bytes_read")
      for ((fn, counters) <- Seq("topK" -> readCounters, "changesSince" -> readCounters,
             "ingest" -> CountingFs.names, "deleteIds" -> CountingFs.names);
           c <- counters)
        callMean(s"Lake.$fn", s"storage.$fn.$c", _.d(s"storage.$c"),
          if (c.startsWith("bytes")) "bytes" else "count")
      med("lake.live_files", "lake.live_files", "count")
      med("lake.sidecar_bytes", "lake.sidecar_bytes", "bytes")
      med("lake.sidecar_n", "lake.sidecar_n", "count")
      med("lake.read_build_s", "lake.read_build_s", "s")
      med("lake.bytes_per_user_byte", "lake.bytes_per_user_byte", "ratio")
      med("write.bytes_per_user_byte", "write.bytes_per_user_byte", "ratio")
      med("compact.bytes_rewritten", "compact.bytes_rewritten", "bytes")
      med("vacuum.files_deleted", "vacuum.files_deleted", "count")
      // the suite phase, per timed query (build and count)
      val sc = suite.calls
      def suiteMean(name: String, f: Tracer.Call => Double, unit: String): Unit =
        if (sc.nonEmpty) m(name) = Metric(sc.map(f).sum / sc.size, unit, sc.size)
      m("suite.warmup_s") = Metric(suite.warmupS, "s", 1)
      if (suite.buildS.nonEmpty)
        m("queries.build_s") = Metric(suite.buildS.sum / suite.buildS.size, "s", suite.buildS.size)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        suiteMean(s"suite.catalyst.${ph}_s", _.d(s"${ph}_ms") / 1000.0, "s")
      }
      Seq("jobs_n", "stages_n", "tasks_n").foreach(c => suiteMean(s"suite.spark.$c", _.d(c), "count"))
      if (sc.nonEmpty)
        m("suite.codegen.timed_compile_n") = Metric(sc.map(_.d("compile_n")).sum, "count", sc.size)
      sc.groupBy(_.fn).toSeq.sortBy(_._1).foreach { case (fn, cs) =>
        m(s"$fn.wall_s") = Metric(cs.map(_.wallS).sum / suite.passes, "s", cs.size)
        m(s"$fn.task_s") = Metric(cs.map(_.d("task_ns")).sum / 1e9 / suite.passes, "s", cs.size)
      }
      // what tracing costs: single topK calls with every instrument on,
      // against the same calls run bare in between
      med("knn.traced", "trace.knn_traced_s", "s")
      med("knn.bare", "trace.knn_bare_s", "s")
      if (s("knn.traced").nonEmpty && s("knn.bare").nonEmpty)
        m("trace.overhead_frac") = Metric(
          Stats.median(s("knn.traced")) / Stats.median(s("knn.bare")) - 1.0, "fraction",
          s("knn.traced").size + s("knn.bare").size)
    }
    Outcome(res.attempted + suite.attempted, res.failed + suite.failed,
      (res.failures ++ suite.failures).take(40), m, notes)
  }
}
