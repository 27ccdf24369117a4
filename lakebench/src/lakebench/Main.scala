package lakebench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * lakebench.Main --workload lake_serve|lake_churn --seed N --seconds S
  *   --trace 0|1 --work-dir DIR [--spans-dir DIR] [--corrupt-expected 1]
  *   [--tiny 1]
  * }}}
  *
  * Runs from the root of a checkout: the suite phase reads its data and
  * recorded fingerprints under `lakebench/`.
  *
  * Prints a detail line (every metric with unit and sample count, plus
  * CPU count and load average), then, as the last line, the result:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
  * `--corrupt-expected 1` shifts every expected distance and alters
  * every recorded fingerprint, so every checked answer must count as
  * failed. `--tiny 1` runs the seconds-long smoke sizes (the runner's
  * class-data-sharing recording run uses them). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val tStart = System.nanoTime()
    val load0 = loadavg()
    val tiny = args.get("tiny").contains("1")
    val out = runWorkload(workload, seed, seconds, traced, tiny,
      new java.io.File(args("work-dir")).getAbsolutePath, args)
    // every metric BENCHMARK.json names for this workload, and no other
    for (c <- Contract.load() if c.workloads.contains(workload)) {
      val want = (if (traced) c.perLayer else c.endToEnd).toSet
      val got = out.metrics.keySet.toSet
      require(got == want, s"metrics differ from BENCHMARK.json: missing ${want -- got}, " +
        s"extra ${got -- want}")
    }
    val load1 = loadavg()
    println(Stats.obj(Seq("detail" -> Stats.obj(Seq(
      "workload" -> Stats.str(workload), "seed" -> seed.toString,
      "seconds" -> Stats.num(seconds), "trace" -> (if (traced) "1" else "0"),
      "cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "loadavg" -> s"[${Stats.num(load0)},${Stats.num(load1)}]",
      "total_s" -> Stats.num((System.nanoTime() - tStart) / 1e9),
      "notes" -> Stats.obj(out.notes.toSeq.map { case (k, v) => k -> Stats.str(v) }),
      "failures" -> out.failures.map(Stats.str).mkString("[", ",", "]"),
      "metrics" -> Stats.obj(out.metrics.toSeq.map { case (k, m) =>
        k -> Stats.obj(Seq("value" -> Stats.num(m.value), "unit" -> Stats.str(m.unit),
          "n" -> m.n.toString)) }))))))
    println(Stats.obj(Seq(
      "correct" -> (out.failed == 0 && out.attempted > 0).toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> Stats.obj(out.metrics.toSeq.map { case (k, m) =>
        k -> Stats.obj(Seq("value" -> Stats.num(m.value), "unit" -> Stats.str(m.unit))) }))))
    System.out.flush()
  }

  /** Runs one workload in a fresh session: the registry suite's warm-up,
    * the lake workload, then the suite's timed passes. `tiny` shrinks
    * both to a seconds-long smoke. `opts` carries the optional flags:
    * corrupt-expected, spans-dir. */
  def runWorkload(workload: String, seed: Long, seconds: Double, traced: Boolean,
      tiny: Boolean, workDir: String, opts: Map[String, String]): Outcome = {
    require(Set("lake_serve", "lake_churn")(workload), s"unknown workload $workload")
    val corrupt = opts.getOrElse("corrupt-expected", "0") == "1"
    val t0 = System.nanoTime()
    val spark = session(Runtime.getRuntime.availableProcessors(), workDir)
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = try {
      val shape0 = if (workload == "lake_serve") Shape.serve else Shape.churn
      val shape = if (tiny) Shape.tiny(shape0) else shape0
      val suite = new Suite(spark, tr, seed, corrupt)
      suite.warmUp()
      val lake = new LakeWorkload(spark, shape, seed, s"$workDir/lake", tr, corrupt).run(seconds)
      Report.run(lake, suite.measure(if (tiny) 1 else Suite.Passes), shape, traced, tr)
    } finally {
      if (traced) tr.writeSpans(java.nio.file.Paths.get(
        opts.getOrElse("spans-dir", s"$workDir/spans"), s"$workload-$seed.jsonl"))
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    out.copy(notes = out.notes ++ Map("session_s" -> Stats.num(sessionS)))
  }

  private def parse(argv: Array[String]): Map[String, String] = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${argv.mkString(" ")}")
    argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
  }

  /** The session `graft.Bench` builds: local[cpus], shuffle partitions =
    * cpus, and the same SQL confs. Scratch and warehouse dirs stay under
    * `workDir`. */
  def session(cpus: Int, workDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => 0.0 }
}

/** A workload's outcome, ready to print. */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    metrics: scala.collection.Map[String, Metric], notes: scala.collection.Map[String, String])

/** The metric names BENCHMARK.json declares, read from the working
  * directory (the checkout root) when the file is there. */
final case class Contract(workloads: Seq[String], endToEnd: Seq[String], perLayer: Seq[String])

object Contract {
  def load(path: String = "BENCHMARK.json"): Option[Contract] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      def names(key: String): Seq[String] = (j \ key) match {
        case JArray(xs) => xs.collect { case o: JObject => (o \ "name") }.collect {
          case JString(n) => n }
        case _ => Nil
      }
      Some(Contract(names("workloads"), names("end_to_end"), names("per_layer")))
    }
  }
}
