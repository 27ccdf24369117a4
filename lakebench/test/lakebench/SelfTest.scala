package lakebench

import org.apache.hadoop.fs.Path

/** The benchmark's own tests: the tail rule, the result fingerprint, the
  * counting file system, the generator, bare calls running without
  * instruments, and a tiny-size smoke of each
  * workload, untraced and traced, checked against the metric names in
  * BENCHMARK.json, and a corrupted expected answer counted as failed.
  * Run through `python3 lakebench/run.py --self-test`; exits 1 on any
  * failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try { body; println(f"ok    $name (${(System.nanoTime() - t0) / 1e9}%.1f s)") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL  $name: $e")
    }
  }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workDir = new java.io.File(args("work-dir")).getAbsolutePath

    test("tail rule: highest percentile with at least ten samples beyond it") {
      check(Stats.tailPercentile(19).isEmpty, "19 samples have no tail")
      check(Stats.tailPercentile(20).contains(50.0), "20 samples: p50")
      check(Stats.tailPercentile(39).contains(50.0), "39 samples: p50")
      check(Stats.tailPercentile(40).contains(75.0), "40 samples: p75")
      check(Stats.tailPercentile(100).contains(90.0), "100 samples: p90")
      check(Stats.tailPercentile(199).contains(90.0), "199 samples: p90")
      check(Stats.tailPercentile(200).contains(95.0), "200 samples: p95")
      check(Stats.tailPercentile(1000).contains(99.0), "1000 samples: p99")
      check(Stats.tailPercentile(10000).contains(99.9), "10000 samples: p99.9")
      check(Stats.beyond(100, 90.0) == 10, "p90 of 100 leaves 10 above")
      check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5,
        "median of odd and even counts")
    }

    test("fingerprint: order-insensitive, count-prefixed, content-sensitive") {
      val a = Suite.fingerprintRows(Seq("[1,x]", "[2,y]"))
      check(a == Suite.fingerprintRows(Seq("[2,y]", "[1,x]")), "row order must not matter")
      check(a.startsWith("2:"), s"row count prefix: $a")
      check(a != Suite.fingerprintRows(Seq("[1,x]", "[2,z]")), "a changed value must change it")
      check(Suite.fingerprintRows(Seq("[1,x]", "[1,x]")) != Suite.fingerprintRows(Seq("[1,x]")),
        "duplicates count")
      check(Suite.fingerprintRows(Seq("ab", "c")) != Suite.fingerprintRows(Seq("a", "bc")),
        "row boundaries count")
    }

    test("counting FS counts each storage call once") {
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.set("fs.file.impl", classOf[CountingFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      val dir = new Path(s"file://$workDir/countingfs")
      val fs = dir.getFileSystem(conf)
      check(fs.isInstanceOf[CountingFs], s"got ${fs.getClass}")
      fs.delete(dir, true)
      fs.mkdirs(dir)
      def delta(body: => Unit): Map[String, Long] = {
        val a = CountingFs.snapshot(); body; val b = CountingFs.snapshot()
        CountingFs.names.indices.map(i => CountingFs.names(i) -> (b(i) - a(i))).toMap
      }
      val f = new Path(dir, "a.bin")
      val w = delta { val o = fs.create(f, true); o.write(new Array[Byte](1000)); o.close() }
      check(w("create_n") == 1 && w("bytes_written") >= 1000, s"create: $w")
      val r = delta { val i = fs.open(f); i.readFully(new Array[Byte](1000)); i.close() }
      check(r("open_n") == 1 && r("bytes_read") >= 1000, s"open: $r")
      val l = delta(fs.listStatus(dir))
      check(l("list_n") == 1, s"list: $l")
      val s = delta(fs.getFileStatus(f))
      check(s("status_n") == 1, s"status: $s")
      val g = new Path(dir, "b.bin")
      val mv = delta(check(fs.rename(f, g), "rename"))
      check(mv("rename_n") == 1, s"rename: $mv")
      val d = delta(check(fs.delete(g, false), "delete"))
      check(d("delete_n") == 1, s"delete: $d")
      fs.delete(dir, true)
    }

    test("generator: rows are a pure function of (seed, index)") {
      val g1 = new Gen(7L, 8, 3, 0.5)
      val g2 = new Gen(7L, 8, 3, 0.5)
      check(g1.row(41).vector.sameElements(g2.row(41).vector) && g1.row(41).id == "r7-41",
        "same seed and index, same row")
      check(!g1.row(41).vector.sameElements(g1.row(42).vector), "different index, different row")
      val occupied = Set(1, 2)
      val shardOf = (q: Seq[Double]) => if (q.head > 0) 1 else 0
      Gen.requireOccupied(Seq(Seq(1.0)), shardOf, occupied)
      check(scala.util.Try(Gen.requireOccupied(Seq(Seq(-1.0)), shardOf, occupied)).isFailure,
        "a query routed to an empty shard must fail the assertion")
    }

    test("bare runs a call with every instrument off") {
      val spark = Main.session(2, s"$workDir/bare")
      try {
        val tr = new Tracer(spark, traced = true)
        val dir = s"$workDir/bare/data"
        def io(): Long = {
          spark.range(10).write.mode("overwrite").parquet(dir)
          spark.read.parquet(dir).count()
        }
        def fsCalls = CountingFs.snapshot().take(6).sum
        val before = fsCalls
        tr.bare(io())
        check(fsCalls == before, "a bare call went through the counting file system")
        // a bare call's late listener events must not land on the next call
        tr.call("empty")(())
        val empty = tr.calls.last
        check(empty.d("jobs_n") == 0 && empty.d("tasks_n") == 0 && empty.d("analysis_ms") == 0,
          s"bare call's events counted on the next call: ${empty.d}")
        tr.call("io")(io())
        val c = tr.calls.last
        check(c.d("jobs_n") >= 2 && c.d("tasks_n") >= 2, s"traced call's jobs: ${c.d}")
        check(c.d("storage.create_n") > 0 && c.d("storage.list_n") > 0, s"traced call's storage: ${c.d}")
      } finally spark.stop()
    }

    val declared = Contract.load()
    for (workload <- Seq("lake_serve", "lake_churn"); traced <- Seq(false, true))
      test(s"tiny $workload smoke, trace ${if (traced) 1 else 0}") {
        val out = Main.runWorkload(workload, seed = 5L, seconds = 1.0, traced = traced,
          tiny = true, s"$workDir/$workload-$traced", Map.empty)
        check(out.failed == 0 && out.attempted > 0,
          s"${out.failed} of ${out.attempted} failed: ${out.failures.mkString("; ")}")
        declared.foreach { c =>
          val want = if (traced) c.perLayer else c.endToEnd
          check(out.metrics.keySet == want.toSet,
            s"metrics differ from BENCHMARK.json: missing ${want.toSet -- out.metrics.keySet}, " +
              s"extra ${out.metrics.keySet -- want.toSet}")
        }
      }

    test("a corrupted expected answer counts as failed") {
      val out = Main.runWorkload("lake_churn", seed = 6L, seconds = 1.0, traced = false,
        tiny = true, s"$workDir/corrupt", Map("corrupt-expected" -> "1"))
      check(out.failures.exists(_.contains("distance")), s"no lake answer failed: ${out.failures}")
      check(out.failures.count(_.contains("fingerprint")) == Suite.queries.size,
        s"not every suite fingerprint failed: ${out.failures}")
    }

    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
