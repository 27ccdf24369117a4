package lakebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Lake, LakeConfig}

/** Shape of a lake workload. One round is `singles` routed `topK`
  * calls, half before and half after one `topKBatchRouted` call of
  * `routedSize` queries, and `exactBatches` `topKBatch` calls of
  * `exactSize` queries; then a write round: `appends` appends of
  * `appendRows` rows, `deleteIds` of `deletes` ids, `seal`, and
  * `changesSince` the previous seal.
  * Maintenance (`compactIncremental` then `vacuum`) follows the last
  * round and rewrites the whole run's churn.
  *
  * A run does a fixed number of rounds, `seconds / roundS` rounded, at
  * least one: `roundS` is a round's length on the 4-core host the shapes
  * were sized on. Fixed work keeps the lake's state (live files, sidecar
  * size, what maintenance finds) the same for a seed on any commit, so
  * a faster commit is not charged for extra churn it would fit into a
  * time box. */
final case class Shape(rows: Int, numHashes: Int, clusters: Int, spread: Double,
    queryNoise: Double, singles: Int, routedSize: Int, exactBatches: Int, exactSize: Int,
    appends: Int, appendRows: Int, deletes: Int, roundS: Double,
    setupReps: Int, k: Int = 10, dim: Int = 64) {
  def rounds(seconds: Double): Int = math.max(1, math.round(seconds / roundS).toInt)
}

object Shape {
  /** A bulk-loaded lake on the default 256 LSH shards, read-mostly:
    * many reads per small write round, so metadata stays small and the
    * reads' scan and kernel work dominates. */
  val serve: Shape = Shape(rows = 20000, numHashes = 8, clusters = 48, spread = 0.6,
    queryNoise = 0.05, singles = 8, routedSize = 128, exactBatches = 2, exactSize = 4,
    appends = 1, appendRows = 32, deletes = 2, roundS = 7.0,
    setupReps = 3)

  /** A smaller lake under churn: writes after every few reads, so live
    * files, sidecar size and commit cost grow until the final
    * maintenance. */
  val churn: Shape = Shape(rows = 6000, numHashes = 6, clusters = 48, spread = 0.6,
    queryNoise = 0.05, singles = 8, routedSize = 128, exactBatches = 1, exactSize = 2,
    appends = 1, appendRows = 200, deletes = 4, roundS = 7.0,
    setupReps = 3)

  /** Seconds-long smoke sizes of a shape, for the benchmark's tests. */
  def tiny(s: Shape): Shape = s.copy(rows = 600, numHashes = 3, clusters = 6,
    singles = 2, routedSize = 4, exactBatches = 1, exactSize = 2, appends = 1,
    appendRows = 12, deletes = 2, setupReps = 2)
}

/** The harness's model of the lake's live rows: vectors, norms and
  * routed shards, for brute-force expected answers. A row's shard is
  * the LSH sign-bit route over `planes`, summed in the same order as
  * `Lsh.shardOf`. */
final class LiveSet(planes: Array[Array[Double]]) {
  private def shardOf(v: Array[Float]): Int = {
    var s = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var d = 0.0
      var i = 0
      while (i < p.length) { d += p(i) * v(i).toDouble; i += 1 }
      if (d > 0.0) s |= 1 << j
      j += 1
    }
    s
  }

  private val ids = ArrayBuffer.empty[String]
  private val vecs = ArrayBuffer.empty[Array[Float]]
  private val norms = ArrayBuffer.empty[Double]
  private val shards = ArrayBuffer.empty[Int]
  private val alive = ArrayBuffer.empty[Boolean]
  private val payloads = ArrayBuffer.empty[Long]
  private val index = mutable.HashMap.empty[String, Int]
  private val perShard = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private var payload = 0L
  private var n = 0

  def add(rows: Seq[Gen.Row]): Unit = rows.foreach { r =>
    val s = shardOf(r.vector)
    index(r.id) = ids.size
    ids += r.id; vecs += r.vector; shards += s; alive += true; payloads += r.payloadBytes
    norms += math.sqrt(r.vector.map(x => x.toDouble * x).sum)
    perShard(s) += 1; payload += r.payloadBytes; n += 1
  }

  def remove(id: String): Unit = {
    val i = index(id)
    require(alive(i), s"$id is not live")
    alive(i) = false; perShard(shards(i)) -= 1; payload -= payloads(i); n -= 1
  }

  def size: Int = n
  def payloadBytes: Long = payload
  def occupied(shard: Int): Boolean = perShard(shard) > 0
  def liveIndices: IndexedSeq[Int] = ids.indices.filter(alive)
  def id(i: Int): String = ids(i)
  def vector(i: Int): Array[Float] = vecs(i)
  def isLive(id: String): Boolean = index.get(id).exists(alive)
  def shardOfId(id: String): Int = shards(index(id))

  /** Cosine distance of live row `id` to `q`, as the lake defines it. */
  def dist(id: String, q: Array[Double], qNorm: Double): Double = {
    val i = index(id)
    cosine(vecs(i), norms(i), q, qNorm)
  }

  private def cosine(v: Array[Float], vn: Double, q: Array[Double], qn: Double): Double = {
    var d = 0.0
    var j = 0
    while (j < q.length) { d += v(j).toDouble * q(j); j += 1 }
    1.0 - d / (vn * qn)
  }

  /** Exact k nearest live rows as (id, distance), nearest first: over
    * the whole lake, and within `shard` (empty when None), in one pass. */
  def topK(q: Array[Double], k: Int, shard: Option[Int])
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val all, inShard = mutable.PriorityQueue.empty[(Double, String)]
    def offer(h: mutable.PriorityQueue[(Double, String)], d: Double, id: String): Unit =
      if (h.size < k) h.enqueue((d, id))
      else if (d < h.head._1) { h.dequeue(); h.enqueue((d, id)) }
    var i = 0
    while (i < ids.size) {
      if (alive(i)) {
        val d = cosine(vecs(i), norms(i), q, qn)
        offer(all, d, ids(i))
        if (shard.contains(shards(i))) offer(inShard, d, ids(i))
      }
      i += 1
    }
    def sorted(h: mutable.PriorityQueue[(Double, String)]) =
      h.dequeueAll[(Double, String)].reverse.map(p => (p._2, p._1)).toSeq
    (sorted(all), sorted(inShard))
  }
}

/** The lake workloads: an untimed warm-up on a tiny side lake, setup
  * (bulk ingest and seal, repeated), then the measured rounds of reads,
  * writes and maintenance. Every answer is checked against the harness's
  * brute force, untimed. */
final class LakeWorkload(spark: SparkSession, val shape: Shape, seed: Long,
    workDir: String, tr: Tracer, corruptExpected: Boolean) {
  private val K = shape.k
  private val TOL = 2e-6
  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Rows `from` until `from + n` as a frame (id, vector, document) in
    * `slices` partitions, generated by Spark tasks from the pure row
    * function the harness's model uses, and checkpointed before it is
    * returned: the timed `ingest` reads stored rows and does not pay
    * for generating them. */
  private def frame(from: Long, n: Int, slices: Int): DataFrame = {
    val g = gen
    spark.range(from, from + n, 1, slices)
      .map(i => g.row(i))(org.apache.spark.sql.Encoders.product[Gen.Row]).toDF()
      .localCheckpoint()
  }

  /** Runs one operation: counts it, and counts it failed when it throws
    * or `check` returns an error. */
  private def op[A](what: String)(run: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val res = try Right(run) catch { case e: Throwable => Left(s"$what threw: $e") }
    val err = res.fold(Some(_), a => try check(a) catch {
      case e: Throwable => Some(s"$what check threw: $e")
    })
    err.foreach { m => failed += 1; if (failures.size < 20) failures += m }
    res.toOption.filter(_ => err.isEmpty)
  }

  private val gen = new Gen(seed, shape.dim, shape.clusters, shape.spread)
  private val lsh = graft.functions.Lsh(shape.dim, shape.numHashes)
  private val live = new LiveSet(lsh.planes)
  private var nextRow = 0L
  private def newRows(n: Int): Array[Gen.Row] = {
    val rs = gen.rows(nextRow, n); nextRow += n; rs
  }
  private var lake: Lake = _
  private var lastSeal = 0L
  private var sinceSeal = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Off on the warm-up lake: its checks would only cost wall time. */
  private var scanChecks = true

  def run(seconds: Double): LakeWorkload.Result = {
    val tWarm = System.nanoTime()
    warmUp()
    val tSetup = System.nanoTime()
    setup()
    // untimed: no timed maintenance pays for the bulk ingest's layout
    maintain(timed = false)
    val t0 = System.nanoTime()
    phases("warmup_wall_s") = (tSetup - tWarm) / 1e9
    phases("setup_wall_s") = (t0 - tSetup) / 1e9
    val rounds = shape.rounds(seconds)
    (1 to rounds).foreach(_ => round(shape, timed = true))
    maintain(timed = true)
    checkLive("vacuum")
    val window = (System.nanoTime() - t0) / 1e9
    lake.delete()
    LakeWorkload.Result(attempted, failed, failures.toSeq, samples.map {
      case (k, v) => k -> v.toSeq }.toMap, rounds, window, tr.calls.toSeq, phases.toMap)
  }

  // ---- setup -------------------------------------------------------

  /** Class loading, JIT and Spark's lazy set-up, paid before anything is
    * timed: one untimed setup, round and maintenance on a tiny side lake.
    * Its answers are checked and counted like any other; its live-row
    * scans are skipped. */
  private def warmUp(): Unit = {
    val side = new LakeWorkload(spark, Shape.tiny(shape).copy(setupReps = 1), seed,
      s"$workDir-warm", tr, corruptExpected)
    side.scanChecks = false
    side.setup()
    side.round(side.shape, timed = false)
    side.maintain(timed = false)
    side.lake.delete()
    attempted += side.attempted
    failed += side.failed
    failures ++= side.failures
  }

  private def setup(): Unit = {
    val base = newRows(shape.rows)
    val df = frame(0L, base.length, spark.sparkContext.defaultParallelism)
    for (rep <- 0 until shape.setupReps) {
      val loc = s"$workDir/lake-$rep"
      val t0 = System.nanoTime()
      val l = Lake(spark, LakeConfig(loc, dim = shape.dim, numHashes = shape.numHashes))
      val (_, ingestS) = tr.call("Lake.ingest.bulk", trace = false)(l.ingest(df))
      val (v, _) = tr.call("Lake.seal", trace = false)(l.seal())
      sample("setup", (System.nanoTime() - t0) / 1e9)
      sample("ingest_rows_per_s", shape.rows / ingestS)
      if (lake != null) lake.delete()
      lake = l
      lastSeal = v
    }
    live.add(base.toSeq)
    checkLive("setup")
  }

  /** One scan after a commit: the live count must equal ingested minus
    * deleted, every id of `present` must be readable and none of
    * `absent`. */
  private def checkLive(after: String, present: Seq[String] = Nil,
      absent: Seq[String] = Nil): Unit = if (scanChecks) {
    def hits(ids: Seq[String]) =
      if (ids.isEmpty) lit(0L) else sum(when(col("id").isin(ids: _*), 1L).otherwise(0L))
    op(s"live rows after $after")(lake.read()
      .agg(count(lit(1)), hits(present), hits(absent)).head()) { r =>
      val (n, p, a) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (n != live.size) Some(s"live count $n after $after, expected ${live.size}")
      else if (p != present.size) Some(s"${present.size - p} new ids missing after $after")
      else if (a != 0) Some(s"$a deleted ids still readable after $after")
      else None
    }
  }

  // ---- reads -------------------------------------------------------

  private def queries(n: Int): Array[Seq[Double]] = {
    val cands = live.liveIndices.map(live.vector)
    val qs = gen.queries(n, cands, shape.queryNoise, lsh.shardOf, live.occupied)
    Gen.requireOccupied(qs.toSeq, lsh.shardOf, live.occupied)
    qs
  }

  /** Checks one query's answer: every id live (and in the routed shard
    * when routed), every distance the true one, and the distance list
    * equal to the brute-force top-k. Returns the recall against the
    * exact top-k of the whole lake. */
  private def checkAnswer(q: Seq[Double], got: Seq[(String, Double)],
      routed: Boolean): Either[String, Double] = {
    val qa = q.toArray
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val shard = if (routed) Some(lsh.shardOf(q)) else None
    val (exact, inShard) = live.topK(qa, K, shard)
    val expected0 = if (routed) inShard else exact
    val expected = if (corruptExpected) expected0.map { case (i, d) => (i, d + 1e-3) }
      else expected0
    val bad = got.collectFirst {
      case (id, _) if !live.isLive(id) => s"returned non-live id $id"
      case (id, _) if shard.exists(_ != live.shardOfId(id)) => s"$id outside routed shard"
      case (id, d) if math.abs(d - live.dist(id, qa, qn)) > TOL =>
        s"$id distance $d, true ${live.dist(id, qa, qn)}"
    }
    if (bad.nonEmpty) Left(bad.get)
    else if (got.size != expected.size) Left(s"${got.size} results, expected ${expected.size}")
    else got.map(_._2).sorted.zip(expected.map(_._2)).collectFirst {
      case (g, e) if math.abs(g - e) > TOL => s"distance $g where brute force has $e"
    } match {
      case Some(m) => Left(m)
      case None =>
        val ex = exact.map(_._1).toSet
        Right(got.count(p => ex(p._1)).toDouble / math.min(K, exact.size))
    }
  }

  private var singleSeq = 0

  /** In a traced run every other timed single call runs bare, with every
    * instrument off: the two medians give what tracing costs. */
  private def single(q: Seq[Double], timed: Boolean): Unit = {
    singleSeq += 1
    val traceIt = timed && singleSeq % 2 == 0
    op("topK") {
      def run = tr.call2("Lake.topK", traceIt)(lake.topK(q, K))(_.select("id", "dist").collect())
      if (timed && !traceIt) tr.bare(run) else run
    } { case (rows, b, e) =>
      if (timed) {
        sample("knn", b + e)
        if (tr.traced) sample(if (traceIt) "knn.traced" else "knn.bare", b + e)
        if (traceIt) rowsScanned(rows.length)
      }
      checkAnswer(q, rows.map(r => (r.getString(0), r.getDouble(1))).toSeq, routed = true)
        .fold(Some(_), r => { if (timed) sample("recall", r); None })
    }
  }

  private def rowsScanned(results: Int): Unit = if (results > 0)
    tr.calls.lastOption.foreach(c => sample("knn.rows_scanned_per_result",
      c.d("scan_rows") / results))

  private def batch(qs: Array[Seq[Double]], routed: Boolean, timed: Boolean): Unit = {
    val fn = if (routed) "Lake.topKBatchRouted" else "Lake.topKBatch"
    val indexed = qs.indices.map(i => (i.toLong, qs(i)))
    op(fn) {
      tr.call2(fn, timed)(if (routed) lake.topKBatchRouted(indexed, K)
        else lake.topKBatch(indexed, K))(_.select("qid", "id", "dist").collect())
    } { case (rows, b, e) =>
      if (timed) {
        sample(if (routed) "routed_s" else "exact_s", b + e)
        sample(if (routed) "routed_q" else "exact_q", qs.length)
      }
      val byQ = rows.groupBy(_.getLong(0))
      val answers = indexed.map { case (qid, q) =>
        checkAnswer(q, byQ.getOrElse(qid, Array.empty[Row])
          .map(r => (r.getString(1), r.getDouble(2))).toSeq, routed)
      }
      answers.collectFirst { case Left(m) => m } match {
        case Some(m) => Some(m)
        case None =>
          if (timed && routed) answers.foreach(_.foreach(sample("recall", _)))
          None
      }
    }
  }

  // ---- writes ------------------------------------------------------

  private def round(sz: Shape, timed: Boolean): Unit = {
    val qs = queries(sz.singles + sz.routedSize + sz.exactBatches * sz.exactSize)
    val half = sz.singles / 2
    qs.take(half).foreach(single(_, timed))
    batch(qs.slice(sz.singles, sz.singles + sz.routedSize), routed = true, timed)
    qs.slice(half, sz.singles).foreach(single(_, timed))
    qs.drop(sz.singles + sz.routedSize).grouped(sz.exactSize)
      .foreach(batch(_, routed = false, timed))
    (1 to sz.appends).foreach(_ => append(sz, timed))
    deleteSealFeed(sz, timed)
    if (tr.traced && timed) lakeShape()
  }

  private def append(sz: Shape, timed: Boolean): Unit = {
    val from = nextRow
    val added = newRows(sz.appendRows).toSeq
    val appendPayload = added.map(_.payloadBytes).sum
    val rows = frame(from, added.size, 1)
    op("ingest")(tr.call("Lake.ingest", timed)(lake.ingest(rows))) { case (_, s) =>
      if (timed) {
        sample("append", s)
        if (tr.traced) tr.calls.lastOption.foreach(c =>
          sample("write.bytes_per_user_byte", c.d("storage.bytes_written") / appendPayload))
      }
      None
    }
    live.add(added)
    sinceSeal._1 ++= added.map(_.id)
    checkLive("ingest", present = added.map(_.id))
  }

  private def deleteSealFeed(sz: Shape, timed: Boolean): Unit = {
    // delete rows that predate the last seal, so the feed shows them
    val before = live.liveIndices.map(live.id).filterNot(sinceSeal._1.toSet)
    val doomed = (0 until sz.deletes).map(_ => before(gen.nextInt(before.size))).distinct
    op("deleteIds")(tr.call("Lake.deleteIds", timed)(lake.deleteIds(doomed))) { case (n, s) =>
      if (timed) sample("delete", s)
      if (n == doomed.size) None else Some(s"deleteIds removed $n of ${doomed.size}")
    }
    doomed.foreach(live.remove)
    sinceSeal._2 ++= doomed
    checkLive("deleteIds", absent = doomed)

    val prev = lastSeal
    op("seal")(tr.call("Lake.seal", timed)(lake.seal()))(_ => None).foreach(v => lastSeal = v._1)
    op("changesSince") {
      tr.call2("Lake.changesSince", timed)(lake.changesSince(prev))(
        _.select("id", "change").collect())
    } { case (rows, b, e) =>
      if (timed) sample("feed", b + e)
      val ins = rows.filter(_.getString(1) == "insert").map(_.getString(0)).toSet
      val del = rows.filter(_.getString(1) == "delete").map(_.getString(0)).toSet
      val (wantIns, wantDel) = (sinceSeal._1.toSet, sinceSeal._2.toSet)
      if (rows.length == ins.size + del.size && ins == wantIns && del == wantDel) None
      else Some(s"change feed since $prev: ${ins.size} inserts / ${del.size} deletes, " +
        s"expected ${wantIns.size} / ${wantDel.size}")
    }
    sinceSeal = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
  }

  /** Compacts every shard holding more than one file, then vacuums. The
    * live rows are checked after the compaction commit; the caller checks
    * them after the vacuum. */
  private def maintain(timed: Boolean): Unit = {
    val c = op("compactIncremental")(tr.call("Lake.compactIncremental", timed)(
      lake.compactIncremental(maxFilesPerShard = 1)))(_ => None)
    if (tr.traced && timed) c.foreach(_ => tr.calls.lastOption.foreach(x =>
      sample("compact.bytes_rewritten", x.d("storage.bytes_written"))))
    checkLive("compactIncremental")
    val filesBefore = if (tr.traced && timed) dataFiles() else 0L
    val v = op("vacuum")(tr.call("Lake.vacuum", timed)(lake.vacuum()))(_ => None)
    if (tr.traced && timed) sample("vacuum.files_deleted", (filesBefore - dataFiles()).toDouble)
    if (timed) for (a <- c; b <- v) {
      sample("maintain", a._2 + b._2)
      if (tr.traced)
        sample("lake.bytes_per_user_byte", bytesUnderRoot().toDouble / live.payloadBytes)
    }
    // vacuum retires old sync points: seal a fresh one for the next feed
    op("seal")(lake.seal())(_ => None).foreach(lastSeal = _)
    sinceSeal = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
  }

  // ---- lake shape (traced runs only) -------------------------------

  private def fs = new Path(lake.cfg.location).getFileSystem(spark.sessionState.newHadoopConf())

  private def bytesUnderRoot(): Long =
    fs.getContentSummary(new Path(lake.cfg.location)).getLength

  private def dataFiles(): Long = {
    val it = fs.listFiles(new Path(lake.cfg.location), true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  private def lakeShape(): Unit = {
    val t0 = System.nanoTime()
    val df = lake.read()
    sample("lake.read_build_s", (System.nanoTime() - t0) / 1e9)
    sample("lake.live_files", df.inputFiles.length.toDouble)
    val metas = fs.listStatus(new Path(lake.cfg.location))
      .filter(s => s.getPath.getName.matches("""_meta\.\d+\.json"""))
    sample("lake.sidecar_n", metas.length.toDouble)
    sample("lake.sidecar_bytes", metas.maxBy(s =>
      s.getPath.getName.stripPrefix("_meta.").stripSuffix(".json").toLong).getLen.toDouble)
  }
}

object LakeWorkload {
  final case class Result(attempted: Long, failed: Long, failures: Seq[String],
      samples: Map[String, Seq[Double]], rounds: Int, windowS: Double,
      calls: Seq[Tracer.Call], phases: Map[String, Double])
}
