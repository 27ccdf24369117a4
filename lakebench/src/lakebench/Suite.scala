package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The registry-suite phase of every run: a fixed subset of the
  * `Registry` queries, the first of each registry module, over the sf0.001 testdata copy in
  * `lakebench/data`. Each query is timed from DataFrame build to
  * `.count()`. One untimed warm-up pass pays the session's fixture
  * builds and code generation; its wall time is part of `setup_s`. It
  * runs first in a run, before the lake workload; after the lake
  * workload come [[Passes]] timed passes, each in its own seeded order.
  * Each query's result fingerprint is then checked, untimed, against
  * `lakebench/fingerprints_sf0.001.json`, recorded from a run whose
  * answers matched the DuckDB oracle (`tools/check.py`). */
object Suite {
  val DataDir = "lakebench/data/sf0.001"
  val FingerprintFile = "lakebench/fingerprints_sf0.001.json"
  val Passes = 2

  /** Registry module of each query, by the module lists Registry joins. */
  def modules: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all, "DedupQueries" -> DedupQueries.all,
    "TextQueries" -> TextQueries.all, "RelationalQueries" -> RelationalQueries.all,
    "OlapQueries" -> OlapQueries.all, "MultimodalQueries" -> MultimodalQueries.all,
    "AnnQueries" -> AnnQueries.all, "PipelineQueries" -> PipelineQueries.all,
    "CurationQueries" -> CurationQueries.all)

  /** The queries a run times, as (module, query). */
  def queries: Seq[(String, Q)] = modules.map { case (m, qs) => m -> qs.head }

  /** Order-insensitive fingerprint of a result: row count and the SHA-1
    * of its rows rendered as strings and sorted. Doubles render exactly,
    * so callers compare results already rounded the way the oracle is. */
  def fingerprint(df: DataFrame): String = fingerprintRows(df.collect().map(_.toString).toSeq)

  def fingerprintRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(0.toByte) }
    s"${rows.size}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  final case class Result(attempted: Long, failed: Long, failures: Seq[String],
      passes: Int, warmupS: Double, totalS: Double, buildS: Seq[Double],
      calls: Seq[Tracer.Call], fingerprints: Map[String, String])

  private[lakebench] def readMap(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** One run's suite phase: [[warmUp]] first, then [[measure]]. With
  * `corrupt`, every recorded fingerprint is altered, so every check
  * must fail. */
final class Suite(spark: SparkSession, tr: Tracer, seed: Long, corrupt: Boolean) {
  import Suite._

  private val sfDir = new java.io.File(DataDir).getAbsolutePath
  private val rng = new scala.util.Random(seed)
  private var attempted, failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val builds = mutable.ArrayBuffer.empty[Double]
  private var warmupS = 0.0

  private def pass(timed: Boolean): Unit = rng.shuffle(queries).foreach { case (module, q) =>
    if (timed) attempted += 1
    try {
      val (_, b, e) = tr.call2(s"suite.$module", timed)(q.fn(spark, sfDir))(_.count())
      if (timed) {
        walls.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += b + e
        builds += b
      }
    } catch { case e: Throwable =>
      if (timed) { failed += 1; failures += s"${q.name} threw: $e" }
    }
  }

  /** The untimed pass: fixture builds and code generation. */
  def warmUp(): Unit = {
    val t0 = System.nanoTime()
    pass(timed = false)
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** `passes` timed passes, then the fingerprint checks, untimed. */
  def measure(passes: Int): Result = {
    val expected = readMap(FingerprintFile).map { case (k, v) => k -> (if (corrupt) v + "x" else v) }
    val calls0 = tr.calls.size
    (1 to passes).foreach(_ => pass(timed = true))
    val calls = tr.calls.drop(calls0).toSeq
    val got = queries.map { case (_, q) =>
      attempted += 1
      val fp = try fingerprint(q.fn(spark, sfDir)) catch { case e: Throwable => s"error: $e" }
      val want = expected.getOrElse(q.name, "none recorded")
      if (fp != want) { failed += 1; failures += s"${q.name} fingerprint $fp, recorded $want" }
      q.name -> fp
    }.toMap
    Result(attempted, failed, failures.toSeq, passes, warmupS,
      walls.values.map(w => Stats.median(w.toSeq)).sum, builds.toSeq, calls, got)
  }
}
