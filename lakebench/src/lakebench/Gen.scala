package lakebench

/** Seeded inputs for the lake workloads: clustered unit-scale vectors
  * and query vectors made by perturbing stored rows.
  *
  * Rows are drawn around `clusters` gaussian centres, so the LSH router
  * spreads them over many shards but not uniformly — real embedding
  * sets are clustered too. A query is a live row plus small gaussian
  * noise, so its routed shard normally holds its source row; a query
  * whose noise carries it into an empty shard is redrawn, and
  * [[requireOccupied]] asserts the result. A pure `sin` pattern routes
  * most queries into empty shards, where a routed scan times nothing.
  */
final class Gen(seed: Long, val dim: Int, clusters: Int, spread: Double)
    extends Serializable {
  private val centres: Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(clusters, dim)(r.nextGaussian())
  }
  /** Draws queries and delete victims; rows never use it. */
  @transient private lazy val rng = new java.util.Random(Gen.mix(seed, -1L))

  /** Row `i`, a pure function of (seed, i): Spark tasks and the harness
    * build the same row. The id is `r<seed>-<i>`. */
  def row(i: Long): Gen.Row = {
    val r = new java.util.Random(Gen.mix(seed, i))
    val c = r.nextInt(clusters)
    val v = Array.tabulate(dim)(j => (centres(c)(j) + spread * r.nextGaussian()).toFloat)
    Gen.Row(s"r$seed-$i", v, s"doc $i of cluster $c")
  }

  /** Rows `from` until `from + n`. */
  def rows(from: Long, n: Int): Array[Gen.Row] = Array.tabulate(n)(j => row(from + j))

  /** `n` query vectors: a uniformly chosen candidate row plus N(0, noise)
    * per dimension, redrawn (up to 64 times) while its routed shard is
    * empty under `shardOf`. */
  def queries(n: Int, candidates: IndexedSeq[Array[Float]], noise: Double,
      shardOf: Seq[Double] => Int, occupied: Int => Boolean): Array[Seq[Double]] =
    Array.fill(n) {
      var q: Seq[Double] = null
      var tries = 0
      while (q == null || (!occupied(shardOf(q)) && tries < 64)) {
        val base = candidates(rng.nextInt(candidates.size))
        q = base.toSeq.map(x => x + noise * rng.nextGaussian())
        tries += 1
      }
      q
    }

  def nextInt(bound: Int): Int = rng.nextInt(bound)
}

object Gen {
  /** SplitMix64 finalizer over (seed, i): decorrelated per-row seeds. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final case class Row(id: String, vector: Array[Float], document: String) {
    /** Bytes a user hands the lake for this row: id, vector and
      * document, UTF-8 and 4-byte floats. */
    def payloadBytes: Long =
      id.getBytes("UTF-8").length + 4L * vector.length +
        document.getBytes("UTF-8").length
  }

  /** Fails when any query routes to a shard with no live row. */
  def requireOccupied(qs: Seq[Seq[Double]], shardOf: Seq[Double] => Int,
      occupied: Int => Boolean): Unit = {
    val empty = qs.count(q => !occupied(shardOf(q)))
    require(empty == 0, s"$empty of ${qs.size} queries route to an empty shard")
  }
}
