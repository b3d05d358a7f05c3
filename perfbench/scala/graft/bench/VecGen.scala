package graft.bench

import java.util.SplittableRandom

/** Seeded clustered vector corpus. Every vector is a pure function of
  * (seed, id), so Spark tasks and the driver-side reference produce the
  * same doubles.
  */
final case class VecGen(seed: Long, clusters: Int) {
  val dim = 64
  val centers: Array[Array[Double]] = {
    val r = new SplittableRandom(seed * 1000003L + 17)
    Array.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
  }

  private def rng(id: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + stream)

  def clusterOf(id: Long): Int = rng(id, 1).nextInt(clusters)

  def vector(id: Long): Array[Double] = {
    val c = centers(clusterOf(id))
    val r = rng(id, 2)
    Array.tabulate(dim)(d => c(d) + 0.6 * r.nextGaussian())
  }

  def label(id: Long): Int = clusterOf(id) % 8
}

/** Seeded request stream over a corpus of ids [0, n): a perturbed corpus
  * vector whose cluster is drawn with a Zipf skew.
  */
final class QueryGen(g: VecGen, n: Long, stream: Long) {
  private val r = new SplittableRandom(g.seed * 7919 + stream)
  private val members: Array[Array[Long]] = {
    val by = (0L until n).groupBy(g.clusterOf)
    Array.tabulate(g.clusters)(c => by.getOrElse(c, Nil).toArray)
  }
  // Zipf rank → cluster, in a seeded order; empty clusters never drawn
  private val rank: Array[Int] = {
    val a = Array.range(0, g.clusters).filter(members(_).nonEmpty)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(rank.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  /** Next query vector: a member of a Zipf-drawn cluster, perturbed. */
  def next(): Array[Double] = {
    val u = r.nextDouble()
    val m = members(rank(cdf.indexWhere(_ >= u) max 0))
    g.vector(m(r.nextInt(m.length))).map(_ + 0.05 * r.nextGaussian())
  }

  def nextInt(bound: Int): Int = r.nextInt(bound)
}

/** Plain-Scala reference for the stores' ranking contract: round-6
  * cosine with the same left-to-right dot folds, ties by ascending id.
  */
object Exact {
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  def sim(q: Array[Double], qn: Double, v: Array[Double], vn: Double): Double =
    round6(dot(q, v) / (qn * vn))

  /** Top-k (id, sim) over the candidate ids, sim desc then id asc. */
  def topK(q: Array[Double], ids: Iterator[Long], vec: Long => Array[Double],
           nrm: Long => Double, k: Int): Seq[(Long, Double)] = {
    val qn = norm(q)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](
      Ordering.by[(Long, Double), (Double, Long)](t => (-t._2, t._1)))
    ids.foreach { id =>
      val s = sim(q, qn, vec(id), nrm(id))
      if (heap.size < k) heap.enqueue((id, s))
      else {
        val worst = heap.head
        if (s > worst._2 || (s == worst._2 && id < worst._1)) {
          heap.dequeue(); heap.enqueue((id, s))
        }
      }
    }
    heap.dequeueAll.reverse.toSeq
  }

  /** IVF list of each vector: highest round-6 centroid cosine, ties to
    * the lower list id.
    */
  def assign(v: Array[Double], vn: Double, cents: Array[(Int, Array[Double])]): Int =
    cents.map { case (cid, cv) => (sim(v, vn, cv, math.sqrt(cv.map(x => x * x).sum)), -cid) }
      .max._2 * -1

  /** The `nprobe` lists a query probes: descending round-6 sim, then cid. */
  def probes(q: Array[Double], cents: Array[(Int, Array[Double])], nprobe: Int): Set[Int] = {
    val qn = norm(q)
    cents.map { case (cid, cv) => (-sim(q, qn, cv, math.sqrt(cv.map(x => x * x).sum)), cid) }
      .sorted.take(nprobe).map(_._2).toSet
  }
}
