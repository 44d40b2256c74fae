package perfbench

import java.util.SplittableRandom

/** Seeded inputs for every workload. Row `i` of a seed is a pure
  * function of (seed, i), so the same seed always yields the same
  * vectors, tags and texts, and the exact answers can be computed here
  * without asking the engine.
  */
final class Data(val seed: Long, val dim: Int, val centres: Int) extends Serializable {
  private def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L + i)

  /** Cluster centres, coordinates drawn from N(0, 1). */
  val centre: Array[Array[Float]] = Array.tabulate(centres) { c =>
    val r = rng(1, c)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  val spread = 0.35

  /** A point around centre `c`, from stream `stream`, index `i`. */
  def around(c: Int, stream: Long, i: Long): Array[Float] = {
    val r = rng(stream, i)
    val base = centre(c)
    Array.tabulate(dim)(j => (base(j) + spread * r.nextGaussian()).toFloat)
  }

  /** Base row `i`: its centre is drawn uniformly. */
  def baseVec(i: Long): Array[Float] = around(baseCentre(i), 2, i)
  def baseCentre(i: Long): Int = rng(3, i).nextInt(centres)
  def tag(i: Long): Int = rng(4, i).nextInt(100)

  // 12-word texts with Zipf(1) word frequencies over a 5,000-word
  // vocabulary. Words are letter-only so every analyzer keeps them.
  val vocabSize = 5000
  val wordsPerDoc = 12
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def word(rank: Int): String = {
    val sb = new StringBuilder("w")
    var n = rank
    do { sb.append(('a' + n % 26).toChar); n /= 26 } while (n > 0)
    sb.toString
  }
  def text(i: Long): String = {
    val r = rng(5, i)
    Seq.fill(wordsPerDoc) {
      val u = r.nextDouble()
      val at = java.util.Arrays.binarySearch(zipfCdf, u)
      word(math.min(vocabSize - 1, if (at >= 0) at else -at - 1))
    }.mkString(" ")
  }

  /** A two-word text query over mid-frequency words. */
  def textQuery(i: Long): String = {
    val r = rng(6, i)
    Seq.fill(2)(word(20 + r.nextInt(480))).mkString(" ")
  }
}

object Exact {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    s
  }

  /** Exact L2 top-k over (ids, vecs) restricted to `keep`, ties broken
    * by ascending pk — the order the engine's exact route promises.
    * Returns (pk, squared distance) pairs, nearest first.
    */
  def topK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]],
      k: Int, keep: Int => Boolean = _ => true): Array[(Long, Double)] = {
    // Bounded max-heap on (dist, pk).
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        val d = l2(q, vecs(i))
        if (heap.size < k) heap.enqueue((d, ids(i)))
        else if (ord.lt((d, ids(i)), heap.head)) {
          heap.dequeue(); heap.enqueue((d, ids(i)))
        }
      }
      i += 1
    }
    heap.toSeq.sorted(ord).map(x => (x._2, x._1)).toArray
  }

  /** Exact answers for many queries, computed on `threads` threads. */
  def topKAll(qs: IndexedSeq[Array[Float]], ids: Array[Long],
      vecs: Array[Array[Float]], k: Int, threads: Int,
      keep: Int => Boolean = _ => true)
      : IndexedSeq[Array[(Long, Double)]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = qs.indices.map(qi => pool.submit(
        new java.util.concurrent.Callable[Array[(Long, Double)]] {
          def call(): Array[(Long, Double)] = topK(qs(qi), ids, vecs, k, keep)
        }))
      fs.map(_.get())
    } finally pool.shutdownNow()
  }

  /** Two ranked pk lists agree when they are equal, or differ only
    * where the exact distances tie to within float rounding.
    */
  def sameRanking(got: Seq[Long], want: Array[(Long, Double)],
      dist: Long => Double): Boolean =
    got.length == want.length && got.indices.forall { i =>
      got(i) == want(i)._1 ||
        math.abs(dist(got(i)) - want(i)._2) <= 1e-5 * math.max(1.0, want(i)._2)
    }

  def recall(got: Seq[Long], want: Array[(Long, Double)], k: Int): Double = {
    val truth = want.take(k).map(_._1).toSet
    if (truth.isEmpty) 1.0 else got.take(k).count(truth.contains).toDouble / truth.size
  }
}
