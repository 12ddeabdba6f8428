package perfbench

import java.util.SplittableRandom

/** Seeded input generators and the driver-side exact answers the ops are
  * checked against. Every value is a pure function of (seed, index), so the
  * driver and the executors produce identical inputs without shipping them. */
object Data {

  /** Gaussian clusters in [-1, 1]^dim: `clusters` centres, labels 0..9
    * drawn independently of the cluster (so a label filter keeps ~1/10 of
    * every neighbourhood). The centres are the same for every seed, so a
    * seed draws a new sample of one fixed distribution: how the clusters
    * sit against the grid's cells, which sets how far a search widens, does
    * not change with the seed. */
  final case class VecSpec(seed: Long, dim: Int, clusters: Int, sigma: Double) {
    val centres: Array[Array[Double]] = {
      val r = new SplittableRandom(7)
      Array.fill(clusters)(Array.fill(dim)(r.nextDouble(-0.7, 0.7)))
    }
    private def rng(stream: Long, i: Long) = new SplittableRandom(mix(seed, stream, i))

    /** Vector `i` of stream `stream` (stream 0 = the store, others = inserts,
      * updates, queries). */
    def vec(stream: Long, i: Long): Array[Float] = {
      val r = rng(stream, i)
      around(centres(r.nextInt(clusters)), r)
    }
    def label(stream: Long, i: Long): Int = rng(stream + 1000003L, i).nextInt(10)
    /** Query `i` of a stream falls in cluster i mod clusters, so every seed
      * queries the same clusters in the same order. */
    def query(stream: Long, i: Int): Array[Double] =
      around(centres(i % clusters), rng(stream, i)).map(_.toDouble)
    private def around(c: Array[Double], r: SplittableRandom): Array[Float] =
      Array.tabulate(dim)(d => (c(d) + sigma * r.nextGaussian()).toFloat)
  }

  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + c * 0x165667B19E3779F9L
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  // ---- exact kNN on the driver -------------------------------------------

  /** Same arithmetic as the engine's kernels: float inputs widened to
    * double, accumulated left to right over the dimensions. */
  def sqL2(v: Array[Float], q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val d = v(i).toDouble - q(i); s += d * d; i += 1 }
    s
  }
  def l1(v: Array[Float], q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += math.abs(v(i).toDouble - q(i)); i += 1 }
    s
  }

  final case class Hit(id: Long, label: Int, dist: Double)

  /** Top-k by (dist ASC, id ASC) over the rows `ids` with vectors `vecs`. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int], keep: Int => Boolean,
      dist: Array[Float] => Double, k: Int): Seq[Hit] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[Hit](
      Ordering.by[Hit, (Double, Long)](h => (h.dist, h.id)))
    var i = 0
    while (i < ids.length) {
      if (keep(i)) {
        val h = Hit(ids(i), labels(i), dist(vecs(i)))
        if (heap.size < k) heap.enqueue(h)
        else if (h.dist < heap.head.dist || (h.dist == heap.head.dist && h.id < heap.head.id)) {
          heap.dequeue(); heap.enqueue(h)
        }
      }
      i += 1
    }
    heap.toSeq.sortBy(h => (h.dist, h.id))
  }

  /** Same ids in the same order, labels equal, distances within 1e-9
    * relative (the engine sums in the same order, so they are normally
    * bit-equal). */
  def sameHits(got: Seq[(Long, Int, Double)], want: Seq[Hit]): Boolean =
    got.length == want.length && got.zip(want).forall { case ((id, lab, d), h) =>
      id == h.id && (lab == h.label || h.label < 0) &&
        math.abs(d - h.dist) <= 1e-9 * math.max(1.0, math.abs(h.dist))
    }

  // ---- curation corpus ---------------------------------------------------

  private val English = Array("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  private val Content: Array[String] = {
    val r = new SplittableRandom(99)
    val letters = "abcdefghijklmnoprstuvwy"
    Array.fill(4000)(Array.fill(3 + r.nextInt(6))(letters.charAt(r.nextInt(letters.length))).mkString)
  }

  /** Kind of each planted document. */
  object Kind { val Original = 0; val ExactDup = 1; val NearDup = 2; val Foreign = 3 }

  final case class Doc(id: Long, text: String, kind: Int)

  /** `n` documents: ~10% exact copies and ~8% one-word edits of an earlier
    * original, ~8% other-language text (no English stopwords). */
  def corpus(seed: Long, n: Int): Array[Doc] = {
    val r = new SplittableRandom(mix(seed, 77, 0))
    val out = new Array[Doc](n)
    val originals = scala.collection.mutable.ArrayBuffer[Int]()
    def english(len: Int): Array[String] =
      Array.fill(len)(if (r.nextInt(4) == 0) English(r.nextInt(English.length))
        else Content(r.nextInt(Content.length)))
    var i = 0
    while (i < n) {
      val u = r.nextInt(100)
      out(i) =
        if (u < 10 && originals.nonEmpty) {
          val s = originals(r.nextInt(originals.size))
          Doc(i, out(s).text, Kind.ExactDup)
        } else if (u < 18 && originals.nonEmpty) {
          val s = originals(r.nextInt(originals.size))
          val w = out(s).text.split(" ")
          w(r.nextInt(w.length)) = Content(r.nextInt(Content.length))
          Doc(i, w.mkString(" "), Kind.NearDup)
        } else if (u < 26) {
          Doc(i, Array.fill(60 + r.nextInt(40))(Content(r.nextInt(Content.length))).mkString(" "),
            Kind.Foreign)
        } else {
          originals += i
          Doc(i, english(60 + r.nextInt(40)).mkString(" "), Kind.Original)
        }
      i += 1
    }
    out
  }
}
