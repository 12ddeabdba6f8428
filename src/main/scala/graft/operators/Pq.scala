package graft.operators

import graft.functions.VecArgMinL2
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory-side scale path the flat
  * store lacks: split each `dim`-vector into `m` subvectors of `dim/m`
  * dims, learn a small codebook per subspace, and store each vector as `m`
  * small codes (64-dim float32 = 256 B → 8 codes = 8 ints; bytes at rest in
  * parquet after dictionary encoding). At 100 TB this is the difference
  * between scanning the corpus and scanning 3% of it; queries compute an
  * asymmetric-distance lookup table (ADC) once, then score codes with `m`
  * array lookups per row — no float math in the hot loop.
  *
  * Spark-first shape: training is a deterministic hash-ordered sample +
  * driver-side Lloyd per subspace (the sample is tiny; the reference
  * re-solves harder per-pair problems, distance_metric.py:78-80); encoding
  * is the codegen'd [[VecArgMinL2]] argmin per subspace slice; search is a
  * `transform`-free unrolled m-term ADC Column (m is small and plan-time
  * constant) + exact re-rank of the PQ top-`refine` — the standard
  * ADC+refine pipeline, all inside whole-stage codegen.
  *
  * Approximate by construction (codes quantize); recall vs brute force is
  * pinned in PqSpec, exactness of every deterministic piece is spec'd.
  */
object Pq {

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (dsub doubles). */
  final case class PqModel(m: Int, ksub: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]])

  /** Deterministic training: md5-ordered sample of `sampleN` vectors
    * collected to the driver, then `iters` Lloyd steps per subspace.
    * Empty clusters keep their previous centroid (standard fix). */
  def train(db: DataFrame, dim: Int, m: Int = 8, ksub: Int = 16,
      sampleN: Int = 2000, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val sample = db
      .orderBy(Dedup.md5Int32(col(idCol).cast("string")), col(idCol))
      .limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "PQ training needs a non-empty store")
    // fewer sample vectors than requested centroids → smaller codebooks
    // (codes stay valid; Array.tabulate over ksub would index past cents)
    val k = math.min(ksub, sample.length)
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = sub.take(k).map(_.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var s = 0.0; var i = 0
            while (i < dsub) { val d = v(i) - cents(c)(i); s += d * d; i += 1 }
            if (s < bestD) { bestD = s; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(i => sums(c)(i) / counts(c))
        }
        it += 1
      }
      cents
    }
    PqModel(m, k, dsub, codebooks)
  }

  /** Seeded deterministic PQ training with INTEGER-EXACT codeword updates —
    * the hash-checkable trained-PQ path (same arithmetic contract as
    * [[Ann.lloydSeededExact]]): fixed literal seeds per subspace, each
    * iteration argmin-encodes (codegen'd per-subspace [[VecArgMinL2]]) and
    * moves every codeword to its code's mean computed on
    * `floor((v + 2) · 2^24)` BIGINTs with one truncating division, so every
    * trained coordinate is an exact 2^-24 multiple and the whole loop —
    * and the downstream ADC scan — replays bit-for-bit in the DuckDB
    * oracle. Distributed (no driver sample): one assignment pass + one
    * (subspace, code, dim) aggregation per iteration, collecting
    * m·ksub·dsub longs. Empty codes keep their previous codeword. */
  /** DOMAIN: every input coordinate must be ≥ -2 (same contract as
    * [[Ann.lloydSeededExact]] — the floor((v+2)·2^24) integer mean needs
    * non-negative terms for cross-engine-exact truncating division); the
    * guard fails loudly on out-of-range data. */
  def trainSeededExact(db: DataFrame, dim: Int,
      seeds: Array[Array[Array[Double]]], iters: Int,
      vecCol: String = "embedding"): PqModel = {
    val m = seeds.length
    val ksub = seeds(0).length
    val dsub = dim / m
    require(m * dsub == dim, s"dim $dim must divide into m=$m subspaces")
    // r17: the ≥ -2 domain guard rides the first training aggregation
    // (min over group mins ≡ global coordinate min — every coordinate of
    // every subvector appears in exactly one (j, code, i) group), saving
    // one full corpus pass per trained-PQ query; same value, same failure,
    // checked before any trained codeword is built. iters = 0 keeps the
    // standalone scan.
    if (iters == 0) Ann.requireDomainGeMinus2(db, vecCol)
    var books = seeds.map(_.map(_.clone))
    for (it <- 0 until iters) {
      val codes = (0 until m).map { j =>
        val sub = slice(col(vecCol), j * dsub + 1, dsub)
        ColumnBridge.column(VecArgMinL2(ColumnBridge.expression(sub), books(j)))
      }
      val sums = db
        .select(col(vecCol), posexplode(array(codes: _*)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col(vecCol), col("j") * lit(dsub) + lit(1), lit(dsub)))
            .as(Seq("i", "v")))
        .groupBy(col("j"), col("code"), col("i"))
        .agg(sum(floor((col("v").cast("double") + lit(2.0)) * lit(16777216.0))
            .cast("long")).as("s"),
          count(lit(1)).as("n"), min(col("v").cast("double")).as("mn"))
        .collect()
      if (it == 0) Ann.requireDomain(sums.map(_.get(5)))
      val next = books.map(_.map(_.clone))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          (r.getLong(3) / r.getLong(4)).toDouble / 16777216.0 - 2.0
      }
      books = next
    }
    PqModel(m, ksub, dsub, books)
  }

  /** `pq_codes` column: array<int> of length m, code j = argmin centroid of
    * subspace j (codegen'd loop per subspace over the slice). */
  def encode(db: DataFrame, model: PqModel, vecCol: String = "embedding"): DataFrame = {
    val codes = (0 until model.m).map { j =>
      val sub = slice(col(vecCol), j * model.dsub + 1, model.dsub)
      ColumnBridge.column(VecArgMinL2(ColumnBridge.expression(sub), model.codebooks(j)))
    }
    db.withColumn("pq_codes", array(codes: _*))
  }

  /** ADC lookup table for query q: `lut(j)(c)` = squared L2 between q's
    * subvector j and codebook entry c. Computed once on the driver. */
  def adcTable(q: Array[Double], model: PqModel): Array[Array[Double]] =
    Array.tabulate(model.m) { j =>
      Array.tabulate(model.ksub) { c =>
        var s = 0.0; var i = 0
        val cb = model.codebooks(j)(c)
        while (i < model.dsub) { val d = q(j * model.dsub + i) - cb(i); s += d * d; i += 1 }
        s
      }
    }

  /** Approximate squared L2 from the codes: Σ_j lut(j)(code_j). Unrolled
    * m-term Column (m is small and plan-time constant — stays codegen'd). */
  def adcDist(codes: Column, lut: Array[Array[Double]]): Column =
    lut.zipWithIndex.map { case (row, j) =>
      element_at(lit(row), element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** PQ top-k with exact re-rank: scan codes with the ADC distance, keep
    * the best `refine` candidates via distributed TakeOrderedAndProject,
    * then re-rank those few by exact squared L2. The candidate rows carry
    * their vectors, but the shuffle is bounded at `refine` rows PER
    * PARTITION (≈ refine × dim × 4 B, kilobytes) — far cheaper than the
    * alternative of re-scanning the corpus to re-attach vectors to the
    * winning ids. */
  def search(encoded: DataFrame, model: PqModel, q: Array[Double], k: Int,
      refine: Int = 100, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lut = adcTable(q, model)
    val cand = encoded
      .select(col(idCol), col(vecCol), adcDist(col("pq_codes"), lut).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(math.max(k, refine))
    cand
      .select(col(idCol),
        graft.functions.Distances.squaredL2Lit(col(vecCol), q).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVFPQ: the composition of both scale paths — IVF cell pruning picks
    * WHICH rows to look at (partition pruning on a store written
    * `partitionBy("ivf_cell")`), the ADC code scan decides HOW CHEAPLY to
    * look at each (no float math until re-rank). At 100 TB: nprobe/nlist of
    * the corpus read, m ints per row scanned, `refine` vectors touched. */
  def ivfPqSearch(encodedAssigned: DataFrame, centroids: Array[Array[Double]],
      model: PqModel, q: Array[Double], k: Int, nprobe: Int,
      refine: Int = 100, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cells = centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var d = 0
      while (d < c.length) { val x = q(d) - c(d); s += x * x; d += 1 }
      (s, i)
    }.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2)
    search(encodedAssigned.filter(col("ivf_cell").isin(cells.toSeq: _*)),
      model, q, k, refine, idCol, vecCol)
  }
}
