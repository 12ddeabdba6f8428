package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor — the scale path for similarity search
  * over 100 TB embedding stores, complementing the exact grid-pruned kNN
  * (which degrades at high dimension; the fixture vectors are 64-dim where
  * an equal-width grid over leading dims prunes poorly).
  *
  * Two public-textbook families:
  *  - IVF (inverted-file): coarse-quantize every vector to its nearest
  *    centroid; queries probe only the `nprobe` nearest centroid cells.
  *    Centroids here are a deterministic data sample (k-means-free), kept
  *    small and broadcast; the cell assignment is a codegen'd argmin
  *    expression, the store is partitioned by `ivf_cell`, and a probe scans
  *    nprobe/nCentroids of the data — file-level pruning at scale.
  *  - Random-hyperplane LSH (vector SimHash): sign-bit signature over
  *    deterministic hyperplanes; same-bucket vectors are near-dup
  *    candidates verified by exact cosine — linear scan + one shuffle on
  *    the signature, never a cross join.
  */
object Ann {

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Signature column: bit j = 1 iff dot(v, plane_j) >= 0. */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(Distances.dotLit(v, p) >= 0.0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Near-dup candidate pairs: same LSH signature (all bits equal). For
    * banded multi-probe, call with slices of the planes and union. */
  def lshCandidatePairs(db: DataFrame, planes: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    // hot-bucket cap (the Dedup band-join guard, same rationale): a
    // signature bucket holding a large near-identical embedding pocket is
    // a |bucket|² candidate cliff — and HERE each pair also carries two
    // vector payloads through the shuffle. Buckets past the cap drop out
    // of pairing (over-cap keys aggregated — near-empty by definition —
    // then anti-joined; AQE broadcasts the tiny list). Max observed
    // full-signature bucket at sf0.1 is 2.
    // ONE persist, on the PRE-cap signature table (r13): the nBits×dim
    // dot-products are the expensive stage, and the hot-bucket aggregation
    // build side, the anti-join probe side, AND both self-join sides all
    // derive from sig0 — caching it means the signatures compute once.
    // The capped table is deliberately NOT persisted (the r13 review
    // caught the double-cache leaking two full vector-payload copies per
    // call): each self-join side re-runs only the map-side-combinable hot
    // aggregation + a broadcast anti-join over CACHED rows, which is far
    // cheaper than pinning a second payload copy for the session.
    val sig0 = db.select(col(idCol), col(vecCol))
      .withColumn("lsh_sig", lshSignature(col(vecCol), planes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = sig0.groupBy(col("lsh_sig")).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket).drop("__bsz")
    val sig = sig0.join(hot, Seq("lsh_sig"), "left_anti")
    val a = sig.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("lsh_sig"))
    val b = sig.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("lsh_sig"))
    a.join(b, Seq("lsh_sig")).filter(col("id_a") < col("id_b"))
  }

  /** Candidate pairs + exact cosine verification in one pass. */
  def lshNearDupPairs(db: DataFrame, planes: Array[Array[Double]], dim: Int,
      minCosine: Double): DataFrame =
    lshCandidatePairs(db, planes)
      .withColumn("cos_sim", Distances.cosineSimCols(col("vec_a"), col("vec_b"), dim))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos_sim"))

  /** Multi-probe LSH top-k (Lv et al.): probe the query's hyperplane
    * bucket PLUS every bucket at Hamming distance 1 — the standard recall
    * lever that multiplies candidate coverage (1 + nBits buckets) without
    * adding hash tables. The query signature and its bit flips are driver
    * constants; candidate selection is one codegen'd `sig IN (...)` scan
    * (partition-prunable when the store is bucketed by signature) and the
    * exact squared-L2 re-rank bounds the output to k. Approximate by
    * nature: vectors outside every probed bucket are unseen (measure with
    * the recall-eval harness, cf. `ann_ivf_recall`). */
  def lshMultiProbeTopK(db: DataFrame, planes: Array[Array[Double]],
      q: Array[Double], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Seq("label")): DataFrame = {
    val probes = multiProbeSigs(planes, q)
    db.withColumn("lsh_sig", lshSignature(col(vecCol), planes))
      .filter(col("lsh_sig").isin(probes: _*))
      .select(col(idCol) +: metaCols.map(col) :+
        Distances.squaredL2Lit(col(vecCol), q).as("dist"): _*)
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** The probed bucket set: the query's signature plus every Hamming-1
    * flip. THE single definition — the operator, its DuckDB oracle, and
    * the plan-shape specs all consume this, so the probe policy can never
    * silently diverge between them. */
  def multiProbeSigs(planes: Array[Array[Double]], q: Array[Double]): Seq[Long] = {
    val qSig = querySignature(planes, q)
    qSig +: planes.indices.map(j => qSig ^ (1L << j))
  }

  /** Driver-side signature of a query vector (same sign rule as
    * [[lshSignature]]). */
  def querySignature(planes: Array[Array[Double]], q: Array[Double]): Long =
    planes.zipWithIndex.map { case (p, j) =>
      var dot = 0.0; var i = 0
      while (i < q.length) { dot += p(i) * q(i); i += 1 }
      if (dot >= 0.0) 1L << j else 0L
    }.reduce(_ | _)

  /** Banded LSH near-dup: split `planes` into bands of `bandBits`; vectors
    * colliding in ANY band are candidates (OR-amplification — recall rises
    * with band count, candidate volume with 2^-bandBits), deduped on the
    * pair key, then verified by exact cosine. Candidate generation is a
    * linear scan + one shuffle on (band, sig) — never a cross join. At
    * 100 TB use 8–16 bits/band so random collisions stay rare; 4 bits here
    * keeps the 500-row fixture non-degenerate. */
  def lshBandedNearDupPairs(db: DataFrame, planes: Array[Array[Double]], dim: Int,
      bandBits: Int, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    val bandCols = planes.grouped(bandBits).toArray.zipWithIndex.map { case (ps, b) =>
      struct(lit(b).as("band"), lshSignature(col(vecCol), ps).as("sig"))
    }
    // hot-bucket cap before the self-join (see [[lshCandidatePairs]]):
    // short band signatures make hot buckets LIKELIER (4-bit bands at the
    // fixture scale already hold ~50 vectors). Over-cap (band, sig) keys
    // aggregate to a near-empty list and anti-join out — cheaper than a
    // window count, which would re-sort the full bucket table per join
    // side. Dropped buckets are boilerplate-pocket signals. Max observed
    // band bucket at sf0.1 is 53 — the 1024 default never bites on real
    // geometry.
    // ONE persist, on the PRE-cap bucket table (r13, same reasoning as
    // [[lshCandidatePairs]]): the per-band signature dot-products compute
    // once into cache; the hot aggregation + broadcast anti-join replay
    // cheaply from cached rows per self-join side, instead of pinning a
    // second nBands-exploded vector-payload copy for the session
    val buckets0 = db
      .select(col(idCol), col(vecCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col(vecCol), col("bk.band").as("band"), col("bk.sig").as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = buckets0.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket).drop("__bsz")
    val buckets = buckets0.join(hot, Seq("band", "sig"), "left_anti")
    val a = buckets.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"), col("band"), col("sig"))
    val b = buckets.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("vec_a"), col("vec_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos_sim", Distances.cosineSimCols(col("vec_a"), col("vec_b"), dim))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  // ------------------------------------------------------------------- IVF

  /** Deterministic centroid pick: every (n/k)-th row by id — a uniform
    * sample without randomness (stable across engines and runs). At scale,
    * replace with sampled k-means|| over one pass; the interface is just
    * the centroid array. */
  def sampleCentroids(db: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val n = db.count()
    val stride = math.max(1L, n / nCentroids)
    db.filter(col(idCol) % stride === 0)
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
  }

  /** argmin-centroid assignment as a single codegen'd k×dim loop
    * ([[graft.functions.VecArgMinL2]]). The previous struct-array
    * `array_min` formulation left whole-stage codegen and evaluated
    * interpreted — ~100× slower at 1M rows (caught by ScaleProbe). */
  def ivfCell(v: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.VecArgMinL2(ColumnBridge.expression(v), centroids))
  }

  /** Add the `ivf_cell` column (persist with partitionBy("ivf_cell")). */
  def assign(db: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame =
    db.withColumn("ivf_cell", ivfCell(col(vecCol), centroids))

  /** Deterministic TWO-LEVEL codebook: kc coarse cells (stratified
    * id-minimum seeds), then up to kf fine seeds per coarse cell drawn the
    * same way from the cell's own members. Total ≈ kc·kf cells; ragged
    * (a sparse coarse cell yields fewer fine seeds; an empty one, its own
    * coarse centroid). Driver holds kc·kf·dim doubles — the codebook, not
    * the data. Pairs with [[assignTwoLevel]] for corpus-scaled codebooks
    * where flat [[assign]]'s O(k·dim)-per-row loop is the bottleneck. */
  def twoLevelCodebook(db: DataFrame, kc: Int, kf: Int,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    // seed pick = min md5(id) per stratum (ties → min id): hash-spread,
    // so sequential-id replicated corpora can't collapse the codebook
    // onto the first rows (the CosineJoin seed note, caught at 1M rows)
    val pick = struct(Dedup.md5Int32(col(idCol).cast("string")), col(idCol))
    val coarse = db
      .withColumn("_s", pmod(col(idCol), lit(kc.toLong)))
      .groupBy(col("_s")).agg(min_by(col(vecCol), pick).as("_c"))
      .orderBy(col("_s")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val fineRows = assign(db, coarse, vecCol)
      .withColumn("_s", pmod(col(idCol), lit(kf.toLong)))
      .groupBy(col("ivf_cell"), col("_s"))
      .agg(min_by(col(vecCol), pick).as("_c"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (c, rs) =>
        c -> rs.sortBy(_.getLong(1))
          .map(_.getSeq[Float](2).map(_.toDouble).toArray)
      }
    val fine = coarse.indices.map { c =>
      fineRows.getOrElse(c, Array(coarse(c)))
    }.toArray
    (coarse, fine)
  }

  /** Hierarchical assignment via [[graft.functions.VecArgMinL2TwoLevel]]:
    * probe the `probes` nearest coarse cells, argmin over their fine
    * codebooks — O((kc + probes·kf)·dim) per row vs flat O(kc·kf·dim).
    * `ivf_cell` is the GLOBAL fine id (stable for a fixed codebook). */
  def assignTwoLevel(db: DataFrame, coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]], probes: Int = 2,
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    db.withColumn("ivf_cell", ColumnBridge.column(
      graft.functions.VecArgMinL2TwoLevel(
        ColumnBridge.expression(col(vecCol)), coarse, fine, probes)))
  }

  /** One distributed Lloyd (k-means) step: each centroid moves to the mean
    * of its assigned vectors. posexplode + groupBy(cell, pos) avg — partial
    * aggregation map-side, k×dim rows to the driver; cells that lost all
    * rows keep their old centroid. The scale path to real IVF training:
    * iterate a handful of times over a sample, then [[assign]] the full
    * 100 TB store once. */
  def lloydStep(assigned: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): Array[Array[Double]] = {
    val means = assigned
      .select(col("ivf_cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("ivf_cell"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .collect()
    val out = centroids.map(_.clone)
    means.foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    out
  }

  /** Seeded deterministic Lloyd with INTEGER-EXACT centroid updates — the
    * hash-checkable trained-IVF path. Each iteration argmin-assigns
    * (codegen'd [[ivfCell]]) and moves every centroid to its cell's mean,
    * but the mean is computed on `floor((v + 2) · 2^24)` BIGINTs with one
    * truncating integer division, so every updated coordinate is an exact
    * multiple of 2^-24 and both the training loop and every downstream
    * distance replay bit-for-bit in any engine (the plain double mean of
    * [[lloydStep]] is summation-order-dependent and can't be oracled).
    * The 2^-24 quantization error per coordinate step is ~6e-8 — far
    * below any clustering-quality signal. Empty cells keep their previous
    * centroid (same rule as [[lloydStep]]).
    *
    * Scale shape: per iteration one codegen'd assignment pass + one
    * map-side-combinable (cell, dim) aggregation collecting k×dim longs
    * to the driver — the standard distributed Lloyd cost. */
  /** DOMAIN: every input coordinate must be ≥ -2. The integer-exact mean
    * relies on `floor((v + 2) · 2^24)` terms being NON-NEGATIVE so Java's
    * truncating `/` equals the floor division a DuckDB `//` oracle replays;
    * a coordinate below -2 makes a per-cell sum negative and the two
    * engines' rounding silently diverges. The fixture range is ~[-0.58,
    * 0.52]; out-of-range data fails loudly via the guard below. */
  def lloydSeededExact(db: DataFrame, seeds: Array[Array[Double]], iters: Int,
      vecCol: String = "embedding"): Array[Array[Double]] = {
    // r17: the ≥ -2 domain guard rides the FIRST training aggregation
    // (min over the (cell, pos) groups' mins ≡ global coordinate min)
    // instead of its own full-scan job — seven declared queries train
    // through here, and each was paying one extra corpus pass for the
    // guard. Guard semantics unchanged: same value checked, same failure,
    // still before any trained centroid is returned (and iters = 0 keeps
    // the standalone scan).
    if (iters == 0) requireDomainGeMinus2(db, vecCol)
    var cents = seeds.map(_.clone)
    for (it <- 0 until iters) {
      val sums = assign(db, cents, vecCol)
        .select(col("ivf_cell"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
        .groupBy(col("ivf_cell"), col("pos"))
        .agg(sum(floor((col("v") + lit(2.0)) * lit(16777216.0)).cast("long")).as("s"),
          count(lit(1)).as("n"), min(col("v")).as("mn"))
        .collect()
      if (it == 0) requireDomain(sums.map(_.get(4)))
      val next = cents.map(_.clone)
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getLong(2) / r.getLong(3)).toDouble / 16777216.0 - 2.0
      }
      cents = next
    }
    cents
  }

  /** Loud-failure guard for the integer-exact training loops: one
    * column-pruned min-scan (cheap next to `iters` full assignment passes)
    * asserting every coordinate ≥ -2 — see [[lloydSeededExact]] DOMAIN. */
  private[operators] def requireDomainGeMinus2(db: DataFrame, vecCol: String): Unit = {
    val r = db.agg(count(lit(1)), min(array_min(col(vecCol).cast("array<double>")))).head()
    requireDomain(if (r.getLong(0) == 0L) Seq.empty else Seq(r.get(1)))
  }

  /** The domain check itself, over coordinate mins (per training group, or
    * the one global min): an empty input and a null min (all-null
    * coordinates) fail by name instead of passing vacuously or throwing an
    * NPE. */
  private[operators] def requireDomain(mins: Seq[Any]): Unit = {
    require(mins.nonEmpty, "seeded-exact training requires a non-empty input")
    require(!mins.contains(null),
      "seeded-exact training requires non-null coordinates (found an all-null coordinate group)")
    val mn = mins.map(_.asInstanceOf[Double]).min
    require(mn >= -2.0,
      f"seeded-exact training requires coordinates >= -2 (found $mn%.6f): " +
        "the floor((v+2)*2^24) integer mean would round differently across engines")
  }

  /** Mean squared distance to the assigned centroid — the k-means objective
    * (diagnostic; Lloyd steps must not increase it). */
  def objective(assigned: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): Double = {
    val distToOwn = centroids.zipWithIndex.tail.foldLeft(
      when(col("ivf_cell") === 0, Distances.squaredL2Lit(col(vecCol), centroids(0)))) {
      case (acc, (c, j)) => acc.when(col("ivf_cell") === j, Distances.squaredL2Lit(col(vecCol), c))
    }
    assigned.agg(avg(distToOwn)).head().getDouble(0)
  }

  /** Batch ANN join via IVF — the 100 TB similarity-search workhorse:
    * every query row probes only its `nprobe` nearest centroid cells
    * (codegen'd [[graft.functions.VecArgTopNL2]]), joins the
    * cell-partitioned store on `ivf_cell`, and ranks through the bounded
    * top-k aggregator. Cost per query ≈ nprobe/nCentroids of the store;
    * approximate by construction — recall vs the exact join is pinned in
    * AnnSpec-style tests, and rises with nprobe. */
  def ivfJoin(queries: DataFrame, assignedDb: DataFrame,
      centroids: Array[Array[Double]], k: Int, nprobe: Int,
      queryIdCol: String = "query_id", dbIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val probeCells = ColumnBridge.column(graft.functions.VecArgTopNL2(
      ColumnBridge.expression(col("q_embedding")), centroids, nprobe))
    val qs = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("q_embedding"))
      .withColumn("ivf_cell", explode(probeCells))
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    KnnTopK.topK(
      broadcast(qs).join(assignedDb, "ivf_cell")
        .select(col("query_id"), col(dbIdCol).as("vec_id"),
          Distances.squaredL2Cols(col("q_embedding"), col(vecCol), dim).as("dist")),
      k)
  }

  /** ANN search: probe the nprobe nearest centroid cells, exact top-k
    * inside them (TakeOrderedAndProject under the pruned scan). */
  def search(assigned: DataFrame, centroids: Array[Array[Double]],
      q: Array[Double], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probeCells = centroids.zipWithIndex
      .map { case (c, j) => (Distances.squaredL2(q, c), j) }
      .sortBy(identity).take(nprobe).map(_._2)
    assigned
      .filter(col("ivf_cell").isin(probeCells: _*))
      .withColumn("dist", Distances.squaredL2Lit(col(vecCol), q))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** INCREMENTAL IVF admission — the O(batch) append path (the
    * [[Dedup.buildDedupIndex]]/`admitBatch` pattern for the vector
    * index): new vectors are argmin-assigned to the EXISTING (frozen)
    * centroids and unioned onto the already-assigned store. The store is
    * never rescanned and the codebook never retrained — one codegen'd
    * assignment pass over the batch, exactly what a daily embedding drop
    * costs at 100 TB. Assignment under frozen centroids is identical to
    * what a full rebuild with the same centroids would produce (pinned in
    * AnnSpec), so correctness never degrades — only cell BALANCE can,
    * which is what [[admissionReport]] watches. */
  def admitBatch(assignedStore: DataFrame, batch: DataFrame,
      centroids: Array[Array[Double]], vecCol: String = "embedding"): DataFrame =
    assignedStore.unionByName(
      assign(batch, centroids, vecCol).select(assignedStore.columns.map(col): _*))

  /** Post-admission index health: per codebook cell, the population
    * before/after the batch, the post-admission load factor (n_after ×
    * nCells / total — 1.0 = perfectly uniform), and a retrain flag once a
    * cell exceeds `maxLoad`. Empty cells appear with zeros (wasted
    * codebook is a finding too — the ann_ivf_cell_stats contract). The
    * flag is the RETRAIN TRIGGER: admission keeps appending under drift,
    * but once hot cells pass the threshold, probe-cost variance grows and
    * a re-run of [[lloydSeededExact]] is due. Two aggregations, |cells|
    * output rows at any store size. */
  def admissionReport(before: DataFrame, after: DataFrame, nCells: Int,
      maxLoad: Double): DataFrame = {
    val spark = before.sparkSession
    // in-plan guards (r14 ADVICE), zero extra jobs: an out-of-range cell
    // id means nCells is misconfigured — fail loudly instead of silently
    // dropping the cell from the report; an empty/NULL total would
    // otherwise yield NULL load factors and retrain_flag=0 rows.
    def counted(df: DataFrame, ncol: String) = {
      val c = col("ivf_cell").cast("int")
      val guarded = when(c >= 0 && c < nCells, c).otherwise(raise_error(concat(
        lit("admissionReport: ivf_cell "), c.cast("string"),
        lit(s" out of range [0, $nCells) — nCells misconfigured"))))
      df.groupBy(guarded.as("ivf_cell")).agg(count(lit(1)).as(ncol))
    }
    val cells = spark.range(0, nCells.toLong)
      .select(col("id").cast("int").as("ivf_cell"))
    val joined = cells
      .join(counted(before, "n_before"), Seq("ivf_cell"), "left")
      .join(counted(after, "n_after"), Seq("ivf_cell"), "left")
      .select(col("ivf_cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
    val tot = joined.agg(sum(col("n_after")).as("total"))
    val totalG = when(col("total").isNotNull && col("total") > 0, col("total"))
      .otherwise(raise_error(
        lit("admissionReport: empty 'after' store — no population to report load over")))
    joined.crossJoin(broadcast(tot))
      .select(col("ivf_cell"), col("n_before"), col("n_after"),
        (col("n_after") - col("n_before")).as("n_admitted"),
        round((col("n_after") * nCells).cast("double") /
          totalG.cast("double"), 9).as("load_factor"),
        when((col("n_after") * nCells).cast("double") >
          totalG.cast("double") * maxLoad, 1).otherwise(0)
          .as("retrain_flag"))
      .orderBy(col("ivf_cell"))
  }

  /** [[admissionReport]] when `after` IS `before ∪ admitted-batch` (the
    * [[admitBatch]] output): per-cell counts of a union add, so the report
    * derives `n_after = n_before + n_batch` from ONE pass over the store
    * assignment and one over the (small) batch, instead of counting the
    * store twice through the union (r17, guide §1.2 "don't compute things
    * twice"). Same columns, same guards, same values — pinned equal to
    * `admissionReport(before, before ∪ batch)` in AnnSpec. */
  def admissionReportDelta(before: DataFrame, admittedBatch: DataFrame,
      nCells: Int, maxLoad: Double): DataFrame = {
    val spark = before.sparkSession
    def counted(df: DataFrame, ncol: String) = {
      val c = col("ivf_cell").cast("int")
      val guarded = when(c >= 0 && c < nCells, c).otherwise(raise_error(concat(
        lit("admissionReport: ivf_cell "), c.cast("string"),
        lit(s" out of range [0, $nCells) — nCells misconfigured"))))
      df.groupBy(guarded.as("ivf_cell")).agg(count(lit(1)).as(ncol))
    }
    val cells = spark.range(0, nCells.toLong)
      .select(col("id").cast("int").as("ivf_cell"))
    val joined = cells
      .join(counted(before, "n_before"), Seq("ivf_cell"), "left")
      .join(counted(admittedBatch, "n_batch"), Seq("ivf_cell"), "left")
      .select(col("ivf_cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        (coalesce(col("n_before"), lit(0L)) + coalesce(col("n_batch"), lit(0L)))
          .as("n_after"))
    val tot = joined.agg(sum(col("n_after")).as("total"))
    val totalG = when(col("total").isNotNull && col("total") > 0, col("total"))
      .otherwise(raise_error(
        lit("admissionReport: empty 'after' store — no population to report load over")))
    joined.crossJoin(broadcast(tot))
      .select(col("ivf_cell"), col("n_before"), col("n_after"),
        (col("n_after") - col("n_before")).as("n_admitted"),
        round((col("n_after") * nCells).cast("double") /
          totalG.cast("double"), 9).as("load_factor"),
        when((col("n_after") * nCells).cast("double") >
          totalG.cast("double") * maxLoad, 1).otherwise(0)
          .as("retrain_flag"))
      .orderBy(col("ivf_cell"))
  }
}
