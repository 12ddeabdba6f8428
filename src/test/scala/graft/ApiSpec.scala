package graft

import graft.api.{L1, SquaredL2, VectorDatabase}
import graft.core.{Fixtures, Tables}
import graft.index.{Grid, GridConfig}
import graft.operators.Knn
import graft.queries.Shared
import org.apache.spark.sql.functions._

/** The reference VectorDatabase contract exercised through the typed facade
  * (reference: vectordb/database.py:18-64, tests/test_kd_tree_database.py). */
class ApiSpec extends SparkSpecBase {
  import Fixtures._

  private lazy val db = VectorDatabase.fromDataFrame(
    spark, Tables.embeddings(spark, sfDir), Shared.gridCfg)

  test("dim / count / treeDepth accessors") {
    assert(db.dim === 64)
    assert(db.count() === 500)
    assert(db.treeDepth === 3)
  }

  test("insert assigns fresh monotonic ids; old snapshot unchanged") {
    val rows = Tables.embeddings(spark, sfDir).limit(3).drop("vec_id")
    val (db2, ids) = db.insert(rows)
    assert(db2.count() === 503)
    assert(db.count() === 500)
    val assigned = ids.collect().map(_.getLong(0)).sorted
    assert(assigned.toSeq === Seq(500L, 501L, 502L)) // maxId 499 → next 500
  }

  test("getEntry finds a row; missing id is None (kd_tree_database.py:272-276)") {
    assert(db.getEntry(42L).isDefined)
    assert(db.getEntry(999999L).isEmpty)
  }

  test("delete removes; kNN no longer finds it") {
    val row = db.getEntry(7L).get
    val q = row.getSeq[Float](row.fieldIndex("embedding")).map(_.toDouble).toArray
    val before = db.findKNearestNeighbors(q, 1)
    assert(before.head.vec_id === 7L && before.head.dist === 0.0)
    val db2 = db.delete(Seq(7L))
    assert(db2.count() === 499)
    val after = db2.findKNearestNeighbors(q, 1)
    assert(after.head.vec_id !== 7L)
  }

  test("updatePosition moves a vector to a new cell and kNN finds it there") {
    val updates = db.state.filter(col("vec_id") === 11)
      .drop("cell_id")
      .withColumn("embedding", array((0 until 64).map(_ => lit(0.55f)): _*))
    val db2 = db.updatePosition(updates)
    val res = db2.findKNearestNeighbors(Array.fill(64)(0.55), 1)
    assert(res.head.vec_id === 11L)
    assert(res.head.dist < 1e-10)
  }

  test("updatePosition RAISES on an unknown id (reference contract, kd_tree_database.py:313-315)") {
    val ghost = db.state.filter(col("vec_id") === 11)
      .drop("cell_id")
      .withColumn("vec_id", lit(987654321L))
    val ex = intercept[Exception] { db.updatePosition(ghost).count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("unknown vec_id")),
      s"unexpected failure: ${ex.getMessage}")
    // lenient operator form still no-ops for pipelines
    val lenient = graft.operators.Snapshot.updatePosition(
      db.state.drop("cell_id"), ghost, "vec_id", "embedding", strict = false)
    assert(lenient.count() === 500)
  }

  test("findKNearestNeighbors accepts an ARBITRARY-callable filter (Scala UDF escape hatch)") {
    // the reference's filter is Callable[[T], bool] (vectordb/database.py:
    // 40-44); any JVM predicate rides a Scala UDF Column through the same
    // filter-before-k path
    val oddLabel = udf((l: Int) => l % 2 == 1)
    val res = db.findKNearestNeighbors(Q64, 5, filter = Some(oddLabel(col("label"))))
    assert(res.size === 5)
    val brute = graft.operators.Knn.bruteForce(db.scan(),
      graft.functions.Distances.squaredL2Lit(col("embedding"), Q64), 5,
      pred = Some(oddLabel(col("label"))))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(res.map(n => (n.vec_id, n.dist)) === brute)
    assert(res.forall(_ => true))
    // the callable gated candidacy BEFORE k, not the top-k after
    val labels = db.scan().filter(col("vec_id").isin(res.map(_.vec_id): _*))
      .select("label").collect().map(_.getInt(0))
    assert(labels.forall(_ % 2 == 1))
  }

  test("findKNearestNeighbors honors filter and non-default metric") {
    val res = db.findKNearestNeighbors(Q64, 5, filter = Some(col("label") === 2),
      metric = Some(L1))
    assert(res.size === 5)
    assert(res.forall(_.label === 2))
    // matches brute force under L1
    val brute = operators.Knn.bruteForce(db.scan(),
      functions.Distances.l1Lit(col("embedding"), Q64), 5, pred = Some(col("label") === 2))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(res.map(n => (n.vec_id, n.dist)) === brute)
  }

  test("MahalanobisFull facade metric: matches brute force; pruned path is admissible") {
    import graft.api.MahalanobisFull
    import graft.index.GridConfig
    val cfg8 = GridConfig(dim = 8, lower = -0.6, upper = 0.6, partsPerDim = 4, gridDims = 3)
    val Q8 = Q64.take(8)
    val e8 = Tables.embeddings(spark, sfDir)
      .withColumn("embedding", slice(col("embedding"), lit(1), lit(8)))
      .select(col("vec_id"), col("embedding"), col("label"))
    val m = MahalanobisFull(InvFull8, 8)
    val db8 = VectorDatabase.fromDataFrame(spark, e8, cfg8, metric = m)
    val res = db8.findKNearestNeighbors(Q8, 10)
    val brute = operators.Knn.bruteForce(e8,
      functions.Distances.mahalanobisFullLit(col("embedding"), Q8, InvFull8), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(res.map(n => (n.vec_id, n.dist)) === brute)
    // widening-loop path (bruteForceThreshold = 0): the Gershgorin·sqL2
    // cell bound must be admissible — pruned ≡ brute exactly
    val pruned = operators.Knn.prunedSearch(db8.state, m.dist(col("embedding"), Q8), 10,
      m.cellBound(Q8, _, cfg8), bruteForceThreshold = 0L)
    assert(pruned.map(n => (n.vec_id, n.dist)) === brute)
    // the bound itself never exceeds the true distance for any stored row
    val bounds = db8.state.select(col("cell_id"),
        m.dist(col("embedding"), Q8).as("dist")).collect()
    bounds.foreach { r =>
      val b = m.cellBound(Q8, r.getAs[Number](0).longValue(), cfg8)
      assert(b <= r.getDouble(1) + 1e-9,
        s"inadmissible bound $b > ${r.getDouble(1)} for cell ${r.get(0)}")
    }
  }

  test("MahalanobisFull.fromCovariance factorizes once and round-trips the inverse") {
    import graft.api.MahalanobisFull
    // S = A'A + I (SPD); fromCovariance(S) must reproduce inv(S) so that
    // d'S⁻¹d of the facade == the solve-per-pair reference semantics
    val n = 4
    val rnd = new scala.util.Random(5)
    val a = Array.fill(n, n)(rnd.nextGaussian() * 0.3)
    val s = Array.tabulate(n * n) { k =>
      val (i, j) = (k / n, k % n)
      (0 until n).map(t => a(t)(i) * a(t)(j)).sum + (if (i == j) 1.0 else 0.0)
    }
    val m = MahalanobisFull.fromCovariance(s, n)
    // inv(S)·S ≈ I
    for (i <- 0 until n; j <- 0 until n) {
      val prod = (0 until n).map(t => m.invFlat(i * n + t) * s(t * n + j)).sum
      assert(math.abs(prod - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j) -> $prod")
    }
  }

  test("Grid.maintain deepens the grid when cells overflow (leaf-split analog)") {
    import graft.index.{Grid, GridConfig}
    val cfg1 = Shared.gridCfg.copy(gridDims = 1)
    val state = Grid.withCellId(Tables.embeddings(spark, sfDir), "embedding", cfg1)
    // 500 rows, target 10/cell: 4 cells at depth 1 can't hold it → deepen
    val (state2, cfg2) = Grid.maintain(state, cfg1, targetLeafSize = 10)
    assert(cfg2.gridDims > cfg1.gridDims)
    // invariant: re-bucketing moves rows between cells, never loses them
    assert(state2.count() == 500)
    assert(state2.groupBy("cell_id").count().agg(sum("count")).head().getLong(0) == 500)
    // cell ids are consistent with the new config
    val recomputed = state2.filter(
      col("cell_id") =!= Grid.cellId(col("embedding"), cfg2)).count()
    assert(recomputed == 0)
    // and a sufficient grid is a no-op
    val (state3, cfg3) = Grid.maintain(state2, cfg2, targetLeafSize = 10)
    assert(cfg3 == cfg2 && (state3 eq state2))
  }

  test("Grid.maintain narrows buckets once depth hits dim (low-dim re-split analog)") {
    import graft.index.{Grid, GridConfig}
    import spark.implicits._
    // dim=2 data, like the reference's own tests: depth can never exceed 2,
    // so the only way to keep leaves bounded is narrower buckets — the
    // reference re-splits the same dimension forever (kd_tree_database.py
    // split dim cycles depth % dim); configFor widens partsPerDim instead
    val cfg1 = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 2, gridDims = 2)
    val rows = (0 until 4096).map { i =>
      (i.toLong, Array(((i * 2654435761L) % 1000L).toFloat / 1000f,
        ((i * 40503L) % 997L).toFloat / 997f))
    }.toDF("vec_id", "embedding")
    val state = Grid.withCellId(rows, "embedding", cfg1)
    val (state2, cfg2) = Grid.maintain(state, cfg1, targetLeafSize = 16)
    assert(cfg2.gridDims == 2, "depth stays clamped at dim")
    assert(cfg2.partsPerDim > cfg1.partsPerDim,
      s"partsPerDim must widen: ${cfg2.partsPerDim}")
    assert(cfg2.numCells >= 4096 / 16, s"cells ${cfg2.numCells} too few")
    // re-bucketing is lossless and consistent with the widened config
    assert(state2.count() == 4096)
    assert(state2.filter(
      col("cell_id") =!= Grid.cellId(col("embedding"), cfg2)).count() == 0)
    // the uniform-ish fixture must land well under the old single-cell pileup
    val maxLeaf = state2.groupBy("cell_id").count()
      .agg(max("count")).head().getLong(0)
    assert(maxLeaf <= 16 * 8, s"max leaf $maxLeaf not bounded")
    // pruned-search admissibility is geometry-independent: the cell lower
    // bound never exceeds the true distance under the widened config
    val q = Array(0.31, 0.77)
    state2.select(col("vec_id"), col("cell_id"), col("embedding")).collect().foreach { r =>
      val v = r.getSeq[Float](2).map(_.toDouble).toArray
      val d = graft.functions.Distances.squaredL2(q, v)
      val lb = Grid.cellLowerBoundSqL2(q, r.getLong(1), cfg2)
      assert(lb <= d + 1e-12, s"bound $lb exceeds true dist $d")
    }
  }

  test("zCellId rejects configs whose interleaved bits overflow Long") {
    import graft.index.{Grid, GridConfig}
    // 256 parts x 8 dims = 64 bits: the top term would wrap into the sign
    // bit and collide — must be rejected up front, in both emitters
    val bad = GridConfig(dim = 8, lower = 0.0, upper = 1.0, partsPerDim = 256, gridDims = 8)
    intercept[IllegalArgumentException] { Grid.zCellId(col("embedding"), bad) }
    intercept[IllegalArgumentException] { Grid.zCellIdSql("embedding", bad) }
    // 63 bits is the maximum legal width
    val ok = bad.copy(dim = 9, partsPerDim = 128, gridDims = 9) // 7*9 = 63
    Grid.zCellId(col("embedding"), ok); Grid.zCellIdSql("embedding", ok)
  }

  test("save/load round-trips through cell-partitioned parquet") {
    val path = java.nio.file.Files.createTempDirectory("graftdb").toString + "/store"
    db.save(path)
    val db2 = VectorDatabase.load(spark, path, Shared.gridCfg)
    assert(db2.count() === db.count())
    val res = db2.findKNearestNeighbors(Q64, 3)
    val orig = db.findKNearestNeighbors(Q64, 3)
    assert(res.map(_.vec_id) === orig.map(_.vec_id))
  }

  test("radiusSearch returns exactly the rows within r, k-th-neighbor-consistent") {
    // anchor r on the 5th neighbor's distance: the radius result must then
    // contain at least those 5 and every returned dist must be <= r
    val nn = db.findKNearestNeighbors(Q64, 5)
    val r = nn.last.dist
    val rows = db.radiusSearch(Q64, r)
      .select("vec_id", "dist").collect()
      .map(x => x.getLong(0) -> x.getDouble(1))
    assert(rows.forall(_._2 <= r))
    assert(nn.map(_.vec_id).toSet.subsetOf(rows.map(_._1).toSet))
    // sorted (dist, id)
    assert(rows.sortBy(p => (p._2, p._1)).toSeq == rows.toSeq)
  }

  // A saved store one row above the facade's 200k brute-force threshold, so
  // kNN takes the pruned path. Dim 0 stays in [-1, 0), so every cell with a
  // dim-0 bucket of 2 or 3 is empty; dims 3..7 stay near 0, so a query's
  // nearest rows sit in its own cell.
  private val BigRows = 200001L
  private val bigCfg = GridConfig(dim = 8, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 3)
  /** A uniform [0, 1) draw per row id and dim. */
  private def u(d: Int) = pmod(xxhash64(col("id"), lit(d)), lit(1000000L)).cast("double") / 1e6
  /** Saves BigRows rows with `emb` over ids 0 until BigRows, reloads them. */
  private def savedBig(name: String, emb: Seq[org.apache.spark.sql.Column]): VectorDatabase = {
    val df = spark.range(0, BigRows).select(col("id").as("vec_id"),
      array(emb: _*).cast("array<float>").as("embedding"), (col("id") % 10).cast("int").as("label"))
    val path = java.nio.file.Files.createTempDirectory(name).toString + "/store"
    VectorDatabase.fromDataFrame(spark, df, bigCfg).save(path)
    VectorDatabase.load(spark, path, bigCfg)
  }
  private lazy val big: VectorDatabase = savedBig("graftbig",
    Seq(u(0) - 1.0, u(1) * 2.0 - 1.0, u(2) * 2.0 - 1.0) ++ (3 until 8).map(u(_) * 0.01))
  private val bigQ = Array(-0.25, -0.25, 0.25, 0.005, 0.005, 0.005, 0.005, 0.005)

  // A saved store with two grid-adjacent clusters that differ only in the
  // ungridded dims: `near` (ids below FaceRows) lies just below the dim-0
  // face at 0 with dims 3..7 in [0, 0.01); `far` (the next FaceRows ids)
  // lies just above that face with dims 3..7 in [0.9, 0.91). Gridded dims
  // 1 and 2 are the same for both. The other rows sit in dim-0 bucket 3.
  private val FaceRows = 1000L
  private lazy val faces: VectorDatabase = {
    def part(near: org.apache.spark.sql.Column, far: org.apache.spark.sql.Column,
        rest: org.apache.spark.sql.Column) =
      when(col("id") < FaceRows, near).when(col("id") < 2 * FaceRows, far).otherwise(rest)
    savedBig("graftfaces",
      Seq(part(u(0) * -0.0199 - 0.0001, u(0) * 0.0199 + 0.0001, u(0) * 0.5 + 0.5)) ++
      (1 to 2).map(d => part(u(d) * 0.01 + 0.3, u(d) * 0.01 + 0.3, u(d) * 2.0 - 1.0)) ++
      (3 until 8).map(d => part(u(d) * 0.01, u(d) * 0.01 + 0.9, u(d) * 0.01)))
  }
  /** Near the shared face, inside the near cluster's box. */
  private val faceQ = Array(-0.001, 0.305, 0.305, 0.005, 0.005, 0.005, 0.005, 0.005)

  private def bruteTop(db: VectorDatabase, q: Array[Double], k: Int,
      m: graft.api.Metric = SquaredL2): Seq[(Long, Double)] =
    Knn.bruteForce(db.state, m.dist(col("embedding"), q), k).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
  private def knnTop(db: VectorDatabase, q: Array[Double], k: Int,
      m: graft.api.Metric = SquaredL2): Seq[(Long, Double)] =
    db.findKNearestNeighbors(q, k, metric = Some(m)).map(n => (n.vec_id, n.dist))
  private def radiusRows(db: VectorDatabase, q: Array[Double], r: Double): Seq[(Long, Double)] =
    db.radiusSearch(q, r).collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
  private def bruteRadius(db: VectorDatabase, q: Array[Double], r: Double): Seq[(Long, Double)] =
    Knn.radiusSearch(db.state, SquaredL2.dist(col("embedding"), q), r).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toSeq

  test("a snapshot's index stats are built once: later kNN and radius calls scan only cells") {
    val first = knnTop(big, bigQ, 10) // fills the snapshot's stats
    assert(first == bruteTop(big, bigQ, 10))
    val sc = spark.sparkContext
    val (second, knnJobs) = org.apache.spark.JobInputRows.of(sc)(knnTop(big, bigQ, 10))
    assert(second == first)
    assert(knnJobs.nonEmpty && knnJobs.forall(_ < BigRows), s"rows read per job: $knnJobs")
    val r = first.last._2
    val (inR, radiusJobs) = org.apache.spark.JobInputRows.of(sc) {
      big.radiusSearch(bigQ, r).collect().map(x => x.getLong(0))
    }
    assert(first.map(_._1).toSet.subsetOf(inR.toSet))
    assert(radiusJobs.nonEmpty && radiusJobs.forall(_ < BigRows), s"rows read per job: $radiusJobs")
  }

  test("index stats never leak from a snapshot to the snapshots written from it") {
    import spark.implicits._
    val nearest = knnTop(big, bigQ, 10) // fills the parent's stats and row cache
    assert(nearest == bruteTop(big, bigQ, 10))
    val cache = big.cellRows.get
    // each written snapshot builds its own row cache, of its own rows; the
    // parent's stays persisted and in place
    def ownCache(written: VectorDatabase): Unit = {
      val own = written.cellRows.get
      assert(own ne cache)
      assert(own.byCell.count() == written.count())
      val persisted = spark.sparkContext.getPersistentRDDs
      assert(persisted.contains(own.byCell.id) && persisted.contains(cache.byCell.id))
      assert(big.cellRows.get eq cache)
    }
    // insert a row into a cell the parent has no row in
    val pIns = Array(0.75, 0.125, 0.125, 0.0, 0.0, 0.0, 0.0, 0.0)
    val (inserted, ids) = big.insert(Seq((pIns.map(_.toFloat), 3)).toDF("embedding", "label"))
    val newId = ids.collect().head.getLong(0)
    val afterInsert = knnTop(inserted, pIns, 10)
    assert(afterInsert.head == ((newId, 0.0)))
    assert(afterInsert == bruteTop(inserted, pIns, 10))
    ownCache(inserted)
    // move a row into another cell the parent has no row in
    val pMove = Array(0.25, -0.625, 0.625, 0.0, 0.0, 0.0, 0.0, 0.0)
    val moved = big.updatePosition(Seq((5L, pMove.map(_.toFloat))).toDF("vec_id", "embedding"))
    val afterMove = knnTop(moved, pMove, 10)
    assert(afterMove.head == ((5L, 0.0)))
    assert(afterMove == bruteTop(moved, pMove, 10))
    ownCache(moved)
    // delete the parent's nearest row
    val deleted = big.delete(Seq(nearest.head._1))
    val afterDelete = knnTop(deleted, bigQ, 10)
    assert(!afterDelete.exists(_._1 == nearest.head._1))
    assert(afterDelete == bruteTop(deleted, bigQ, 10))
    ownCache(deleted)
    assert(knnTop(big, bigQ, 10) == nearest) // the parent answers as before

    // boxes: a written row that stays in its grid cell but leaves the
    // parent's box of that cell. With the parent's box, the cell would rank
    // behind the far cluster and the search would stop before reading it.
    assert(knnTop(faces, faceQ, 10) == bruteTop(faces, faceQ, 10)) // fills the parent's stats
    val outside = Array(-0.0009765625, 0.3046875, 0.3046875) ++ Array.fill(5)(0.90625)
    val movedOut = faces.updatePosition(Seq((5L, outside.map(_.toFloat))).toDF("vec_id", "embedding"))
    val afterMoveOut = knnTop(movedOut, outside, 10)
    assert(afterMoveOut.head == ((5L, 0.0)))
    assert(afterMoveOut == bruteTop(movedOut, outside, 10))
    val (insertedOut, outIds) = faces.insert(Seq((outside.map(_.toFloat), 3)).toDF("embedding", "label"))
    val outId = outIds.collect().head.getLong(0)
    val afterInsertOut = knnTop(insertedOut, outside, 10)
    assert(afterInsertOut.head == ((outId, 0.0)))
    assert(afterInsertOut == bruteTop(insertedOut, outside, 10))
  }

  test("kNN and radius search prune by the cells' data boxes in the ungridded dims") {
    val sc = spark.sparkContext
    for (m <- Seq(SquaredL2, L1)) {
      val first = knnTop(faces, faceQ, 10, m) // fills the snapshot's stats
      assert(first == bruteTop(faces, faceQ, 10, m), s"$m")
      // the grid bound of the far cluster's cell is the face gap alone
      // (0.001 in dim 0), below the kth distance, so the grid alone would
      // read the far cell; its box bound is over 4
      val (second, jobs) = org.apache.spark.JobInputRows.of(sc)(knnTop(faces, faceQ, 10, m))
      assert(second == first, s"$m")
      assert(jobs.sum == FaceRows, s"$m: rows read per job: $jobs")
    }
    val r = knnTop(faces, faceQ, 10).last._2
    val (inR, jobs) = org.apache.spark.JobInputRows.of(sc)(radiusRows(faces, faceQ, r))
    assert(inR == bruteRadius(faces, faceQ, r))
    assert(inR.size >= 10)
    // the scanned cell is read once: the sort starts no sampling job
    assert(jobs.sum == FaceRows, s"rows read per job: $jobs")
  }

  test("a cell holding a NaN coordinate has no box: it ranks and answers as by its grid bound") {
    import spark.implicits._
    // one far-cluster row with a NaN in dim 5: its cell keeps only its grid
    // bound, so the search reads it as the grid alone would, and the NaN
    // distance ranks after every number. The facade's rounds read the
    // snapshot's row cache, which counts the inserted in-memory row; the
    // Dataset rounds over the saved files count only the saved rows.
    val withNaN = Array(0.001f, 0.305f, 0.305f, 0.9f, 0.9f, Float.NaN, 0.9f, 0.9f)
    val (db, _) = faces.insert(Seq((withNaN, 3)).toDF("embedding", "label"))
    val stats = Knn.cellStats(db.state, Some(8))
    val farCell = Grid.cellOf(withNaN.map(_.toDouble), bigCfg)
    val nearCell = Grid.cellOf(faceQ, bigCfg)
    assert(stats(farCell).rows == FaceRows + 1 && stats(farCell).box.isEmpty)
    assert(stats(nearCell).box.isDefined)
    for (m <- Seq(SquaredL2, L1)) {
      val dist = m.dist(col("embedding"), faceQ)
      val first = knnTop(db, faceQ, 10, m)
      val (second, jobs) = org.apache.spark.JobInputRows.of(spark.sparkContext)(knnTop(db, faceQ, 10, m))
      val (byGrid, gridJobs) = org.apache.spark.JobInputRows.of(spark.sparkContext) {
        Knn.prunedSearch(db.state, dist, 10, m.cellBound(faceQ, _, bigCfg),
          cellStatsCache = Some(stats)).map(n => (n.vec_id, n.dist))
      }
      assert(first == bruteTop(db, faceQ, 10, m), s"$m")
      assert(second == first && byGrid == first, s"$m")
      assert(jobs.sum == 2 * FaceRows + 1 && gridJobs.sum == 2 * FaceRows &&
        jobs.size == gridJobs.size, s"$m: $jobs vs $gridJobs")
    }
  }

  test("past the stats cap, kNN, radius search and the cell join equal brute force") {
    import spark.implicits._
    // 8^7 cells: more than the driver holds stats for, so the snapshot has
    // no row cache and every search takes its no-stats path
    val capCfg = GridConfig(dim = 8, lower = -1.0, upper = 1.0, partsPerDim = 8, gridDims = 7)
    assert(capCfg.numCells > graft.plans.GridRadiusPruning.MaxEnumCells)
    // 560 seeded uniform rows, then rows 560-599 at rows 0-39's positions:
    // each copy ties its original at every distance
    val rnd = new scala.util.Random(13)
    val base = Array.fill(560)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val vecs = base ++ base.take(40).map(_.clone())
    val store = VectorDatabase.fromDataFrame(spark,
      vecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 3) }
        .toDF("vec_id", "embedding", "label"), capCfg)
    assert(store.cellRows.isEmpty)
    val qs = Seq(vecs(3).map(_.toDouble), Array.fill(8)(0.1), Array.fill(8)(-0.9))
    val odd = col("label") === 1
    val sparse = col("vec_id") % 10 === 0
    for ((q, i) <- qs.zipWithIndex) {
      for (m <- Seq(SquaredL2, L1)) assert(knnTop(store, q, 10, m) == bruteTop(store, q, 10, m), s"q$i $m")
      val dist = SquaredL2.dist(col("embedding"), q)
      assert(store.findKNearestNeighbors(q, 10, filter = Some(odd)).map(n => (n.vec_id, n.dist)) ==
        Knn.bruteForce(store.state, dist, 10, Some(odd)).collect()
          .map(r => (r.getLong(0), r.getDouble(2))).toSeq, s"q$i filtered")
      val r = knnTop(store, q, 10).last._2
      assert(radiusRows(store, q, r) == bruteRadius(store, q, r), s"q$i radius")
      // k = 40: the first round covers 8k = 320 rows, past the ranked
      // prefix's first 256-cell fetch, so the pager fetches a second prefix.
      // One row in ten passes `sparse`, so its 40 nearest lie well past
      // the first prefix's cells
      val ranked = Knn.rank(Knn.cellStats(store.state), SquaredL2.cellBound(q, _, capCfg))
      assert(Knn.roundEnd(0, ranked.length, 40, j => ranked(j.toInt)._3) > 256, s"q$i")
      for (pred <- Seq(None, Some(sparse))) {
        val pruned = Knn.prunedSearch(store.state, dist, 40, SquaredL2.cellBound(q, _, capCfg),
          pred, bruteForceThreshold = 0)
        assert(pruned.map(n => (n.vec_id, n.dist)) == Knn.bruteForce(store.state, dist, 40, pred)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq, s"q$i pruned $pred")
      }
    }
    val queries = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.map(_.toFloat)) }
      .toDF("query_id", "embedding")
    assert(joinRows(graft.operators.KnnCellJoin.join(queries, store.state, capCfg, 10,
      bruteForceThreshold = 0)) == joinRows(graft.plans.KnnJoinPlan.join(queries, store.state, 10)))
  }

  // --- knnJoin: the facade's batch join against a driver-side brute force

  private val JoinDim = 8
  private val joinCfg = GridConfig(dim = JoinDim, lower = -1.0, upper = 1.0,
    partsPerDim = 4, gridDims = 3)
  /** 300 seeded rows, then rows 300-303 at row 7's position: the four
    * copies and row 7 tie at every distance from any query. */
  private lazy val joinVecs: Array[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(300)(Array.fill(JoinDim)(rnd.nextFloat() * 2f - 1f))
    base ++ Array.fill(4)(base(7).clone())
  }
  private def joinStore(metric: graft.api.Metric, n: Int = joinVecs.length): VectorDatabase =
    VectorDatabase.fromDataFrame(spark, joinInput(n, parts = 3), joinCfg, metric = metric)
  /** The first `n` rows, shuffled over `parts` partitions, so tied ids
    * arrive out of id order. */
  private def joinInput(n: Int, parts: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    scala.util.Random.shuffle((0 until n).toList)
      .map(i => (i.toLong, joinVecs(i), i % 5)).toDF("vec_id", "embedding", "label")
      .repartition(parts)
  }
  /** INT query ids, one negative; query -3 sits on the tied position. */
  private lazy val joinQueries: Seq[(Int, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    Seq(-3 -> joinVecs(7).clone()) ++
      Seq(0, 5, 42).map(_ -> Array.fill(JoinDim)(rnd.nextFloat() * 2f - 1f))
  }
  private def queryDf(qs: Seq[(Int, Array[Float])]) = {
    import spark.implicits._
    qs.toDF("qid", "embedding")
  }

  /** Top-k per query over the first `n` rows by the kernel's per-element
    * float -> double order, ranked (dist, vec_id). */
  private def bruteJoin(metric: String, qs: Seq[(Int, Array[Float])], k: Int,
      n: Int = joinVecs.length): Seq[(Long, Long, Double, Int)] =
    bruteJoinOver(metric, qs, k, (0 until n).map(i => i.toLong -> joinVecs(i)))

  /** [[bruteJoin]] over the given (vec_id, embedding) rows. */
  private def bruteJoinOver(metric: String, qs: Seq[(Int, Array[Float])], k: Int,
      rows: Seq[(Long, Array[Float])]): Seq[(Long, Long, Double, Int)] =
    qs.flatMap { case (qid, q) =>
      rows.map { case (id, v) =>
        var s = 0.0
        for (j <- 0 until JoinDim) {
          val d = q(j).toDouble - v(j).toDouble
          s = metric match {
            case "l1" => s + math.abs(d)
            case "linf" => math.max(s, math.abs(d))
            case _ => s + d * d
          }
        }
        (id, s)
      }.sortBy { case (id, d) => (d, id) }.take(k).zipWithIndex
        .map { case ((id, d), r) => (qid.toLong, id, d, r + 1) }
    }.sortBy(x => (x._1, x._4))

  private def joinRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(x => (x._1, x._4))

  test("knnJoin equals a brute force on an L2 store, with INT and negative query ids") {
    val got = joinStore(SquaredL2).knnJoin(queryDf(joinQueries), 3, queryIdCol = "qid")
    assert(got.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("query_id" -> "bigint", "vec_id" -> "bigint", "dist" -> "double", "rn" -> "int"))
    val rows = joinRows(got)
    assert(rows == bruteJoin("sql2", joinQueries, 3))
    // the tied position: row 7 and its copies 300-303 tie at 0.0; k=3
    // keeps the three smallest ids
    assert(rows.filter(_._1 == -3L).map(r => (r._2, r._3)) ==
      Seq(7L -> 0.0, 300L -> 0.0, 301L -> 0.0))
  }

  test("knnJoin ranks by the store's metric on L1 and LInf stores") {
    for ((m, name) <- Seq(L1 -> "l1", graft.api.LInf -> "linf")) {
      val rows = joinRows(joinStore(m).knnJoin(queryDf(joinQueries), 3, queryIdCol = "qid"))
      assert(rows == bruteJoin(name, joinQueries, 3), name)
    }
  }

  test("knnJoin: k larger than the store, and an empty query set") {
    val small = joinStore(SquaredL2, n = 5)
    assert(joinRows(small.knnJoin(queryDf(joinQueries), 8, queryIdCol = "qid")) ==
      bruteJoin("sql2", joinQueries, 8, n = 5))
    assert(small.knnJoin(queryDf(joinQueries).filter(lit(false)), 3, queryIdCol = "qid")
      .collect().isEmpty)
  }

  test("knnJoin: a query of the wrong dim fails by name; a Mahalanobis store is rejected") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    val db8 = joinStore(SquaredL2)
    val short = Seq(9 -> Array.fill(JoinDim - 1)(0.5f))
    for (qs <- Seq(short, joinQueries ++ short)) {
      val ex = intercept[Exception](db8.knnJoin(queryDf(qs), 3, queryIdCol = "qid").collect())
      assert(causes(ex).exists(_.isInstanceOf[IllegalArgumentException]) &&
        msgs(ex).exists(_.contains(s"dim ${JoinDim - 1}")), s"got: ${msgs(ex)}")
    }
    val maha = joinStore(graft.api.MahalanobisDiag(Array.fill(JoinDim)(1.0)))
    val ex = intercept[IllegalArgumentException](maha.knnJoin(queryDf(joinQueries), 3, queryIdCol = "qid"))
    assert(ex.getMessage.contains("MahalanobisDiag"))
  }

  /** The L2 store over checkpointed input: its plan holds no exchange, so
    * every job or shuffle of a join is the join's own. */
  private def checkpointedStore(parts: Int): VectorDatabase =
    VectorDatabase.fromDataFrame(spark,
      joinInput(joinVecs.length, parts).localCheckpoint(true), joinCfg)

  /** What `body` ran: its value, its jobs, the stages it submitted, the
    * shuffle bytes its tasks wrote and the SQL executions it started. */
  private case class Ran[T](out: T, jobs: Int, stages: Int, shuffleBytes: Long, sqlQueries: Int)
  private def ran[T](body: => T): Ran[T] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val seen = new SparkListener {
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val sqlQueries = new java.util.concurrent.atomic.AtomicInteger
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlQueries.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.drainListeners(spark)
    sc.addSparkListener(seen)
    // JobInputRows drains the bus after `body`, so `seen` has every event
    try {
      val (out, jobs) = org.apache.spark.JobInputRows.of(sc)(body)
      Ran(out, jobs.length, seen.stages.get, seen.shuffleBytes.get, seen.sqlQueries.get)
    } finally sc.removeSparkListener(seen)
  }

  private def withSQLConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("knnJoin runs two jobs and no shuffle, and a repeated call plans no SQL query") {
    val store = checkpointedStore(parts = 3)
    // a query side read by a job, as a table's would be
    val queries = queryDf(joinQueries).localCheckpoint(true)
    val want = bruteJoin("sql2", joinQueries, 3)
    for (call <- 1 to 2) {
      // the join runs in the call; collecting its local result runs no job
      val r = ran(store.knnJoin(queries, 3, queryIdCol = "qid"))
      assert((r.jobs, r.stages, r.shuffleBytes) == (2, 2, 0L), s"call $call: $r")
      if (call == 2) assert(r.sqlQueries == 0, r)
      assert(ran(joinRows(r.out)).jobs == 0)
      assert(joinRows(r.out) == want)
    }
  }

  test("the partials fold to one answer at depth 1 and 2, for the facade, the plan and the cell join") {
    val store = checkpointedStore(parts = 8)
    val qs = queryDf(joinQueries)
    val ids = qs.withColumnRenamed("qid", "query_id")
    val forms = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "facade" -> (() => store.knnJoin(qs, 3, queryIdCol = "qid")),
      "plan" -> (() => graft.plans.KnnJoinPlan.join(ids, store.scan(), 3)),
      "cells" -> (() => graft.operators.KnnCellJoin.join(ids, store.state, joinCfg, 3,
        bruteForceThreshold = 0)))
    val want = bruteJoin("sql2", joinQueries, 3)
    for ((name, form) <- forms) {
      val depth1 = ran(joinRows(form()))
      // 16 bytes x 8 partitions x 4 queries x k = 1,536 bytes of partials
      // exceed a 1-byte budget: the fold gains a tree level
      val depth2 = withSQLConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, "1") {
        ran(joinRows(form()))
      }
      assert(depth2.stages > depth1.stages, s"$name: $depth1 / $depth2")
      assert(depth1.out == want, name)
      assert(depth2.out == depth1.out, name)
    }
  }

  test("knnJoin on a written snapshot scans the written rows; its parent's join is unchanged") {
    import spark.implicits._
    val parent = joinStore(SquaredL2)
    val queries = queryDf(joinQueries)
    val before = joinRows(parent.knnJoin(queries, 3, queryIdCol = "qid"))
    assert(before == bruteJoin("sql2", joinQueries, 3))
    // a row on query 0, row 42 moved onto query 5, and two of the rows tied
    // with query -3 deleted
    val (inserted, _) = parent.insert(Seq((joinQueries(1)._2, 9)).toDF("embedding", "label"))
    val written = inserted.delete(Seq(7L, 300L))
      .updatePosition(Seq((42L, joinQueries(2)._2)).toDF("vec_id", "embedding"))
    val rows = written.scan().select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val got = joinRows(written.knnJoin(queries, 3, queryIdCol = "qid"))
    assert(got == bruteJoinOver("sql2", joinQueries, 3, rows))
    assert(got.filter(_._1 == 0L).head._2 == joinVecs.length.toLong)
    assert(got.filter(_._1 == 5L).head._2 == 42L)
    assert(got.filter(_._1 == -3L).map(_._2) == Seq(301L, 302L, 303L))
    assert(joinRows(parent.knnJoin(queries, 3, queryIdCol = "qid")) == before)
  }

  test("save writes the embedding elements and vec_id without a dictionary; label keeps one") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // three element values: a dictionary would pay for itself on every
    // column, so only the writer options keep it off
    val cfg = GridConfig(dim = 4, lower = -1.0, upper = 1.0, partsPerDim = 2, gridDims = 2)
    val store = VectorDatabase.fromDataFrame(spark, (0 until 400).map { i =>
      (i.toLong, Array.tabulate(4)(j => ((i + j) % 3 - 1) * 0.5f), i % 4)
    }.toDF("vec_id", "embedding", "label"), cfg)
    val dir = java.nio.file.Files.createTempDirectory("graft-plain").resolve("store")
    store.save(dir.toString)
    val files = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    val chunks = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
      finally reader.close()
    }
    def dictionary(path: String): Seq[Boolean] =
      chunks.filter(_.getPath.toDotString == path).map(_.hasDictionaryPage)
    for (path <- Seq("embedding.list.element", "vec_id", "label"))
      assert(dictionary(path).size == files.size, path)
    assert(!dictionary("embedding.list.element").exists(identity))
    assert(!dictionary("vec_id").exists(identity))
    assert(dictionary("label").forall(identity))
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("kNN never returns a row whose distance is null; brute and pruned paths agree") {
    import spark.implicits._
    // the kernel's distance is null for a null coordinate: that row takes
    // no slot, so the answer is the top-k of the other rows at every k
    val cfg2 = GridConfig(dim = 2, lower = 0.0, upper = 1.0, partsPerDim = 2, gridDims = 2)
    val store = VectorDatabase.fromDataFrame(spark,
      Seq((0L, Seq(Some(0.1f), Some(0.1f)), 0), (1L, Seq(None, Some(0.2f)), 1),
        (2L, Seq(Some(0.3f), Some(0.3f)), 2)).toDF("vec_id", "embedding", "label"),
      cfg2)
    val q = Array(0.0, 0.0)
    val d0 = 2 * 0.1f.toDouble * 0.1f.toDouble
    val d2 = 2 * 0.3f.toDouble * 0.3f.toDouble
    for (k <- Seq(2, 3)) {
      val facade = store.findKNearestNeighbors(q, k)
      assert(facade.map(n => (n.vec_id, n.dist)) == Seq((0L, d0), (2L, d2)), s"k=$k")
      val stats = Some(Knn.cellStats(store.state, Some(2)))
      for (threshold <- Seq(Long.MaxValue, 0L); cache <- Seq(None, stats)) {
        val res = Knn.prunedSearch(store.state, SquaredL2.dist(col("embedding"), q), k,
          SquaredL2.cellBound(q, _, cfg2), cellStatsCache = cache, bruteForceThreshold = threshold)
        assert(res == facade, s"k=$k threshold=$threshold stats=${cache.isDefined}")
      }
    }
  }

  test("insert and updatePosition validate their batch as fromDataFrame does") {
    import spark.implicits._
    val cfg8 = GridConfig(dim = 8, lower = -1.0, upper = 1.0, partsPerDim = 4, gridDims = 3)
    val store = VectorDatabase.fromDataFrame(spark,
      Seq((0L, Array.fill(8)(0.1f), 0), (1L, Array.fill(8)(0.2f), 1))
        .toDF("vec_id", "embedding", "label"), cfg8)
    val short = intercept[Exception] {
      store.insert(Seq((Array.fill(7)(0.3f), 2)).toDF("embedding", "label"))
    }
    assert(messages(short).exists(_.contains("ingest validation")), short.getMessage)
    // the update is lazy like every snapshot; it fails at its first action
    val moved = store.updatePosition(
      Seq((1L, null: Array[Float])).toDF("vec_id", "embedding"))
    val nullVec = intercept[Exception](moved.count())
    assert(messages(nullVec).exists(_.contains("ingest validation")), nullVec.getMessage)
    assert(store.count() === 2)
  }
}
