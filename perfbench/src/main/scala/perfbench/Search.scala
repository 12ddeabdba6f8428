package perfbench

import graft.api.{L1, Metric, VectorDatabase}
import graft.index.GridConfig
import graft.operators.Knn
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `search`: the reference's one-row-at-a-time surface on a saved store.
  *
  * Each op is one `findKNearestNeighbors` call on the loaded store, cycling
  * unfiltered squared L2, label-filtered and L1. Traced runs add write
  * batches (insert, delete, updatePosition, count), each applied to the
  * loaded store, and a kNN call on each written snapshot. */
object Search {

  /** `knnPerSecond` sets the fixed op count from the run length; the store
    * stays above the 200k-row brute-force threshold of `Knn.prunedSearch`,
    * so the pruned path runs. */
  final case class Size(rows: Int, knnPerSecond: Double, writeRounds: Int,
      inserts: Int, deletes: Int, updates: Int)

  val Full = Size(rows = 210000, knnPerSecond = 0.8, writeRounds = 2,
    inserts = 1000, deletes = 100, updates = 100)
  val Toy = Size(rows = 3000, knnPerSecond = 1.0, writeRounds = 2,
    inserts = 50, deletes = 10, updates = 10)

  val K = 10
  val Dim = 64
  val Cfg = GridConfig(Dim, -1, 1, 4, 3)
  /** Cluster spread per dimension: tight enough that a query's k nearest
    * rows sit in its own cell or the next, so pruning stops early. */
  private val Sigma = 0.01
  private val LoadReps = 3
  /** One call of each query kind before timing starts. */
  private val Warmups = 3

  private val vecSchema = StructType(Seq(
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))
  private val updSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** One query: its vector, metric and optional label filter. */
  private final case class Query(q: Array[Double], l1: Boolean, label: Option[Int]) {
    def metric: Option[Metric] = if (l1) Some(L1) else None
    def filter: Option[Column] = label.map(col("label") === _)
  }

  /** One write batch and the driver's copy of the rows it writes. */
  private final case class Batch(ins: DataFrame, insVecs: Array[Array[Float]], insLabels: Array[Int],
      deletes: Array[Long], updIds: Array[Long], updVecs: Array[Array[Float]], upd: DataFrame)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val size = if (ctx.opts.toy) Toy else Full
    val n = size.rows
    val spec = Data.VecSpec(ctx.opts.seed, Dim, clusters = 32, sigma = Sigma)

    // ---- set-up: inputs on the driver, the store built and saved once, then
    // loaded LoadReps times (the repeated set-up step)
    val baseVecs = Array.tabulate(n)(i => spec.vec(0, i))
    val baseLabels = Array.tabulate(n)(i => spec.label(0, i))
    val baseIds = Array.tabulate(n)(_.toLong)

    val input = spark.range(0, n, 1, ctx.cores * 4)
      .map(i => (i, spec.vec(0, i), spec.label(0, i)))
      .toDF("vec_id", "embedding", "label")
      .localCheckpoint(true)
    val path = s"${ctx.opts.work}/store"
    val (db0, fromS) = ctx.time(VectorDatabase.fromDataFrame(spark, input, Cfg))
    val (_, saveS) = ctx.time(db0.save(path))
    val loads = (0 until LoadReps).map { _ =>
      val (db, loadS) = ctx.time(VectorDatabase.load(spark, path, Cfg))
      val (c, countS) = ctx.time(db.count())
      require(c == n, s"loaded store has $c rows, expected $n")
      (db, loadS, loadS + countS)
    }
    val db = loads.last._1
    val loadS = Stats.median(loads.map(_._2))
    val loadCountS = loads.map(_._3)
    ctx.note(f"search: store built ($fromS%.2f s from, $saveS%.2f s save, $loadS%.2f s load)")

    val rnd = new java.util.SplittableRandom(Data.mix(ctx.opts.seed, 5, 0))
    def queryOf(stream: Long, i: Int): Query = i % 3 match {
      case 0 => Query(spec.query(stream, i), l1 = false, None)
      case 1 => Query(spec.query(stream, i), l1 = false, Some(rnd.nextInt(10)))
      case _ => Query(spec.query(stream, i), l1 = true, None)
    }
    def batchOf(r: Int): Batch = {
      val insVecs = Array.tabulate(size.inserts)(i => spec.vec(100 + r, i))
      val insLabels = Array.tabulate(size.inserts)(i => spec.label(100 + r, i))
      val pickedSet = scala.collection.mutable.LinkedHashSet[Long]()
      while (pickedSet.size < size.deletes + size.updates) pickedSet += rnd.nextInt(n).toLong
      val picked = pickedSet.toArray
      val updIds = picked.drop(size.deletes)
      val updVecs = Array.tabulate(size.updates)(i => spec.vec(200 + r, i))
      val ins = spark.createDataFrame(java.util.Arrays.asList(
        insVecs.indices.map(i => Row(insVecs(i), insLabels(i))): _*), vecSchema)
      val upd = spark.createDataFrame(java.util.Arrays.asList(
        updIds.indices.map(i => Row(updIds(i), updVecs(i))): _*), updSchema)
      Batch(ins, insVecs, insLabels, picked.take(size.deletes), updIds, updVecs, upd)
    }
    val nKnn = math.max(3, math.round(size.knnPerSecond * ctx.opts.seconds).toInt)
    val warmQueries = Array.tabulate(Warmups)(j => queryOf(1000, j))
    val queries = Array.tabulate(nKnn)(j => queryOf(1001, j))

    def exact(ids: Array[Long], vecs: Array[Array[Float]], labels: Array[Int],
        keep: Int => Boolean, q: Query): Seq[Data.Hit] =
      Data.topK(ids, vecs, labels, i => keep(i) && q.label.forall(_ == labels(i)),
        if (q.l1) Data.l1(_, q.q) else Data.sqL2(_, q.q), K)
    def hits(res: Seq[Knn.Neighbor]) = res.map(h => (h.vec_id, h.label, h.dist))
    def knn(kind: String, on: VectorDatabase, q: Query, traced: Boolean)(want: => Seq[Data.Hit]): Unit =
      ctx.op(kind, traced)(ctx.span("findKNearestNeighbors")(
        on.findKNearestNeighbors(q.q, K, q.filter, q.metric)))(res => Data.sameHits(hits(res), want))
    def clean(kind: String, q: Query, traced: Boolean): Unit =
      knn(kind, db, q, traced)(exact(baseIds, baseVecs, baseLabels, _ => true, q))

    warmQueries.foreach(clean(Ctx.Warmup + "knn", _, traced = false))
    ctx.note("search: warm-up done")
    queries.zipWithIndex.foreach { case (q, i) => clean("knn", q, ctx.trace.isDefined && i % 2 == 1) }
    ctx.note("search: knn ops done")

    // Traced runs only: write batches, each from the loaded base, and a kNN
    // call on each written snapshot. They feed per-layer figures alone.
    val planNodes = scala.collection.mutable.ArrayBuffer[Int]()
    def writeRound(r: Int, traced: Boolean): Unit = {
      val b = batchOf(r)
      val expectRows = n + size.inserts - size.deletes
      val written = ctx.op("write", traced) {
        val (db1, _) = ctx.span("insert")(db.insert(b.ins))
        val db2 = ctx.span("delete")(db1.delete(b.deletes.toSeq))
        val db3 = ctx.span("updatePosition")(db2.updatePosition(b.upd))
        (db3, ctx.span("count")(db3.count()))
      }(_._2 == expectRows).map(_._1)
      // driver-side image of the written snapshot: ids 0..n-1 then the
      // inserted rows, which take ids n, n+1, ... in input order
      val ids = baseIds ++ Array.tabulate(size.inserts)(i => (n + i).toLong)
      val vecs = baseVecs ++ b.insVecs
      b.updIds.indices.foreach(i => vecs(b.updIds(i).toInt) = b.updVecs(i))
      val labels = baseLabels ++ b.insLabels
      val deleted = b.deletes.map(_.toInt).toSet
      val q = queryOf(2000 + r, r)
      for (w <- written) {
        knn("knn_after_write", w, q, traced)(exact(ids, vecs, labels, i => !deleted.contains(i), q))
        if (traced) planNodes += w.state.queryExecution.analyzed.collect { case p => p }.size
      }
    }
    if (ctx.trace.isDefined) (0 until size.writeRounds).foreach(r => writeRound(r, r % 2 == 1))

    val layers =
      if (ctx.trace.isEmpty) Map.empty[String, Double]
      else {
        val knnF = ctx.sparkOf("knn")
        val awF = ctx.sparkOf("knn_after_write")
        val storeFiles = countFiles(new java.io.File(path))
        val tr = ctx.trace.get
        Map(
          "operators.knn_jobs_per_query" -> knnF.jobs,
          "operators.knn_driver_gap_s" -> knnF.driverGapS,
          "operators.knn_rows_read_per_result" -> knnF.scanRows / K,
          "operators.knn_after_write_jobs_per_query" -> awF.jobs,
          "operators.knn_after_write_rows_read_per_result" -> awF.scanRows / K,
          "operators.snapshot_plan_nodes" -> Stats.median(planNodes.map(_.toDouble).toSeq),
          "plans.knn_plan_s" -> knnF.planS,
          "plans.knn_files_read_frac" -> knnF.scanFiles / math.max(1.0, knnF.scans * storeFiles),
          "api.save_s" -> saveS,
          "api.load_s" -> loadS,
          "api.insert_s" -> tr.spanMedian("insert"),
          "api.delete_s" -> tr.spanMedian("delete"),
          "api.update_s" -> tr.spanMedian("updatePosition"),
          "api.write_p50_s" -> Stats.median(ctx.seconds("write", Some(false))),
          "api.knn_after_write_p50_s" -> Stats.median(ctx.seconds("knn_after_write", Some(false))),
          "api.build_vecs_per_s" -> n / (fromS + saveS + Stats.median(loadCountS))) ++
          Stats.cells(db.state)
      }
    Outcome(loadCountS.sum - Stats.median(loadCountS), "knn", layers)
  }

  private def countFiles(dir: java.io.File): Int =
    Option(dir.listFiles).toSeq.flatten.map { f =>
      if (f.isDirectory) countFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
}
