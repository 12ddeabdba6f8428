package perfbench

import graft.api.VectorDatabase
import graft.index.GridConfig
import graft.operators.{KnnCellJoin, KnnJoin, KnnTopK}
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{DataFrame, Row}

/** `join`: the cluster-scale form. Each op is `VectorDatabase.knnJoin` of a
  * fixed query set against a fixed store, both materialized in set-up. The
  * result (queries x k rows) is collected, which forces it and hands the
  * check its rows. */
object Join {

  final case class Size(store: Int, queries: Int, ops: Double)

  /** `ops` is per measured second. */
  val Full = Size(store = 20000, queries = 128, ops = 1.1)
  val Toy = Size(store = 2000, queries = 16, ops = 1.0)

  val K = 10
  val Dim = 64
  val Cfg = GridConfig(Dim, -1, 1, 4, 3)
  private val SetupReps = 3
  private val CheckedQueries = 8
  private val FormReps = 2
  /** The JIT needs about ten ops' work before op times settle. */
  private val Warmups = 8

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val size = if (ctx.opts.toy) Toy else Full
    val spec = Data.VecSpec(ctx.opts.seed, Dim, clusters = 32, sigma = 0.08)
    val nOps = math.max(3, math.round(size.ops * ctx.opts.seconds).toInt)

    val storeVecs = Array.tabulate(size.store)(i => spec.vec(0, i))
    val storeIds = Array.tabulate(size.store)(_.toLong)
    val noLabels = Array.fill(size.store)(-1)
    val rnd = new java.util.SplittableRandom(Data.mix(ctx.opts.seed, 9, 0))
    val checked = Array.fill(CheckedQueries)(rnd.nextInt(size.queries).toLong).distinct
    val expected = checked.map { qid =>
      // the engine sees the query as stored: float components
      val q = spec.query(1, qid.toInt).map(_.toFloat.toDouble)
      qid -> Data.topK(storeIds, storeVecs, noLabels, _ => true, Data.sqL2(_, q), K)
    }.toMap

    def buildOnce(): (VectorDatabase, DataFrame) = {
      val store = spark.range(0, size.store, 1, ctx.cores * 2)
        .map(i => (i, spec.vec(0, i), -1)).toDF("vec_id", "embedding", "label")
        .localCheckpoint(true)
      val queries = spark.range(0, size.queries, 1, 1)
        .map(i => (i, spec.query(1, i.toInt).map(_.toFloat))).toDF("query_id", "embedding")
        .localCheckpoint(true)
      (VectorDatabase.fromDataFrame(spark, store, Cfg), queries)
    }
    val reps = (0 until SetupReps).map(_ => ctx.time(buildOnce()))
    val (db, queries) = reps.last._1

    /** Result rows are (query_id, vec_id, dist, rn) in every join form. */
    def check(rows: Array[Row]): Boolean =
      rows.length == size.queries * K && expected.forall { case (qid, want) =>
        val got = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(3))
          .map(r => (r.getLong(1), -1, r.getDouble(2))).toSeq
        Data.sameHits(got, want)
      }
    def join(kind: String, traced: Boolean): Unit =
      ctx.op(kind, traced)(ctx.span("knnJoin")(db.knnJoin(queries, K)).collect())(check)

    (0 until Warmups).foreach(_ => join(Ctx.Warmup + "join", traced = false))
    (0 until nOps).foreach(i => join("join", ctx.trace.isDefined && i % 2 == 1))

    val layers =
      if (ctx.trace.isEmpty) Map.empty[String, Double]
      else {
        // the four batch-join forms on the same inputs, each checked
        val store = db.state.drop("cell_id")
        def form(kind: String, df: => DataFrame): Double = {
          (0 until FormReps).foreach(_ => ctx.op(kind)(df.collect())(check))
          Stats.median(ctx.seconds(kind))
        }
        val f = ctx.sparkOf("join")
        Map(
          "operators.join_form_topk_s" -> form("form_topk", KnnTopK.join(queries, store, K, Dim)),
          "operators.join_form_window_s" -> form("form_window", KnnJoin.join(queries, store, K, Dim)),
          // threshold 0: the grid path, not the brute fallback small stores take
          "operators.join_form_cell_s" -> form("form_cell",
            KnnCellJoin.join(queries, db.state, Cfg, K, bruteForceThreshold = 0L)),
          "plans.join_form_plan_s" -> form("form_plan", KnnJoinPlan.join(queries, store, K)),
          "plans.join_exchanges" -> f.exchanges) ++ Stats.cells(db.state)
      }
    Outcome(reps.map(_._2).sum - Stats.median(reps.map(_._2)), "join", layers)
  }
}
