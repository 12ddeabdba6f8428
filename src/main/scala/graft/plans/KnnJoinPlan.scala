package graft.plans

import org.apache.spark.rdd.RDD
import graft.functions.VecMetric
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** First-class logical operator for the batch kNN join — the one reference
  * operator family (filtered kNN, `vectordb/kd_tree_database.py:285-304`,
  * batched) whose WHOLE-operator semantics no single built-in relational
  * node expresses. It is the engine's one exact brute-force batch kNN
  * join: `VectorDatabase.knnJoin`, `Outlier.kthNnDistance`, the
  * `knn_join_*` queries, the exact arms of the recall evals, streaming
  * serving and [[graft.operators.KnnCellJoin]]'s brute arm all run on it
  * (the cell join is the other batch join: it prunes by grid cell). The
  * node is a resolved marker [[BinaryNode]] that the planner
  * ([[KnnJoinStrategy]]) lowers to a dedicated physical operator
  * ([[KnnJoinExec]]).
  *
  * Contract: `queries` provides (query_id LONG, embedding ARRAY<FLOAT>) —
  * a SMALL relation (broadcast side); `data` provides (vec_id LONG,
  * embedding ARRAY<FLOAT>). Output is the top-k rows per query by `metric`
  * (squared L2, L1 or L-inf, as [[graft.functions.VecMetricCols]] computes
  * them), total-ordered by [[KnnJoinExec.before]] (dist ASC, vec_id ASC,
  * NaN after every number), rn = 1..k; data rows with null id/vector are
  * skipped (the metadata-filter form pre-filters `data`, preserving the
  * reference's filter-before-k semantics, `kd_tree_database.py:186-190`).
  */
case class KnnJoinPlan(
    queries: LogicalPlan,
    data: LogicalPlan,
    k: Int,
    metric: String,
    outputAttrs: Seq[Attribute]) extends BinaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(KnnJoinPlan.metrics.contains(metric),
    s"KnnJoinPlan supports the metrics ${KnnJoinPlan.metrics.mkString("/")}, got $metric")
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = data
  override def output: Seq[Attribute] = outputAttrs
  // the output attributes are produced HERE, not consumed from children —
  // without this, CheckAnalysis reports them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
  // consumed child columns: exactly the contract columns. Declaring them
  // lets ColumnPruning drop everything else from the child scans (payload
  // columns on a filtered data side never leave the parquet reader) while
  // keeping what the strategy resolves by name.
  override def references: AttributeSet = AttributeSet(
    queries.output.filter(a => a.name == "query_id" || a.name == "embedding") ++
      data.output.filter(a => a.name == "vec_id" || a.name == "embedding"))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnJoinPlan {

  /** The metrics [[KnnJoinExec]]'s kernel computes: each one's partial
    * sums (or maxima) only grow, which keeps its early exit exact. */
  val metrics: Seq[String] = Seq(VecMetric.SqL2, VecMetric.L1, VecMetric.LInf)

  private def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("vec_id", LongType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)(),
    AttributeReference("rn", IntegerType, nullable = false)())

  /** Public entry: build the logical node over two DataFrames and hand it
    * back as a DataFrame (planned by [[KnnJoinStrategy]] — installed
    * build-time via `spark.sql.extensions=graft.functions.GraftExtensions`
    * or post-hoc via [[install]], which this calls for convenience).
    *
    * Children are pre-projected to the contract columns HERE, in the
    * LOGICAL plan — that is what lets Catalyst push the pruning into the
    * scans, and it must NOT happen inside the strategy: a physical-only
    * Project has no logical counterpart, so AQE's logicalLink-based stage
    * substitution never records the child's materialized query stage and
    * the replan loop adopts a "new" plan forever (livelock, observed with
    * a cached input table).
    *
    * The pre-projection also renames `queryIdCol` to `query_id` and casts
    * both id columns to LONG (a no-op the optimizer removes on LONG ids),
    * the type [[KnnJoinExec]] reads. `metric` is one of [[metrics]]. */
  def join(queriesDf: DataFrame, dataDf: DataFrame, k: Int,
      metric: String = VecMetric.SqL2, queryIdCol: String = "query_id"): DataFrame = {
    val spark = queriesDf.sparkSession
    install(spark)
    DatasetBridge.ofRows(spark,
      KnnJoinPlan(
        DatasetBridge.analyzed(queriesDf.select(
          col(queryIdCol).cast(LongType).as("query_id"), col("embedding"))),
        DatasetBridge.analyzed(dataDf.select(
          col("vec_id").cast(LongType).as("vec_id"), col("embedding"))),
        k, metric, freshOutput()))
  }

  /** Idempotently register the planner strategy + optimizer rule on a
    * live session. */
  def install(spark: SparkSession): Unit = {
    DatasetBridge.addStrategy(spark, KnnJoinStrategy)
    DatasetBridge.addOptimization(spark, KnnTopKPushdown)
  }
}

/** Optimizer rule completing the custom-operator stack (SURVEY.md §2
  * disposition (c): LogicalPlan + Rule[LogicalPlan] + SparkStrategy +
  * SparkPlan): a `Filter` directly above [[KnnJoinPlan]] that bounds the
  * rank column (`rn <= m`, `rn < m`, `rn = m`, conjunctions thereof)
  * shrinks the operator's k to m — the top-m of a top-k IS the top-m
  * (the per-query order is total: dist ASC, vec_id ASC), so the rewrite
  * is semantics-preserving while every executor heap, partial result,
  * and shuffle row count drops from k to m per query. The filter itself
  * is kept (other conjuncts, and `rn = m` selecting one rank, still
  * apply). Runs to fixed point: after the rewrite m == k and the guard
  * `m < k` stops matching.
  *
  * Robustness: the rn side may sit under type-coercion casts
  * (`rn <= 3L` becomes `CAST(rn AS BIGINT) <= 3L`) and the literal may
  * be any integral type — both are normalized before matching. A single
  * TRIVIAL `Project` (attributes/aliases only, the shape ColumnPruning
  * and `.select` insert) between the Filter and the node is matched
  * through; deeper or computing projections are left alone (correctness
  * unaffected — the filter still applies, only the shrink is missed). */
object KnnTopKPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
  import org.apache.spark.sql.types.{ByteType, ShortType}

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  /** Integral literal folded to Int (the operator's k domain). */
  private def litInt(e: Expression): Option[Int] = stripCast(e) match {
    case Literal(m: Int, IntegerType) => Some(m)
    case Literal(m: Long, LongType) if m >= Int.MinValue && m <= Int.MaxValue => Some(m.toInt)
    case Literal(m: Short, ShortType) => Some(m.toInt)
    case Literal(m: Byte, ByteType) => Some(m.toInt)
    case _ => None
  }

  /** Upper bound on rn implied by one conjunct, if any. `rnIds` holds the
    * attributes that carry the rank column at the Filter's level (the
    * node's own rn, plus any pass-through aliases of it). */
  private def rnBound(p: Expression, rnIds: Seq[Attribute]): Option[Int] = {
    def isRn(e: Expression): Boolean = stripCast(e) match {
      case a: Attribute => rnIds.exists(_.semanticEquals(a))
      case _ => false
    }
    p match {
      case LessThanOrEqual(a, l) if isRn(a) => litInt(l)
      case LessThan(a, l) if isRn(a) => litInt(l).map(_ - 1)
      case EqualTo(a, l) if isRn(a) => litInt(l)
      case EqualTo(l, a) if isRn(a) => litInt(l)
      case GreaterThanOrEqual(l, a) if isRn(a) => litInt(l)
      case GreaterThan(l, a) if isRn(a) => litInt(l).map(_ - 1)
      case _ => None
    }
  }

  /** Attributes at the Filter's level that carry kj's rn column: the rn
    * attribute itself, or its pass-through image in a trivial Project. */
  private def rnAt(projList: Option[Seq[NamedExpression]],
      kj: KnnJoinPlan): Seq[Attribute] =
    kj.outputAttrs.find(_.name == "rn").toSeq.flatMap { rn =>
      projList match {
        case None => Seq(rn)
        case Some(ps) => ps.collect {
          case a: Attribute if a.semanticEquals(rn) => a
          case al @ Alias(a: Attribute, _) if a.semanticEquals(rn) => al.toAttribute
        }
      }
    }

  private def shrink(cond: Expression, rnIds: Seq[Attribute],
      kj: KnnJoinPlan): Option[KnnJoinPlan] =
    conjuncts(cond).flatMap(rnBound(_, rnIds)).reduceOption(_ min _) match {
      case Some(m) if m >= 1 && m < kj.k => Some(kj.copy(k = m))
      case _ => None
    }

  private def isTrivial(ps: Seq[NamedExpression]): Boolean = ps.forall {
    case _: Attribute => true
    case Alias(_: Attribute, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, kj: KnnJoinPlan) =>
      shrink(cond, rnAt(None, kj), kj)
        .map(Filter(cond, _)).getOrElse(f)
    case f @ Filter(cond, p @ Project(ps, kj: KnnJoinPlan)) if isTrivial(ps) =>
      shrink(cond, rnAt(Some(ps), kj), kj)
        .map(k2 => Filter(cond, p.copy(child = k2))).getOrElse(f)
  }
}

/** Plans [[KnnJoinPlan]] into [[KnnJoinExec]], resolving the input columns
  * by name against the (already-optimized) child outputs. */
object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: KnnJoinPlan =>
      // Resolve contract columns by position in the (already-pruned-by-
      // join()) child outputs. NEVER invent logical nodes here: a Project
      // created at planning time has no logicalLink into the logical plan,
      // which breaks AQE's materialized-stage substitution and livelocks
      // the replan loop (see KnnJoinPlan.join scaladoc).
      def idx(side: LogicalPlan, name: String, which: String): Int = {
        val i = side.output.indexWhere(_.name == name)
        require(i >= 0, s"KnnJoinPlan: $which side must provide column '$name' " +
          s"(has ${side.output.map(_.name).mkString(", ")})")
        i
      }
      KnnJoinExec(p.outputAttrs, p.k, p.metric,
        idx(p.queries, "query_id", "queries"), idx(p.queries, "embedding", "queries"),
        idx(p.data, "vec_id", "data"), idx(p.data, "embedding", "data"),
        planLater(p.queries), planLater(p.data)) :: Nil
    case _ => Nil
  }
}

/** Physical batch kNN join: collect + broadcast the (small) query side,
  * stream the data side once per partition keeping a ≤k bound per query,
  * then merge the k-bounded partials per query with map-side combine.
  *
  * Scale shape (the reason this operator exists rather than a generic
  * join): the shuffle carries at most |Q|·k rows PER MAP PARTITION —
  * independent of data-side row count and immune to candidate skew (the
  * same guarantee as [[graft.operators.KnnTopK]], here enforced by the
  * operator itself instead of by how the query is composed). Distances use
  * the identical float→double left-to-right IEEE loop as
  * [[graft.functions.VecMetricCols]], so results are bit-equal to
  * [[graft.operators.KnnTopK.topK]] over the scored cross product.
  *
  * The per-pair loop allocates nothing: every query's bound lives in
  * primitive id/dist arrays kept sorted by shifted insertion
  * ([[KnnJoinExec.insert]]), and the shuffle carries the same primitive
  * layout ([[KnnJoinExec.TopK]]). Counters are task-local and reach the
  * SQL metrics once per partition.
  */
case class KnnJoinExec(
    out: Seq[Attribute], k: Int, metric: String,
    qIdIdx: Int, qVecIdx: Int, dIdIdx: Int, dVecIdx: Int,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  import KnnJoinExec._

  override def output: Seq[Attribute] = out
  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataRows" -> SQLMetrics.createMetric(sparkContext, "data rows scanned"),
    "pairs" -> SQLMetrics.createMetric(sparkContext, "candidate pairs"),
    "prunedPairs" -> SQLMetrics.createMetric(sparkContext, "pairs cut by early exit"),
    "heapInserts" -> SQLMetrics.createMetric(sparkContext, "heap inserts"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val qid = qIdIdx; val qv = qVecIdx
    // query side: executeCollect is the physical analog of a broadcast
    // build side — the node's contract is |Q| small (ANN forms cover huge
    // query sets)
    val rows = left.executeCollect().filter(r => !r.isNullAt(qid) && !r.isNullAt(qv))
    val vecs = rows.map(_.getArray(qv).toFloatArray)
    val dim = if (vecs.isEmpty) 0 else vecs(0).length
    vecs.indices.find(vecs(_).length != dim).foreach { i =>
      throw new IllegalArgumentException(
        s"KnnJoinExec: query id=${rows(i).getLong(qid)} has dim ${vecs(i).length}, " +
          s"query id=${rows(0).getLong(qid)} has dim $dim; mixed-dimension " +
          "queries are a data error")
    }
    val flat = new Array[Double]((rows.length + 3) / 4 * 4 * dim)
    for (i <- vecs.indices; j <- 0 until dim) flat(i * dim + j) = vecs(i)(j)
    val bc = sparkContext.broadcast(Queries(rows.map(_.getLong(qid)), flat, dim))
    // task closures capture only these locals, never `this` (the whole
    // physical plan tree would be serialized into every task)
    val kk = k; val m = metricCode(metric); val did = dIdIdx; val dv = dVecIdx
    val counters = Counters(metrics("dataRows"), metrics("pairs"),
      metrics("prunedPairs"), metrics("heapInserts"))
    val numOut = metrics("numOutputRows")

    val partials: RDD[(Long, TopK)] = right.execute().mapPartitions { it =>
      val qs = bc.value
      if (qs.ids.isEmpty) Iterator.empty
      else scanPartition(it, did, dv, qs, kk, m, counters)
    }
    // this RDD-level shuffle bypasses AQE, so size it the way AQE would
    // coalesce a SQL shuffle: partitions of the advisory size (16 bytes per
    // (id, dist) entry), at most spark.sql.shuffle.partitions
    val shuffleBytes = 16.0 * rows.length * k * partials.getNumPartitions
    val reducers = math.min(conf.numShufflePartitions, math.max(1,
      math.ceil(shuffleBytes / conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)).toInt))

    // k-bounded merge per query: RDD combine-by-key with map-side combine
    // (partials are already ≤k, so reducers see k-bounded buffers only)
    partials.reduceByKey(merge(_, _, kk), reducers).mapPartitions { it =>
      val w = new UnsafeRowWriter(4)
      it.flatMap { case (q, t) =>
        numOut += t.ids.length
        Iterator.tabulate(t.ids.length) { i =>
          w.reset()
          w.write(0, q); w.write(1, t.ids(i)); w.write(2, t.dists(i)); w.write(3, i + 1)
          w.getRow.copy(): InternalRow
        }
      }
    }
  }
}

object KnnJoinExec {

  /** The broadcast query side: ids, and the vectors row-major in one array,
    * widened to double once (float -> double is exact) and padded with
    * zero vectors to a whole number of blocks of four. */
  final case class Queries(ids: Array[Long], vecs: Array[Double], dim: Int)

  /** One query's bound: ids and distances in (dist, id) order, at most k. */
  final class TopK(val ids: Array[Long], val dists: Array[Double]) extends Serializable

  final case class Counters(dataRows: SQLMetric, pairs: SQLMetric,
      prunedPairs: SQLMetric, heapInserts: SQLMetric)

  /** Kernel metric codes: the positions in [[KnnJoinPlan.metrics]]. */
  private val SqL2 = 0
  private val L1 = 1
  private def metricCode(metric: String): Int = KnnJoinPlan.metrics.indexOf(metric)

  /** Elements processed between early-exit tests: a per-element test defeats
    * the JIT's reduction pipelining (measured SLOWER than no pruning). */
  private val Chunk = 16

  /** The engine's one (dist ASC, id ASC) order, comparing doubles as Spark's
    * sort does — NaN after every number and equal to NaN, −0.0 equal to
    * 0.0. Every bounded top-k ranks by it: this exec, the
    * [[graft.operators.KnnTopK]] aggregators, the single-query widening
    * merge (`Knn.mergeTopK`) and the graph beam. */
  def before(d1: Double, id1: Long, d2: Double, id2: Long): Boolean =
    if (d1 < d2) true
    else if (d1 == d2) id1 < id2
    else if (java.lang.Double.isNaN(d1)) java.lang.Double.isNaN(d2) && id1 < id2
    else java.lang.Double.isNaN(d2)

  /** Insert (id, d) into the sorted run `ids/dists[base, base + size)` of
    * capacity k, shifting later entries right; a full run drops its last
    * entry. The caller has checked that a full run's last entry comes after
    * (id, d). Returns the new size. */
  def insert(ids: Array[Long], dists: Array[Double], base: Int, size: Int, k: Int,
      id: Long, d: Double): Int = {
    var p = base + (if (size < k) size else k - 1)
    while (p > base && before(d, id, dists(p - 1), ids(p - 1))) {
      ids(p) = ids(p - 1); dists(p) = dists(p - 1)
      p -= 1
    }
    ids(p) = id; dists(p) = d
    if (size < k) size + 1 else k
  }

  /** `t` with (id, d) inserted, at most k entries: `t` itself when it is
    * full and (id, d) does not come before its kth entry, else a new
    * bound (`t` is never modified). */
  def offer(t: TopK, id: Long, d: Double, k: Int): TopK = {
    val n = t.ids.length
    if (n >= k && !before(d, id, t.dists(k - 1), t.ids(k - 1))) t
    else {
      val size = math.min(n + 1, k)
      val ids = java.util.Arrays.copyOf(t.ids, size)
      val dists = java.util.Arrays.copyOf(t.dists, size)
      insert(ids, dists, 0, n, k, id, d)
      new TopK(ids, dists)
    }
  }

  /** The first k of two bounds in (dist, id) order. */
  def merge(a: TopK, b: TopK, k: Int): TopK = {
    val n = math.min(k, a.ids.length + b.ids.length)
    val ids = new Array[Long](n); val dists = new Array[Double](n)
    var i = 0; var j = 0; var o = 0
    while (o < n) {
      val takeA = j >= b.ids.length ||
        (i < a.ids.length && before(a.dists(i), a.ids(i), b.dists(j), b.ids(j)))
      if (takeA) { ids(o) = a.ids(i); dists(o) = a.dists(i); i += 1 }
      else { ids(o) = b.ids(j); dists(o) = b.dists(j); j += 1 }
      o += 1
    }
    new TopK(ids, dists)
  }

  /** Every query's bound over one partition: query i's run sits at
    * `[i * k, i * k + sizes(i))` of the primitive id and dist arrays.
    * Indexes from nq up are the padding of the last block of four. */
  private final class Bounds(nq: Int, k: Int) {
    val ids = new Array[Long](nq * k)
    val dists = new Array[Double](nq * k)
    val sizes = new Array[Int](nq)
    var inserts = 0L
    var pruned = 0L

    /** Query i's early-exit threshold: its kth distance once its run is
      * full, +Inf before; -Inf for padding, which never holds a block. */
    def threshold(i: Int): Double =
      if (i >= nq) Double.NegativeInfinity
      else if (sizes(i) < k) Double.PositiveInfinity
      else dists(i * k + k - 1)

    /** Offer a data row at distance `s` to query i. `complete` is false when
      * the scan stopped before the last element: the partial sum already
      * exceeded the threshold, so the pair is rejected. */
    def offer(i: Int, id: Long, s: Double, complete: Boolean): Unit =
      if (i >= nq) ()
      else if (!complete) pruned += 1
      else {
        val base = i * k
        val size = sizes(i)
        if (size < k || before(s, id, dists(base + k - 1), ids(base + k - 1))) {
          sizes(i) = insert(ids, dists, base, size, k, id, s)
          inserts += 1
        }
      }
  }

  /** One data partition against every query: the bounded top-k of each
    * query over this partition's rows.
    *
    * Once a query's run is full, its running sum (or max) never decreases,
    * so its scan may stop as soon as it strictly exceeds the kth distance:
    * the pair would be rejected on any completion (exact: ties at == kth
    * run to the end and tie-break on id). Queries are scored in blocks of
    * four with one accumulator each, so four independent add chains
    * overlap; each accumulator still sums its own query left to right in
    * VecMetricCols' per-element order, so every distance is bit-identical
    * to it. A block stops early only when all four of its sums are past
    * their thresholds. */
  def scanPartition(it: Iterator[InternalRow], did: Int, dv: Int, qs: Queries,
      k: Int, m: Int, counters: Counters): Iterator[(Long, TopK)] = {
    val nq = qs.ids.length
    val dim = qs.dim
    val qv = qs.vecs
    val b = new Bounds(nq, k)
    val v = new Array[Double](dim)
    var rows = 0L
    while (it.hasNext) {
      val row = it.next()
      if (!row.isNullAt(did) && !row.isNullAt(dv)) {
        val id = row.getLong(did)
        val arr = row.getArray(dv)
        if (arr.numElements() != dim)
          throw new IllegalArgumentException(
            s"KnnJoinExec: data vector id=$id has dim ${arr.numElements()}, " +
              s"the queries have dim $dim; mixed-dimension input is a data " +
              "error (validate at ingest, cf. Grid.requireDim)")
        var j = 0
        while (j < dim) { v(j) = arr.getFloat(j).toDouble; j += 1 }
        rows += 1
        var i = 0
        while (i < nq) {
          val t0 = b.threshold(i); val t1 = b.threshold(i + 1)
          val t2 = b.threshold(i + 2); val t3 = b.threshold(i + 3)
          val o0 = i * dim; val o1 = o0 + dim; val o2 = o1 + dim; val o3 = o2 + dim
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          j = 0
          while (j < dim && !(s0 > t0 && s1 > t1 && s2 > t2 && s3 > t3)) {
            val end = if (j + Chunk < dim) j + Chunk else dim
            if (m == SqL2) while (j < end) {
              val x = v(j)
              val d0 = qv(o0 + j) - x; val d1 = qv(o1 + j) - x
              val d2 = qv(o2 + j) - x; val d3 = qv(o3 + j) - x
              s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
              j += 1
            }
            else if (m == L1) while (j < end) {
              val x = v(j)
              s0 += math.abs(qv(o0 + j) - x); s1 += math.abs(qv(o1 + j) - x)
              s2 += math.abs(qv(o2 + j) - x); s3 += math.abs(qv(o3 + j) - x)
              j += 1
            }
            else while (j < end) {
              val x = v(j)
              s0 = math.max(s0, math.abs(qv(o0 + j) - x))
              s1 = math.max(s1, math.abs(qv(o1 + j) - x))
              s2 = math.max(s2, math.abs(qv(o2 + j) - x))
              s3 = math.max(s3, math.abs(qv(o3 + j) - x))
              j += 1
            }
          }
          val complete = j == dim
          b.offer(i, id, s0, complete); b.offer(i + 1, id, s1, complete)
          b.offer(i + 2, id, s2, complete); b.offer(i + 3, id, s3, complete)
          i += 4
        }
      }
    }
    counters.dataRows += rows
    counters.pairs += rows * nq
    counters.prunedPairs += b.pruned
    counters.heapInserts += b.inserts
    Iterator.range(0, nq).filter(b.sizes(_) > 0).map { i =>
      val base = i * k
      val end = base + b.sizes(i)
      (qs.ids(i), new TopK(b.ids.slice(base, end), b.dists.slice(base, end)))
    }
  }
}
