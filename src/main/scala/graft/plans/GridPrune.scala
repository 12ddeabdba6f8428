package graft.plans

import graft.functions.{VecMetric, VecMetricLit}
import graft.index.{Grid, GridGeometry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Automatic grid data skipping as an OPTIMIZER RULE: a radius predicate
  * `vec_sql2_lit(embedding) ≤ r` over a relation that carries a grid's
  * `cell_id` column gains the conjunct `cell_id IN (candidate cells)`,
  * where a candidate is any cell whose closed-form interval lower bound
  * (`Grid.cellLowerBoundSqL2` — the reference's `distance_to_partition`,
  * vectordb/kd_tree_database.py:164-181, evaluated per cell instead of
  * per tree node) is ≤ r. Admissible, so the rewrite only SKIPS rows the
  * exact predicate would reject anyway — the original predicate stays as
  * the re-check. One rule serves every [[GridGeometry]] — equal-width
  * [[graft.index.GridConfig]] and quantile-calibrated
  * [[graft.index.QuantileGridConfig]] stores alike.
  *
  * This closes the loop the driver-side `Knn.prunedRadius` opens (it runs
  * `Knn.radiusSearch` over the cells whose bound, priced by the caller, is
  * ≤ r): there the CALLER must know about the index; here any query that merely
  * *filters by distance* — `spark.sql` text included — gets the pruning,
  * and on a store written `partitionBy("cell_id")` the injected IN
  * reaches the scan as a PARTITION filter, i.e. files for far cells are
  * never opened. SURVEY §2 disposition (c): the rule composes with the
  * session's other extensions (KnnTopKPushdown, KnnJoinStrategy) in the
  * same user batch, run to fixed point — the cell_id-reference guard
  * stops the second application.
  *
  * The grid geometry cannot be inferred from the plan, so the store's
  * geometry is registered on the session (runtime conf, survives plan
  * re-use) by [[GridRadiusPruning.register]]. The registry holds MULTIPLE
  * geometries of either kind, and a geometry only prunes a relation it can
  * be BOUND to — in priority order:
  *
  *  1. the cell_id attribute carries fingerprint metadata (stamped by
  *     [[Grid.withCellId]] under the geometry's own key, `graft.grid.fp` or
  *     `graft.qgrid.fp`; survives in-memory projections) matching a
  *     registered geometry of that kind;
  *  2. the relation is a file scan whose root path was registered via
  *     `register(spark, cfg, storePath)` (parquet PARTITION columns lose
  *     metadata — the path is the durable identity of a written store);
  *  3. exactly ONE registered UNBOUND geometry matches the query vector's
  *     dimension (the legacy single-store session; ambiguity → no prune).
  *
  * An unrelated user column named cell_id, or a second store under a
  * different geometry, therefore never gets an inadmissible IN injected:
  * a foreign fingerprint matches nothing (rule 1 refuses outright), a
  * foreign path matches nothing, and two same-dim candidates make rule 3
  * refuse. Registering the same fingerprint again just updates its path,
  * and registering a path evicts whatever geometry was bound to it before.
  */
object GridRadiusPruning extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.grid.pruneCfg"

  /** Upper bound on geometries the rule will enumerate driver-side: it
    * walks every cell id per matching Filter per optimizer pass, so an
    * unbounded registered geometry would turn plan OPTIMIZATION into an
    * O(numCells) driver loop. Larger geometries simply don't prune. */
  val MaxEnumCells: Long = 1000000L

  /** Register `cfg` on the session UNBOUND (dim-unique fallback matching
    * only) and install the rule (idempotent). */
  def register(spark: SparkSession, cfg: GridGeometry): Unit =
    addEntry(spark, cfg, None)

  /** Register `cfg` BOUND to a written store's root path — required for
    * stores read back through `partitionBy("cell_id")` parquet, where the
    * column's fingerprint metadata does not survive. */
  def register(spark: SparkSession, cfg: GridGeometry, storePath: String): Unit =
    addEntry(spark, cfg, Some(storePath))

  private def addEntry(spark: SparkSession, cfg: GridGeometry,
      path: Option[String]): Unit = {
    // Dedup by fingerprint AND by bound path, across both geometry kinds:
    // after a store at path P is re-bucketed with a new geometry
    // (Grid.maintain, QuantileGrid.maintain, or a switch from equal-width to
    // quantile buckets) and re-registered, the stale (oldCfg, P) entry must
    // not shadow the new one — bindCfg's path branch uses collectFirst, so
    // a leftover old entry would inject an inadmissible cell-id list
    // against the rewritten store and silently drop rows.
    val newPath = path.map(normPath)
    val kept = parseEntries(spark.conf.get(ConfKey, ""))
      .filterNot { case (c, p) =>
        c.fingerprint == cfg.fingerprint ||
          (newPath.isDefined && p == newPath)
      }
    val all = kept :+ (cfg, newPath)
    spark.conf.set(ConfKey, all.map { case (c, p) =>
      c.encoded + "@" + java.net.URLEncoder.encode(p.getOrElse(""), "UTF-8")
    }.mkString(";"))
    DatasetBridge.addOptimization(spark, this)
  }

  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def parseEntries(s: String): Seq[(GridGeometry, Option[String])] =
    if (s == null || s.isEmpty) Seq.empty
    else s.split(";").toSeq.map { e =>
      val at = e.lastIndexOf('@')
      val p = e.substring(at + 1)
      (GridGeometry.parse(e.substring(0, at)),
        if (p.isEmpty) None else Some(java.net.URLDecoder.decode(p, "UTF-8")))
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** (metric, query vector, aux weights, radius) when a conjunct is a
    * ≤/< bound on a native distance-literal expression with a closed-form
    * cell bound (sqL2 / L1 / L∞ / diagonal Mahalanobis — the reference's
    * four metrics, SURVEY §2.1 #12-#17; the Mahalanobis reciprocal
    * diagonal travels inside the expression itself). */
  private val Prunable = Set(VecMetric.SqL2, VecMetric.L1, VecMetric.LInf, VecMetric.Maha)
  private def radiusBound(p: Expression)
      : Option[(String, Array[Double], Array[Double], Double)] = p match {
    case LessThanOrEqual(VecMetricLit(_, m, q, w), Literal(r: Double, DoubleType))
        if Prunable(m) && (m != VecMetric.Maha || w != null) => Some((m, q, w, r))
    case LessThan(VecMetricLit(_, m, q, w), Literal(r: Double, DoubleType))
        if Prunable(m) && (m != VecMetric.Maha || w != null) => Some((m, q, w, r))
    case _ => None
  }

  private def cellBound(m: String, q: Array[Double], w: Array[Double],
      cell: Long, cfg: GridGeometry): Double = m match {
    case VecMetric.SqL2 => Grid.cellLowerBoundSqL2(q, cell, cfg)
    case VecMetric.L1   => Grid.cellLowerBoundL1(q, cell, cfg)
    case VecMetric.LInf => Grid.cellLowerBoundLInf(q, cell, cfg)
    case VecMetric.Maha => Grid.cellLowerBoundMahalanobisDiag(q, cell, cfg, w)
  }

  /** Root path of the file relation that produces `attr`, if any. */
  private def scanPathOf(child: LogicalPlan, attr: Attribute): Option[String] =
    child.collectLeaves().collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.output.exists(_.exprId == attr.exprId) =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map(_.toUri.getPath)
          case _ => None
        }
    }.flatten

  /** Bind the cell_id attribute to a registered geometry (see object doc
    * for the priority order), or None → no pruning. */
  private def bindCfg(entries: Seq[(GridGeometry, Option[String])],
      child: LogicalPlan, attr: Attribute, qDim: Int): Option[GridGeometry] = {
    GridGeometry.FpMetaKeys.find(attr.metadata.contains) match {
      // a fingerprinted column binds by fingerprint ONLY: a foreign
      // geometry (either kind) must refuse, not fall through to weaker
      // matching
      case Some(key) =>
        val fp = attr.metadata.getString(key)
        entries.map(_._1).find(c =>
          c.fpMetaKey == key && c.fingerprint == fp && c.dim == qDim)
      case None =>
        scanPathOf(child, attr).flatMap { p =>
          entries.collectFirst {
            case (c, Some(bp)) if bp == p && c.dim == qDim => c
          }
        }.orElse {
          entries.filter { case (c, p) => p.isEmpty && c.dim == qDim } match {
            case Seq((one, _)) => Some(one)
            case _ => None // zero or ambiguous — never guess a geometry
          }
        }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val cfgStr = conf.getConfString(ConfKey, null)
    if (cfgStr == null || cfgStr.isEmpty) return plan
    // a malformed registration must degrade to "no pruning", never break
    // every query that passes through the optimizer
    val entries = try parseEntries(cfgStr) catch { case _: Exception => return plan }
    if (entries.isEmpty) return plan
    plan.transformUp {
      case f @ Filter(cond, child) =>
        // LongType from Grid.withCellId; IntegerType when the column came
        // back through parquet PARTITION-column inference
        val cellAttr: Option[Attribute] =
          child.output.find(a => a.name == "cell_id" &&
            (a.dataType == LongType || a.dataType == IntegerType))
        val bound = conjuncts(cond).flatMap(radiusBound(_)).headOption
        // the cell_id-reference guard makes the fixed-point run terminate:
        // once the IN is injected the condition references cell_id
        val cfgOpt = for {
          attr <- cellAttr
          (_, q, _, _) <- bound
          if !cond.references.exists(_.name == "cell_id")
          cfg <- bindCfg(entries, child, attr, q.length)
          // the rule enumerates every cell on the DRIVER per matching
          // Filter per optimizer pass — an unbounded registered geometry
          // would make query OPTIMIZATION itself O(numCells). Past the cap
          // the rule degrades to "no pruning" (always correct); a geometry
          // that large should partition-prune via the store layout instead
          if cfg.numCells <= GridRadiusPruning.MaxEnumCells
        } yield cfg
        if (cfgOpt.isEmpty) f
        else {
          val cfg = cfgOpt.get
          val (m, q, w, r) = bound.get
          val cells = (0L until cfg.numCells)
            .filter(c => cellBound(m, q, w, c, cfg) <= r)
          if (cells.size.toLong == cfg.numCells) f // every cell qualifies
          else {
            val lits: Seq[Expression] =
              if (cellAttr.get.dataType == LongType)
                cells.map(c => Literal(c, LongType))
              else cells.map(c => Literal(c.toInt, IntegerType))
            val prune: Expression =
              if (cells.isEmpty) Literal(false) else In(cellAttr.get, lits)
            Filter(And(prune, cond), child)
          }
        }
    }
  }
}
