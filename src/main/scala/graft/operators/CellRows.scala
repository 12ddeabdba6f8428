package graft.operators

import graft.operators.Knn.{CellStats, Neighbor}
import graft.plans.KnnJoinExec
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** A snapshot's rows held by the cluster, one partition per non-empty cell
  * of its stats: the cell ↔ file identity `VectorDatabase.save` writes,
  * kept resident the way the reference keeps its tree
  * (kd_tree_database.py:149-221) and REPOSE keeps a local index on each
  * worker (PAPERS.md). Built once per snapshot, with its stats, on its
  * first kNN or radius call.
  *
  * A widening round over the cache is one RDD job over the round's cells,
  * with no Catalyst analysis, optimization, planning or codegen: the query's
  * distance and filter are resolved once, against `state`'s analyzed output,
  * and each task evaluates them row by row ([[CellTopK]]). The rows are
  * persisted MEMORY_AND_DISK; Spark's `ContextCleaner` drops them when the
  * snapshot holding this cache is garbage-collected. */
private[graft] final class CellRows private (
    val state: DataFrame,
    val stats: Map[Long, CellStats],
    val byCell: RDD[InternalRow],
    cells: Array[Long]) {

  /** The scan of [[Knn.widen]]'s rounds over this cache for one query: the
    * top-k, in `(dist, vec_id)` order, of the rows of the given cells (all
    * cells for None) that pass `pred` and have a distance. None when `dist`
    * or `pred` cannot be evaluated row by row (a subquery, an aggregate,
    * anything `Unevaluable`) or the columns do not have the types a
    * [[Neighbor]] reads; the caller then runs the Dataset rounds. */
  def scan(dist: Column, k: Int, pred: Option[Column]): Option[Option[Seq[Long]] => Seq[Neighbor]] =
    CellRows.bind(state, dist, k, pred).map { task => cellsOrAll =>
      val parts = cellsOrAll.fold[Seq[Int]](cells.indices)(_.map(java.util.Arrays.binarySearch(cells, _)))
      val sc = byCell.sparkContext
      DatasetBridge.withSQLConfPropagated(state.sparkSession)(sc.runJob(byCell, task, parts))
        .foldLeft(Seq.empty[Neighbor])((acc, part) => Knn.mergeTopK(acc, part.toSeq, k))
    }
}

private[graft] object CellRows {

  /** The stats of `state` (`statsOf`: [[Knn.cellStats]]) and its row
    * cache, from one pass over `state`'s plan: its rows are held while the
    * stats job aggregates them (one job), then shuffled to one partition per
    * non-empty cell and materialized (a second job, over the held rows),
    * then released. None when `statsOf` gives no stats. */
  def apply(state: DataFrame,
      statsOf: DataFrame => Option[Map[Long, CellStats]]): Option[CellRows] = {
    val output = state.queryExecution.analyzed.output
    val held = state.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(output, output)
      it.map(r => (r match { case u: UnsafeRow => u; case other => unsafe(other) }).copy(): InternalRow)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try statsOf(DatasetBridge.internalDataFrame(state.sparkSession, held, state.schema)).map { stats =>
      val c = output.indexWhere(_.name == "cell_id")
      val cells = stats.keys.toArray.sorted
      val keyed = held.map { r =>
        val p = java.util.Arrays.binarySearch(cells, r.getLong(c))
        if (p < 0) throw new IllegalStateException(s"cell ${r.getLong(c)} has no stats")
        (p, r)
      }
      // written as SQL's exchanges write rows; `UnsafeRowSerializer` reuses
      // its row on read, so each is copied there
      val byCell = new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new PartitionIndex(cells.length))
        .setSerializer(new UnsafeRowSerializer(output.length))
        .map(_._2.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      byCell.count()
      new CellRows(state, stats, byCell, cells)
    } finally held.unpersist(blocking = false)
  }

  /** The key is the partition. */
  private final class PartitionIndex(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** `dist` and `pred` resolved by one analysis of a projection over
    * `state`, then bound to `state`'s output (a bound expression still
    * holding an attribute is `Unevaluable`: a subquery's outer reference,
    * say). */
  private def bind(state: DataFrame, dist: Column, k: Int, pred: Option[Column]): Option[CellTopK] = {
    val input = state.queryExecution.analyzed.output
    val selected = state.select(Seq(col("vec_id"), col("label"), dist.as("dist")) ++
      pred.map(_.as("pred")): _*)
    selected.queryExecution.analyzed match {
      case Project((id: Attribute) +: (label: Attribute) +: scored, child)
          if k >= 1 && child.output == input && id.dataType == LongType &&
            label.dataType == IntegerType =>
        val bound = scored.map { e =>
          val unaliased = e match { case Alias(c, _) => c; case c => c }
          BindReferences.bindReference(
            unaliased.transformDown { case r: RuntimeReplaceable => r.replacement },
            input, allowFailures = true)
        }
        val rowWise = bound.zip(Seq(DoubleType, BooleanType)).forall { case (e, t) =>
          e.dataType == t && !e.exists(_.isInstanceOf[Unevaluable])
        }
        Option.when(rowWise)(
          CellTopK(bound.head, bound.lift(1), input.indexOf(id), input.indexOf(label), k))
      case _ => None
    }
  }
}

/** One round's task over one cell: the bounded top-k of the cell's rows in
  * [[KnnJoinExec.before]] order, kept by [[KnnJoinExec.insert]]. The filter
  * runs first, interpreted, with SQL's three-valued logic (a null keeps no
  * row); then the distance, by `Expression.eval` (`VecMetricLit`'s
  * interpreted loop is its codegen's, so every distance is the Dataset
  * round's). A row whose distance is null is dropped. A kept row with a
  * null vec_id or label fails the search, as a [[Neighbor]] cannot hold it.
  * Nondeterministic expressions are initialized with the cell's partition
  * index. */
private final case class CellTopK(dist: Expression, pred: Option[Expression],
    id: Int, label: Int, k: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[Neighbor]) {

  def apply(tc: TaskContext, it: Iterator[InternalRow]): Array[Neighbor] = {
    val keep = pred.map { p =>
      val e = Predicate.createInterpreted(p); e.initialize(tc.partitionId()); e
    }
    dist.foreach { case n: Nondeterministic => n.initialize(tc.partitionId()); case _ => }
    val ids = new Array[Long](k)
    val dists = new Array[Double](k)
    val labels = new Array[Int](k)
    var n = 0
    while (it.hasNext) {
      val row = it.next()
      if (keep.forall(_.eval(row))) {
        val d = dist.eval(row)
        if (d != null) {
          if (row.isNullAt(id) || row.isNullAt(label))
            throw new NullPointerException("kNN: a row passing the filter has a null vec_id or label")
          val v = row.getLong(id)
          val s = d.asInstanceOf[Double]
          if (n < k || KnnJoinExec.before(s, v, dists(k - 1), ids(k - 1))) {
            n = KnnJoinExec.insert(ids, dists, 0, n, k, v, s)
            // the slot `insert` filled is the last one holding (v, s): every
            // later entry comes strictly after it
            var p = n - 1
            while (ids(p) != v || java.lang.Double.doubleToRawLongBits(dists(p)) !=
                java.lang.Double.doubleToRawLongBits(s)) p -= 1
            System.arraycopy(labels, p, labels, p + 1, n - 1 - p)
            labels(p) = row.getInt(label)
          }
        }
      }
    }
    Array.tabulate(n)(i => Neighbor(ids(i), labels(i), dists(i)))
  }
}
