package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Data-profiling and integrity-audit operators — the ANALYZE/constraint
  * surface of a warehouse engine. The reference's only data-quality check
  * is its count invariant (store count == tree recount,
  * vectordb/kd_tree_database.py:307-319); a pipeline engine generalizes
  * that to per-column statistics and cross-table referential invariants.
  *
  * Scale shape: `profile` is ONE aggregation pass (multiple exact distinct
  * counts expand the input ~|cols|× map-side — the standard price of exact
  * profiling; swap in HLL sketches via `Sketch` when approximate is
  * acceptable). `audit` is a union of anti-join/group counts, each
  * broadcast- or shuffle-joined by Catalyst as sizes dictate.
  */
object Profile {

  /** Column kinds for [[profile]]: numeric (min/max as DOUBLE), string
    * (min/max lexicographic), timestamp (min/max as epoch seconds — exact
    * for date-resolution values). */
  sealed trait Kind
  case object Num extends Kind
  case object Str extends Kind
  case object Ts extends Kind

  /** Per-column profile: (col_name, n_nulls, n_distinct, min_num, max_num,
    * min_str, max_str) — numeric/timestamp bounds in `*_num` (NULL for
    * strings), lexicographic bounds in `*_str` (NULL otherwise).
    *
    * Shape: TWO flat aggregation jobs, assembled by struct-array explode.
    * The non-distinct statistics (nulls/min/max) collapse map-side to one
    * row with no data shuffle; the distinct counts run as their own flat
    * multi-`count_distinct` (Spark's Expand — |cols|× the input, but
    * narrow typed values and partial-distinct map-side). Mixing the two
    * families in ONE aggregate forces every min/max through the expanded
    * multi-distinct plan — measured 3.5× slower at sf0.1 than this split. */
  def profile(df: DataFrame, cols: Seq[(String, Kind)]): DataFrame = {
    def mnum(c: String, k: Kind, f: Column => Column): Column = k match {
      case Num => f(col(c)).cast(DoubleType)
      case Ts  => unix_timestamp(f(col(c))).cast(DoubleType)
      case Str => lit(null).cast(DoubleType)
    }
    def mstr(c: String, k: Kind, f: Column => Column): Column = k match {
      case Str => f(col(c))
      case _   => lit(null).cast("string")
    }
    val statAggs = cols.flatMap { case (c, k) => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      mnum(c, k, min).as(s"${c}__min_num"), mnum(c, k, max).as(s"${c}__max_num"),
      mstr(c, k, min).as(s"${c}__min_str"), mstr(c, k, max).as(s"${c}__max_str"))
    }
    val dctAggs = cols.map { case (c, _) =>
      count_distinct(col(c)).as(s"${c}__distinct")
    }
    val rows = cols.map { case (c, _) =>
      struct(lit(c).as("col_name"),
        col(s"${c}__nulls").as("n_nulls"), col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min_num").as("min_num"), col(s"${c}__max_num").as("max_num"),
        col(s"${c}__min_str").as("min_str"), col(s"${c}__max_str").as("max_str"))
    }
    df.agg(statAggs.head, statAggs.tail: _*)
      .crossJoin(df.agg(dctAggs.head, dctAggs.tail: _*))
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
  }

  /** APPROXIMATE column profile — the 100 TB ANALYZE default. Identical
    * output shape to [[profile]] with `n_distinct_approx` (HLL++,
    * `relativeSD = rsd`) in place of the exact distinct count, computed in
    * ONE flat aggregation pass with NO Expand: `approx_count_distinct` is
    * an imperative sketch aggregate, so each extra column adds a fixed
    * sketch buffer instead of replicating the input |cols|× the way the
    * exact multi-distinct plan does. At petabyte inputs that is the
    * difference between one scan and a |cols|×-wide shuffle-free Expand
    * over every row.
    *
    * The estimate is ENGINE-SPECIFIC (HLL++ register layout), so a gated
    * query must not compare it raw — wrap it with the self-validating
    * flag device (compute exact alongside at gate scale, emit a
    * within-3·rsd flag; `profile_approx` in AggQueries, the
    * `agg_sketches` precedent) so a sketch drifting out of its error
    * contract FAILS the gate while the output stays engine-portable.
    *
    * Like [[profile]], the stats and the sketches aggregate in SEPARATE
    * jobs: HLL++ is an imperative aggregate, and ONE aggregate mixing it
    * with the declarative min/max family drops the WHOLE operator out of
    * codegen (measured: the fused form ran 14.3 s vs 15.0 s exact at
    * 6M×11 cols — no win at all; split, the stats pass stays codegen'd
    * and only the fixed-width sketch updates run imperative). */
  def profileApprox(df: DataFrame, cols: Seq[(String, Kind)],
      rsd: Double = 0.05): DataFrame = {
    def mnum(c: String, k: Kind, f: Column => Column): Column = k match {
      case Num => f(col(c)).cast(DoubleType)
      case Ts  => unix_timestamp(f(col(c))).cast(DoubleType)
      case Str => lit(null).cast(DoubleType)
    }
    def mstr(c: String, k: Kind, f: Column => Column): Column = k match {
      case Str => f(col(c))
      case _   => lit(null).cast("string")
    }
    val statAggs = cols.flatMap { case (c, k) => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      mnum(c, k, min).as(s"${c}__min_num"), mnum(c, k, max).as(s"${c}__max_num"),
      mstr(c, k, min).as(s"${c}__min_str"), mstr(c, k, max).as(s"${c}__max_str"))
    }
    val hllAggs = cols.map { case (c, _) =>
      approx_count_distinct(col(c), rsd).as(s"${c}__adct")
    }
    val rows = cols.map { case (c, _) =>
      struct(lit(c).as("col_name"),
        col(s"${c}__nulls").as("n_nulls"), col(s"${c}__adct").as("n_distinct_approx"),
        col(s"${c}__min_num").as("min_num"), col(s"${c}__max_num").as("max_num"),
        col(s"${c}__min_str").as("min_str"), col(s"${c}__max_str").as("max_str"))
    }
    df.agg(statAggs.head, statAggs.tail: _*)
      .crossJoin(df.agg(hllAggs.head, hllAggs.tail: _*))
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Foreign-key orphans: child rows whose `childKey` has no match in
    * `parent.parentKey` (anti join — broadcast when the parent is a dim).
    * NULL child keys count as orphans (anti-join semantics, the audit-
    * friendly reading: a null FK violates the constraint) — mirror with
    * SQL NOT EXISTS, never NOT IN, whose null handling drops them. */
  def orphans(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String): DataFrame = {
    // alias the parent key so same-named child/parent keys never collide
    val p = parent.select(col(parentKey).as("__parent_key"))
    child.join(p, col(childKey) === col("__parent_key"), "left_anti")
  }

  /** Primary-key violations: key values appearing more than once. */
  def dupKeys(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Named constraint checks → one (check_name, n_bad) row each. Violation
    * sets are DataFrames so callers compose orphans/dupKeys/arbitrary
    * predicates; counts run as independent jobs unioned at the end. */
  def audit(checks: Seq[(String, DataFrame)]): DataFrame =
    checks.map { case (name, bad) =>
      bad.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
    }.reduce(_ unionByName _)
}
