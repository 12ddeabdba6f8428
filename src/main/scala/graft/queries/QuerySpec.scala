package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once: `build(spark, sfDir)` constructs
  * its Spark plan, and `oracleSql` is the DuckDB SQL whose result that
  * plan's output must hash-match. The SQL is taken by name, so it is built
  * only when the oracle is read, never when the plan builders are. */
final class QuerySpec(val name: String,
    val build: (SparkSession, String) => DataFrame, sql: => String) {
  def oracleSql: String = sql
}

object QuerySpec {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: => String): QuerySpec = new QuerySpec(name, build, oracleSql)

  /** `specs` unchanged, after requiring that no two share a name: turning
    * the list into a name-keyed Map would silently keep only the last. */
  def distinct(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
