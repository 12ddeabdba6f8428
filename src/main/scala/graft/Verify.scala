package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-6 post-mortem: the driver artifact `CORRECTNESS_r06.json` came back
  * `{}` even though this main exited 0 and an independent rerun of the same
  * gate passed 260/260 — i.e. the failure was downstream of us and silent.
  * This main is now self-diagnosing so an empty round can be attributed:
  *   - refuses (exit 2) to run with an empty `SparkEntry.queries` map
  *     (both maps come from one `QuerySpec` list, so every oracle key has
  *     its query by construction);
  *   - parses oracle_sql.json BACK with Jackson (the strictest JSON reader
  *     on the classpath) and exits 3 if the parse-back fails or the key
  *     count drifts — a malformed file would otherwise zero the round;
  *   - writes `_VERIFY_MANIFEST.json` (query/written/failed counts + names)
  *     next to the results and prints one final `[verify] SUMMARY` line, so
  *     an empty driver artifact can be cross-checked against what this JVM
  *     actually produced;
  *   - exits 4 if ZERO result directories were written (total failure must
  *     be loud, not an rc-0 no-op).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val oracle = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    if (queries.isEmpty) {
      System.err.println("[verify] FATAL: SparkEntry.queries is empty")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.prepareFixtures(spark, sfDir)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query teardown (same as Bench): mid-plan persists with no
      // unpersist hook would otherwise accumulate MEMORY_AND_DISK blocks
      // across the 270+ query sweep until the ContextCleaner catches up
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      } catch { case e: Throwable => System.err.println(s"[verify] teardown after $name failed: $e") }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Parse-back guard: the written file must round-trip through a strict
    // JSON parser with exactly the expected number of keys.
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(new java.io.File(s"$outDir/oracle_sql.json"))
      require(node.isObject, "oracle_sql.json root is not an object")
      require(node.size == oracle.size,
        s"oracle_sql.json has ${node.size} keys, expected ${oracle.size}")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] FATAL: oracle_sql.json parse-back failed: ${e.getMessage}")
      spark.stop()
      sys.exit(3)
    }
    val written = queries.keySet.filter(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    val manifest =
      s"""{"queries": ${queries.size}, "written": ${written.size}, "oracle_keys": ${oracle.size},
         | "failed": [${failed.sorted.map(q).mkString(",")}]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/_VERIFY_MANIFEST.json"), manifest)
    println(s"[verify] SUMMARY: wrote ${written.size}/${queries.size} results, " +
      s"${failed.size} failures, ${oracle.size} oracle keys -> $outDir")
    spark.stop()
    if (written.isEmpty) {
      System.err.println("[verify] FATAL: zero result directories written")
      sys.exit(4)
    }
  }
}
