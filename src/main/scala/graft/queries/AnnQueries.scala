package graft.queries

import graft.core.Fixtures
import graft.functions.Distances
import graft.operators.{Ann, Dedup, GraphAnn, KnnTopK}
import graft.oracle.DuckSql
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbour queries: IVF, PQ, LSH and graph (NSW)
  * indexes: each query's Spark plan is declared beside its DuckDB oracle SQL. */
object AnnQueries {
  import Fixtures.{Dim, Planes16, Q64}
  import Shared._

  /** Graph-ANN (NSW) hyperparameters shared by the Spark queries and their
    * oracle replays: out-degree, beam width, expansion hops, entry-set
    * size (the `nEntry` lowest vec_ids — fixed and replayable). */
  private val GraphM = 12
  private val GraphBeam = 16
  private val GraphHops = 4
  private val GraphEntries = 8

  /** Memoized exact k-NN graph per fixture dir (r16): the NSW index is
    * built ONCE and searched many times — the deployment contract — and
    * three gated queries (edges, topk, recall) share the identical build.
    * The typed-aggregator build plan contains per-construction lambda
    * instances, so the CacheManager's canonicalized-plan matching can
    * never share it across separately constructed DataFrames (the
    * window-form plan did — which is what made cross-rep bench caching
    * look free before r16); memoizing the DataFrame object is the
    * explicit version. `storageLevel` re-check re-arms the persist after
    * a bench-teardown clearCache. */
  private val graphCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()
  private def knnGraphCached(s: SparkSession, d: String): DataFrame = {
    // unlike countCache/qgridCache (plain values), the cached object is
    // SESSION-BOUND — rebuild when the caller's session differs from the
    // builder's or the builder's context has stopped, else a later
    // session would get a DataFrame wired to a dead SparkContext
    val (_, g) = graphCache.compute(s"graph:$d", (_, old) =>
      if (old != null && (old._1 eq s) && !s.sparkContext.isStopped) old
      else (s, GraphAnn.knnGraph(emb(s, d), m = GraphM, Dim)))
    if (g.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    g
  }

  /** Fixed literal codebook for the incremental-IVF demo: the LSH planes
    * scaled into the fixture's data range (‖0.05·plane‖ ≈ 0.4 vs raw ≈ 8,
    * which would collapse every row into one or two cells). */
  private val IncrCentroids: Array[Array[Double]] =
    Planes16.take(8).map(_.map(_ * 0.05))

  /** Fixed literal SEEDS for the trained (seeded-exact Lloyd) IVF family —
    * 16 scaled planes; training moves them to data means, so the scale
    * only shapes the first assignment. */
  private val IvfSeeds: Array[Array[Double]] =
    Planes16.map(_.map(_ * 0.1))

  /** Fixed literal TWO-LEVEL codebook (4 coarse × 4 fine) for the
    * hierarchical-assignment demo: coarse cells from the first four scaled
    * planes, fine sub-centroids = coarse + a small offset from the next
    * four — all compile-time literals, so the DuckDB oracle replays the
    * coarse-then-fine argmin exactly. */
  private val TwoLevelCoarse: Array[Array[Double]] =
    Planes16.take(4).map(_.map(_ * 0.05))
  private val TwoLevelFine: Array[Array[Array[Double]]] =
    TwoLevelCoarse.map(c => Planes16.slice(4, 8).map(p =>
      c.zip(p).map { case (a, b) => a + b * 0.02 }))

  /** The two-level cell a query vector probes (probes = 1): nearest coarse
    * cell (ties → lower index), then argmin of its fine codebook — the
    * driver-side twin of [[graft.functions.VecArgMinL2TwoLevel]], used to
    * bake the SAME constant into the Spark filter and the oracle SQL. */
  private def twoLevelCellOf(q: Array[Double], coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]]): Int = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val ci = coarse.indices.minBy(c => (d2(q, coarse(c)), c))
    val off = fine.take(ci).map(_.length).sum
    off + fine(ci).indices.minBy(j => (d2(q, fine(ci)(j)), j))
  }

  /** Shared DuckDB fragments for the fixed-codebook PQ oracles: the
    * per-subspace encode argmins (`c0..c7` columns over `embeddings.
    * embedding`) and the literal-lookup-table ADC sum over them. Mirrors
    * VecArgMinL2 (strict `<` keeps the FIRST minimal index ↔
    * list_position of list_min) and Pq.adcDist (left-assoc m-term sum). */
  private lazy val pqCodeColsSql: String = {
    val model = FixedPqModel
    def subDistSql(off: Int, cent: Array[Double]): String =
      cent.indices.map { i =>
        val dd = s"(embedding[${off + i + 1}]::DOUBLE - (${DuckSql.fmt(cent(i))}))"
        s"($dd * $dd)"
      }.mkString("(", " + ", ")")
    (0 until model.m).map { j =>
      val ds = (0 until model.ksub)
        .map(c => subDistSql(j * model.dsub, model.codebooks(j)(c)))
        .mkString("[", ",\n      ", "]")
      s"list_position($ds, list_min($ds)) AS c$j"
    }.mkString(",\n    ")
  }
  private lazy val pqAdcSql: String = {
    val lut = graft.operators.Pq.adcTable(Q64, FixedPqModel)
    (0 until FixedPqModel.m).map { j =>
      val row = lut(j).map(DuckSql.fmt).mkString("[", ", ", "]")
      s"($row)[c$j]"
    }.mkString(" + ")
  }

  /** DuckDB replay of [[Ann.lloydSeededExact]] + a final assignment:
    * emits CTEs `c0..c{iters}` (cell, c DOUBLE[], 0-based cells) and `af`
    * (vec_id, embedding, label, cell). Centroid updates are the same
    * floor((v+2)·2^24) integer means (one BIGINT `//`), so every trained
    * coordinate is bit-identical across engines; assignment ranks the
    * same left-associated 64-term double distance with the same
    * (dist, cell) tie-break as VecArgMinL2. */
  private def ivfTrainedCtes(seeds: Array[Array[Double]], iters: Int,
      rel: String = "embeddings"): String = {
    def distToC(eCol: String): String =
      (0 until Dim).map { i =>
        val dfr = s"($eCol[${i + 1}]::DOUBLE - c.c[${i + 1}])"
        s"($dfr * $dfr)"
      }.mkString("(", " + ", ")")
    val seedRows = seeds.zipWithIndex.map { case (cArr, j) =>
      s"($j, [${cArr.map(DuckSql.fmt).mkString(", ")}])"
    }.mkString(",\n    ")
    val meanExprs = (0 until Dim).map { i =>
      s"CAST(CAST(SUM(CAST(FLOOR((CAST(embedding[${i + 1}] AS DOUBLE) + 2) * 16777216) AS BIGINT)) AS BIGINT) // COUNT(*) AS DOUBLE) / 16777216.0 - 2.0"
    }.mkString("[", ",\n      ", "]")
    // Slim assignment: hash-agg to (vec_id, cell) via lexicographic
    // struct-MIN — same (dc, cell) tie-break as the windowed form, but
    // the 64-double embedding array never enters a window (peak
    // allocation was starving the long-lived sweep connection).
    // Every CTE is MATERIALIZED: c_{it-1} is referenced twice (by a_it
    // and c_it) and `af` up to 4× by the recall-band oracles; plain CTEs
    // are inlined per reference, so the un-hinted chain re-ran the whole
    // Lloyd replay 2^iters × bands times (the r16 ann_* OOM/slow family).
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, (MIN({'dc': dc, 'cell': cell})).cell AS cell FROM (
         |    SELECT e.vec_id, c.cell, ${distToC("e.embedding")} AS dc
         |    FROM $rel e CROSS JOIN $cents c)
         |  GROUP BY vec_id)""".stripMargin
    val its = (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      s"""${assignCte(s"a$it", prev)},
         |m$it AS MATERIALIZED (
         |  SELECT a.cell, $meanExprs AS c
         |  FROM a$it a JOIN $rel USING (vec_id) GROUP BY a.cell),
         |c$it AS MATERIALIZED (
         |  SELECT p.cell, COALESCE(m.c, p.c) AS c
         |  FROM $prev p LEFT JOIN m$it m USING (cell))""".stripMargin
    }.mkString(",\n")
    s"""c0 AS MATERIALIZED (
       |  SELECT cell, c FROM (VALUES
       |    $seedRows) AS t(cell, c)),
       |$its,
       |${assignCte("af", s"c$iters")}""".stripMargin
  }

  /** Standalone argmin-assignment CTE of `rel` against centroid CTE
    * `cents` — the assignCte shape of [[ivfTrainedCtes]] exposed for
    * oracles that assign a SECOND relation (the admission batch) to an
    * already-trained codebook. */
  private def ivfAssignCte(name: String, rel: String, cents: String): String = {
    val distToC = (0 until Dim).map { i =>
      val dfr = s"(e.embedding[${i + 1}]::DOUBLE - c.c[${i + 1}])"
      s"($dfr * $dfr)"
    }.mkString("(", " + ", ")")
    s"""$name AS MATERIALIZED (
       |  SELECT vec_id, (MIN({'dc': dc, 'cell': cell})).cell AS cell FROM (
       |    SELECT e.vec_id, c.cell, $distToC AS dc
       |    FROM $rel e CROSS JOIN $cents c)
       |  GROUP BY vec_id)""".stripMargin
  }

  /** Probe-cell pick for a LITERAL query vector over a trained-centroid
    * CTE: same (dist, cell) ranking as the driver-side sort in
    * [[Ann.search]]. */
  private def ivfProbeSql(cents: String, q: Array[Double], nprobe: Int): String = {
    val dq = (0 until Dim).map { i =>
      val dfr = s"((${DuckSql.fmt(q(i))}) - c.c[${i + 1}])"
      s"($dfr * $dfr)"
    }.mkString("(", " + ", ")")
    s"""(SELECT cell FROM (SELECT c.cell, $dq AS dq FROM $cents c)
       |  ORDER BY dq ASC, cell ASC LIMIT $nprobe)""".stripMargin
  }

  /** Column-vs-centroid-array squared L2 (q table alias carrying
    * `q_embedding` vs centroid CTE alias `c`). */
  private def ivfDistQC: String =
    (0 until Dim).map { i =>
      val dfr = s"(q.q_embedding[${i + 1}]::DOUBLE - c.c[${i + 1}])"
      s"($dfr * $dfr)"
    }.mkString("(", " + ", ")")

  /** DuckDB replay of [[GraphAnn.knnGraph]]: the exact top-m edge list.
    * MATERIALIZED — the beam-search oracles reference it once per hop, and
    * DuckDB inlines plain CTEs per reference (the exponential-CTE trap);
    * dist is computed once in the inner select so the window doesn't
    * re-evaluate the 64-term expression. */
  private def graphEdgesCte(m: Int): String = {
    val d2 = DuckSql.squaredL2Cols("a.embedding", "b.embedding", Dim)
    s"""edges AS MATERIALIZED (
       |  SELECT src, dst, dist, rn FROM (
       |    SELECT src, dst, dist,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rn
       |    FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $d2 AS dist
       |          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id))
       |  WHERE rn <= $m)""".stripMargin
  }

  /** SYMMETRIZED search edges over [[graphEdgesCte]]'s `edges` — mirrors
    * [[GraphAnn.symmetrize]] (UNION ALL of out- and reversed in-edges;
    * duplicates collapse in the hops' DISTINCT). */
  private val graphSymCte: String =
    """sym AS MATERIALIZED (
      |  SELECT src, dst FROM edges
      |  UNION ALL
      |  SELECT dst AS src, src AS dst FROM edges)""".stripMargin

  /** DuckDB replay of [[GraphAnn.searchLit]] over [[graphEdgesCte]]: entry
    * beam = the `nEntry` lowest vec_ids, then `hops` unrolled
    * expand-score-shrink CTE pairs (every beam MATERIALIZED — each is
    * referenced twice by the next hop). Emits a complete SELECT. */
  private def graphBeamLitSql(q: Array[Double], k: Int, beam: Int,
      hops: Int, nEntry: Int): String = {
    val dq = DuckSql.squaredL2Lit("embedding", q)
    val hopsSql = (1 to hops).map { h =>
      s"""cand$h AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS vec_id
         |  FROM beam${h - 1} b JOIN sym e ON b.vec_id = e.src),
         |beam$h AS MATERIALIZED (
         |  SELECT vec_id, MIN(dist) AS dist FROM (
         |    SELECT vec_id, dist FROM beam${h - 1}
         |    UNION ALL
         |    SELECT c.vec_id, $dq AS dist
         |    FROM cand$h c JOIN embeddings e2 ON e2.vec_id = c.vec_id)
         |  GROUP BY vec_id ORDER BY dist ASC, vec_id ASC LIMIT $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graphEdgesCte(GraphM)},
       |$graphSymCte,
       |beam0 AS MATERIALIZED (
       |  SELECT vec_id, $dq AS dist FROM embeddings ORDER BY vec_id ASC LIMIT $nEntry),
       |$hopsSql
       |SELECT vec_id, dist FROM beam$hops ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin
  }

  /** Batch form of [[graphBeamLitSql]] for [[GraphAnn.searchJoin]]: expects
    * a CTE `qs(qid, q_embedding)` already defined by the caller; emits the
    * entry + per-qid beam chain CTEs `beam0..beam<hops>`. */
  private def graphBeamJoinCtes(beam: Int, hops: Int, nEntry: Int): String = {
    val dqe = DuckSql.squaredL2Cols("q.q_embedding", "e2.embedding", Dim)
    val hopsSql = (1 to hops).map { h =>
      s"""cand$h AS MATERIALIZED (
         |  SELECT DISTINCT b.qid, e.dst AS vec_id
         |  FROM beam${h - 1} b JOIN sym e ON b.vec_id = e.src),
         |beam$h AS MATERIALIZED (
         |  SELECT qid, vec_id, dist FROM (
         |    SELECT qid, vec_id, dist,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
         |    FROM (
         |      SELECT qid, vec_id, MIN(dist) AS dist FROM (
         |        SELECT qid, vec_id, dist FROM beam${h - 1}
         |        UNION ALL
         |        SELECT c.qid, c.vec_id, $dqe AS dist
         |        FROM cand$h c JOIN qs q ON q.qid = c.qid
         |        JOIN embeddings e2 ON e2.vec_id = c.vec_id)
         |      GROUP BY qid, vec_id))
         |  WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""$graphSymCte,
       |entrys AS (
       |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT $nEntry),
       |beam0 AS MATERIALIZED (
       |  SELECT q.qid, e2.vec_id, $dqe AS dist FROM qs q CROSS JOIN entrys e2),
       |$hopsSql""".stripMargin
  }

  /** DuckDB replay of [[Pq.trainSeededExact]] + encode + ADC + refine +
    * exact re-rank for a literal query — the trained-PQ oracle. Emits a
    * complete SELECT. Training CTEs mirror ivfTrainedCtes in long form
    * over (subspace j, code): same integer-exact means, same
    * (dist, code) tie-break as the per-subspace VecArgMinL2; the ADC sum
    * pivots the m per-subspace contributions into one left-associated
    * 16-term sum, matching adcDist's `reduce(_ + _)`. */
  private def pqTrainedSql(seeds: Array[Array[Array[Double]]], iters: Int,
      q: Array[Double], k: Int, refine: Int): String = {
    val m = seeds.length; val ksub = seeds(0).length; val dsub = Dim / m
    val svDist = (1 to dsub).map { i =>
      val dfr = s"(s.sv[$i]::DOUBLE - c.c[$i])"
      s"($dfr * $dfr)"
    }.mkString("(", " + ", ")")
    val seedRows = (for (j <- 0 until m; cc <- 0 until ksub) yield
      s"($j, $cc, [${seeds(j)(cc).map(DuckSql.fmt).mkString(", ")}])")
      .mkString(",\n    ")
    val meanExprs = (1 to dsub).map { i =>
      s"CAST(CAST(SUM(CAST(FLOOR((CAST(sv[$i] AS DOUBLE) + 2) * 16777216) AS BIGINT)) AS BIGINT) // COUNT(*) AS DOUBLE) / 16777216.0 - 2.0"
    }.mkString("[", ",\n      ", "]")
    // Slim assignment (see ivfTrainedCtes): hash-agg to (vec_id, j, code)
    // via lexicographic struct-MIN — identical (dc, code) tie-break, no
    // subvector lists carried through windows. MATERIALIZED chain for the
    // same per-reference-inlining reason as ivfTrainedCtes (ps_{it-1} and
    // sub are each referenced twice per iteration).
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, j, (MIN({'dc': dc, 'code': code})).code AS code FROM (
         |    SELECT s.vec_id, s.j, c.code, $svDist AS dc
         |    FROM sub s JOIN $cents c ON s.j = c.j)
         |  GROUP BY vec_id, j)""".stripMargin
    val its = (1 to iters).map { it =>
      val prev = s"ps${it - 1}"
      s"""${assignCte(s"pa$it", prev)},
         |pm$it AS MATERIALIZED (
         |  SELECT a.j, a.code, $meanExprs AS c
         |  FROM pa$it a JOIN sub s ON a.vec_id = s.vec_id AND a.j = s.j
         |  GROUP BY a.j, a.code),
         |ps$it AS MATERIALIZED (
         |  SELECT p.j, p.code, COALESCE(mm.c, p.c) AS c
         |  FROM $prev p LEFT JOIN pm$it mm ON p.j = mm.j AND p.code = mm.code)""".stripMargin
    }.mkString(",\n")
    // per-(j, code) ADC lut: CASE over j picks the query subvector literals
    val lutContrib = (0 until m).map { j =>
      val terms = (1 to dsub).map { i =>
        val dfr = s"((${DuckSql.fmt(q(j * dsub + i - 1))}) - c[$i])"
        s"($dfr * $dfr)"
      }.mkString("(", " + ", ")")
      s"WHEN j = $j THEN $terms"
    }.mkString("CASE ", "\n      ", " END")
    val pivotCols = (0 until m).map(j =>
      s"MAX(CASE WHEN j = $j THEN contrib END) AS t$j").mkString(",\n      ")
    val adcSum = (0 until m).map(j => s"t$j").mkString("(", " + ", ")")
    s"""WITH ps0 AS MATERIALIZED (
       |  SELECT j, code, c FROM (VALUES
       |    $seedRows) AS t(j, code, c)),
       |sub AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.j AS INT) AS j,
       |    list_slice(embedding, t.j * $dsub + 1, t.j * $dsub + $dsub) AS sv
       |  FROM embeddings, range($m) t(j)),
       |$its,
       |${assignCte("pf", s"ps$iters")},
       |lut AS (SELECT j, code, $lutContrib AS contrib FROM ps$iters),
       |adc AS (
       |  SELECT vec_id, $adcSum AS adc_dist FROM (
       |    SELECT vec_id,
       |      $pivotCols
       |    FROM (SELECT pf.vec_id, pf.j, l.contrib
       |          FROM pf JOIN lut l ON pf.j = l.j AND pf.code = l.code)
       |    GROUP BY vec_id)),
       |cand AS (SELECT vec_id FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT $refine)
       |SELECT vec_id, dist FROM (
       |  SELECT e.vec_id, ${DuckSql.squaredL2Lit("e.embedding", q)} AS dist
       |  FROM cand JOIN embeddings e USING (vec_id))
       |ORDER BY dist ASC, vec_id ASC LIMIT $k""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // --- ANN scale path (north star): IVF probe + vector-LSH near-dup
    // TRAINED ivf, hash-checked end to end: 16 fixed literal seeds, two
    // Lloyd iterations with INTEGER-EXACT centroid updates
    // (Ann.lloydSeededExact — means on floor((v+2)·2^24) BIGINTs, so
    // every trained coordinate is an exact multiple of 2^-24), then the
    // standard assign → probe → pruned-scan search. The oracle replays
    // the whole training loop as unrolled CTEs (ivfTrainedCtes) —
    // closing r5's "trained paths are rows-only" gap
    QuerySpec("ann_ivf_topk", ((s, d) => {
      val db = emb(s, d)
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      Ann.search(Ann.assign(db, cents), cents, Q64, K, nprobe = 4)
    }),
      // --- trained IVF family: the oracle replays the seeded-exact Lloyd
      // training (ivfTrainedCtes) then the query-specific tail
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |probe AS ${ivfProbeSql("c2", Q64, 4)}
           |SELECT vec_id, dist FROM (
           |  SELECT vec_id, ${DuckSql.squaredL2Lit("embedding", Q64)} AS dist, cell
           |  FROM af JOIN embeddings USING (vec_id))
           |WHERE cell IN (SELECT cell FROM probe)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // IVF with a FIXED literal codebook: same assignment/probe/scan
    // algorithm as ann_ivf_topk but with compile-time centroids, which
    // makes the WHOLE approximate path hash-checkable — DuckDB replays
    // cell assignment (argmin over the literal codebook), the probe-cell
    // choice (precomputed from the same constants), and the pruned scan
    QuerySpec("ann_ivf_fixed_topk", ((s, d) => {
      val cents = Planes16.take(8)
      Ann.search(Ann.assign(emb(s, d), cents), cents, Q64, K, nprobe = 3)
    }),
      {
        val cents = Planes16.take(8)
        // same driver-side probe ranking as Ann.search, over the same
        // constants — the probe set is a compile-time literal in the SQL
        val probe = cents.zipWithIndex
          .map { case (c, j) => (graft.functions.Distances.squaredL2(Q64, c), j) }
          .sortBy(identity).take(3).map(_._2 + 1) // 1-based for list_position
        val dists = cents.map(c => DuckSql.squaredL2Lit(e, c)).mkString(",\n    ")
        s"""SELECT vec_id, dist FROM (
           |  SELECT vec_id, ${DuckSql.squaredL2Lit(e, Q64)} AS dist,
           |    list_position(l, list_min(l)) AS cellp
           |  FROM (SELECT vec_id, $e, [$dists] AS l FROM embeddings))
           |WHERE cellp IN (${probe.mkString(", ")})
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin
      }),
    // TWO-LEVEL (coarse→fine) IVF with FIXED literal codebooks — the
    // large-codebook assignment path (VecArgMinL2TwoLevel: probe the
    // nearest coarse cell, argmin only its fine codebook) under the hash
    // gate: DuckDB replays the hierarchical argmin as a CASE over the
    // coarse winner; the query's own probed cell is a compile-time
    // constant computed by the same driver helper on both sides
    QuerySpec("ann_two_level_topk", ((s, d) => {
      val assigned = Ann.assignTwoLevel(emb(s, d), TwoLevelCoarse, TwoLevelFine, probes = 1)
      val qCell = twoLevelCellOf(Q64, TwoLevelCoarse, TwoLevelFine)
      assigned.filter(col("ivf_cell") === qCell)
        .select(col("vec_id"),
          Distances.squaredL2Lit(col("embedding"), Q64).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(K)
    }),
      // two-level fixed-codebook replay: coarse argmin via
      // list_position(list_min), then a CASE over the coarse winner picks
      // the fine argmin with its global-offset; the query's probed cell is
      // the same driver-computed constant the Spark filter carries
      {
        val qcell = twoLevelCellOf(Q64, TwoLevelCoarse, TwoLevelFine)
        val lc = TwoLevelCoarse.map(c => DuckSql.squaredL2Lit(e, c)).mkString(",\n    ")
        val offsets = TwoLevelFine.scanLeft(0)(_ + _.length).init
        val fineCases = TwoLevelFine.zipWithIndex.map { case (fc, c) =>
          val lf = fc.map(f => DuckSql.squaredL2Lit(e, f)).mkString(",\n      ")
          s"WHEN ${c + 1} THEN ${offsets(c)} + list_position([$lf], list_min([$lf])) - 1"
        }.mkString("\n    ")
        s"""SELECT vec_id, dist FROM (
           |  SELECT vec_id, ${DuckSql.squaredL2Lit(e, Q64)} AS dist,
           |    CASE list_position(lc, list_min(lc))
           |    $fineCases
           |    END AS cell
           |  FROM (SELECT vec_id, $e, [$lc] AS lc FROM embeddings))
           |WHERE cell = $qcell
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin
      }),
    // PQ ADC scan with a FIXED literal codebook (8 subspaces × 8 entries
    // from the Planes16 constants): encode argmin + lookup-table distance
    // + top-k, ALL hash-checked — DuckDB replays the per-subspace argmin
    // and the same literal lookup tables. The kmeans-trained PQ variant
    // (ann_pq_topk) stays rows-only
    QuerySpec("ann_pq_fixed_adc", ((s, d) => {
      val model = FixedPqModel
      val lut = graft.operators.Pq.adcTable(Q64, model)
      graft.operators.Pq.encode(emb(s, d), model)
        .select(col("vec_id"),
          graft.operators.Pq.adcDist(col("pq_codes"), lut).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(K)
    }),
      // oracle for the prefix-filter join IS the brute form — exactness of
      // the candidate pruning is the claim under test
        s"""SELECT vec_id, $pqAdcSql AS adc_dist FROM (
           |  SELECT vec_id,
           |    $pqCodeColsSql
           |  FROM embeddings)
           |ORDER BY adc_dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // the full PQ search (ADC prefilter to `refine` candidates, exact
    // re-rank to k) under the same fixed codebook — both stages replayed
    // by the oracle
    QuerySpec("ann_pq_fixed_refine", ((s, d) =>
      graft.operators.Pq.search(
        graft.operators.Pq.encode(emb(s, d), FixedPqModel),
        FixedPqModel, Q64, K, refine = 50)),
        s"""SELECT vec_id, ${DuckSql.squaredL2Lit(e, Q64)} AS dist
           |FROM embeddings WHERE vec_id IN (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, $pqAdcSql AS adc_dist FROM (
           |      SELECT vec_id, $e,
           |        $pqCodeColsSql
           |      FROM embeddings))
           |  ORDER BY adc_dist ASC, vec_id ASC LIMIT 50)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // the composed IVFPQ stack under fixed codebooks: IVF cell pruning
    // picks WHICH rows, ADC codes decide HOW CHEAPLY, exact re-rank
    // finishes — every stage oracle-replayed
    QuerySpec("ann_ivfpq_fixed", ((s, d) => {
      val ivfCents = Planes16.take(8)
      graft.operators.Pq.ivfPqSearch(
        graft.operators.Pq.encode(Ann.assign(emb(s, d), ivfCents), FixedPqModel),
        ivfCents, FixedPqModel, Q64, K, nprobe = 5, refine = 50)
    }),
      {
        // probe ranking mirrors Pq.ivfPqSearch: (dist, idx) over the same
        // constants, nprobe=5 of the 8 IVF planes; 1-based for list_position
        val ivfCents = Planes16.take(8)
        val probe = ivfCents.zipWithIndex
          .map { case (c, j) => (graft.functions.Distances.squaredL2(Q64, c), j) }
          .sortBy(identity).take(5).map(_._2 + 1)
        val ivfDists = ivfCents.map(c => DuckSql.squaredL2Lit(e, c))
          .mkString("[", ",\n    ", "]")
        s"""SELECT vec_id, ${DuckSql.squaredL2Lit(e, Q64)} AS dist
           |FROM embeddings WHERE vec_id IN (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, $pqAdcSql AS adc_dist FROM (
           |      SELECT vec_id, $e,
           |        list_position($ivfDists, list_min($ivfDists)) AS cellp,
           |        $pqCodeColsSql
           |      FROM embeddings)
           |    WHERE cellp IN (${probe.mkString(", ")}))
           |  ORDER BY adc_dist ASC, vec_id ASC LIMIT 50)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin
      }),
    // FILTERED approximate search: the reference's filter-before-k
    // contract (metadata predicate gates candidacy, k survivors — SURVEY
    // §2.1 #2) carried onto the IVF path; the predicate prunes the
    // assigned table before cell probing, so selective filters shrink the
    // scan instead of post-filtering the top-k
    QuerySpec("ann_ivf_filtered", ((s, d) => {
      val db = emb(s, d)
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      Ann.search(Ann.assign(db, cents).filter(col("label") === 3),
        cents, Q64, K, nprobe = 4)
    }),
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |probe AS ${ivfProbeSql("c2", Q64, 4)}
           |SELECT vec_id, dist FROM (
           |  SELECT vec_id, label, ${DuckSql.squaredL2Lit("embedding", Q64)} AS dist, cell
           |  FROM af JOIN embeddings USING (vec_id))
           |WHERE label = 3 AND cell IN (SELECT cell FROM probe)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin),
    // recall@k of the IVF index against exact brute force, per query of a
    // held-out sample — the accuracy/productivity dial every ANN deploy
    // monitors. Both arms share one scan lineage; the overlap join is on
    // ≤ |q|·k rows. Hash-checked since the seeded-exact Lloyd training
    // is oracle-replayable (the recall VALUES are data, not luck)
    QuerySpec("ann_ivf_recall", ((s, d) => {
      val db = emb(s, d)
      // count-derived held-out page (~20 queries at ANY SF) — keeps the
      // |queries|×|corpus| exact ground-truth arm linear in the corpus
      val mq = math.max(1L, (embCount(s, d) + 19) / 20)
      val q = db.filter(col("vec_id") % mq === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      val approx = Ann.ivfJoin(q, Ann.assign(db, cents), cents, k = K, nprobe = 4)
        .select(col("query_id"), col("vec_id"))
      val exact = KnnJoinPlan.join(q, db, K)
        .select(col("query_id").as("eq"), col("vec_id").as("ev"))
      val hits = approx.join(exact,
          col("query_id") === col("eq") && col("vec_id") === col("ev"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("query_id"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) / lit(K.toDouble)).as("recall_at_k"))
        .orderBy(col("query_id"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q.q_embedding", "a.embedding", Dim)
        val ed = DuckSql.squaredL2Cols("q.q_embedding", "d.embedding", Dim)
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |qs AS (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings WHERE vec_id % ${modSql(20)} = 0),
           |qprobe AS (
           |  SELECT qid, cell FROM (
           |    SELECT qid, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dqc ASC, cell ASC) AS rnp
           |    FROM (SELECT q.qid, c.cell, $ivfDistQC AS dqc FROM qs q CROSS JOIN c2 c))
           |  WHERE rnp <= 4),
           |approx AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dd ASC, vec_id ASC) AS rn
           |    FROM (SELECT qp.qid AS query_id, a.vec_id, $pd AS dd
           |          FROM qprobe qp JOIN qs q USING (qid) JOIN af f USING (cell)
           |          JOIN embeddings a ON a.vec_id = f.vec_id))
           |  WHERE rn <= $K),
           |exact AS (
           |  SELECT eq, ev FROM (
           |    SELECT eq, ev,
           |      ROW_NUMBER() OVER (PARTITION BY eq ORDER BY dd ASC, ev ASC) AS rn
           |    FROM (SELECT q.qid AS eq, d.vec_id AS ev, $ed AS dd
           |          FROM qs q CROSS JOIN embeddings d))
           |  WHERE rn <= $K),
           |hits AS (
           |  SELECT query_id, COUNT(*) AS n_hits FROM approx
           |  JOIN exact ON query_id = eq AND vec_id = ev GROUP BY query_id)
           |SELECT q.qid AS query_id,
           |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST($K AS DOUBLE) AS recall_at_k
           |FROM qs q LEFT JOIN hits h ON q.qid = h.query_id
           |ORDER BY query_id""".stripMargin
      }),
    // FILTERED-ANN recall eval (r16): recall@k per selectivity band —
    // the classic filtered-ANN failure mode is a selective predicate
    // emptying the probed cells (the survivors live in unprobed cells),
    // and nothing measured that degradation. Four label-predicate bands
    // (~10/30/50/100% selectivity), each band = filtered IVF arm vs
    // filtered exact ground truth over the SAME held-out query page; one
    // summary row per band (hits are integers; the one division is by a
    // driver-constant double — hash-portable)
    QuerySpec("ann_ivf_filtered_recall", ((s, d) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val db = emb(s, d)
      val mq = math.max(1L, (embCount(s, d) + 19) / 20)
      val q = db.filter(col("vec_id") % mq === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      val assigned = Ann.assign(db, cents)
      val bands: Seq[(String, Column)] = Seq(
        ("p010_label_eq3", col("label") === 3),
        ("p030_label_lt3", col("label") < 3),
        ("p050_label_lt5", col("label") < 5),
        ("p100_all", lit(true)))
      // r17 shared arms (VERDICT item 6, guide §1.2): the four bands used
      // to re-run the probe join AND the |q|×|corpus| brute ground truth
      // per band (8 corpus subtrees in one action). Both candidate sets
      // are band-independent except for the label filter, so each is
      // scored ONCE carrying `label`, and ONE window pass per arm computes
      // every band's within-band rank simultaneously as a cumulative
      // conditional count over the shared (dist, vec_id) order: for rows
      // satisfying pred_i, count_if(pred_i) up to the current row ≡
      // row_number over the pred_i-filtered set — the exact per-band
      // top-K membership the old per-band subtrees computed. Hits for all
      // four bands then come from one (query, vec) join + one aggregation.
      val probeCells = ColumnBridge.column(graft.functions.VecArgTopNL2(
        ColumnBridge.expression(col("q_embedding")), cents, 4))
      val qs = q.select(col("query_id"), col("embedding").as("q_embedding"))
        .withColumn("ivf_cell", explode(probeCells))
      val cand = broadcast(qs).join(assigned, "ivf_cell")
        .select(col("query_id"), col("vec_id"), col("label"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), Dim).as("dist"))
      val brute = db.crossJoin(broadcast(q.select(col("query_id").as("bq"),
          col("embedding").as("q_embedding"))))
        .select(col("bq").as("query_id"), col("vec_id"), col("label"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), Dim).as("dist"))
      def bandFlags(df: DataFrame, tag: String): DataFrame = {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("vec_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val flagged = df.select(Seq(col("query_id"), col("vec_id")) ++
          bands.zipWithIndex.map { case ((_, pred), i) =>
            (pred && sum(pred.cast("long")).over(w) <= K).as(s"$tag$i") }: _*)
        flagged.filter(bands.indices.map(i => col(s"$tag$i")).reduce(_ || _))
      }
      val ap = bandFlags(cand, "a")
      val ex = bandFlags(brute, "e")
      val hitCols = bands.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("band"),
          coalesce(sum((col(s"a$i") && col(s"e$i")).cast("long")), lit(0L))
            .as("n_hits")).as(s"h$i")
      }
      val nq = q.count() // |page| ~ 20 at any SF; one slim count job
      ap.join(ex, Seq("query_id", "vec_id"))
        .agg(hitCols.head, hitCols.tail: _*)
        .select(explode(array(bands.indices.map(i => col(s"h$i")): _*)).as("h"))
        .select(col("h.band"), lit(nq).as("n_queries"), col("h.n_hits"),
          (col("h.n_hits") / lit(K * nq.toDouble)).as("recall_at_k"))
        .orderBy(col("band"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q.q_embedding", "a.embedding", Dim)
        val ed = DuckSql.squaredL2Cols("q.q_embedding", "d.embedding", Dim)
        val bands = Seq(
          ("p010_label_eq3", "label = 3"),
          ("p030_label_lt3", "label < 3"),
          ("p050_label_lt5", "label < 5"),
          ("p100_all", "TRUE"))
        def qual(t: String, pred: String) =
          if (pred == "TRUE") "TRUE" else s"$t.$pred"
        val bandCtes = bands.zipWithIndex.map { case ((_, pred), i) =>
          s"""approx$i AS (
             |  SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dd ASC, vec_id ASC) AS rn
             |    FROM (SELECT qp.qid AS query_id, a.vec_id, $pd AS dd
             |          FROM qprobe qp JOIN qs q USING (qid) JOIN af f USING (cell)
             |          JOIN embeddings a ON a.vec_id = f.vec_id WHERE ${qual("a", pred)}))
             |  WHERE rn <= $K),
             |exact$i AS (
             |  SELECT eq, ev FROM (
             |    SELECT eq, ev,
             |      ROW_NUMBER() OVER (PARTITION BY eq ORDER BY dd ASC, ev ASC) AS rn
             |    FROM (SELECT q.qid AS eq, d.vec_id AS ev, $ed AS dd
             |          FROM qs q CROSS JOIN embeddings d WHERE ${qual("d", pred)}))
             |  WHERE rn <= $K),
             |hits$i AS (
             |  SELECT COUNT(*) AS n_hits FROM approx$i
             |  JOIN exact$i ON query_id = eq AND vec_id = ev)""".stripMargin
        }.mkString(",\n")
        val sel = bands.zipWithIndex.map { case ((name, _), i) =>
          s"""SELECT '$name' AS band, (SELECT COUNT(*) FROM qs) AS n_queries,
             |  CAST(n_hits AS BIGINT) AS n_hits,
             |  CAST(n_hits AS DOUBLE) / CAST($K * (SELECT COUNT(*) FROM qs) AS DOUBLE) AS recall_at_k
             |FROM hits$i""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |qs AS MATERIALIZED (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings WHERE vec_id % ${modSql(20)} = 0),
           |qprobe AS MATERIALIZED (
           |  SELECT qid, cell FROM (
           |    SELECT qid, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dqc ASC, cell ASC) AS rnp
           |    FROM (SELECT q.qid, c.cell, $ivfDistQC AS dqc FROM qs q CROSS JOIN c2 c))
           |  WHERE rnp <= 4),
           |$bandCtes
           |$sel
           |ORDER BY band""".stripMargin
      }),
    // recall@k CURVE over nprobe — the accuracy/cost dial an ANN deploy
    // publishes: one trained index, one exact ground truth, four probe
    // widths sharing the probe RANKING (each width is a filter on the
    // per-query centroid rank, not a re-rank). Integer hit counts; the
    // one division is a shared-constant IEEE op — hash-checked
    QuerySpec("ann_ivf_recall_curve", ((s, d) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val db = emb(s, d)
      // count-derived held-out page — same rationale as ann_ivf_recall
      val mq = math.max(1L, (embCount(s, d) + 19) / 20)
      val q = db.filter(col("vec_id") % mq === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      val assigned = Ann.assign(db, cents)
      val exact = KnnJoinPlan.join(q, db, K)
        .select(col("query_id").as("eq"), col("vec_id").as("ev"))
      // r10 fused arms (the oracle's shape): score candidates ONCE at the
      // widest probe width, carrying each cell's probe RANK (posexplode of
      // the ranked VecArgTopNL2 list — top-np is its np-prefix, same
      // comparator); each arm is a filter + bounded top-K of the persisted
      // slim (query, rnp, vec, dist) set. The old per-arm ivfJoin form
      // re-scored the union of probed cells ~1.9× over
      val probeCells = ColumnBridge.column(graft.functions.VecArgTopNL2(
        ColumnBridge.expression(col("q_embedding")), cents, 8))
      val qs = q.select(col("query_id"), col("embedding").as("q_embedding"))
        .select(col("query_id"), col("q_embedding"),
          posexplode(probeCells).as(Seq("rnp0", "ivf_cell")))
      val cand = broadcast(qs).join(assigned, "ivf_cell")
        .select(col("query_id"), col("rnp0"), col("vec_id"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), Dim).as("dist"))
        // persist: the four arms reuse the scored set within one action;
        // no unpersist hook exists on a returned-DataFrame contract, so
        // reclamation is ContextCleaner's on the abandoned plan (the same
        // documented reliance as Dedup's signature persist)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val curve = Seq(1, 2, 4, 8).map { np =>
        KnnTopK.topK(cand.filter(col("rnp0") < np), K)
          .select(col("query_id"), col("vec_id"))
          .join(exact, col("query_id") === col("eq") && col("vec_id") === col("ev"),
            "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np).as("nprobe"), col("n_hits"))
      }.reduce(_ unionAll _)
      curve.crossJoin(q.agg(count(lit(1)).as("n_queries")))
        .select(col("nprobe"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast("double")
            / (col("n_queries") * lit(K.toLong)).cast("double")).as("recall_at_k"))
        .orderBy(col("nprobe"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q.q_embedding", "a.embedding", Dim)
        val ed = DuckSql.squaredL2Cols("q.q_embedding", "d.embedding", Dim)
        // Fused form: ONE qprobe-af join builds all candidates once with
        // the probe rank (rnp) of the cell each came from; the four former
        // UNION-ALL arms are a 4-row nprobe dimension re-ranking the same
        // slim (query, vec, dist, rnp) set — ~4x less peak work/memory.
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |qs AS (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings WHERE vec_id % ${modSql(20)} = 0),
           |qprobe AS (
           |  SELECT qid, cell, rnp FROM (
           |    SELECT qid, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dqc ASC, cell ASC) AS rnp
           |    FROM (SELECT q.qid, c.cell, $ivfDistQC AS dqc FROM qs q CROSS JOIN c2 c))
           |  WHERE rnp <= 8),
           |cand AS (
           |  SELECT qp.qid AS query_id, a.vec_id, qp.rnp, $pd AS dist
           |  FROM qprobe qp JOIN qs q USING (qid) JOIN af f USING (cell)
           |  JOIN embeddings a ON a.vec_id = f.vec_id),
           |exact AS (
           |  SELECT eq, ev FROM (
           |    SELECT eq, ev,
           |      ROW_NUMBER() OVER (PARTITION BY eq ORDER BY dd ASC, ev ASC) AS rn
           |    FROM (SELECT q.qid AS eq, d.vec_id AS ev, $ed AS dd
           |          FROM qs q CROSS JOIN embeddings d))
           |  WHERE rn <= $K),
           |ranked AS (
           |  SELECT np.nprobe, c.query_id, c.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY np.nprobe, c.query_id
           |      ORDER BY c.dist ASC, c.vec_id ASC) AS rn
           |  FROM cand c JOIN (VALUES (1), (2), (4), (8)) np(nprobe)
           |    ON c.rnp <= np.nprobe),
           |curve AS (
           |  SELECT np.nprobe, COALESCE(h.n_hits, 0) AS n_hits
           |  FROM (VALUES (1), (2), (4), (8)) np(nprobe)
           |  LEFT JOIN (
           |    SELECT nprobe, COUNT(*) AS n_hits
           |    FROM (SELECT nprobe, query_id, vec_id FROM ranked WHERE rn <= $K) ap
           |    JOIN exact ON ap.query_id = exact.eq AND ap.vec_id = exact.ev
           |    GROUP BY nprobe) h USING (nprobe)
           |)
           |SELECT nprobe, n_queries, CAST(n_hits AS BIGINT) AS n_hits,
           |  CAST(n_hits AS DOUBLE) / CAST(n_queries * $K AS DOUBLE) AS recall_at_k
           |FROM curve CROSS JOIN (SELECT COUNT(*) AS n_queries FROM qs)
           |ORDER BY nprobe""".stripMargin
      }),
    // batch ANN join: every query probes its nprobe nearest IVF cells
    // (VecArgTopNL2) under the seeded-exact trained codebook —
    // hash-checked; the oracle replays training + per-query probe
    // ranking + the bounded top-k
    QuerySpec("ann_ivf_join", ((s, d) => {
      val db = emb(s, d)
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      Ann.ivfJoin(
        db.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
        Ann.assign(db, cents), cents, k = 3, nprobe = 4)
        .orderBy(col("query_id"), col("rn"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q.q_embedding", "a.embedding", Dim)
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |qs AS (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings WHERE vec_id < 5),
           |qprobe AS (
           |  SELECT qid, cell FROM (
           |    SELECT qid, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dqc ASC, cell ASC) AS rnp
           |    FROM (SELECT q.qid, c.cell, $ivfDistQC AS dqc FROM qs q CROSS JOIN c2 c))
           |  WHERE rnp <= 4)
           |SELECT query_id, vec_id, dist, CAST(rn AS INT) AS rn FROM (
           |  SELECT query_id, vec_id, dist,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rn
           |  FROM (
           |    SELECT qp.qid AS query_id, a.vec_id, $pd AS dist
           |    FROM qprobe qp JOIN qs q USING (qid) JOIN af f USING (cell)
           |    JOIN embeddings a ON a.vec_id = f.vec_id)
           |) WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin
      }),
    // TRAINED PQ + ADC + exact re-rank, hash-checked: seeded-exact
    // codebook training (Pq.trainSeededExact, integer-exact means over
    // fixed literal seeds) makes every codeword oracle-replayable; the
    // oracle then replays encode, the ADC pivot sum (left-assoc like
    // adcDist's reduce), the refine cut and the exact re-rank
    QuerySpec("ann_pq_topk", ((s, d) => {
      val db = emb(s, d)
      val model = graft.operators.Pq.trainSeededExact(db, Dim,
        Fixtures.PqSeeds, iters = 2)
      graft.operators.Pq.search(graft.operators.Pq.encode(db, model), model, Q64, K)
    }),
        pqTrainedSql(Fixtures.PqSeeds, iters = 2, Q64, k = K, refine = 100)),
    QuerySpec("ann_lsh_neardup", ((s, d) =>
      Ann.lshBandedNearDupPairs(par(s, emb(s, d).filter(col("vec_id") % 5 === 0)), Planes16, Dim,
          bandBits = 4, minCosine = 0.35)
        .orderBy(col("id_a"), col("id_b"))),
      {
        // Band sig = Σ 2^j over the band's planes with dot(v, plane_j) >= 0
        // (j is the LOCAL bit index, matching Ann.lshSignature on the plane
        // slice); disjoint bits, so the sum equals Spark's bitwiseOR fold.
        def bandSigSql(c: String, b: Int) =
          Planes16.slice(b * 4, b * 4 + 4).zipWithIndex.map { case (p, j) =>
            s"(CASE WHEN ${DuckSql.dotLit(c, p)} >= ${DuckSql.fmt(0.0)} THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          }.mkString("(", " + ", ")")
        val bandSelects = (0 until 4).map { b =>
          s"SELECT vec_id, $b AS band, ${bandSigSql("embedding", b)} AS sig FROM embeddings WHERE vec_id % 5 = 0"
        }.mkString("\n  UNION ALL ")
        val cs = DuckSql.cosineSimCols("ea.embedding", "eb.embedding", Dim)
        // hot-bucket cap mirror (Ann.lshBandedNearDupPairs maxBucket)
        s"""WITH buckets AS (
           |  SELECT vec_id, band, sig FROM (
           |    SELECT vec_id, band, sig,
           |      COUNT(*) OVER (PARTITION BY band, sig) AS __bsz
           |    FROM ($bandSelects)
           |  ) WHERE __bsz <= ${Dedup.LshMaxBucket}
           |), cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
           |)
           |SELECT id_a, id_b, cos_sim FROM (
           |  SELECT id_a, id_b, $cs AS cos_sim
           |  FROM cand
           |  JOIN embeddings ea ON ea.vec_id = cand.id_a
           |  JOIN embeddings eb ON eb.vec_id = cand.id_b
           |) WHERE cos_sim >= ${DuckSql.fmt(0.35)} ORDER BY id_a, id_b""".stripMargin
      }),
    // --- graph-based ANN (NSW family, GraphAnn.scala — r16): the
    // most-deployed ANN index shape, completing the IVF/PQ/LSH/MIPS set.
    // Exact |V|² graph build — the correctness anchor; the scale build is
    // ann_graph_edges_ivf below
    QuerySpec("ann_graph_edges", ((s, d) =>
      knnGraphCached(s, d).orderBy(col("src"), col("rn"))),
      // --- graph ANN (r16): the oracle replays the exact |V|² build and
      // every beam hop — see graphEdgesCte/graphBeamLitSql/graphBeamJoinCtes
        s"""WITH ${graphEdgesCte(GraphM)}
           |SELECT src, dst, dist, CAST(rn AS INT) AS rn FROM edges
           |ORDER BY src, rn""".stripMargin),
    // 100 TB build path: candidates only from each node's nprobe nearest
    // trained-IVF cells (cell-key equi-join, co-partitioned — never |V|²);
    // the edge set it loses vs ann_graph_edges is the measured IVF recall
    // dial, not silent truncation
    QuerySpec("ann_graph_edges_ivf", ((s, d) => {
      val db = emb(s, d)
      val cents = Ann.lloydSeededExact(db, IvfSeeds, iters = 2)
      GraphAnn.knnGraphIvf(Ann.assign(db, cents), cents,
          m = GraphM, nprobe = 3, Dim)
        .orderBy(col("src"), col("rn"))
    }),
      {
        val pd = DuckSql.squaredL2Cols("q.q_embedding", "a.embedding", Dim)
        s"""WITH ${ivfTrainedCtes(IvfSeeds, 2)},
           |allq AS (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings),
           |qprobe AS (
           |  SELECT qid, cell FROM (
           |    SELECT qid, cell,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dqc ASC, cell ASC) AS rnp
           |    FROM (SELECT q.qid, c.cell, $ivfDistQC AS dqc FROM allq q CROSS JOIN c2 c))
           |  WHERE rnp <= 3),
           |cand AS (
           |  SELECT qp.qid AS src, a.vec_id AS dst, MIN($pd) AS dist
           |  FROM qprobe qp JOIN allq q ON q.qid = qp.qid
           |  JOIN af f USING (cell) JOIN embeddings a ON a.vec_id = f.vec_id
           |  WHERE a.vec_id <> qp.qid
           |  GROUP BY qp.qid, a.vec_id)
           |SELECT src, dst, dist, CAST(rn AS INT) AS rn FROM (
           |  SELECT src, dst, dist,
           |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rn
           |  FROM cand)
           |WHERE rn <= $GraphM ORDER BY src, rn""".stripMargin
      }),
    // NSW beam search for a literal query: fixed entry set (the lowest
    // GraphEntries ids), GraphHops expansion hops, beam GraphBeam →
    // top-K. Deterministic end to end, so the
    // oracle replays build + every hop and the result hash-checks
    QuerySpec("ann_graph_topk", ((s, d) => {
      val db = emb(s, d)
      GraphAnn.searchLit(knnGraphCached(s, d), db, Q64, k = K,
        beam = GraphBeam, hops = GraphHops, nEntry = GraphEntries)
    }),
        graphBeamLitSql(Q64, k = K, beam = GraphBeam, hops = GraphHops,
          nEntry = GraphEntries)),
    // recall@k of the beam search against exact brute force over the
    // held-out query page — the monitoring surface for the graph path
    // (same shape as ann_ivf_recall)
    QuerySpec("ann_graph_recall", ((s, d) => {
      val db = emb(s, d)
      val mq = math.max(1L, (embCount(s, d) + 19) / 20)
      val q = db.filter(col("vec_id") % mq === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val graph = knnGraphCached(s, d)
      val approx = GraphAnn.searchJoin(graph, db, q, k = K,
          beam = GraphBeam, hops = GraphHops, nEntry = GraphEntries, dim = Dim)
        .select(col("query_id"), col("vec_id"))
      val exact = KnnJoinPlan.join(q, db, K)
        .select(col("query_id").as("eq"), col("vec_id").as("ev"))
      val hits = approx.join(exact,
          col("query_id") === col("eq") && col("vec_id") === col("ev"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("query_id"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) / lit(K.toDouble)).as("recall_at_k"))
        .orderBy(col("query_id"))
    }),
      {
        val ed = DuckSql.squaredL2Cols("q.q_embedding", "d.embedding", Dim)
        s"""WITH ${graphEdgesCte(GraphM)},
           |qs AS (SELECT vec_id AS qid, embedding AS q_embedding FROM embeddings WHERE vec_id % ${modSql(20)} = 0),
           |${graphBeamJoinCtes(beam = GraphBeam, hops = GraphHops, nEntry = GraphEntries)},
           |approx AS (
           |  SELECT qid AS query_id, vec_id FROM (
           |    SELECT qid, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
           |    FROM beam$GraphHops)
           |  WHERE rn <= $K),
           |exact AS (
           |  SELECT eq, ev FROM (
           |    SELECT eq, ev,
           |      ROW_NUMBER() OVER (PARTITION BY eq ORDER BY dd ASC, ev ASC) AS rn
           |    FROM (SELECT q.qid AS eq, d.vec_id AS ev, $ed AS dd
           |          FROM qs q CROSS JOIN embeddings d))
           |  WHERE rn <= $K),
           |hits AS (
           |  SELECT query_id, COUNT(*) AS n_hits FROM approx
           |  JOIN exact ON query_id = eq AND vec_id = ev GROUP BY query_id)
           |SELECT q.qid AS query_id,
           |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST($K AS DOUBLE) AS recall_at_k
           |FROM qs q LEFT JOIN hits h ON q.qid = h.query_id
           |ORDER BY query_id""".stripMargin
      }),
    // IVF index-health report: per-cell population of the fixed-codebook
    // index plus each cell's load factor vs uniform — the balance
    // statistic that decides when an IVF index needs re-training (hot
    // cells = slow probes, empty cells = wasted codebook). One
    // aggregation to |cells| rows; the 1-row totals broadcast back
    QuerySpec("ann_ivf_cell_stats", ((s, d) => {
      import s.implicits._
      val nCells = 8
      val counted = Ann.assign(emb(s, d), Planes16.take(nCells))
        .groupBy(col("ivf_cell").cast("int").as("ivf_cell"))
        .agg(count(lit(1)).as("n_vecs"))
      // every codebook entry appears, populated or not — empty cells ARE
      // the finding (wasted codebook); load factor is vs uniform over the
      // full codebook
      val cells = (0 until nCells).toDF("ivf_cell")
        .join(counted, Seq("ivf_cell"), "left")
        .select(col("ivf_cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      val tot = cells.agg(sum(col("n_vecs")).as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("ivf_cell"), col("n_vecs"),
          round((col("n_vecs") * nCells).cast("double") /
            col("total").cast("double"), 9).as("load_factor"))
        .orderBy(col("ivf_cell"))
    }),
      {
        val dists = Planes16.take(8)
          .map(c => DuckSql.squaredL2Lit(e, c)).mkString(",\n    ")
        s"""WITH counted AS (
           |  SELECT CAST(list_position(l, list_min(l)) - 1 AS INT) AS ivf_cell,
           |    COUNT(*) AS n_vecs
           |  FROM (SELECT vec_id, [$dists] AS l FROM embeddings)
           |  GROUP BY 1
           |), cells AS (
           |  SELECT CAST(r.range AS INT) AS ivf_cell,
           |    CAST(COALESCE(c.n_vecs, 0) AS BIGINT) AS n_vecs
           |  FROM range(0, 8) r LEFT JOIN counted c ON r.range = c.ivf_cell
           |), tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM cells)
           |SELECT ivf_cell, n_vecs,
           |  round(CAST(n_vecs * 8 AS DOUBLE) / CAST(total AS DOUBLE), 9) AS load_factor
           |FROM cells, tot ORDER BY ivf_cell""".stripMargin
      }),
    // INCREMENTAL IVF admission (r14): the O(batch) append path — train
    // the codebook on the BASE store (seeded-exact, so the oracle replays
    // training), argmin-assign only the NEW batch to the frozen
    // centroids, and emit the post-admission health report (per-cell
    // before/after populations, load factor, retrain flag once a cell
    // exceeds 2x uniform). The store is never rescanned: a daily
    // embedding drop costs one codegen'd assignment pass over the batch
    QuerySpec("ann_ivf_append", ((s, d) => {
      val all = emb(s, d)
      val base = all.filter(col("vec_id") % 5 =!= 0)
      val batch = all.filter(col("vec_id") % 5 === 0)
      val cents = Ann.lloydSeededExact(base, IvfSeeds, iters = 2)
      val assignedBase = Ann.assign(base, cents)
      // r17: delta report — admitBatch's output is base ∪ assigned-batch,
      // so per-cell counts add; the report scans the store assignment once
      // and the small batch once instead of counting the store through
      // both `before` AND the union (AnnSpec pins delta ≡ full report)
      Ann.admissionReportDelta(assignedBase, Ann.assign(batch, cents),
        nCells = IvfSeeds.length, maxLoad = 2.0)
    }),
      // incremental admission: replay seeded-exact training on the BASE,
      // assign the batch to the frozen trained centroids, recompute the
      // health report (the ivf_cell_stats shape with before/after + flag)
      {
        val nc = IvfSeeds.length
        s"""WITH base AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
           |batch AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
           |${ivfTrainedCtes(IvfSeeds, 2, rel = "base")},
           |${ivfAssignCte("abatch", "batch", "c2")},
           |nb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM af GROUP BY cell),
           |nn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM abatch GROUP BY cell),
           |cells AS (
           |  SELECT CAST(r.range AS INT) AS ivf_cell,
           |    CAST(COALESCE(b.n, 0) AS BIGINT) AS n_before,
           |    CAST(COALESCE(b.n, 0) + COALESCE(a.n, 0) AS BIGINT) AS n_after,
           |    CAST(COALESCE(a.n, 0) AS BIGINT) AS n_admitted
           |  FROM range(0, $nc) r
           |  LEFT JOIN nb b ON r.range = b.cell
           |  LEFT JOIN nn a ON r.range = a.cell),
           |tot AS (SELECT CAST(SUM(n_after) AS BIGINT) AS total FROM cells)
           |SELECT ivf_cell, n_before, n_after, n_admitted,
           |  round(CAST(n_after * $nc AS DOUBLE) / CAST(total AS DOUBLE), 9) AS load_factor,
           |  CASE WHEN CAST(n_after * $nc AS DOUBLE) > CAST(total AS DOUBLE) * ${DuckSql.fmt(2.0)}
           |       THEN 1 ELSE 0 END AS retrain_flag
           |FROM cells, tot ORDER BY ivf_cell""".stripMargin
      }),
    // multi-probe hyperplane LSH top-k: probe the query's bucket + every
    // Hamming-1 neighbor (the recall lever that needs no extra tables),
    // exact re-rank inside the candidates. Fixed literal planes → the
    // whole approximate path is hash-checked, not rows-only
    QuerySpec("ann_lsh_multiprobe_topk", ((s, d) =>
      graft.operators.Ann.lshMultiProbeTopK(
        emb(s, d), Fixtures.Planes16.take(8), Q64, K)),
      {
        val planes8 = Fixtures.Planes16.take(8)
        val probes = graft.operators.Ann.multiProbeSigs(planes8, Q64).mkString(", ")
        // per-row signature: disjoint power-of-two terms, so + ≡ bitwise OR
        val sigSql = planes8.zipWithIndex.map { case (p, j) =>
          s"(CASE WHEN ${DuckSql.dotLit("embedding", p)} >= 0.0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""SELECT vec_id, label, ${DuckSql.squaredL2Lit("embedding", Q64)} AS dist
           |FROM (SELECT *, $sigSql AS sig FROM embeddings)
           |WHERE sig IN ($probes)
           |ORDER BY dist ASC, vec_id ASC LIMIT $K""".stripMargin
      }),
    // incremental IVF maintenance: only the NEW batch is assigned to the
    // (fixed) codebook; per-cell counts merge additively with the base
    // index stats — the 100 TB base is never rescanned. Both assignment
    // passes + the merge are replayed by the oracle (argmin over the same
    // literal centroids)
    QuerySpec("ann_ivf_incremental", ((s, d) => {
      val cents = IncrCentroids
      val db = emb(s, d)
      val baseCounts = Ann.assign(db.filter(col("vec_id") % 2 === 0), cents)
        .groupBy(col("ivf_cell")).agg(count(lit(1)).as("n_base"))
      val batchCounts = Ann.assign(db.filter(col("vec_id") % 2 =!= 0), cents)
        .groupBy(col("ivf_cell")).agg(count(lit(1)).as("n_batch"))
      baseCounts.join(batchCounts, Seq("ivf_cell"), "full_outer")
        .select(col("ivf_cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"),
          (coalesce(col("n_base"), lit(0L)) +
            coalesce(col("n_batch"), lit(0L))).as("n_after"))
        .orderBy(col("ivf_cell"))
    }),
      {
        val dists = IncrCentroids
          .map(c => DuckSql.squaredL2Lit("embedding", c)).mkString(",\n    ")
        s"""WITH assigned AS (
           |  SELECT vec_id, CAST(list_position(l, list_min(l)) - 1 AS INT) AS ivf_cell
           |  FROM (SELECT vec_id, [$dists] AS l FROM embeddings)),
           |b AS (SELECT ivf_cell, COUNT(*) AS n_base FROM assigned
           |      WHERE vec_id % 2 = 0 GROUP BY ivf_cell),
           |nb AS (SELECT ivf_cell, COUNT(*) AS n_batch FROM assigned
           |       WHERE vec_id % 2 <> 0 GROUP BY ivf_cell)
           |SELECT COALESCE(b.ivf_cell, nb.ivf_cell) AS ivf_cell,
           |  COALESCE(n_base, 0) AS n_base, COALESCE(n_batch, 0) AS n_batch,
           |  COALESCE(n_base, 0) + COALESCE(n_batch, 0) AS n_after
           |FROM b FULL OUTER JOIN nb ON b.ivf_cell = nb.ivf_cell
           |ORDER BY ivf_cell""".stripMargin
      })
  )
}
