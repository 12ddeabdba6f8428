package graft

import graft.functions.Distances
import graft.index.{Grid, GridConfig, GridGeometry, QuantileGridConfig}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties for the driver-side math that the pruning
  * correctness rests on (SURVEY §5: add property-based tests the reference
  * lacks). Spark-side equivalence is covered by RandomizedSpec/VecExprSpec;
  * these pin the pure-Scala invariants over the full generator space. */
class PropertySpec extends SparkSpecBase {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)
  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: $r")
  }

  private val dimGen = Gen.choose(1, 16)
  private def vecGen(dim: Int): Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](dim, Gen.choose(-10.0, 10.0))

  test("metric axioms: non-negativity, identity, symmetry (squared L2, L1, Linf)") {
    val p = Prop.forAll(dimGen.flatMap(d => vecGen(d).flatMap(a => vecGen(d).map((a, _))))) {
      case (a, b) =>
        val fns = Seq[(Array[Double], Array[Double]) => Double](
          Distances.squaredL2, Distances.l1, Distances.lInf)
        fns.forall { f =>
          f(a, b) >= 0.0 && f(a, a) == 0.0 && f(a, b) == f(b, a)
        }
    }
    check(p, "metric axioms")
  }

  test("plane lower bound never exceeds the true distance to any point in the cell") {
    // For a random query and a random in-bounds point, the bound of the
    // point's own cell must be <= the true distance (admissibility — the
    // invariant the widening loop's stop rule depends on).
    val gen = for {
      dim <- Gen.choose(1, 6)
      parts <- Gen.choose(2, 5)
      gdims <- Gen.choose(1, dim)
      q <- vecGen(dim)
      v <- Gen.containerOfN[Array, Double](dim, Gen.choose(-1.0, 1.0))
    } yield (GridConfig(dim, -1.0, 1.0, parts, gdims), q, v)
    val p = Prop.forAll(gen) { case (cfg, q, v) =>
      val cell = Grid.cellOf(v, cfg)
      val bound = Grid.cellLowerBoundSqL2(q, cell, cfg)
      val dist = Distances.squaredL2(q, v)
      bound <= dist + 1e-9
    }
    check(p, "bound admissibility")
  }

  /** The pruning rule's contract for one geometry: the bound of a point's
    * own cell never exceeds its true distance under any metric (a bound
    * above the true distance of ANY in-cell point would silently drop
    * matches), and the cell decodes back to the point's per-dim buckets
    * (mixed-radix decode, bucketing and the open-ended edge intervals
    * agree), for points inside and outside the gridded range. */
  private def boundsAdmissible(g: GridGeometry, q: Array[Double], v: Array[Double],
      inv: Array[Double]): Boolean = {
    val cell = Grid.cellOf(v, g)
    (Grid.cellLowerBoundSqL2(q, cell, g) <= Distances.squaredL2(q, v) + 1e-9) &&
    (Grid.cellLowerBoundL1(q, cell, g) <= Distances.l1(q, v) + 1e-9) &&
    (Grid.cellLowerBoundLInf(q, cell, g) <= Distances.lInf(q, v) + 1e-9) &&
    (Grid.cellLowerBoundMahalanobisDiag(q, cell, g, inv) <=
      q.indices.map(i => { val d = q(i) - v(i); d * d * inv(i) }).sum + 1e-9) &&
    Grid.decode(cell, g).toSeq == (0 until g.gridDims).map(d => g.bucketOf(v(d), d))
  }

  /** Query, point (also outside [-1, 1]) and diagonal inverse variances
    * around a geometry drawn from `geometry`. */
  private def boundsGen(geometry: Int => Gen[GridGeometry]) = for {
    dim <- Gen.choose(1, 6)
    g <- geometry(dim)
    q <- vecGen(dim)
    v <- Gen.containerOfN[Array, Double](dim, Gen.choose(-2.0, 2.0))
    inv <- Gen.containerOfN[Array, Double](dim, Gen.choose(0.1, 5.0))
  } yield (g, q, v, inv)

  test("ALL metric cell bounds are admissible (the auto-pruning rule's contract)") {
    // GridRadiusPruning skips a cell when bound > r
    val gen = boundsGen(dim => for {
      parts <- Gen.choose(2, 5)
      gdims <- Gen.choose(1, dim)
    } yield GridConfig(dim, -1.0, 1.0, parts, gdims))
    val p = Prop.forAll(gen) { case (g, q, v, inv) => boundsAdmissible(g, q, v, inv) }
    check(p, "all-metric bound admissibility")
  }

  test("QUANTILE grid: ALL metric interval bounds are admissible over random boundary tables") {
    // for ANY ascending boundary table (not just calibrated ones):
    // admissibility must never depend on where the edges sit
    val gen = boundsGen(dim => for {
      gdims <- Gen.choose(1, dim)
      bs <- Gen.listOfN(gdims,
        Gen.choose(1, 4).flatMap(nb =>
          Gen.containerOfN[List, Double](nb, Gen.choose(-1.0, 1.0)).map(_.sorted)))
    } yield QuantileGridConfig(dim, bs.map(_.toSeq)))
    val p = Prop.forAll(gen) { case (g, q, v, inv) => boundsAdmissible(g, q, v, inv) }
    check(p, "quantile-grid bound admissibility")
  }

  test("equal-width cell bounds equal the inline closed form bit-for-bit") {
    // the equal-width interval is lo = lower + b*width, hi = lo + width:
    // any drift in that arithmetic would move widening decisions
    val gen = for {
      dim <- Gen.choose(1, 6)
      parts <- Gen.choose(2, 9)
      gdims <- Gen.choose(1, dim)
      lower <- Gen.choose(-2.0, 0.5)
      span <- Gen.choose(0.1, 3.0)
      q <- vecGen(dim)
      inv <- Gen.containerOfN[Array, Double](dim, Gen.choose(0.1, 5.0))
      cellFrac <- Gen.choose(0.0, 1.0)
    } yield (GridConfig(dim, lower, lower + span, parts, gdims), q, inv, cellFrac)
    val p = Prop.forAll(gen) { case (cfg, q, inv, cellFrac) =>
      val cell = math.min(cfg.numCells - 1, (cellFrac * cfg.numCells).toLong)
      var rest = cell
      val gaps = (0 until cfg.gridDims).map { d =>
        val b = (rest % cfg.partsPerDim).toInt
        rest /= cfg.partsPerDim
        val lo = cfg.lower + b * cfg.width
        val hi = lo + cfg.width
        val below = if (b == 0) Double.NegativeInfinity else lo
        val above = if (b == cfg.partsPerDim - 1) Double.PositiveInfinity else hi
        val x = q(d)
        if (x < below) below - x else if (x > above) x - above else 0.0
      }
      def same(a: Double, b: Double) =
        java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
      same(Grid.cellLowerBoundSqL2(q, cell, cfg), gaps.foldLeft(0.0)((s, g) => s + g * g)) &&
      same(Grid.cellLowerBoundL1(q, cell, cfg), gaps.foldLeft(0.0)(_ + _)) &&
      same(Grid.cellLowerBoundLInf(q, cell, cfg), gaps.foldLeft(0.0)((m, g) => if (g > m) g else m)) &&
      same(Grid.cellLowerBoundMahalanobisDiag(q, cell, cfg, inv),
        gaps.indices.foldLeft(0.0)((s, d) => s + gaps(d) * gaps(d) * inv(d)))
    }
    check(p, "equal-width closed-form pin")
  }

  test("box bounds never exceed the kernel's distance to a point in the box, with no slack") {
    import graft.api.{L1, LInf, MahalanobisDiag, MahalanobisFull, Metric, SquaredL2}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // Float box edges from double corners; a point coordinate is an edge, a
    // float strictly inside, or the float nearest the query within the box
    // (the point the bound is tight at); queries sit anywhere, on an edge,
    // or one double ulp to either side of it.
    val gen = for {
      dim <- Gen.choose(1, 8)
      edges <- Gen.listOfN(dim, Gen.frequency(
        4 -> Gen.zip(Gen.choose(-2.0, 2.0), Gen.choose(-2.0, 2.0)),
        1 -> Gen.choose(-2.0, 2.0).map(a => (a, a))))
      qKinds <- Gen.listOfN(dim, Gen.zip(Gen.choose(0, 6), Gen.choose(-3.0, 3.0)))
      ptKinds <- Gen.listOfN(6, Gen.listOfN(dim, Gen.zip(Gen.choose(0, 3), Gen.choose(0.0, 1.0))))
      inv <- Gen.containerOfN[Array, Double](dim,
        Gen.frequency(4 -> Gen.choose(0.0, 5.0), 1 -> Gen.const(0.0)))
      scalar <- Gen.choose(0.1, 5.0)
      off <- Gen.containerOfN[Array, Double](dim * dim, Gen.choose(-0.5, 0.5))
      diagExtra <- Gen.containerOfN[Array, Double](dim, Gen.choose(0.0, 2.0))
      nanDim <- Gen.choose(0, dim - 1)
    } yield {
      val lo = edges.map { case (a, b) => math.min(a, b).toFloat }.toArray
      val hi = edges.map { case (a, b) => math.max(a, b).toFloat }.toArray
      val q = qKinds.zipWithIndex.map { case ((kind, x), d) => kind match {
        case 0 => x
        case 1 => lo(d).toDouble
        case 2 => hi(d).toDouble
        case 3 => math.nextDown(lo(d).toDouble)
        case 4 => math.nextUp(lo(d).toDouble)
        case 5 => math.nextDown(hi(d).toDouble)
        case _ => math.nextUp(hi(d).toDouble)
      }}.toArray
      def inside(d: Int, t: Double): Float =
        math.min(hi(d), math.max(lo(d), (lo(d) + t * (hi(d) - lo(d))).toFloat))
      val nearest = Array.tabulate(dim)(d =>
        math.min(hi(d), math.max(lo(d), q(d).toFloat)))
      val points = nearest +: ptKinds.map(_.zipWithIndex.map { case ((kind, t), d) => kind match {
        case 0 => lo(d)
        case 1 => hi(d)
        case 2 => nearest(d)
        case _ => inside(d, t)
      }}.toArray)
      // symmetric, strictly diagonally dominant inverse, and c·I, where the
      // Gershgorin bound is tight and only the rounding margin protects it
      val sym = Array.tabulate(dim, dim)((i, j) =>
        if (i == j) 0.0 else off(math.min(i, j) * dim + math.max(i, j)))
      val dominant = Array.tabulate(dim, dim)((i, j) =>
        if (i == j) sym(i).map(math.abs).sum + diagExtra(i) else sym(i)(j)).flatten
      val metrics = Seq[Metric](SquaredL2, L1, LInf, MahalanobisDiag(inv),
        MahalanobisFull(dominant, dim),
        MahalanobisFull(Array.tabulate(dim * dim)(i => if (i % (dim + 1) == 0) scalar else 0.0), dim))
      (lo, hi, q, points, metrics, nanDim)
    }
    val vecRef = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    val qRef = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = false)
    val p = Prop.forAll(gen) { case (lo, hi, q, points, metrics, nanDim) =>
      // each metric's literal-query kernel, then the squared-L2 column kernel
      // of the batch cell join, whose query is a float vector read as double
      val qf = q.map(_.toFloat)
      val kernels = metrics.map(m => ColumnBridge.expression(m.dist(ColumnBridge.column(vecRef), q))) :+
        ColumnBridge.expression(Distances.squaredL2Cols(
          ColumnBridge.column(qRef), ColumnBridge.column(vecRef), q.length))
      val bounds = metrics.map(_.boxBound(q, lo, hi)) :+ SquaredL2.boxBound(qf.map(_.toDouble), lo, hi)
      val compiled = GenerateUnsafeProjection.generate(kernels)
      val admissible = points.forall { x =>
        val row = InternalRow(ArrayData.toArrayData(x), ArrayData.toArrayData(qf))
        val generated = compiled(row)
        kernels.indices.forall { i =>
          val b = bounds(i)
          b >= 0.0 &&
          b <= kernels(i).eval(row).asInstanceOf[Double] && b <= generated.getDouble(i)
        }
      }
      // a NaN edge bounds nothing on its dim: the same bound as an open dim
      def edge(a: Array[Float], x: Float) = { val c = a.clone(); c(nanDim) = x; c }
      val open = (edge(lo, Float.NegativeInfinity), edge(hi, Float.PositiveInfinity))
      val nanEdges = metrics.forall { m =>
        val want = m.boxBound(q, open._1, open._2)
        m.boxBound(q, lo, edge(hi, Float.NaN)) == want &&
        m.boxBound(q, edge(lo, Float.NaN), hi) == want
      }
      admissible && nanEdges
    }
    check(p, "box bound admissibility")
  }

  test("cellOf is total and stable over [lower,upper] plus out-of-bounds points") {
    val gen = for {
      dim <- Gen.choose(1, 6)
      parts <- Gen.choose(2, 5)
      gdims <- Gen.choose(1, dim)
      v <- Gen.containerOfN[Array, Double](dim, Gen.choose(-3.0, 3.0))
    } yield (GridConfig(dim, -1.0, 1.0, parts, gdims), v)
    val p = Prop.forAll(gen) { case (cfg, v) =>
      val c = Grid.cellOf(v, cfg)
      c >= 0 && c < cfg.numCells && c == Grid.cellOf(v, cfg)
    }
    check(p, "cellOf totality")
  }

  test("BPE merge fold equals the canonical in-memory merge on random symbol runs") {
    import spark.implicits._
    // adversarial alphabet: single chars plus tokens that LOOK like merge
    // results ("aa", "ab"), driving the sentinel/last-symbol logic hard
    val symGen = Gen.oneOf("a", "b", "c", "aa", "ab")
    val seqGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, symGen))
    val pairGen = for (p1 <- symGen; p2 <- symGen) yield (p1, p2)
    def model(syms: List[String], p1: String, p2: String): List[String] =
      syms.tail.foldLeft(List(syms.head)) { (acc, x) =>
        if (acc.last == p1 && x == p2) acc.init :+ (p1 + p2)
        else acc :+ x
      }
    val cases = Gen.listOfN(120, seqGen.flatMap(s => pairGen.map((s, _)))).sample.get
    val df = cases.zipWithIndex
      .map { case ((syms, _), i) => (i.toLong, syms.mkString(" ")) }
      .toDF("case_id", "sym")
    // one Spark pass per distinct pair, applied only to its own cases
    val got = cases.zipWithIndex.groupBy(_._1._2).toSeq.flatMap { case ((p1, p2), grp) =>
      val ids = grp.map(_._2.toLong)
      df.filter(col("case_id").isin(ids: _*))
        .select(col("case_id"), graft.operators.Bpe.applyMerge(col("sym"), p1, p2).as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    }.toMap
    for (((syms, (p1, p2)), i) <- cases.zipWithIndex)
      assert(got(i.toLong) == model(syms, p1, p2).mkString(" "),
        s"case $i: syms=$syms pair=($p1,$p2)")
  }

  test("qualityScoreScaled equals exact BigDecimal rational rounding on generated docs (200 cases)") {
    import spark.implicits._
    // text generator: words from a small vocab (some stopwords), so all
    // three score components exercise their clamps
    val wordGen = Gen.oneOf("the", "a", "of", "zz", "longishword", "x",
      "sesquipedalian", "to", "qqq", "abcdefgh")
    val docGen = Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = Gen.listOfN(200, docGen).sample.get.map(_.mkString(" "))
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (d <- Seq(4, 9)) {
      val got = df.select(col("id"),
          graft.operators.TextAnalysis.qualityScoreScaled(col("text"), d))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        // exact rational num/(3000*nw) in BigDecimal, HALF_UP to d places
        val words = t.split(" ")
        val nw = words.length.toLong
        val len = t.length.toLong
        val ns = words.count(graft.core.Fixtures.Stopwords.contains).toLong
        val chars = len - nw + 1
        val w = if (chars >= 3 * nw && chars <= 8 * nw) 1000L else 500L
        val num = 2L * nw * math.min(len, 500L) +
          1000L * math.min(10L * ns, nw) + w * nw
        val want = (BigDecimal(num) * BigDecimal(10).pow(d) /
          BigDecimal(3000L * nw))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
        assert(got(i.toLong) == want,
          s"doc $i decimals=$d: got ${got(i.toLong)}, want $want (nw=$nw len=$len ns=$ns)")
      }
    }
  }

  test("pctlNanos equals exact BigDecimal rational rounding over the (below, n) lattice") {
    import spark.implicits._
    val cases = for (n <- 1L to 40L; below <- 0L until n) yield (below, n)
    val df = cases.toDF("below", "n")
    val got = df.select(col("below"), col("n"),
        graft.operators.Governance.pctlNanos(col("below"), col("n")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (below, n) =>
      val want =
        if (n <= 1) 0L
        else (BigDecimal(below) * BigDecimal(1000000000L) / BigDecimal(n - 1))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
      assert(got((below, n)) == want, s"below=$below n=$n")
    }
  }
}
