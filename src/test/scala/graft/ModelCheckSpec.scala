package graft

import graft.operators.AsOfJoin
import graft.streaming.Sessionize
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Model-based randomized checks: the distributed operators against
  * straightforward in-memory Scala models on seeded random data with
  * adversarial shapes (ties, empty keys, bursts). */
class ModelCheckSpec extends SparkSpecBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(77)

  test("as-of join equals the per-row scan model on random data with ties (5 trials)") {
    for (trial <- 1 to 5) {
      val nKeys = 1 + rnd.nextInt(5)
      val left = (0 until 100).map { i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, 1000L + rnd.nextInt(50) * 10L)
      } // (eid, key, t)
      val right = (0 until 60).map { j =>
        (j.toLong, rnd.nextInt(nKeys + 1).toLong, 1000L + rnd.nextInt(50) * 10L, rnd.nextDouble())
      } // (rid, key, t, v) — key nKeys never matches
      val lDf = left.map { case (e, k, t) => (e, k, new Timestamp(t * 1000)) }.toDF("eid", "k", "t")
      val rDf = right.map { case (r, k, t, v) => (r, k, new Timestamp(t * 1000), v) }
        .toDF("rid", "rk", "rt", "v")
      val got = AsOfJoin.asOf(lDf, rDf, "k", "rk", "t", "rt", Seq("rid", "v"), "rid")
        .select("eid", "rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // model: max (t, rid) among right rows with same key, t <= left t
      val model = left.map { case (e, k, t) =>
        val cands = right.filter(r => r._2 == k && r._3 <= t)
        e -> (if (cands.isEmpty) -1L else cands.maxBy(r => (r._3, r._1))._1)
      }.toMap
      assert(got == model, s"trial $trial")
    }
  }

  test("forward as-of join equals the per-row scan model on random data with ties (5 trials)") {
    for (trial <- 1 to 5) {
      val nKeys = 1 + rnd.nextInt(5)
      val left = (0 until 100).map { i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, 1000L + rnd.nextInt(50) * 10L)
      }
      val right = (0 until 60).map { j =>
        (j.toLong, rnd.nextInt(nKeys + 1).toLong, 1000L + rnd.nextInt(50) * 10L, rnd.nextDouble())
      }
      val lDf = left.map { case (e, k, t) => (e, k, new Timestamp(t * 1000)) }.toDF("eid", "k", "t")
      val rDf = right.map { case (r, k, t, v) => (r, k, new Timestamp(t * 1000), v) }
        .toDF("rid", "rk", "rt", "v")
      val got = AsOfJoin.asOf(lDf, rDf, "k", "rk", "t", "rt", Seq("rid", "v"), "rid",
          direction = "forward")
        .select("eid", "rid").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      // model: min (t, rid) among right rows with same key, t >= left t
      val model = left.map { case (e, k, t) =>
        val cands = right.filter(r => r._2 == k && r._3 >= t)
        e -> (if (cands.isEmpty) -1L else cands.minBy(r => (r._3, r._1))._1)
      }.toMap
      assert(got == model, s"trial $trial")
    }
  }

  test("salted join equals the plain join on random keyed data incl. null keys (5 trials)") {
    import graft.operators.SaltedJoin
    for (trial <- 1 to 5) {
      val nKeys = 1 + rnd.nextInt(20)
      val fact = (0 until 300).map { i =>
        (i.toLong, if (rnd.nextInt(10) == 0) null.asInstanceOf[java.lang.Long]
                   else java.lang.Long.valueOf(rnd.nextInt(nKeys).toLong))
      }.toDF("row_id", "k")
      val dim = (0 until nKeys).map(k => (k.toLong, s"d$k")).toDF("dk", "name")
      val buckets = 2 + rnd.nextInt(15)
      val salted = SaltedJoin.join(fact, dim, "k", "dk", col("row_id"), buckets)
        .select("row_id", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val plain = fact.join(dim, col("k") === col("dk"))
        .select("row_id", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(salted == plain, s"trial $trial buckets=$buckets")
    }
  }

  test("interval join equals the filtered cross model on random data (5 trials)") {
    import graft.streaming.StreamJoin
    for (trial <- 1 to 5) {
      val nKeys = 1 + rnd.nextInt(4)
      val windowSec = 10L + rnd.nextInt(100)
      def side(n: Int) = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, 1000L + rnd.nextInt(300))
      }
      val ls = side(60); val rs = side(60)
      val lDf = ls.map { case (e, k, t) => (e, k, new Timestamp(t * 1000)) }.toDF("lid", "lk", "lt")
      val rDf = rs.map { case (e, k, t) => (e, k, new Timestamp(t * 1000)) }.toDF("rid", "rk", "rt")
      val got = StreamJoin.batch(lDf, rDf, "lk", "rk", "lt", "rt", windowSec)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val model = (for {
        (le, lk, lt) <- ls
        (re, rk, rt) <- rs
        if lk == rk && rt >= lt && rt <= lt + windowSec
      } yield (le, re)).sorted
      assert(got == model, s"trial $trial window=$windowSec")
    }
  }

  test("heavy hitters equals groupBy-HAVING on random zipf-ish data (5 trials)") {
    import graft.operators.Freq
    for (trial <- 1 to 5) {
      val vals = (0 until 2000).map { _ =>
        val z = rnd.nextInt(100) + 1
        s"v${100 / z}" // zipf-ish: small ids frequent
      }
      val minShare = 0.01 + rnd.nextDouble() * 0.2
      val df = spark.createDataset(vals).toDF("k").repartition(1 + rnd.nextInt(8))
      val got = Freq.heavyHitters(df, "k", minShare)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val threshold = math.ceil(minShare * vals.size).toLong
      val model = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= threshold)
      assert(got == model, s"trial $trial minShare=$minShare")
    }
  }

  test("batch sessionization equals the sort-and-split model (5 trials)") {
    val gapMin = 30
    for (trial <- 1 to 5) {
      val events = (0 until 200).map { i =>
        (i.toLong, rnd.nextInt(4).toLong,
          new Timestamp((100000L + rnd.nextInt(500) * 60L) * 1000L), rnd.nextInt(100) / 10.0)
      }
      val df = events.toDF("event_id", "user_id", "ts", "value")
      val got = Sessionize.batch(df, gapMin)
        .select("user_id", "session_idx", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // model: per user, sort by (tse, event_id), split on gap > 30min
      val model = events.groupBy(_._2).flatMap { case (user, evs) =>
        val sorted = evs.map(e => (e._3.getTime / 1000L, e._1)).sortBy(identity)
        val sessions = sorted.foldLeft(List.empty[List[(Long, Long)]]) { (acc, e) =>
          acc match {
            case cur :: rest if e._1 - cur.last._1 <= gapMin * 60L => (cur :+ e) :: rest
            case _ => List(e) :: acc
          }
        }.reverse
        sessions.zipWithIndex.map { case (s, i) =>
          (user, i.toLong, s.head._1, s.last._1, s.length.toLong)
        }
      }.toSet
      assert(got == model, s"trial $trial")
    }
  }

  test("bigram LM scoring equals the in-memory model on random corpora (5 trials)") {
    val vocab = Array("a", "b", "c", "d", "e")
    def mkDocs(n: Int, from: Int) = (0 until n).map { i =>
      ((from + i).toLong, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    for (trial <- 1 to 5) {
      val train = mkDocs(20, 0)
      val held = mkDocs(10, 100)
      val got = graft.operators.LangModel
        .scoreHeldOut(train.toDF("doc_id", "text"), held.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // model
      def bigrams(t: String) = { val w = t.split(" "); w.init.zip(w.tail) }
      val c12 = train.flatMap(d => bigrams(d._2)).groupBy(identity).view.mapValues(_.size).toMap
      val c1 = train.flatMap(d => bigrams(d._2)).groupBy(_._1).view.mapValues(_.size).toMap
      val v = train.flatMap(_._2.split(" ")).distinct.size
      def r6(x: Double) = math.round(x * 1e6) / 1e6
      val model = held.map { case (id, t) =>
        val bs = bigrams(t)
        val lps = bs.map(b => r6(math.log((c12.getOrElse(b, 0) + 1.0) / (c1.getOrElse(b._1, 0) + v))))
        id -> ((bs.length.toLong, lps.sum / bs.length))
      }.toMap
      for ((id, (n, s)) <- model) {
        assert(got(id)._1 == n, s"trial $trial doc $id n")
        assert(math.abs(got(id)._2 - s) < 1e-9, s"trial $trial doc $id score")
      }
    }
  }

  test("LOO 1-NN accuracy equals the exhaustive model on random vectors (5 trials)") {
    for (trial <- 1 to 5) {
      val dim = 4
      val rows = (0 until 60).map { i =>
        (i.toLong, Array.fill(dim)((rnd.nextInt(20) / 10.0f) - 1.0f), rnd.nextInt(3))
      }
      val got = graft.operators.KnnClassify
        .looAccuracy(rows.toDF("vec_id", "embedding", "label"), dim, queryMod = 5L)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      def d2(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      val model = rows.filter(_._1 % 5 == 0).map { case (qid, qe, qlabel) =>
        val nn = rows.filter(_._1 != qid)
          .minBy(r => (d2(qe, r._2), r._1))
        (qlabel, nn._3 == qlabel)
      }.groupBy(_._1).map { case (l, xs) =>
        (l, xs.size.toLong, xs.count(_._2).toLong)
      }.toSet
      assert(got == model, s"trial $trial")
    }
  }

  test("markov transitions equal the per-user sequence model on fixture events") {
    val got = SparkEntry.queries("events_markov_transitions")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = graft.core.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3).getTime / 1000L))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val seq = rows.sortBy(r => (r._4, r._2)).map(_._3)
      seq.init.zip(seq.tail)
    }
    val counts = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowTotals = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val model = counts.toSeq.map { case ((a, b), n) =>
      (a, b, n, n.toDouble / rowTotals(a))
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == model)
    assert(model.nonEmpty)
  }

  test("daily CUSUM equals the sequential fold model on fixture events") {
    val got = SparkEntry.queries("events_cusum_daily")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = graft.core.Tables.events(spark, sfDir).select("ts").collect()
      .groupBy(_.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
      .toSeq.sortBy(_._1.toEpochDay).map(_._2.length.toLong)
    val mean = round6(daily.sum.toDouble / daily.size.toDouble)
    // c_t = max(0, c_{t-1} + (x_t - mean)), reporting the running max of c
    val maxCusum = daily.foldLeft((0.0, 0.0)) { case ((c, m), n) =>
      val c2 = math.max(0.0, c + (n.toDouble - mean))
      (c2, math.max(m, c2))
    }._2
    assert(got == Seq((daily.size.toLong, mean, round6(maxCusum))))
    assert(maxCusum > 0.0)
  }

  test("winsorized monthly rollup: counts match plain rollup, sums clamped within band") {
    val rows = SparkEntry.queries("agg_winsorized_monthly")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val orders = graft.core.Tables.orders(spark, sfDir)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1)))
    val prices = orders.map(_._2).sorted
    def pct(p: Double): Double = { // matches percentile_cont interpolation
      val rank = p * (prices.length - 1)
      val lo = prices(rank.toInt)
      val hi = prices(math.min(rank.toInt + 1, prices.length - 1))
      lo + (rank - rank.toInt) * (hi - lo)
    }
    val (lo, hi) = (math.floor(pct(0.05)), math.ceil(pct(0.95)))
    val model = orders.groupBy { case (dt, _) => dt.getYear.toLong * 100 + dt.getMonthValue }
      .view.mapValues { os =>
        (os.size.toLong,
          os.map(o => BigDecimal(math.max(lo, math.min(hi, o._2)))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }.toMap
    assert(rows.length == model.size)
    rows.foreach { case (ym, n, tot) =>
      val (mn, mtot) = model(ym)
      assert(n == mn, s"ym $ym count")
      assert(math.abs(tot - mtot) < 1e-6, s"ym $ym total $tot vs $mtot")
    }
  }

  test("versioned store: random commit/checkpoint sequences replay every version exactly (3 trials)") {
    import graft.store.VersionedStore
    for (trial <- 1 to 3) {
      val root = java.nio.file.Files.createTempDirectory(s"graftvsmc$trial").toString
      // in-memory model: Map[id -> x] per version
      var model = Vector((0L until (2 + rnd.nextInt(4)).toLong)
        .map(i => i -> rnd.nextInt(100)).toMap)
      VersionedStore.init(model(0).toSeq.toDF("id", "x"), root)
      val nOps = 4 + rnd.nextInt(5)
      for (_ <- 1 to nOps) {
        if (rnd.nextInt(4) == 0) {
          // checkpoint: state unchanged, a new full version appears
          VersionedStore.checkpoint(spark, root, "id")
          model = model :+ model.last
        } else {
          // random batch: deletes of existing keys, upserts of random keys
          val cur = model.last
          val ids = (0L until 8L).toList
          val batch = rnd.shuffle(ids).take(1 + rnd.nextInt(4)).map { id =>
            val del = cur.contains(id) && rnd.nextInt(3) == 0
            (id, rnd.nextInt(100), del)
          }
          VersionedStore.commit(batch.toDF("id", "x", "is_delete"), root)
          val applied = batch.foldLeft(cur) { case (m, (id, x, del)) =>
            if (del) m - id else m + (id -> x)
          }
          model = model :+ applied
        }
      }
      // EVERY historical version must read back as its model state
      model.zipWithIndex.foreach { case (expected, v) =>
        val got = VersionedStore.readAsOf(spark, root, v, "id")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got === expected, s"trial $trial version $v")
      }
    }
  }
}
