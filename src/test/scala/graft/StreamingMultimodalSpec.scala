package graft

import graft.core.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class StreamingMultimodalSpec extends SparkSpecBase {

  test("multimodal: binary payload features are deterministic and complete") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() === 500)
    val r = feats.filter(col("media_id") === 0).collect()(0)
    assert(r.n_bytes > 0 && r.width >= 16 && r.height >= 16 && r.n_frames >= 1)
    // deterministic: second run identical
    val again = Multimodal.extractFeatures(media).filter(col("media_id") === 0).collect()(0)
    assert(again === r)
    // kinds partition by doc_id % 3
    assert(feats.filter(col("kind") === "video").count() > 0)
  }

  test("multimodal REAL frame counts: animated GIFs report their true frame count header-only") {
    import spark.implicits._
    val fx = Multimodal.gifFixture(spark)
    val f = Multimodal.extractFeaturesReal(fx, realIdMin = 0L)
      .collect().map(x => x.media_id -> x).toMap
    assert(f(1L).n_frames == 7 && f(1L).width == 4 && f(1L).height == 4)
    assert(f(2L).n_frames == 3)
    assert(f(3L).n_frames == 1, "a still PNG is one frame")
    // junk bytes: stub fallback, image kind -> 1 frame
    assert(f(4L).n_frames == 1)
    // decodeImageMeta is header-only and honors the same bomb guards
    val gif7 = fx.filter(col("media_id") === 1L).collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.decodeImageMeta(gif7).contains((4, 4, 7)))
    assert(Multimodal.decodeImageMeta(gif7, maxBytes = 4).isEmpty)
    assert(Multimodal.decodeImageMeta(gif7, maxPixels = 8L).isEmpty)
    // the stride plan over the real counts: 7 frames @ stride 2 -> 0,2,4,6
    val plan = Multimodal.frameSamplePlan(
        Multimodal.extractFeaturesReal(fx, realIdMin = 0L), stride = 2, kinds = Seq("image"))
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(plan.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 2, 4, 6))
    assert(plan.filter(_._1 == 2L).map(_._2).sorted.toSeq == Seq(0, 2))
    assert(plan.filter(_._1 == 3L).map(_._2).toSeq == Seq(0))
  }

  test("multimodal r16 guards: frame-count bomb cap, per-frame pixel check, structural id gate") {
    import spark.implicits._
    val fx = Multimodal.gifFixture(spark)
    val gif7 = fx.filter(col("media_id") === 1L).collect()(0).getAs[Array[Byte]]("payload")
    // maxFrames cap: a 7-frame GIF under a 4-frame cap rejects to the stub
    // (None) instead of counting the whole container
    assert(Multimodal.decodeImageMeta(gif7, maxFrames = 4).isEmpty)
    assert(Multimodal.decodeImageMeta(gif7, maxFrames = 8).contains((4, 4, 7)))
    // per-frame pixel guard: maxPixels = 15 < 16 = 4x4 rejects frame 0;
    // the later-frames check is covered by the incremental loop sharing
    // the exact same wi*hi > maxPixels predicate per frame index
    assert(Multimodal.decodeImageMeta(gif7, maxPixels = 15L).isEmpty)
    // structural gate: with the default realIdMin, fixture-range ids decode
    // for real while low ids — even with VALID image payloads — ride the
    // stub contract, so a corpus text payload can never override it
    val shifted = Seq((1L, "image", gif7),
        (Multimodal.RealDecodeIdMin + 1L, "image", gif7))
      .toDF("media_id", "kind", "payload")
    val byId = Multimodal.extractFeaturesReal(shifted)
      .collect().map(x => x.media_id -> x).toMap
    assert(byId(Multimodal.RealDecodeIdMin + 1L).n_frames == 7,
      "fixture-range id must really decode")
    val stub = Multimodal.extractFeatures(shifted.filter(col("media_id") === 1L))
      .collect()(0)
    assert(byId(1L) == stub, "low id must equal the stub path byte-exactly")
  }

  test("multimodal REAL decode: PNG/JPEG bytes yield true dimensions and pixel embeddings; others fall back to the stub") {
    import spark.implicits._
    def encode(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val junk = "definitely not an image payload".getBytes("UTF-8")
    val videoPng = encode("png", 20, 10, 0x123456)
    val media = Seq(
      (1L, "image", encode("png", 20, 10, 0xFFFFFF)),  // white PNG
      (2L, "image", encode("png", 7, 5, 0x000000)),    // black PNG
      (3L, "image", encode("jpg", 12, 9, 0x808080)),   // grey JPEG
      (4L, "image", junk),                             // undecodable → stub
      (5L, "video", videoPng)                          // non-image kind → stub
    ).toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeaturesReal(media, realIdMin = 0L).collect()
      .map(x => x.media_id -> x).toMap
    assert(f(1L).width == 20 && f(1L).height == 10 && f(1L).n_frames == 1)
    assert(f(2L).width == 7 && f(2L).height == 5)
    assert(f(3L).width == 12 && f(3L).height == 9)
    assert((f(4L).width, f(4L).height, f(4L).n_frames)
      == Multimodal.stubDecode(junk, "image"))
    // non-image kinds never hit the codec, even for decodable bytes
    assert((f(5L).width, f(5L).height, f(5L).n_frames)
      == Multimodal.stubDecode(videoPng, "video"))
    // pixel-luminance embedding: white = all mass in the top bucket,
    // black = all in bucket 0 (ITU-R 601 integer luminance)
    val emb = Multimodal.embedMediaDecoded(media, dim = 64).collect()
      .map(e => e.media_id -> e.embedding).toMap
    assert(emb(1L)(63) == 1.0f && emb(1L).count(_ != 0f) == 1)
    assert(emb(2L)(0) == 1.0f && emb(2L).count(_ != 0f) == 1)
    // undecodable and non-image rows equal the byte-histogram stub exactly
    val stubEmb = Multimodal.embedMedia(media, dim = 64).collect()
      .map(e => e.media_id -> e.embedding).toMap
    assert(emb(4L).toSeq == stubEmb(4L).toSeq)
    assert(emb(5L).toSeq == stubEmb(5L).toSeq)
    // a re-encoding of the same picture (PNG vs JPEG of solid grey) lands
    // at the SAME pixel embedding, where byte histograms would differ
    val regray = Seq((6L, "image", encode("png", 12, 9, 0x808080)))
      .toDF("media_id", "kind", "payload")
    val embPng = Multimodal.embedMediaDecoded(regray, 64).collect()(0).embedding
    assert(embPng.toSeq == emb(3L).toSeq)
    // decode-size guard: an over-limit payload refuses the codec (the
    // executor-OOM bound a real ingest pipeline sets) — stub fallback
    val bigPng = encode("png", 20, 10, 0xFFFFFF)
    assert(Multimodal.decodeImage(bigPng).isDefined)
    assert(Multimodal.decodeImage(bigPng, maxBytes = 10).isEmpty)
    // decompression-bomb guard: the DECLARED raster (header width×height,
    // no pixel decoded) is checked against maxPixels — a 20×10 image is
    // refused at a 100-pixel budget but passes at exactly 200
    assert(Multimodal.decodeImage(bigPng, maxPixels = 100L).isEmpty)
    assert(Multimodal.decodeImage(bigPng, maxPixels = 200L).isDefined)
  }

  test("multimodal: media embedding feeds the similarity engine (dup payload = own NN at dist 0)") {
    // duplicate one payload under a fresh id — the byte-histogram embedding
    // must make it its own nearest neighbor through the standard kNN stack
    val docs = Tables.documents(spark, sfDir).limit(40)
    val media = Multimodal.mediaFromDocuments(docs)
      .unionByName(Multimodal.mediaFromDocuments(
        docs.filter(col("doc_id") === 3).withColumn("doc_id", lit(9999L))))
    val emb = Multimodal.embedMedia(media, dim = 64).toDF()
      .select(col("media_id").as("vec_id"), col("embedding"), lit(0).as("label"))
    assert(emb.count() == 41)
    val q = emb.filter(col("vec_id") === 9999L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val top2 = graft.operators.Knn.bruteForce(emb,
        graft.functions.Distances.squaredL2Lit(col("embedding"), q), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(top2.map(_._1).toSet == Set(3L, 9999L), s"got ${top2.toSeq}")
    assert(top2.forall(_._2 == 0.0))
  }

  test("multimodal: exact dedup groups constructed duplicate payloads by digest") {
    // the driver fixture has no duplicate payloads (media_dedup_exact is
    // 0-row there), so exercise the digest/count/canonical path on
    // constructed duplicates: "alpha" x2 (ids 0,2), "beta" x3 (ids 1,4,5)
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha"), (1L, "beta"), (2L, "alpha"),
      (3L, "gamma"), (4L, "beta"), (5L, "beta")).toDF("doc_id", "text")
    val groups = Multimodal.dedupExactGroups(Multimodal.mediaFromDocuments(docs)).collect()
    assert(groups.length === 2)
    val byCanon = groups.map(r =>
      r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byCanon === Map(0L -> 2L, 1L -> 3L))
    // digest is md5 of the UTF-8 payload == DuckDB md5(text): oracle parity
    val md5Alpha = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(groups.map(_.getAs[String]("digest")).contains(md5Alpha))
  }

  test("multimodal: perceptual hash pairs re-encodings and small edits, isolates junk (r13)") {
    val ph = Multimodal.perceptualHash(Multimodal.phashFixture(spark))
      .collect().map(p => p.media_id -> p).toMap
    // real decode on the five decodable images; fallback on junk + non-image kind
    assert(Seq(1L, 2L, 3L, 4L, 7L).forall(ph(_).decoded == 1))
    assert(ph(5L).decoded == 0 && ph(6L).decoded == 0)
    // PNG and BMP re-encodings of one raster: identical hashes
    assert(ph(1L).phash == ph(2L).phash)
    assert(ph(3L).phash == ph(7L).phash)
    // the 3-flipped-block edit flips exactly 3 bits
    assert(java.lang.Long.bitCount(ph(1L).phash ^ ph(3L).phash) == 3)
    // inverted checkerboard is maximally far on the checker blocks
    assert(java.lang.Long.bitCount(ph(1L).phash ^ ph(4L).phash) == 64)
    // id 6 carries id 1's PNG BYTES but kind=audio: digest fallback, not
    // the pixel hash (the fallback contract)
    assert(ph(6L).phash != ph(1L).phash)
    // banded pairing at maxHamming 8: exactly the derivable six pairs
    val pairs = graft.operators.Dedup.bandedHammingPairs(
        Multimodal.perceptualHash(Multimodal.phashFixture(spark)).toDF(),
        "phash", "media_id", maxHamming = 8, sigBits = 64)
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0), (1L, 3L, 3), (1L, 7L, 3),
      (2L, 3L, 3), (2L, 7L, 3), (3L, 7L, 0)))
  }

  test("multimodal: frame sampling plan only covers video with stride steps") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir).limit(30))
    val feats = Multimodal.extractFeatures(media)
    val plan = Multimodal.frameSamplePlan(feats, stride = 10)
    val rows = plan.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("frame_idx") % 10 === 0)
      assert(r.getAs[Int]("frame_idx") < r.getAs[Int]("n_frames"))
    }
  }
}
