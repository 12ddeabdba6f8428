package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video ride as opaque `BINARY`
  * columns with typed metadata, processed per-partition in batches. The
  * decode step is a clearly-marked deterministic STUB (no codec libraries
  * in this environment); the Spark-side machinery — schema, batch shape,
  * partition-parallel processing, feature schema — is real and tested, so a
  * real decoder drops in by replacing [[stubDecode]] only.
  *
  * Scale: per-row independent work ⇒ embarrassingly parallel; binary
  * payloads stay columnar in parquet; feature extraction streams partition
  * by partition with no shuffle.
  */
object Multimodal {

  /** Typed metadata carried next to every binary payload. */
  final case class MediaMeta(media_id: Long, kind: String, declaredBytes: Long)
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, width: Int, height: Int, n_frames: Int)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Deterministic fake "decode": derives pseudo width/height/frames from
    * the payload bytes. STUB — replace with a real codec (e.g. javax.imageio
    * / ffmpeg bindings) in production; signature and batch shape stay. */
  def stubDecode(payload: Array[Byte], kind: String): (Int, Int, Int) = {
    val h = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
    val w = 16 + math.floorMod(h, 1024).toInt
    val ht = 16 + math.floorMod(h >> 10, 1024).toInt
    val frames = kind match {
      case "video" => 1 + math.floorMod(h >> 20, 300).toInt
      case "audio" => 1 + math.floorMod(h >> 20, 48000).toInt
      case _ => 1
    }
    (w, ht, frames)
  }

  /** Partition-parallel feature extraction over (media_id, kind, payload)
    * rows. Batch shape: one partition = one iterator pass, constant memory.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val checksum = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
          val (w, h, f) = stubDecode(payload, kind)
          MediaFeatures(id, kind, payload.length.toLong, checksum, w, h, f)
        }
      }
  }

  /** REAL image decode (r11): `javax.imageio` ships in the JDK, so
    * PNG/JPEG/BMP/GIF payloads decode with zero external dependencies —
    * the "stub decoder is the documented swap-in" promise, cashed for the
    * image kind. Returns None for anything ImageIO cannot read (non-image
    * kinds, truncated bytes) so callers can fall back to [[stubDecode]].
    * ImageIO is headless-safe; the reader allocates per call, which is the
    * right trade for payloads of arbitrary size (no shared mutable state
    * across executor threads).
    * Two guards bound the decode (oversized payloads fall back to the
    * stub like undecodable ones):
    *   - `maxBytes` on the ENCODED payload — cheap first gate;
    *   - `maxPixels` on the DECLARED raster, read from the image HEADER
    *     (`ImageReader.getWidth/getHeight` parse metadata only) before any
    *     full decode. The byte check alone does not deliver raster safety:
    *     a decompression-bomb PNG (a solid-color 60k×60k image compressing
    *     to a few MB) passes a 64 MB byte gate yet allocates a multi-GB
    *     BufferedImage inside `ImageIO.read` — the header check refuses it
    *     without decoding a pixel. 64 MPix ≈ 256 MB of ARGB raster, the
    *     per-task ceiling a real ingest pipeline budgets for. */
  /** Image input stream over in-memory bytes WITHOUT ImageIO's default
    * disk cache: `createImageInputStream` would build a
    * FileCacheImageInputStream (a temp-file create/delete per call) even
    * for a ByteArrayInputStream — pure waste when every payload is
    * already a byte array, and a per-row executor-disk hit on the corpus
    * paths (media_features runs this over every image-kind row). */
  private def memStream(payload: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))

  def decodeImage(payload: Array[Byte],
      maxBytes: Int = 64 << 20,
      maxPixels: Long = 64L << 20): Option[java.awt.image.BufferedImage] =
    if (payload.length > maxBytes) None
    else try {
      val iis = memStream(payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val declared = reader.getWidth(0).toLong * reader.getHeight(0).toLong
            if (declared > maxPixels) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Throwable => None }

  /** Id floor above which [[extractFeaturesReal]] attempts the real codec
    * by default: the declared gated queries union text-payload corpus rows
    * (stub contract, ids < 1e9) with id-shifted decode fixtures (+1e9), and
    * the stub-vs-real choice must be STRUCTURAL, not data luck — a corpus
    * text payload that happens to start with an image magic ('BM', 'GIF8')
    * can satisfy the header-only decoder with garbage dims and diverge
    * from the stub-replay oracle (r15 advisor finding). */
  val RealDecodeIdMin: Long = 1000000000L

  /** [[extractFeatures]] with the REAL decoder on the image path: width/
    * height come from the actual decoded raster (frames = 1 for stills);
    * payloads that don't decode — and non-image kinds, which have no JDK
    * codec — keep the deterministic stub's pseudo-dimensions, so a mixed
    * corpus never throws. Same schema, same partition-parallel batch
    * shape. The DECLARED `media_features` query runs THIS path: the real
    * codec fires on the id-shifted decode-fixture rows (`media_id >=
    * realIdMin`) and corpus rows ride the stub contract BY CONSTRUCTION —
    * not because their text payloads happen to fail the header parse
    * (r16: the r15 form attempted the header-only decode on every image
    * row, so a text payload starting with an image magic would have
    * produced garbage real dims and a hash-gate divergence).
    * `media_frame_sample_real` passes `realIdMin = 0` — its input is
    * entirely the decode fixture. */
  def extractFeaturesReal(media: DataFrame,
      realIdMin: Long = RealDecodeIdMin): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val checksum = payload.foldLeft(17L)((acc, b) => acc * 31 + (b & 0xff))
          val decoded =
            if (kind == "image" && id >= realIdMin) decodeImageMeta(payload) else None
          val (w, h, f) = decoded match {
            case Some((wd, ht, nf)) => (wd, ht, nf)
            case None => stubDecode(payload, kind)
          }
          MediaFeatures(id, kind, payload.length.toLong, checksum, w, h, f)
        }
      }
  }

  /** Header-level REAL decode metadata: (width, height, n_frames) with the
    * frame count read from the container (`ImageReader.getNumImages` —
    * REAL multi-frame counting for animated GIFs, the one multi-frame
    * format with a JDK codec; stills report 1). Parses metadata only —
    * no pixel is decoded — so it is the cheap pass a 100 TB manifest
    * build runs before any sampling/decode stage. Same bomb guards as
    * [[decodeImage]]. */
  def decodeImageMeta(payload: Array[Byte],
      maxBytes: Int = 64 << 20,
      maxPixels: Long = 64L << 20,
      maxFrames: Int = 4096): Option[(Int, Int, Int)] =
    if (payload.length > maxBytes) None
    else try {
      val iis = memStream(payload)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            // seekForwardOnly = false: frame counting walks the container
            reader.setInput(iis, false, true)
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w.toLong * h.toLong > maxPixels) None
            else {
              // r16 frame-bomb guard: the r15 form called
              // getNumImages(true), which scans the WHOLE stream before
              // any check — an animated GIF with a tiny first frame but
              // many/huge later frames bypassed the pixel guard (bounded
              // only by maxBytes). Count frames incrementally instead:
              // every frame's declared dims are checked against maxPixels,
              // and counting stops at maxFrames — both bombs now reject
              // to the stub fallback (None) with bounded work.
              var n = 1; var bomb = false; var done = false
              while (!done && !bomb && n < maxFrames) {
                val dims =
                  try Some((reader.getWidth(n).toLong, reader.getHeight(n).toLong))
                  catch { case _: IndexOutOfBoundsException => None }
                dims match {
                  case Some((wi, hi)) =>
                    if (wi * hi > maxPixels) bomb = true else n += 1
                  case None => done = true
                }
              }
              if (bomb || n >= maxFrames) None else Some((w, h, n))
            }
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Throwable => None }

  /** Multi-frame animated-GIF encoder for the real-frame fixtures: each
    * frame is appended as its own image block via `writeToSequence`, so
    * the REAL codec path ([[decodeImageMeta]]'s `getNumImages`) counts
    * exactly `frames.size`. */
  def encodeAnimatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Per-payload REAL-decode stats for the gated `media_decode_real` query:
    * width/height/frames from the actual decoded raster plus the integer
    * mean ITU-R 601 luminance over ALL pixels — values a fixture-side
    * expected table can assert exactly for lossless formats (PNG/BMP/GIF).
    * Rows the codec refuses (junk bytes, non-image kinds, over-budget
    * rasters) come back as decoded = 0 with -1 dimensions, so the fallback
    * is observable without baking stub internals into the oracle. */
  final case class MediaDecodeStats(media_id: Long, decoded: Int,
      width: Int, height: Int, n_frames: Int, luma: Int)

  def decodeStats(media: DataFrame): Dataset[MediaDecodeStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val img = if (kind == "image") decodeImage(payload) else None
          img match {
            case Some(im) =>
              val w = im.getWidth; val h = im.getHeight
              var sum = 0L; var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = im.getRGB(x, y)
                  sum += (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
                    114 * (p & 0xff)) / 1000
                  x += 1
                }
                y += 1
              }
              MediaDecodeStats(id, 1, w, h, 1, (sum / (w.toLong * h)).toInt)
            case None => MediaDecodeStats(id, 0, -1, -1, -1, -1)
          }
        }
      }
  }

  /** Deterministic REAL-codec fixture: solid-color PNG/BMP/GIF payloads
    * encoded driver-side with `javax.imageio` (lossless formats only, so
    * decoded pixel values are exact), one junk-bytes row and one
    * decodable-bytes-but-non-image-kind row for the fallback contract.
    * Feeds the declared `media_decode_real` query, whose oracle is the
    * corresponding expected-value table. */
  /** The [[realDecodeFixture]] rows as plain data — callable driver-side
    * so oracle builders can derive expected checksums/byte counts from
    * the SAME payload bytes the executors decode (the encoder output is
    * deterministic within one JVM run, which is the scope of a Verify
    * round-trip). Declared dims per row: 8x5, 20x10, 12x7, 9x9, 16x4. */
  def realDecodeFixtureRows: Seq[(Long, String, Array[Byte])] = {
    def encode(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    Seq(
      (1L, "image", encode("png", 8, 5, 0xFFFFFF)),   // luma 255
      (2L, "image", encode("png", 20, 10, 0x000000)), // luma 0
      (3L, "image", encode("bmp", 12, 7, 0x808080)),  // luma 128
      (4L, "image", encode("gif", 9, 9, 0xFF0000)),   // luma 299·255/1000 = 76
      (5L, "image", encode("png", 16, 4, 0x123456)),  // luma 45710/1000 = 45
      (6L, "image", "definitely not an image payload".getBytes("UTF-8")),
      (7L, "audio", encode("png", 6, 6, 0xFFFFFF))    // non-image kind: no codec
    )
  }

  def realDecodeFixture(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    realDecodeFixtureRows.toDF("media_id", "kind", "payload")
  }

  final case class MediaPHash(media_id: Long, decoded: Int, phash: Long)

  /** Average-hash perceptual fingerprint over REAL decoded pixels (r13):
    * the raster is cut into an 8×8 grid of blocks; bit (by·8+bx) is set
    * iff block (bx, by)'s mean ITU-R 601 luminance exceeds the GLOBAL
    * pixel mean — compared cross-multiplied in exact integer arithmetic
    * (blockSum·totalPixels > globalSum·blockPixels), so no division
    * rounding can flip a bit. Re-encodings of one image in lossless
    * formats (PNG↔BMP) decode to identical rasters → identical hashes;
    * a few edited blocks flip exactly those bits → small Hamming
    * distance, pairable by [[graft.operators.Dedup.bandedHammingPairs]].
    * Payloads the codec refuses (junk bytes, non-image kinds, over-budget
    * rasters) fall back DETERMINISTICALLY to the first 8 bytes of
    * md5(payload) with decoded = 0 — junk pairs only with byte-identical
    * junk. Per-row independent work: embarrassingly parallel, no shuffle. */
  def perceptualHash(media: DataFrame): Dataset[MediaPHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val img = if (kind == "image") decodeImage(payload) else None
          img match {
            case Some(im) =>
              val w = im.getWidth; val h = im.getHeight
              val blockSum = new Array[Long](64)
              val blockN = new Array[Long](64)
              var globalSum = 0L
              var y = 0
              while (y < h) {
                val by = math.min(7, y * 8 / h)
                var x = 0
                while (x < w) {
                  val bx = math.min(7, x * 8 / w)
                  val p = im.getRGB(x, y)
                  val lum = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
                    114 * (p & 0xff)) / 1000
                  val b = by * 8 + bx
                  blockSum(b) += lum; blockN(b) += 1; globalSum += lum
                  x += 1
                }
                y += 1
              }
              val totalN = w.toLong * h
              var bits = 0L
              var b = 0
              while (b < 64) {
                if (blockN(b) > 0 && blockSum(b) * totalN > globalSum * blockN(b))
                  bits |= 1L << b
                b += 1
              }
              MediaPHash(id, 1, bits)
            case None =>
              val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
              var bits = 0L
              var i = 0
              while (i < 8) { bits = (bits << 8) | (d(i) & 0xffL); i += 1 }
              MediaPHash(id, 0, bits)
          }
        }
      }
  }

  /** Deterministic REAL-pixel near-dup fixture for `media_phash_real`:
    * block-structured 32×32 grayscale images (8×8 blocks of 4×4 px, each
    * block solid 0 or 255 — gray (v,v,v) has ITU-R 601 luma exactly v), so
    * every [[perceptualHash]] bit is decidable by hand: bit b = block b is
    * 255 (the global mean always sits strictly between 0 and 255).
    *   1 checkerboard PNG          — bits = even-parity blocks
    *   2 same pixels as BMP        — identical raster → Hamming(1,2) = 0
    *   3 checkerboard, 3 blocks flipped 0→255 (b 1, 3, 5), PNG → Hamming 3
    *   7 same pixels as 3, BMP     — Hamming(3,7) = 0, (1,7) = (2,7) = 3
    *   4 INVERTED checkerboard PNG — Hamming ≥ 58 vs everything: no pair
    *   5 junk bytes                — md5 fallback, unique: no pair
    *   6 non-image kind (PNG bytes)— no JDK codec for 'audio': fallback
    * Expected pairs at maxHamming 8: (1,2,0) (1,3,3) (1,7,3) (2,3,3)
    * (2,7,3) (3,7,0) — the oracle's expected-value table. */
  def phashFixture(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    def blockImage(fmt: String, bright: Int => Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val b = (y / 4) * 8 + (x / 4)
          img.setRGB(x, y, if (bright(b)) 0xFFFFFF else 0x000000)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val checker = (b: Int) => (b / 8 + b % 8) % 2 == 0
    val flipped = (b: Int) => checker(b) || b == 1 || b == 3 || b == 5
    Seq(
      (1L, "image", blockImage("png", checker)),
      (2L, "image", blockImage("bmp", checker)),
      (3L, "image", blockImage("png", flipped)),
      (4L, "image", blockImage("png", b => !checker(b))),
      (5L, "image", "not an image at all, definitely".getBytes("UTF-8")),
      (6L, "audio", blockImage("png", checker)),
      (7L, "image", blockImage("bmp", flipped))
    ).toDF("media_id", "kind", "payload")
  }

  /** 32-byte junk payload for [[embedKnnFixture]]: 32 = a power of two, so
    * the byte-histogram fallback masses are k/32 — exactly representable
    * in FLOAT, which keeps the expected-value oracle bit-exact. */
  val EmbedJunk: String = "0123456789abcdefghijklmnopqrstuv"

  /** Deterministic REAL-pixel retrieval fixture for `media_embed_knn`:
    * 32×32 grayscale rasters (gray (v,v,v) has ITU-R 601 luma exactly v)
    * whose [[embedMediaDecoded]] dim=8 luminance histograms are known by
    * construction, with every mass k/1024 — dyadic, so the FLOAT
    * histogram equals the oracle's DOUBLE literal bit-for-bit:
    *   1 PNG  half 0 / half 255      → [.5, 0,0,0,0,0,0, .5]
    *   2 BMP  same raster            → identical embedding (dist-0 tie,
    *                                    id tie-break vs 1)
    *   3 PNG  3/4 luma 0, 1/4 255    → [.75, 0,…,0, .25]
    *   4 PNG  all luma 128           → bucket 4 = 1
    *   5 PNG  row gradient luma 8y   → uniform 0.125 per bucket
    *   6 junk bytes ([[EmbedJunk]])  → byte-histogram fallback, masses k/32
    * Real javax.imageio decode on the image rows; the query ranks these
    * against a literal query histogram through the same exact-L2 kNN the
    * text embeddings use. */
  def embedKnnFixture(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    def gray(fmt: String, lumaAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val v = lumaAt(x, y) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    Seq(
      (1L, "image", gray("png", (_, y) => if (y < 16) 0 else 255)),
      (2L, "image", gray("bmp", (_, y) => if (y < 16) 0 else 255)),
      (3L, "image", gray("png", (_, y) => if (y < 8) 255 else 0)),
      (4L, "image", gray("png", (_, _) => 128)),
      (5L, "image", gray("png", (_, y) => y * 8)),
      (6L, "image", EmbedJunk.getBytes("UTF-8"))
    ).toDF("media_id", "kind", "payload")
  }

  /** Exact binary dedup: group payloads by md5 digest, keep groups with ≥2
    * copies, canonical = min media_id. The digest a 100 TB blob store dedups
    * on — one hash-shuffle on the 16-byte digest, never on the payload.
    * md5 of a UTF-8 payload equals DuckDB's `md5(text)` of the source text
    * (the oracle-parity contract; exercised on constructed duplicates in
    * StreamingMultimodalSpec since the driver fixture has none). */
  def dedupExactGroups(media: DataFrame): DataFrame =
    media.groupBy(md5(col("payload")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("canonical_id"))
      .filter(col("n_copies") >= 2)
      .orderBy(col("digest"))

  /** Build a synthetic media table from the documents fixture (text bytes
    * as payload) — exercises the binary plumbing end-to-end with real
    * columnar binary data. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      (when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      col("text").cast(BinaryType).as("payload"))

  final case class ResizedMedia(
      media_id: Long, kind: String, width: Int, height: Int, payload: Array[Byte])

  /** Resize: deterministic strided byte-resample of the payload to a
    * targetW×targetH "pixel" grid (1 byte/px). STUB for a real scaler —
    * the binary-in/binary-out partition-parallel plumbing (what survives a
    * real codec swap) is the tested part. Output payload is exactly
    * targetW*targetH bytes; empty inputs produce a zero grid. */
  def resize(media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    val n = targetW * targetH
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val out = new Array[Byte](n)
          if (payload.nonEmpty) {
            var i = 0
            while (i < n) {
              out(i) = payload(((i.toLong * payload.length) / n).toInt)
              i += 1
            }
          }
          ResizedMedia(id, kind, targetW, targetH, out)
        }
      }
  }

  final case class MediaEmbedding(media_id: Long, kind: String, embedding: Array[Float])

  /** Media → vector bridge into the similarity engine: a deterministic
    * byte-histogram embedding (normalized `dim`-bucket histogram of the
    * payload). STUB for a learned visual/audio encoder — what survives the
    * swap is the shape: binary in, `ARRAY<FLOAT>` out, partition-parallel,
    * feeding the same Grid/Knn/Ann/Pq stack as text embeddings (near-dup
    * images cluster because their byte distributions match). */
  def embedMedia(media: DataFrame, dim: Int = 64): Dataset[MediaEmbedding] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val counts = new Array[Int](dim)
          var i = 0
          while (i < payload.length) {
            counts(math.floorMod(payload(i).toInt, dim)) += 1
            i += 1
          }
          val n = math.max(1, payload.length).toFloat
          MediaEmbedding(id, kind, counts.map(_ / n))
        }
      }
  }

  /** [[embedMedia]] with the REAL decoder on the image path: decodable
    * images embed as a normalized `dim`-bucket LUMINANCE histogram of the
    * actual pixels (ITU-R 601 integer weights — deterministic, no float
    * colorspace math), so two re-encodings of the same picture land near
    * each other where their byte histograms would not. Everything else
    * falls back to the byte-histogram stub. Output contract identical:
    * `ARRAY<FLOAT>` summing to 1, feeding the same Grid/Knn/Ann/Pq stack. */
  def embedMediaDecoded(media: DataFrame, dim: Int = 64): Dataset[MediaEmbedding] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, payload) =>
          val decoded = if (kind == "image") decodeImage(payload) else None
          decoded match {
            case Some(img) =>
              val counts = new Array[Int](dim)
              val w = img.getWidth; val h = img.getHeight
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val lum = (((rgb >> 16) & 0xff) * 299 +
                    ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                  counts(lum * dim / 256) += 1
                  x += 1
                }
                y += 1
              }
              val n = math.max(1, w * h).toFloat
              MediaEmbedding(id, kind, counts.map(_ / n))
            case None =>
              val counts = new Array[Int](dim)
              var i = 0
              while (i < payload.length) {
                counts(math.floorMod(payload(i).toInt, dim)) += 1
                i += 1
              }
              val n = math.max(1, payload.length).toFloat
              MediaEmbedding(id, kind, counts.map(_ / n))
          }
        }
      }
  }

  /** Frame sampling plan for multi-frame payloads: every `stride`-th frame
    * index — pure plan, no decode. `kinds` selects which media kinds are
    * frame-addressable (default video; pass `Seq("image")` for animated
    * GIFs whose REAL frame counts come from [[decodeImageMeta]]). */
  def frameSamplePlan(features: Dataset[MediaFeatures], stride: Int,
      kinds: Seq[String] = Seq("video")): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val ks = kinds.toSet
    features.filter(f => ks.contains(f.kind))
      .select(col("media_id"), col("n_frames"))
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
  }

  /** Deterministic multi-frame fixture for the REAL frame-count path:
    * animated GIFs with known frame counts (encoded driver-side with the
    * JDK's own GIF writer, decoded on executors by [[decodeImageMeta]]'s
    * `getNumImages`), one still PNG (1 frame), and one junk-bytes row
    * that falls back to [[stubDecode]] (image kind → 1 frame). Expected
    * frame counts are the fixture constants, so the sampling plan's
    * oracle is a literal table. */
  def gifFixture(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    def frame(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 4) { var x = 0; while (x < 4) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      img
    }
    def anim(n: Int): Array[Byte] =
      encodeAnimatedGif((0 until n).map(i => frame(0x111111 * (i % 8))))
    def still(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(frame(0x808080), "png", bos), "no png writer")
      bos.toByteArray
    }
    Seq(
      (1L, "image", anim(7)),
      (2L, "image", anim(3)),
      (3L, "image", still()),
      (4L, "image", "not an image at all".getBytes("UTF-8"))
    ).toDF("media_id", "kind", "payload")
  }
}
