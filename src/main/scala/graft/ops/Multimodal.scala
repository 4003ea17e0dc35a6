package graft.ops

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Boundaries
import graft.Tables.table

/** §2j multimodal column plumbing (SURVEY §2j).
  *
  * Media assets are opaque `binary` columns travelling next to typed
  * metadata; decode / feature-extraction is per-row imperative work done by
  * a codec at the executors. The image keys run a REAL decode — PNG bytes
  * through `javax.imageio` (public JDK, no extra deps) — over a
  * deterministic synthetic-image fixture:
  *
  *  - the FIXTURE writer plants, per document, an RGB image whose
  *    dimensions and per-pixel channel values are pure arithmetic in
  *    (doc_id, x, y) ([[imgWidth]]/[[pixel]]), encoded as PNG by a
  *    hand-rolled minimal writer ([[encodePng]]: IHDR/IDAT/IEND +
  *    Deflater + CRC32 — deliberately NOT ImageIO, so encode and decode
  *    are independent implementations);
  *  - the OPERATORS ([[decodeImages]], [[resizeImages]]) know nothing of
  *    the planting: they decode whatever PNG bytes arrive and emit
  *    dimensions / channel sums / a strided-downsample thumbnail;
  *  - the DuckDB twins recompute the planted arithmetic directly, so a
  *    hash match proves the executor-side decode actually read the pixels
  *    (a digest or a stubbed decode cannot reproduce the planted sums).
  *
  * Scale shape: decode is per-row work inside a typed `mapPartitions`
  * batch loop (the Scala analog of an arrow-batched `mapInPandas` decode)
  * — zero shuffle, embarrassingly parallel, the binary column rides
  * parquet exactly as a 100 TB image corpus would. The fixture stands in
  * for that corpus because the harness tables carry no binary media
  * column; it is built once per corpus (content-fingerprinted, atomically
  * published — the `landedEvents` discipline).
  */
object Multimodal {

  /** Planted image parameters — the shared contract between the fixture
    * writer and the DuckDB twins (change both together). Dimensions stay
    * in 8..16 × 8..14 so the twins' per-pixel recomputation is cheap at
    * any harness scale factor.
    */
  private[graft] def imgWidth(docId: Long): Int = 8 + (docId % 9).toInt
  private[graft] def imgHeight(docId: Long): Int = 8 + ((docId * 3) % 7).toInt

  /** Planted (r, g, b) at (x, y) — distinct coefficient triples per
    * channel so a channel swap or a transposed axis cannot cancel out.
    */
  private[graft] def pixel(docId: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((x * 7 + y * 11 + docId * 13) % 256).toInt,
    ((x * 5 + y * 3 + docId * 17) % 256).toInt,
    ((x * 2 + y * 5 + docId * 23) % 256).toInt)

  /** Minimal PNG encoder: 8-bit truecolor (color type 2), no interlace,
    * filter 0 per scanline, one IDAT. Hand-rolled over `java.util.zip`
    * precisely so the decode operators' `ImageIO` path is exercised
    * against an INDEPENDENT writer — a round-trip through one library
    * would prove nothing about either side.
    */
  private[graft] def encodePng(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, s"invalid dimensions ${w}x$h")
    val raw = new Array[Byte](h * (1 + w * 3))
    var idx = 0
    var y = 0
    while (y < h) {
      raw(idx) = 0 // filter type 0 (None) for this scanline
      idx += 1
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(x, y)
        raw(idx) = r.toByte; raw(idx + 1) = g.toByte; raw(idx + 2) = b.toByte
        idx += 3
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zipped = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished())
      zipped.write(buf, 0, deflater.deflate(buf))
    deflater.end()

    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(tb).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
      .array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++
      chunk("IDAT", zipped.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** The per-corpus image fixture: one `(doc_id, png binary)` parquet row
    * per document, PNG content planted from [[imgWidth]]/[[pixel]].
    * Content-fingerprinted against the documents table and atomically
    * published (the `landedEvents` discipline), so a regenerated corpus
    * rebuilds the fixture instead of serving stale bytes.
    */
  private def imageFixture(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.ImageFixtureCache, sfDir,
      new File(s"$sfDir/documents.parquet")) { tmp =>
      val spark2 = spark
      import spark2.implicits._
      table(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            require(id >= 0, s"fixture planting assumes doc_id >= 0, got $id")
            (id, encodePng(imgWidth(id), imgHeight(id), pixel(id, _, _)))
          }
        }
        .toDF("doc_id", "png")
        .write.mode("overwrite").parquet(tmp.getPath)
    }
  }

  /** The harness image-asset relation: `(doc_id, png binary)`. */
  def imageAssets(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(imageFixture(spark, sfDir))

  /** Planted solid color for the JPEG fixture — per-doc DISTINCT channel
    * means spread over the full 0..255 range, so the lossy-decode
    * certificate ([[mmDecodeJpeg]]) cannot be satisfied by any decoder
    * that didn't read the actual bytes (unlike the gradient planting,
    * whose corpus-wide means all sit near 127.5, a solid per-doc color is
    * unguessable without decoding).
    */
  private[graft] def jpegColor(docId: Long): (Int, Int, Int) = (
    ((docId * 37 + 11) % 256).toInt,
    ((docId * 59 + 7) % 256).toInt,
    ((docId * 83 + 3) % 256).toInt)

  /** Lossy-decode mean tolerance (units per channel mean): a solid-color
    * JPEG decodes DC-only, so the error budget is the luma DC quantization
    * half-step (~4 at ImageIO's default quality) PLUS the chroma DC error
    * amplified by the YCbCr→RGB conversion (×1.402 for Cr into R, ×1.772
    * for Cb into B) and clamping near 0/255 — the theoretical worst case
    * reaches ~10 per channel, so a tolerance of 8 was only empirically
    * safe on the current doc_id-derived colors (the round-11 advisor
    * finding: a regenerated corpus could land a color whose decoded mean
    * exceeds 8 with a CORRECT decoder). 12 covers the worst case with
    * margin while staying far below the ≥ 37-unit spacing of neighboring
    * planted colors, so the certificate still cannot be satisfied without
    * decoding the actual bytes.
    */
  private[graft] val JpegMeanTol = 12L

  /** The per-corpus JPEG fixture: `(doc_id, jpeg binary)`, one solid-color
    * image per document (same dims arithmetic as the PNG fixture), encoded
    * through ImageIO's real JPEG writer. Same content-fingerprint +
    * atomic-publish discipline as [[imageFixture]].
    */
  private def jpegFixture(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.JpegFixtureCache, sfDir,
      new File(s"$sfDir/documents.parquet")) { tmp =>
      val spark2 = spark
      import spark2.implicits._
      table(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ImageIO.setUseCache(false)
          ids.map { id =>
            require(id >= 0, s"fixture planting assumes doc_id >= 0, got $id")
            val (w, h) = (imgWidth(id), imgHeight(id))
            val (r, g, b) = jpegColor(id)
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val argb = (r << 16) | (g << 8) | b
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, argb); x += 1 }
              y += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            require(ImageIO.write(img, "jpg", out),
              "no JPEG writer available in this JRE")
            (id, out.toByteArray)
          }
        }
        .toDF("doc_id", "jpeg")
        .write.mode("overwrite").parquet(tmp.getPath)
    }
  }

  /** The harness JPEG-asset relation: `(doc_id, jpeg binary)`. */
  def jpegAssets(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(jpegFixture(spark, sfDir))

  /** `mm_decode_jpeg` checked key: real JPEG decode through the same
    * ImageIO executor path as [[mmDecode]], certified for a LOSSY codec —
    * exact decoded dimensions plus `px_ok`, the certificate that every
    * decoded channel MEAN is within [[JpegMeanTol]] of the planted
    * per-doc solid color (per-pixel exactness is the PNG key's job; a
    * lossy codec promises the signal, not the bits). The DuckDB twin
    * recomputes the dims arithmetic and pins `px_ok` TRUE — only a real
    * decode of the bytes can hit 500 per-doc colors spread over 0..255.
    */
  def mmDecodeJpeg(spark: SparkSession, sfDir: String): DataFrame = {
    def planted(mul: Long, add: Long) = (col("doc_id") * mul + add) % 256
    def chanOk(sumCol: String, mul: Long, add: Long) =
      abs(col(sumCol) - planted(mul, add) * col("n_px")) <=
        lit(JpegMeanTol) * col("n_px")
    decodeImages(jpegAssets(spark, sfDir), payloadCol = "jpeg")
      .withColumn("n_px",
        col("width").cast(LongType) * col("height").cast(LongType))
      .withColumn("px_ok",
        chanOk("sum_r", 37L, 11L) && chanOk("sum_g", 59L, 7L) &&
          chanOk("sum_b", 83L, 3L))
      .select(col("doc_id"), col("width"), col("height"), col("px_ok"))
      .orderBy(col("doc_id"))
  }

  /** `mm_decode` checked key: real PNG decode over the image fixture —
    * per image, its decoded dimensions and exact per-channel pixel sums.
    * The DuckDB twin recomputes the planted arithmetic per pixel, so a
    * hash match certifies the decoder read every pixel of every image.
    */
  def mmDecode(spark: SparkSession, sfDir: String): DataFrame =
    decodeImages(imageAssets(spark, sfDir)).orderBy(col("doc_id"))

  // ------------------------------------------------ perceptual hashing ----

  /** Perceptual-hash grid: images downsample to [[PhashGridW]]×[[PhashGridH]]
    * cell means, hashed by [[PhashGridW]]−1 horizontal comparisons per row
    * — 64 bits, the classic dHash layout.
    */
  private[graft] val PhashGridW = 9
  private[graft] val PhashGridH = 8

  /** Margin (gray units) a cell mean must exceed its right neighbor by to
    * set a hash bit. Textbook dHash uses a bare `>`, which makes every bit
    * whose neighbors are near-equal a coin flip under lossy re-encoding;
    * the margin keeps each bit decided by ≥ `PhashMargin` of signal, so
    * codec noise an order of magnitude smaller (JPEG cell-mean error is
    * single-digit at these cell sizes) cannot flip it. The planted noise
    * fixture separates cell levels by 130 units — 3× the margin.
    */
  private[graft] val PhashMargin = 45

  /** Planted noise-fixture geometry: large enough that every downsample
    * cell holds ≥ 4×4 pixels (JPEG ringing averages out inside a cell).
    */
  private[graft] def noiseWidth(docId: Long): Int = 36 + (docId % 9).toInt * 2
  private[graft] def noiseHeight(docId: Long): Int =
    32 + ((docId * 3) % 7).toInt * 2

  /** Noise-fixture cell LEVEL (gray 60 or 190) at grid cell (cx, cy): an
    * md5-derived bit of `<salt>:<doc>:<cx>:<cy>` — the split_hash conv
    * discipline, so the DuckDB twin recomputes the identical bit and the
    * pattern has full per-doc entropy (a mod-N arithmetic pattern caps the
    * number of distinct hashes at N; md5 doesn't). Every pixel of the cell
    * carries the level on all three channels (gray), so the boxed mean is
    * exactly the level for a lossless codec and within single digits for
    * a lossy one. Salt `img` is the corpus pattern; salt `img2` generates
    * the INDEPENDENT batch-new patterns (measured geometry: min hamming 6
    * across salts, 9 within img2, through 5000 docs — both safely past
    * the ≤ 3 pair threshold).
    */
  private[graft] def noiseCellLevel(salt: String, docId: Long, cx: Int,
      cy: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$docId:$cx:$cy".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 1) 190 else 60
  }

  /** Which cell a pixel belongs to: cx = ⌊cells·x/w⌋ (the inverse of the
    * ceil-div box bounds [[dHashImages]] uses — the two maps MUST stay
    * inverses or the boxed mean stops being exactly the planted level).
    */
  private def pixelCell(p: Int, extent: Int, cells: Int): Int =
    cells * p / extent

  /** Per-doc id offset marking the JPEG re-encode twin of an image in the
    * combined `dedup_image` corpus (ids stay well below this).
    */
  private[graft] val JpegTwinIdOffset = 1L << 40

  /** Every 10th document gets a JPEG re-encode twin planted next to its
    * PNG — the near-duplicate ground truth for `dedup_image`.
    */
  private[graft] def hasJpegTwin(docId: Long): Boolean = docId % 10 == 0

  /** Batch-new planting for `dedup_image_incremental`: docs ≡ 5 (mod 10)
    * contribute a genuinely NEW image (salt `img2`) to the incoming
    * batch; those ≡ 15 (mod 20) also carry a JPEG re-encode of it — the
    * planted WITHIN-batch near-duplicate.
    */
  private[graft] def isBatchNew(docId: Long): Boolean = docId % 10 == 5
  private[graft] def hasBatchJpeg(docId: Long): Boolean = docId % 20 == 15

  /** The per-corpus NOISE image fixture for the perceptual-hash keys:
    * `(img_id, role, payload)` — one block-pattern PNG per document
    * ([[noiseCellLevel]] cells, planted via the hand-rolled [[encodePng]]
    * writer so decode is exercised against an independent encoder), plus
    * a real ImageIO JPEG RE-ENCODE of every [[hasJpegTwin]] document (the
    * planted near-duplicate: same signal, lossy codec). Same
    * content-fingerprint + atomic-publish discipline as [[imageFixture]].
    *
    * Why a third fixture: the gradient fixture's images are all the SAME
    * lowfreq pattern phase-shifted — a competent perceptual hash MUST
    * collide them (89-way hash groups, measured), which makes them the
    * wrong ground truth for near-dup pairs. The noise fixture is the
    * opposite regime: full-entropy block patterns, measured min hamming
    * between distinct docs 6 at 5000 docs — so "pair ⇔ same doc" is a
    * sharp, scale-stable contract.
    */
  private def noiseFixture(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.ImgNoiseCache, sfDir,
      new File(s"$sfDir/documents.parquet")) { tmp =>
      val spark2 = spark
      import spark2.implicits._
      table(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ImageIO.setUseCache(false)
          ids.flatMap { id =>
            require(id >= 0, s"fixture planting assumes doc_id >= 0, got $id")
            val (w, h) = (noiseWidth(id), noiseHeight(id))
            // one md5 per CELL (72/doc), not per pixel — the build-time
            // difference at sf0.1 is ~70s vs <1s
            def levelFn(salt: String): (Int, Int) => Int = {
              val grid = Array.tabulate(PhashGridH, PhashGridW)(
                (cy, cx) => noiseCellLevel(salt, id, cx, cy))
              (x, y) =>
                grid(pixelCell(y, h, PhashGridH))(pixelCell(x, w, PhashGridW))
            }
            def png(level: (Int, Int) => Int): Array[Byte] =
              encodePng(w, h, (x, y) => { val v = level(x, y); (v, v, v) })
            def jpeg(level: (Int, Int) => Int): Array[Byte] = {
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = level(x, y)
                  img.setRGB(x, y, (v << 16) | (v << 8) | v)
                  x += 1
                }
                y += 1
              }
              val out = new java.io.ByteArrayOutputStream()
              require(ImageIO.write(img, "jpg", out),
                "no JPEG writer available in this JRE")
              out.toByteArray
            }
            val corpusLevel = levelFn("img")
            val rows = Seq.newBuilder[(Long, String, Array[Byte])]
            rows += ((id, "corpus", png(corpusLevel)))
            if (hasJpegTwin(id)) rows += ((id, "twin_jpeg", jpeg(corpusLevel)))
            if (isBatchNew(id)) {
              val newLevel = levelFn("img2")
              rows += ((id, "batch_new", png(newLevel)))
              if (hasBatchJpeg(id))
                rows += ((id, "batch_new_jpeg", jpeg(newLevel)))
            }
            rows.result().iterator
          }
        }
        .toDF("img_id", "role", "payload")
        .write.mode("overwrite").parquet(tmp.getPath)
    }
  }

  /** The harness noise-image relation: `(img_id, role, payload)` with
    * role ∈ corpus | twin_jpeg | batch_new | batch_new_jpeg.
    */
  def noiseAssets(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(noiseFixture(spark, sfDir))

  /** dHash per image over any `(<idCol>, <payloadCol> binary)` frame:
    * decode (any ImageIO codec), boxed-mean downsample to the
    * [[PhashGridW]]×[[PhashGridH]] gray grid (box bounds are CEIL-div —
    * box (cx,cy) covers x ∈ [⌈cx·w/G⌉, ⌈(cx+1)·w/G⌉), the exact inverse
    * of [[pixelCell]]), then 64 margin-thresholded horizontal gradient
    * bits ([[PhashMargin]]). Emits `(<idCol>, width, height, dhash)` —
    * unordered; zero shuffle (per-row imperative decode work in the same
    * `mapPartitions` batch-loop shape as [[decodeImages]], which no
    * Catalyst expression can do).
    */
  def dHashImages(assets: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark2 = assets.sparkSession
    import spark2.implicits._
    val (gw, gh, margin) = (PhashGridW, PhashGridH, PhashMargin)
    assets
      .select(col(idCol), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          require(img != null, s"image $id: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          require(w >= gw && h >= gh,
            s"image $id: ${w}x$h smaller than the $gw x $gh hash grid")
          def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b
          val mean = Array.ofDim[Int](gh, gw)
          var cy = 0
          while (cy < gh) {
            val (y0, y1) = (ceilDiv(cy * h, gh), ceilDiv((cy + 1) * h, gh))
            var cx = 0
            while (cx < gw) {
              val (x0, x1) = (ceilDiv(cx * w, gw), ceilDiv((cx + 1) * w, gw))
              var (s, n) = (0L, 0L)
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val argb = img.getRGB(x, y)
                  s += ((argb >> 16) & 0xff) + ((argb >> 8) & 0xff) +
                    (argb & 0xff)
                  n += 3
                  x += 1
                }
                y += 1
              }
              mean(cy)(cx) = (s / n).toInt
              cx += 1
            }
            cy += 1
          }
          var bits = 0L
          cy = 0
          while (cy < gh) {
            var cx = 0
            while (cx < gw - 1) {
              if (mean(cy)(cx) >= mean(cy)(cx + 1) + margin)
                bits |= 1L << (cy * (gw - 1) + cx)
              cx += 1
            }
            cy += 1
          }
          (id, w, h, bits)
        }
      }
      .toDF(idCol, "width", "height", "dhash")
  }

  /** 4×16-bit band projection of a dhash column — the blocking keys for
    * the banded hamming join (pigeonhole: hamming ≤ 3 leaves ≥ 1 of 4
    * bands intact). All 64 dhash bits are real (unlike simhash's 60), so
    * the bands are a clean 16-bit split.
    */
  private def withDhashBands(df: DataFrame): DataFrame =
    df.select(col("*"),
      expr("dhash & 65535").as("band0"),
      expr("shiftright(dhash, 16) & 65535").as("band1"),
      expr("shiftright(dhash, 32) & 65535").as("band2"),
      expr("shiftright(dhash, 48) & 65535").as("band3"))

  /** One row per (hash, band): `cols` of each hash row plus
    * `(band_idx, band_val)` — the rows every banded hamming join blocks
    * on. `band_idx = 0` holds exactly one row per hash row.
    */
  private def bandRows(hashes: DataFrame, cols: String*): DataFrame =
    withDhashBands(hashes).select(cols.map(col) :+
      posexplode(array(col("band0"), col("band1"), col("band2"),
        col("band3"))).as(Seq("band_idx", "band_val")): _*)

  /** `mm_phash` checked key: the perceptual dHash of every noise-fixture
    * PNG plus its four banding keys. The DuckDB twin recomputes the hash
    * from the planted generator — md5 cell bits → levels → margin
    * comparisons → 64-bit pack (the boxed mean of a planted cell IS its
    * level, integer-exactly, because the box bounds invert the pixel→cell
    * map) — so a hash match certifies the decode + downsample + gradient
    * pipeline end-to-end, per image.
    */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame =
    withDhashBands(
      dHashImages(noiseAssets(spark, sfDir).filter(col("role") === "corpus"),
        "img_id", "payload"))
      .select(col("img_id").as("doc_id"), col("width"), col("height"),
        col("dhash"), col("band0"), col("band1"), col("band2"), col("band3"))
      .orderBy(col("doc_id"))

  /** `dedup_image` checked key: IMAGE NEAR-DUP PAIRS over the combined
    * corpus (every PNG + the planted JPEG re-encode twins) — dHash each
    * image, band the hashes, banded equi-self-join, exact hamming ≤ 3
    * filter (`dedup_simhash_pairs`' machinery on the image surface).
    * Ground truth is sharp by fixture design: distinct documents sit at
    * hamming ≥ 6 (measured through 5000 docs) while a twin's lossy
    * re-encode hashes IDENTICALLY under the margin rule — so the pair set
    * is exactly {(d, d') : d' = jpeg twin of d}, which the oracle emits
    * from the planting rule alone. A decoder/hash/join defect surfaces as
    * a missing or extra pair row.
    *
    * Scale shape: decode+hash is scan-stage per-row work, zero shuffle;
    * the join shuffles 4 band rows of (16-bit key, id, 64-bit hash) per
    * image — never pixels; bucket cardinality 65536 per band keeps
    * collision blocks tiny. At 100 TB of images this is the standard
    * pHash-banding dedup layout (hash once at ingest, band-join
    * incrementally).
    */
  def dedupImage(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = dHashImages(
      noiseAssets(spark, sfDir)
        .filter(col("role").isin("corpus", "twin_jpeg"))
        .select(
          (col("img_id") + when(col("role") === "twin_jpeg",
            JpegTwinIdOffset).otherwise(0L)).as("doc_id"),
          col("payload")),
      "doc_id", "payload")
    val banded = bandRows(hashed, "doc_id", "dhash")
    bandMatches(banded, banded, None, ImageHamMax)
      .filter(col("doc_id") < col("partner"))
      .select(col("doc_id").as("id_a"), col("partner").as("id_b"))
      .distinct()
      .select(
        (col("id_a") % JpegTwinIdOffset).as("doc_a"),
        (col("id_b") % JpegTwinIdOffset).as("doc_b"),
        when(col("id_a") >= JpegTwinIdOffset, "jpeg_jpeg")
          .when(col("id_b") >= JpegTwinIdOffset, "png_jpeg")
          .otherwise("png_png").as("pair_kind"))
      .orderBy(col("doc_a"), col("doc_b"), col("pair_kind"))
  }

  /** `dedup_image_incremental` checked key: INCREMENTAL IMAGE DEDUP —
    * the crawl-batch shape on the image surface: a NEW batch of images
    * deduped against the EXISTING corpus, plus within-batch, in one pass
    * ([[bandProbe]] at the doc level, `dedup_incremental`'s keep
    * discipline with dHash distances). Per batch image: `is_dup_corpus`
    * (hamming ≤ [[ImageHamMax]] with any corpus image), `is_dup_batch`
    * (within the radius of another batch image) and the one-hop keep
    * rule — keep iff not a corpus dup and no SMALLER-id batch neighbor.
    *
    * The planted split: corpus = the noise PNGs; batch = the JPEG
    * re-encode twins (planted corpus dups) ∪ the salt-`img2` batch-new
    * images (genuinely new) ∪ their own JPEG re-encodes (planted
    * WITHIN-batch dups). Batch ids uniquify as `doc_id·4 + role index`,
    * so the keep-min rule deterministically keeps the PNG of each
    * within-batch pair. The oracle derives every flag from the planting
    * rule alone — sound for the same measured-geometry reason as
    * `dedup_image` (min hamming 6 across salts / 9 within the batch
    * patterns, vs the ≤ 3 threshold).
    *
    * Scale shape: both sides hash at ingest (scan-stage per-row work);
    * the corpus lookup is a band equi-join of the BATCH's 4 band rows
    * against the corpus band table — batch-sized volume, never
    * corpus×corpus. The batch band frame feeds the corpus probe, both
    * self-join sides and the id spine, so it is a lazy localCheckpoint:
    * its blocks release with the frame's GC, not with a session cache.
    */
  def dedupImageIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val assets = noiseAssets(spark, sfDir)
    val corpus = assets.filter(col("role") === "corpus")
      .select(col("img_id").as("doc_id"), col("payload"))
    val batch = assets.filter(col("role") =!= "corpus")
      .select(
        (col("img_id") * 4 +
          when(col("role") === "twin_jpeg", 0L)
            .when(col("role") === "batch_new", 1L)
            .otherwise(2L)).as("doc_id"),
        col("payload"))
    ImageRung.probe(imageBandState(corpus),
        imageBandState(batch).localCheckpoint(false))
      .select(
        expr("doc_id div 4").as("doc_id"),
        when(col("doc_id") % 4 === 0, "twin_jpeg")
          .when(col("doc_id") % 4 === 1, "batch_new")
          .otherwise("batch_new_jpeg").as("role"),
        col("is_dup_corpus"),
        col("min_batch_partner").isNotNull.as("is_dup_batch"), col("keep"))
      .orderBy(col("doc_id"), col("role"))
  }

  /** Image identity of a document in the MIXED-MODALITY corpus: docs
    * `10k+3` carry a lossy re-encode of `10k+2`'s image (the planted
    * cross-document image near-dup class of `corpus_pipeline_multimodal`
    * — video and audio keep their own {10k, 10k+1}/{20k+5, 20k+7}
    * classes, so each rung's drop set is independently non-vacuous);
    * everything else photographs its own page. Keys live in the doc-id
    * space whose salt-`img` hash geometry is the measured one (min
    * hamming 6 between distinct keys through 5000 docs), so
    * "pair ⇔ planted class" stays exact.
    */
  private[graft] def pairImageKey(d: Long): Long =
    if (d % 10 == 3) d - 1 else d

  /** The mixed-corpus image plant — one image per document, generated
    * in the decode-loop territory over the repartitioned id spine (the
    * [[videoStructured]] discipline): the [[noiseCellLevel]] block
    * pattern of [[pairImageKey]], hand-rolled PNG for key owners and a
    * real ImageIO JPEG RE-ENCODE for the planted `10k+3` near-dups
    * (same signal, lossy codec — the [[noiseFixture]] twin mechanism,
    * which the margin rule hashes identically).
    */
  private[graft] def pairImages(docs: DataFrame): DataFrame = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ImageIO.setUseCache(false)
        ids.map { d =>
          val key = pairImageKey(d)
          val (w, h) = (noiseWidth(key), noiseHeight(key))
          val grid = Array.tabulate(PhashGridH, PhashGridW)(
            (cy, cx) => noiseCellLevel("img", key, cx, cy))
          def level(x: Int, y: Int): Int =
            grid(pixelCell(y, h, PhashGridH))(pixelCell(x, w, PhashGridW))
          val payload =
            if (d % 10 == 3) {
              val img = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = level(x, y)
                  img.setRGB(x, y, (v << 16) | (v << 8) | v)
                  x += 1
                }
                y += 1
              }
              val out = new java.io.ByteArrayOutputStream()
              require(ImageIO.write(img, "jpg", out),
                "no JPEG writer available in this JRE")
              out.toByteArray
            } else encodePng(w, h,
              (x, y) => { val v = level(x, y); (v, v, v) })
          (d, payload)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** The image rung's hamming radius: distinct planted images sit at
    * hamming ≥ 6 while a lossy re-encode hashes within it.
    */
  private[graft] val ImageHamMax = 3L

  /** DOC-LEVEL IMAGE NEAR-DUP VERDICT — the image rung in the shape the
    * composed mixed-modality flagship consumes (the [[dedupVideoOn]] /
    * [[dedupAudioOn]] verdict discipline on the image surface): dHash
    * every document's image, banded hamming-≤-`hamMax` self-join,
    * keep-min — `is_dup_image` iff a matching partner has a smaller
    * doc_id. `(doc_id, dhash, min_partner, is_dup_image)`, unordered.
    *
    * Scale shape: decode+hash is scan-stage per-image work; the join
    * shuffles 4 band rows of (16-bit key, id, 64-bit hash) per image —
    * the [[dedupImage]] layout with a per-document verdict on top. The
    * band frame feeds both self-join sides AND the doc spine, so it is
    * persisted (released by the caller-clearCache contract).
    */
  def dedupImageDocsOn(images: DataFrame, hamMax: Long): DataFrame =
    dedupImageDocsFromBands(imageBandState(images).persist(), hamMax)

  /** THE MAINTAINED IMAGE BAND TABLE (doc level) — completing the band-
    * state trio beside [[videoBandState]]/[[audioBandState]]: one row
    * per (document image, band) — `(doc_id, dhash, band_idx, band_val)`,
    * UNION-MERGEABLE over doc-disjoint corpora (per-image derivation).
    */
  def imageBandState(images: DataFrame): DataFrame =
    bandRows(dHashImages(images, "doc_id", "payload"), "doc_id", "dhash")

  /** [[dedupImageDocsOn]] over an already-materialized band table — the
    * form the composed mixed-modality keys use so the corpus bands hash
    * once and serve both the corpus self-verdict and the maintained
    * state the batch probes.
    */
  private[graft] def dedupImageDocsFromBands(banded: DataFrame,
      hamMax: Long): DataFrame =
    bandSelfVerdict(banded, None, ImageRung.tauMilli, hamMax)
      .select(col("doc_id"), col("dhash"), col("min_partner"),
        col("is_dup").as("is_dup_image"))

  /** INCREMENTAL DOC-LEVEL IMAGE VERDICT — the image rung's crawl-batch
    * probe against an EXPLICIT maintained band table
    * ([[imageBandState]] rows), the exact counterpart of
    * [[dedupVideoIncrementalOnState]]/[[dedupAudioIncrementalOnState]]
    * on the image surface. Per batch doc: `is_dup_corpus` (its image
    * within hamming ≤ `hamMax` of ANY corpus image), `is_dup_batch`
    * (not a corpus dup, a matching batch partner with a smaller id —
    * keep-min), `keep` = neither.
    */
  def dedupImageDocsIncrementalOnState(corpusBands: DataFrame,
      batch: DataFrame, hamMax: Long): DataFrame =
    dedupImageDocsIncrementalFromBands(corpusBands,
      imageBandState(batch).persist(), hamMax)

  /** [[dedupImageDocsIncrementalOnState]] with the batch side already
    * banded — the [[dedupVideoIncrementalFromBands]] counterpart (caller
    * owns `bb`'s persist).
    */
  private[graft] def dedupImageDocsIncrementalFromBands(
      corpusBands: DataFrame, bb: DataFrame, hamMax: Long): DataFrame =
    bandProbe(corpusBands, bb, None, ImageRung.tauMilli, hamMax)
      .select(col("doc_id"), col("dhash"), col("min_batch_partner"),
        col("is_dup_corpus"), col("is_dup_batch"), col("keep"))

  /** API form: decode any `(doc_id, <payloadCol> binary)` frame to
    * `(doc_id, width, height, sum_r, sum_g, sum_b)` — unordered, any
    * ImageIO-decodable format (PNG, JPEG, BMP, GIF…). Fails
    * loudly on undecodable bytes (a corrupt asset in a curation pipeline
    * is a data bug to surface, not a row to silently drop — wrap with a
    * TRY upstream if skip-and-log is the wanted policy).
    */
  def decodeImages(assets: DataFrame, payloadCol: String = "png"): DataFrame = {
    val spark2 = assets.sparkSession
    import spark2.implicits._
    assets
      .select(col("doc_id"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // in-memory streams; no executor tmp files
        rows.map { case (docId, bytes) =>
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          require(img != null, s"doc $docId: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val argb = img.getRGB(x, y)
              sr += (argb >> 16) & 0xff
              sg += (argb >> 8) & 0xff
              sb += argb & 0xff
              x += 1
            }
            y += 1
          }
          (docId, w, h, sr, sg, sb)
        }
      }
      .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** `mm_resize` checked key: decode + strided nearest-neighbor downsample
    * to a fixed 4×4 thumbnail, surfaced as a CSV of the 48 sampled channel
    * values (hashable cells; int→string formatting is engine-neutral).
    * The twin recomputes the sampled pixels from the planted arithmetic —
    * a match proves the resize sampled the true decoded pixels at the
    * contract positions (⌊i·w/4⌋, ⌊j·h/4⌋).
    */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame =
    resizeImages(imageAssets(spark, sfDir), thumbW = 4, thumbH = 4)
      .orderBy(col("doc_id"))

  /** API form: fixed-size strided thumbnail over any `(doc_id, png binary)`
    * frame — unordered. Nearest-neighbor by construction (sample at
    * ⌊tx·w/thumbW⌋, ⌊ty·h/thumbH⌋): deterministic, codec-independent, and
    * the contract a downstream fixed-shape feature extractor needs.
    * Requires thumb dims ≤ the image dims (sample positions stay in
    * range for any image at least thumbW×thumbH).
    */
  def resizeImages(assets: DataFrame, thumbW: Int, thumbH: Int): DataFrame = {
    require(thumbW >= 1 && thumbH >= 1,
      s"thumb dims must be >= 1, got ${thumbW}x$thumbH")
    val spark2 = assets.sparkSession
    import spark2.implicits._
    assets
      .select(col("doc_id"), col("png"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { case (docId, bytes) =>
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          require(img != null, s"doc $docId: payload is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          require(w >= thumbW && h >= thumbH,
            s"doc $docId: ${w}x$h smaller than thumb ${thumbW}x$thumbH")
          val vals = for {
            ty <- 0 until thumbH
            tx <- 0 until thumbW
            argb = img.getRGB(tx * w / thumbW, ty * h / thumbH)
            c <- Seq((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)
          } yield c
          (docId, w, h, thumbW, thumbH, vals.mkString(","))
        }
      }
      .toDF("doc_id", "width", "height", "thumb_w", "thumb_h", "thumb_csv")
  }

  /** Frame-sampling shape: explode each payload into fixed-size "frames"
    * (256-byte chunks standing in for video frames / audio windows), one
    * output row per frame with a stub frame feature. Implemented with a
    * typed `mapPartitions` to exercise the real executor-side batch loop a
    * native decoder needs (iterator in, iterator out, nothing driver-side).
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    frameSample(table(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      frameBytes = 256)
      .orderBy(col("doc_id"), col("frame_idx"))

  /** API form: frame-explode any `(doc_id, payload binary)` frame at a
    * caller-chosen frame size — unordered.
    */
  def frameSample(assets: DataFrame, frameBytes: Int): DataFrame = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    val spark2 = assets.sparkSession
    import spark2.implicits._
    assets
      // tuple encoders bind by position: pin the two columns explicitly so
      // any extra caller columns don't shift the payload
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, payload) =>
          payload.grouped(frameBytes).zipWithIndex.map {
            case (frame, idx) =>
              // per-frame digest: a deterministic position-weighted stand-in
              // for a video codec's per-frame feature. Mod-prime (not
              // wrap-around) arithmetic so the SQL oracle reproduces it
              // exactly.
              val digest = frame.zipWithIndex.map {
                case (b, k) => (k + 1L) * b
              }.sum % 144115188075855881L
              (docId, idx, frame.length, digest)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_bytes", "frame_digest")
  }

  /** SQL-checkable slice of the multimodal plumbing: payload sizing layout
    * (frame counts per asset) is pure arithmetic over octet lengths, so the
    * schema/partitioning contract is oracle-verified even though decode
    * content is not.
    */
  def frameLayout(spark: SparkSession, sfDir: String): DataFrame =
    frameLayout(table(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      frameBytes = 256)
      .orderBy(col("doc_id"))

  /** API form: frame-count layout for any `(doc_id, payload binary)` frame
    * at a caller-chosen frame size — unordered.
    */
  def frameLayout(assets: DataFrame, frameBytes: Int): DataFrame = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    assets.select(
      col("doc_id"),
      length(col("payload")).as("n_bytes"),
      ceil(length(col("payload")).cast(DoubleType) / frameBytes.toDouble)
        .cast(IntegerType).as("n_frames"))
  }

  /** Audio window geometry for the graded key: 64-sample windows at
    * hop 32 (50% overlap — the canonical STFT frontend stride).
    */
  val AudioWin = 64
  val AudioHop = 32

  /** AUDIO-WINDOW FEATURE EXTRACTION — the mel-frontend slot of the
    * multimodal surface, and the semantics [[frameSample]]'s disjoint
    * byte chunks cannot express: OVERLAPPING windows. Payload bytes
    * decode as PCM16-LE samples with a DC offset removed
    * (`s = lo + 256·hi − 16384` — the stand-in for a real codec; the
    * container ships no audio libs, so decode is a deterministic fake
    * with REAL plumbing, per the multimodal contract), then each
    * window of [[AudioWin]] samples at hop [[AudioHop]] emits the
    * three classic pre-neural features as exact integers: energy
    * (Σ s², BIGINT), zero-crossing count, and peak |s|.
    *
    * The split is the architecture statement: DECODE is the justified
    * imperative step (a `mapPartitions` batch loop — no Catalyst
    * expression parses a codec), WINDOWING + FEATURES are declarative
    * in-row HOFs over the sample array (explode of window offsets,
    * slice, integer folds — all inside the scan stage's codegen
    * pipeline, zero shuffle). A real mel frontend keeps exactly this
    * split: codec in the batch loop, framing/FFT on columns.
    *
    * Documents shorter than one window emit no rows (both twins agree
    * by construction). Output: (doc_id, win_idx, energy, zcr, peak).
    */
  def audioFeaturesOn(assets: DataFrame, win: Int, hop: Int): DataFrame = {
    require(win >= 2 && hop >= 1, s"win/hop must be >= 2/1, got $win/$hop")
    val spark2 = assets.sparkSession
    import spark2.implicits._
    val samples = assets.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (docId, payload) =>
          val n = payload.length / 2
          val sm = Array.tabulate(n)(i =>
            (payload(2 * i) & 0xff) + 256 * (payload(2 * i + 1) & 0xff) -
              16384)
          (docId, sm)
        }
      }
      .toDF("doc_id", "sm")
    samples
      .withColumn("win_idx",
        explode(when(size(col("sm")) >= win,
          sequence(lit(0),
            ((size(col("sm")) - win) / hop).cast("int")))
          .otherwise(array().cast("array<int>"))))
      .withColumn("w",
        slice(col("sm"), col("win_idx") * hop + 1, lit(win)))
      .select(col("doc_id"), col("win_idx"),
        aggregate(col("w"), lit(0L),
          (acc, x) => acc + x.cast("long") * x.cast("long"))
          .as("energy"),
        size(filter(
          transform(sequence(lit(1), lit(win - 1)),
            k => element_at(col("w"), k) * element_at(col("w"), k + 1)),
          p => p < 0)).cast("long").as("zcr"),
        array_max(transform(col("w"), x => abs(x))).as("peak"))
  }

  /** `mm_audio_features` checked key: [[audioFeaturesOn]] at
    * [[AudioWin]]×[[AudioHop]] over the UTF-8 payload stand-in.
    */
  def audioFeatures(spark: SparkSession, sfDir: String): DataFrame =
    audioFeaturesOn(table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      AudioWin, AudioHop)
      .orderBy(col("doc_id"), col("win_idx"))

  /** Scene-cut geometry: 64-byte frames, cut when consecutive frame
    * milli-means differ by more than this (p90 of the harness deltas —
    * a ~10% keyframe rate, the sampling density a training pipeline
    * actually keeps).
    */
  val CutFrameBytes = 64
  val CutThresholdMilli = 4000L

  /** SCENE-CUT DETECTION — the video keyframe-selection slot: per
    * asset, a per-frame feature (exact integer milli-mean of the
    * frame's bytes — the luma-mean stand-in; a real decoder drops its
    * per-frame luma into the same column) and a cut wherever
    * consecutive features jump by more than [[CutThresholdMilli]].
    * Keyframe selection is how a video corpus becomes a trainable
    * image corpus (sample at cuts, not uniformly — uniform sampling
    * over-represents static shots).
    *
    * The family split, zero shuffle end-to-end: the per-frame FEATURE
    * is extracted in the `mapPartitions` decode loop (byte work is
    * codec territory — the `ascii(substring(…))` expression form of
    * the same fold measured 4× slower, the `repetition_stats`
    * interpreted-lambda lesson), while the deltas and the cut list are
    * declarative in-row expressions over the feature array. Output per
    * asset: (doc_id, n_frames, n_cuts, cut_idxs, max_delta) — the cut
    * list comma-joined for hash stability, max_delta the signal's
    * dynamic range.
    */
  def sceneCutsOn(docs: DataFrame, frameBytes: Int,
      thresholdMilli: Long): DataFrame = {
    require(frameBytes >= 1 && thresholdMilli >= 0,
      s"bad geometry: $frameBytes/$thresholdMilli")
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val feats = docs.filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (docId, payload) =>
          val mm = payload.grouped(frameBytes).map { f =>
            f.map(b => (b & 0xff).toLong).sum * 1000L / f.length
          }.toArray
          (docId, mm)
        }
      }
      .toDF("doc_id", "mm")
    feats
      // Spark's sequence(1, 0) steps BACKWARD, so the single-frame case
      // must short-circuit to an empty delta list explicitly
      .withColumn("deltas", expr(
        """CASE WHEN size(mm) >= 2 THEN
          |  transform(sequence(1, size(mm) - 1),
          |    j -> struct(j AS idx,
          |      abs(element_at(mm, j + 1) - element_at(mm, j)) AS d))
          |ELSE CAST(array() AS ARRAY<STRUCT<idx: INT, d: BIGINT>>) END"""
          .stripMargin))
      .withColumn("cuts",
        expr(s"filter(deltas, x -> x.d > ${thresholdMilli}L)"))
      .select(col("doc_id"),
        size(col("mm")).cast(LongType).as("n_frames"),
        size(col("cuts")).cast(LongType).as("n_cuts"),
        array_join(expr("transform(cuts, x -> CAST(x.idx AS STRING))"),
          ",").as("cut_idxs"),
        coalesce(expr("array_max(transform(deltas, x -> x.d))"), lit(0L))
          .as("max_delta"))
  }

  /** `mm_scene_cuts` checked key: [[sceneCutsOn]] at the graded
    * geometry over the UTF-8 payload stand-in.
    *
    * ASCII-corpus contract (shared with `mm_audio_features`): the Spark
    * side measures UTF-8 payload BYTES (a codec sees bytes — the
    * intended semantics, DegenerateCorpusSpec pins it on a non-ASCII
    * doc), while the per-key DuckDB twin uses character arithmetic —
    * equivalent exactly while the harness generator emits ASCII. A
    * non-ASCII regeneration would fail the pinned contract test loudly,
    * not silently hash-diverge.
    */
  def sceneCuts(spark: SparkSession, sfDir: String): DataFrame =
    sceneCutsOn(table(spark, sfDir, "documents"), CutFrameBytes,
      CutThresholdMilli)
      .orderBy(col("doc_id"))

  /** Video-plant geometry for `dedup_video`: [[VideoScenes]] scenes of
    * [[VideoFramesPerScene]] identical frames, [[CutFrameBytes]] bytes
    * each (512-byte payloads). Scene CONTENT derives from a scene key;
    * the planted key-sharing rules create the ground truth: `{10k,
    * 10k+1}` share every scene (a full re-upload — 10k+1 additionally
    * carries a one-byte jitter in every frame, so only the PERCEPTUAL
    * path can match it), and `10k+6` shares its first two scenes with
    * `10k` (a partial re-edit — measured, below the τ flag). Bytes stay
    * in the printable ASCII band (UTF-8 single-byte, the
    * `mm_scene_cuts` corpus contract), and the jitter is applied
    * WITHOUT mod-wrap so frame means shift ≤ 16 milli — the cut
    * decisions of a pair stay aligned.
    */
  private[graft] val VideoScenes = 4
  private[graft] val VideoFramesPerScene = 2
  private[graft] val VideoTauMilli = 700L
  private[graft] val VideoHamMax = 4L

  /** Scene bytes = a per-scene DC LEVEL (md5 of the key, 12 steps of 8
    * — consecutive different-key scenes differ by ≥ 8 byte units ≫ the
    * 4-unit cut threshold, so cuts fire iff the scene key changes) plus
    * per-byte md5 NOISE in [0, 7) (iid gradient bits — two different
    * frames collide within hamming ≤ 4 with probability ~2⁻⁴⁰, so the
    * banded join's matches are exactly the shared-key plants). Bytes
    * stay ≤ 127 (single-byte UTF-8).
    */
  private[graft] def videoPayload(d: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // the engines' 60-bit md5 value (first 15 hex chars) computed
    // numerically from the digest bytes — per-byte hex formatting here
    // measured ~6× on the whole key at sf0.1
    def h60(s: String): Long = {
      val dg = md.digest(s.getBytes("UTF-8"))
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (dg(i) & 0xffL); i += 1 }
      (v << 4) | ((dg(7) & 0xffL) >> 4)
    }
    val frameB = CutFrameBytes
    val sceneB = VideoFramesPerScene * frameB
    val n = VideoScenes * sceneB
    val sb = new StringBuilder(n)
    var s = 0
    while (s < VideoScenes) {
      // pair classes: {10k, 10k+1} full re-upload straddling the
      // incremental parity split; {20k+5, 20k+7} an ODD-ONLY full pair
      // (a within-batch re-upload under the split); {10k+6} partial
      val key =
        if (d % 10 == 1) (d - 1) * 8 + s
        else if (d % 20 == 7) (d - 2) * 8 + s
        else if (d % 10 == 6 && s < 2) (d - 6) * 8 + s
        else d * 8 + s
      val level = 32 + (h60(s"$key:L") % 12).toInt * 8
      val noise = Array.tabulate(frameB)(q => (h60(s"$key:$q") % 7).toInt)
      var f = 0
      while (f < VideoFramesPerScene) {
        var q = 0
        while (q < frameB) {
          val n0 = noise(q)
          val jit = (d % 10 == 1 || d % 20 == 7) && q == (d % frameB)
          val b = level + n0 + (if (jit && n0 < 6) 1 else if (jit) -1 else 0)
          sb.append(b.toChar)
          q += 1
        }
        f += 1
      }
      s += 1
    }
    sb.toString
  }

  /** The planted video corpus — one payload per document id, built in
    * the family's decode-loop territory (a per-byte rule is codec work;
    * the expression form would be a 512-element interpreted lambda per
    * row — the HOF cost trap).
    */
  private[graft] def videoStructured(docs: DataFrame): DataFrame = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    // the id spine hash-repartitions before the generation loop: the
    // corpus parquet arrives in O(file) partitions, which would run the
    // per-byte synthesis near-serially (measured ~3 s of the key at
    // sf0.1); a real decode stage parallelizes the same way
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions(_.map(d => (d, videoPayload(d))))
      .toDF("doc_id", "text")
  }

  /** Keyframe selection + gradient hashing — the shared front of the
    * video dedup pair: frame 0 plus every [[sceneCutsOn]] cut, each with
    * its 63-bit byte-gradient dHash. `(doc_id, frame_idx, dhash)`.
    */
  private def videoKeyframeHashes(videos: DataFrame, frameBytes: Int,
      thresholdMilli: Long): DataFrame = {
    require(frameBytes >= 2 && frameBytes <= 64,
      s"frameBytes must be in [2, 64], got $frameBytes")
    sceneCutsOn(videos, frameBytes, thresholdMilli)
      .select(col("doc_id"),
        explode(when(col("n_cuts") === 0, array(lit(0)))
          .otherwise(concat(array(lit(0)),
            expr("transform(split(cut_idxs, ','), x -> CAST(x AS INT))"))))
          .as("frame_idx"))
      .join(videos.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("frame", expr(
        s"substring(text, frame_idx * $frameBytes + 1, $frameBytes)"))
      .withColumn("dhash", expr(
        s"""aggregate(sequence(1, ${frameBytes - 1}), 0L, (acc, k) ->
           |  acc + CASE WHEN ascii(substring(frame, k + 1, 1)) >
           |                   ascii(substring(frame, k, 1))
           |    THEN shiftleft(1L, k - 1) ELSE 0L END)""".stripMargin))
      .select(col("doc_id"), col("frame_idx"), col("dhash"))
  }

  /** VIDEO NEAR-DUP — the multimodal dedup ladder's last rung, composed
    * from three graded operators: [[sceneCutsOn]] selects keyframes
    * (frame 0 plus every cut — the sampling a video corpus keeps), each
    * keyframe gets a 63-bit byte-gradient dHash (the [[dHashImages]]
    * gradient signature on the frame's byte sequence), the hashes go
    * through the image family's 4×16-bit banded hamming join
    * (pigeonhole: hamming ≤ [[VideoHamMax]] leaves ≥ 2 bands intact),
    * and each video gets the SemDeDup-shaped verdict: duplicated iff
    * ≥ τ of its keyframes match another video's AND a matching partner
    * has a smaller id (keep-min — one copy of a re-upload pair
    * survives). `dup_frac_milli` is exact integer milli (n_dup·1000 div
    * n_kf — no float in the verdict).
    *
    * Scale shape: cut detection + hashing are scan-stage per-row work
    * (the decode loop); the join shuffles 4 band rows of (16-bit key,
    * id, frame_idx, 64-bit hash) per KEYFRAME — never frames, and
    * keyframes are ~the scene rate of the corpus; the verdict is one
    * doc_id aggregate. This is pHash-banding video dedup as run at
    * scale: hash keyframes at ingest, band-join incrementally. The band
    * frame feeds both self-join sides AND the keyframe spine, so it is
    * persisted (caller-clearCache contract).
    */
  def dedupVideoOn(videos: DataFrame, frameBytes: Int,
      thresholdMilli: Long, tauMilli: Long, hamMax: Long): DataFrame =
    dedupVideoFromBands(
      videoBandState(videos, frameBytes, thresholdMilli).persist(),
      tauMilli, hamMax)

  /** `dedup_video` checked key: [[dedupVideoOn]] at the scene-cut
    * geometry over the planted video corpus. The DuckDB twin never
    * touches the payload strings — it recomputes frames, means, cuts,
    * keyframes, gradient hashes, the banded join, and the verdict
    * straight from the planting rule, so the hash gate proves the
    * composed decode → cut → hash → join → verdict chain inverts the
    * generation exactly.
    */
  def dedupVideo(spark: SparkSession, sfDir: String): DataFrame =
    // the plant feeds two consumers (cut detection + the keyframe
    // slice); persisted so the decode-loop generation runs once —
    // released by the caller's clearCache contract
    dedupVideoOn(videoStructured(table(spark, sfDir, "documents"))
        .persist(),
      CutFrameBytes, CutThresholdMilli, VideoTauMilli, VideoHamMax)
      .orderBy(col("doc_id"))

  /** INCREMENTAL VIDEO DEDUP — the crawl-batch shape on the new rung
    * (completing the family: documents / lines / spans / URLs /
    * embeddings / semantic cells / images all have one): a NEW batch of
    * videos is screened against the CORPUS's maintained keyframe band
    * table plus itself. Per batch video: `corpus_frac_milli` (share of
    * its keyframes matching ANY corpus keyframe), `batch_frac_milli`
    * (share matching another batch video's), `is_dup_corpus` (corpus
    * share ≥ τ — the corpus already kept its representative),
    * `is_dup_batch` (not a corpus dup, batch share ≥ τ, and a matching
    * batch partner has a smaller id — keep-min), `keep` = neither.
    *
    * Scale shape: the corpus contributes its band table — hash-sized
    * rows a production pipeline maintains at ingest (at 100 TB: a
    * static table bucketed by (band_idx, band_val), probed with
    * batch-sized volume, never corpus×corpus); the within-batch pass is
    * the tiny self-join; hashing is scan-stage decode-loop work on the
    * batch only.
    */
  def dedupVideoIncrementalOn(corpus: DataFrame, batch: DataFrame,
      frameBytes: Int, thresholdMilli: Long, tauMilli: Long,
      hamMax: Long): DataFrame =
    dedupVideoIncrementalOnState(
      videoBandState(corpus, frameBytes, thresholdMilli), batch,
      frameBytes, thresholdMilli, tauMilli, hamMax)

  /** THE MAINTAINED VIDEO BAND TABLE — the corpus-side state of
    * incremental video dedup, named and law-bound like the family's
    * other states ([[Web.urlCensus]], [[Dedup.lineCensus]],
    * [[Dedup.spanCensus]], `semMembers`): one row per (keyframe, band)
    * — `(doc_id, frame_idx, dhash, band_idx, band_val)`. UNION-MERGEABLE
    * (PropertiesSpec law): the derivation is per-video, so the state
    * over doc-disjoint corpora is the plain union of the per-corpus
    * states — a production pipeline maintains it as a bucketed table
    * keyed on (band_idx, band_val), appending each absorbed batch's
    * rows, and every [[dedupVideoIncrementalOnState]] probe pays
    * batch-sized work only (never re-hashing the corpus).
    */
  def videoBandState(videos: DataFrame, frameBytes: Int,
      thresholdMilli: Long): DataFrame =
    bandRows(videoKeyframeHashes(videos, frameBytes, thresholdMilli),
      "doc_id", "frame_idx", "dhash")

  /** [[dedupVideoOn]]'s self-verdict over an already-banded keyframe
    * table ([[videoBandState]] rows) — the form composed keys use so the
    * corpus hashes ONCE for its self-verdict, the batch probes and the
    * band-state merge (the [[dedupImageDocsFromBands]] counterpart).
    * `banded` must be persisted/checkpointed by the caller.
    */
  private[graft] def dedupVideoFromBands(banded: DataFrame,
      tauMilli: Long, hamMax: Long): DataFrame =
    selfAs(bandSelfVerdict(banded, Some("frame_idx"), tauMilli, hamMax),
      "keyframes", "video")

  /** [[dedupVideoIncrementalOn]] against an EXPLICIT maintained band
    * table ([[videoBandState]] rows) — the production probe shape: the
    * corpus side arrives as the state table, so the per-batch cost is
    * hashing + banding the batch and two band equi-joins.
    */
  def dedupVideoIncrementalOnState(corpusBands: DataFrame,
      batch: DataFrame, frameBytes: Int, thresholdMilli: Long,
      tauMilli: Long, hamMax: Long): DataFrame =
    // the batch band frame feeds the corpus probe, both self-join sides
    // and the keyframe spine — persisted, released by the caller's
    // clearCache contract
    dedupVideoIncrementalFromBands(corpusBands,
      videoBandState(batch, frameBytes, thresholdMilli).persist(),
      tauMilli, hamMax)

  /** [[dedupVideoIncrementalOnState]] with the BATCH side also already
    * banded ([[videoBandState]] rows) — the form compositions use when
    * the batch bands feed a second consumer (the day-2 band-state merge
    * of the generation cycle), so the batch hashes once. `bb` must be
    * persisted/checkpointed by the caller (it feeds three joins here).
    */
  private[graft] def dedupVideoIncrementalFromBands(corpusBands: DataFrame,
      bb: DataFrame, tauMilli: Long, hamMax: Long): DataFrame =
    probeAs(bandProbe(corpusBands, bb, Some("frame_idx"), tauMilli, hamMax),
      "keyframes", "kf")

  /** `dedup_video_incremental` checked key: the family parity split
    * (even = corpus, odd = incoming batch) over the planted videos. The
    * plants populate every branch: `{10k, 10k+1}` straddles the split
    * (the odd copy is a corpus dup), `{20k+5, 20k+7}` is odd-only (a
    * within-batch pair — min keeps), `{10k+6}` partials are corpus-side.
    */
  def dedupVideoIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val videos = videoStructured(table(spark, sfDir, "documents")).persist()
    dedupVideoIncrementalOn(
      videos.filter(col("doc_id") % 2 === 0),
      videos.filter(col("doc_id") % 2 === 1),
      CutFrameBytes, CutThresholdMilli, VideoTauMilli, VideoHamMax)
      .orderBy(col("doc_id"))
  }

  /** Audio-fingerprint geometry for the `dedup_audio` pair —
    * [[AudioFpWin]]-sample non-overlapping windows (hop = win, so
    * segment boundaries align), [[AudioSegWin]] windows per SEGMENT
    * (one 63-bit fingerprint each — the audio unit the banded join
    * blocks on, as a keyframe is the video unit), [[AudioSegs]]
    * segments per clip. τ and the hamming radius are the video
    * family's dials.
    */
  private[graft] val AudioFpWin = 32
  private[graft] val AudioSegWin = 64
  private[graft] val AudioSegs = 4
  private[graft] val AudioTauMilli = 700L
  private[graft] val AudioHamMax = 4L

  /** Planted audio corpus for the `dedup_audio` pair — PCM16-LE clips
    * of [[AudioSegs]] segments, each segment [[AudioSegWin]] windows of
    * [[AudioFpWin]] constant-valued samples. The per-window LEVEL is
    * `40 + 2·hash_draw + (w % 2)`: the parity term makes every adjacent
    * level gap ODD (hence nonzero), so every energy gradient bit is
    * determined by the level order and the jitter's ±2 shift can never
    * create an adjacent TIE — the bit flips it causes are exactly the
    * sign crossings, deterministic on both engine sides. Pair classes
    * mirror the video plant: `{10k, 10k+1}` is a full re-encode (10k+1
    * additionally shifts ONE window's level by +2 per segment — the
    * re-encode jitter: bytes differ in every segment, the fingerprint
    * moves ≤ 2 hamming bits), `{20k+5, 20k+7}` is an odd-only full
    * pair, and `10k+6` shares its first two segments with `10k` (a
    * partial re-edit — measured at exactly 500 milli, below τ). Samples
    * encode as `value + 16384` little-endian (hi byte 64, lo byte the
    * level — single-byte UTF-8, the family's ASCII-corpus contract).
    */
  private[graft] def audioPayload(d: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // the family's 60-bit md5 value, composed numerically (the
    // videoPayload lesson: per-byte hex formatting measured ~6×)
    def h60(s: String): Long = {
      val dg = md.digest(s.getBytes("UTF-8"))
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (dg(i) & 0xffL); i += 1 }
      (v << 4) | ((dg(7) & 0xffL) >> 4)
    }
    val jit = d % 10 == 1 || d % 20 == 7
    val wstar = (d % AudioSegWin).toInt
    val sb = new StringBuilder(AudioSegs * AudioSegWin * AudioFpWin * 2)
    var s = 0
    while (s < AudioSegs) {
      val key =
        if (d % 10 == 1) (d - 1) * 8 + s
        else if (d % 20 == 7) (d - 2) * 8 + s
        else if (d % 10 == 6 && s < 2) (d - 6) * 8 + s
        else d * 8 + s
      var w = 0
      while (w < AudioSegWin) {
        val r = (h60(s"$key:a:$w") % 24).toInt
        val lvl = 40 + 2 * r + w % 2 +
          (if (jit && w == wstar) 2 else 0)
        var j = 0
        while (j < AudioFpWin) {
          sb.append(lvl.toChar) // lo byte: (lvl + 16384) % 256 = lvl
          sb.append(64.toChar) // hi byte: (lvl + 16384) / 256 = 64
          j += 1
        }
        w += 1
      }
      s += 1
    }
    sb.toString
  }

  /** The planted audio corpus — one clip per document id, generated in
    * the decode-loop territory over the repartitioned id spine (the
    * [[videoStructured]] discipline).
    */
  private[graft] def audioStructured(docs: DataFrame): DataFrame = {
    val spark2 = docs.sparkSession
    import spark2.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions(_.map(d => (d, audioPayload(d))))
      .toDF("doc_id", "text")
  }

  /** Segment fingerprints — the shared front of the audio dedup pair:
    * [[audioFeaturesOn]]'s energy feature at hop = win (aligned
    * windows; the equality is suite-pinned), each run of
    * [[AudioSegWin]] window ENERGIES folded into a 63-bit
    * energy-gradient hash (bit k set iff energy rises from window k to
    * k+1 — the Chromaprint-style sign-of-delta signature, robust to
    * re-encode noise smaller than the inter-window energy gap). Only
    * COMPLETE segments fingerprint (a trailing partial window run has
    * no stable bit width). `(doc_id, seg_idx, dhash)`.
    *
    * The family split, per the video rung's measured lesson: window
    * ENERGIES come out of the `mapPartitions` decode loop (per-sample
    * byte work is codec territory — the declarative form explodes one
    * row per window that COPIES the full sample array each time,
    * measured ~10× on the planted 256-window clips; real-corpus docs
    * at ~6 windows never feel it), while segment slicing and the bit
    * fold are declarative in-row expressions over the 256-long energy
    * arrays.
    */
  private[graft] def audioSegmentHashes(clips: DataFrame, win: Int,
      segWin: Int): DataFrame = {
    require(win >= 2 && segWin >= 2 && segWin <= 64,
      s"bad fingerprint geometry: $win/$segWin")
    val spark2 = clips.sparkSession
    import spark2.implicits._
    val energies = clips.filter(col("text").isNotNull)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (docId, payload) =>
          val n = payload.length / 2
          val nw = if (n >= win) (n - win) / win + 1 else 0
          val es = Array.ofDim[Long](nw)
          var wi = 0
          while (wi < nw) {
            var e = 0L
            var j = wi * win
            val end = j + win
            while (j < end) {
              val s = (payload(2 * j) & 0xff) +
                256 * (payload(2 * j + 1) & 0xff) - 16384
              e += s.toLong * s
              j += 1
            }
            es(wi) = e
            wi += 1
          }
          (docId, es)
        }
      }
      .toDF("doc_id", "es")
    energies
      // sequence(0, -1) steps BACKWARD (the sceneCutsOn lesson), so the
      // shorter-than-one-segment case short-circuits to no segments
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(es) >= $segWin THEN
           |  transform(sequence(0, size(es) div $segWin - 1),
           |    g -> slice(es, g * $segWin + 1, $segWin))
           |ELSE cast(array() AS array<array<bigint>>) END""".stripMargin))
        .as(Seq("seg_idx", "se")))
      .select(col("doc_id"), col("seg_idx"), expr(
        """aggregate(sequence(1, size(se) - 1), 0L, (acc, k) ->
          |  acc + CASE WHEN element_at(se, k + 1) > element_at(se, k)
          |    THEN shiftleft(1L, k - 1) ELSE 0L END)""".stripMargin)
        .as("dhash"))
  }

  /** AUDIO NEAR-DUP — the multimodal dedup ladder's audio rung
    * (completing the family: images and video each have measure + dedup;
    * audio stopped at `mm_audio_features`), composed from the graded
    * operators exactly as the video rung is: [[audioFeaturesOn]]
    * extracts window energies, [[audioSegmentHashes]] folds each
    * segment into a gradient fingerprint, the fingerprints go through
    * the image family's 4×16-bit banded hamming join, and each clip
    * gets the SemDeDup-shaped verdict: duplicated iff ≥ τ of its
    * segments match another clip's AND a matching partner has a
    * smaller id (keep-min). `dup_frac_milli` is exact integer milli.
    *
    * Scale shape: decode + windowing + fingerprints are scan-stage
    * per-clip work; the join shuffles 4 band rows of (16-bit key, id,
    * seg_idx, 64-bit hash) per SEGMENT — never samples, and segments
    * are ~seconds of audio; the verdict is one doc_id aggregate. This
    * is fingerprint-banding audio dedup as run at scale: hash segments
    * at ingest, band-join incrementally. The band frame feeds both
    * self-join sides AND the segment spine, so it is persisted
    * (caller-clearCache contract).
    */
  def dedupAudioOn(clips: DataFrame, win: Int, segWin: Int,
      tauMilli: Long, hamMax: Long): DataFrame =
    dedupAudioFromBands(audioBandState(clips, win, segWin).persist(),
      tauMilli, hamMax)

  /** `dedup_audio` checked key: [[dedupAudioOn]] at the fingerprint
    * geometry over the planted audio corpus. The DuckDB twin never
    * touches the payloads — it recomputes window levels, energies,
    * gradient fingerprints, the banded join, and the verdict straight
    * from the planting rule, so the hash gate proves the composed
    * decode → window → energy → fingerprint → join → verdict chain
    * inverts the generation exactly.
    */
  def dedupAudio(spark: SparkSession, sfDir: String): DataFrame =
    // the plant feeds one consumer here but generation is the expensive
    // stage — persisted for the segment-hash spine reuse; released by
    // the caller's clearCache contract
    dedupAudioOn(audioStructured(table(spark, sfDir, "documents"))
        .persist(),
      AudioFpWin, AudioSegWin, AudioTauMilli, AudioHamMax)
      .orderBy(col("doc_id"))

  /** INCREMENTAL AUDIO DEDUP — the crawl-batch shape on the audio rung
    * (the family discipline: the corpus contributes its maintained
    * fingerprint band table, batch-sized work only). Per batch clip:
    * `corpus_frac_milli` / `batch_frac_milli` segment-match shares,
    * `is_dup_corpus` (corpus share ≥ τ), `is_dup_batch` (not a corpus
    * dup, batch share ≥ τ, min matching partner smaller — keep-min),
    * `keep` = neither — the [[dedupVideoIncrementalOn]] verdict shape
    * verbatim.
    */
  def dedupAudioIncrementalOn(corpus: DataFrame, batch: DataFrame,
      win: Int, segWin: Int, tauMilli: Long, hamMax: Long): DataFrame =
    dedupAudioIncrementalOnState(audioBandState(corpus, win, segWin),
      batch, win, segWin, tauMilli, hamMax)

  /** THE MAINTAINED AUDIO BAND TABLE — the audio rung's corpus state,
    * the exact counterpart of [[videoBandState]]: one row per
    * (segment, band) — `(doc_id, seg_idx, dhash, band_idx, band_val)`,
    * UNION-MERGEABLE over doc-disjoint corpora (PropertiesSpec law).
    * Production maintains it bucketed on (band_idx, band_val); each
    * absorbed batch appends its own rows.
    */
  def audioBandState(clips: DataFrame, win: Int, segWin: Int): DataFrame =
    bandRows(audioSegmentHashes(clips, win, segWin),
      "doc_id", "seg_idx", "dhash")

  /** [[dedupAudioOn]]'s self-verdict over an already-banded segment
    * table ([[audioBandState]] rows) — the [[dedupVideoFromBands]]
    * counterpart on the audio rung (caller owns the persist).
    */
  private[graft] def dedupAudioFromBands(banded: DataFrame,
      tauMilli: Long, hamMax: Long): DataFrame =
    selfAs(bandSelfVerdict(banded, Some("seg_idx"), tauMilli, hamMax),
      "segments", "audio")

  /** [[dedupAudioIncrementalOn]] against an EXPLICIT maintained band
    * table ([[audioBandState]] rows) — the production probe shape:
    * per-batch cost is batch fingerprinting plus two band equi-joins.
    */
  def dedupAudioIncrementalOnState(corpusBands: DataFrame,
      batch: DataFrame, win: Int, segWin: Int, tauMilli: Long,
      hamMax: Long): DataFrame =
    dedupAudioIncrementalFromBands(corpusBands,
      audioBandState(batch, win, segWin).persist(), tauMilli, hamMax)

  /** [[dedupAudioIncrementalOnState]] with the batch side already banded
    * — the [[dedupVideoIncrementalFromBands]] counterpart (caller owns
    * `bb`'s persist).
    */
  private[graft] def dedupAudioIncrementalFromBands(corpusBands: DataFrame,
      bb: DataFrame, tauMilli: Long, hamMax: Long): DataFrame =
    probeAs(bandProbe(corpusBands, bb, Some("seg_idx"), tauMilli, hamMax),
      "segments", "seg")

  /** `dedup_audio_incremental` checked key: the family parity split
    * (even = corpus, odd = incoming batch) over the planted clips. The
    * plants populate every branch: `{10k, 10k+1}` straddles the split
    * (the odd copy is a corpus dup), `{20k+5, 20k+7}` is odd-only (a
    * within-batch pair — min keeps), `{10k+6}` partials are corpus-side.
    */
  def dedupAudioIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = audioStructured(table(spark, sfDir, "documents")).persist()
    dedupAudioIncrementalOn(
      clips.filter(col("doc_id") % 2 === 0),
      clips.filter(col("doc_id") % 2 === 1),
      AudioFpWin, AudioSegWin, AudioTauMilli, AudioHamMax)
      .orderBy(col("doc_id"))
  }

  /** One media rung's verdict geometry: the sub-document unit its
    * hashes are keyed by (`None` for the doc-level image rung — one hash
    * per document), the τ share of a document's units that must match,
    * in exact integer milli, and the hamming radius. A doc-level
    * document is its own single unit, so its share is 0 or 1000 and
    * τ = 1 reads "any match".
    */
  private[graft] final case class Rung(modality: String,
      unit: Option[String], tauMilli: Long, hamMax: Long) {
    def selfVerdict(banded: DataFrame): DataFrame =
      bandSelfVerdict(banded, unit, tauMilli, hamMax)
    def probe(corpusBands: DataFrame, batchBands: DataFrame): DataFrame =
      bandProbe(corpusBands, batchBands, unit, tauMilli, hamMax)
  }
  private[graft] val VideoRung =
    Rung("video", Some("frame_idx"), VideoTauMilli, VideoHamMax)
  private[graft] val AudioRung =
    Rung("audio", Some("seg_idx"), AudioTauMilli, AudioHamMax)
  private[graft] val ImageRung = Rung("image", None, 1L, ImageHamMax)

  /** `banded`'s hash rows matched against `other`'s band rows within
    * `hamMax` bits — `(doc_id, <unit>, partner)`, one row per matching
    * band pair (pigeonhole blocking: a pair within the radius shares a
    * band, so the equi-join on the band keys finds it).
    */
  private def bandMatches(banded: DataFrame, other: DataFrame,
      unit: Option[String], hamMax: Long): DataFrame =
    banded.select((Seq("band_idx", "band_val", "doc_id") ++ unit).map(col) :+
        col("dhash").as("dh_a"): _*)
      .join(other.select(col("band_idx"), col("band_val"),
        col("doc_id").as("partner"), col("dhash").as("dh_b")),
        Seq("band_idx", "band_val"))
      .filter(withinRadius(col("dh_a"), col("dh_b"), lit(hamMax)))

  /** Two 64-bit hashes within `radius` differing bits — the one Spark
    * spelling of the media rungs' hamming test (the SQL twins' is
    * [[SqlRung]]).
    */
  private[graft] def withinRadius(a: Column, b: Column,
      radius: Column): Column =
    bit_count(a.bitwiseXOR(b)) <= radius

  /** Per unit of `banded`, its smallest matching OTHER document. */
  private def minPartners(banded: DataFrame, unit: Option[String],
      hamMax: Long): DataFrame =
    bandMatches(banded, banded, unit, hamMax)
      .filter(col("doc_id") =!= col("partner"))
      .groupBy(("doc_id" +: unit.toSeq).map(col): _*)
      .agg(min(col("partner")).as("min_partner"))

  /** One row per unit with its dhash, read off the `band_idx = 0` rows —
    * each hash row's exactly once ([[bandRows]]), so the spine costs no
    * shuffle. Every band state derives per document from unique doc ids,
    * so its units are unique (PropertiesSpec pins it on every state).
    */
  private def unitSpine(banded: DataFrame, unit: Option[String]): DataFrame =
    banded.filter(col("band_idx") === 0)
      .select(("doc_id" +: unit.toSeq :+ "dhash").map(col): _*)

  /** Per-unit match columns to one row per document: `n_units`, one
    * count per `(name, column)` of the units whose column is non-null,
    * and the smallest `min_partner`. A doc-level unit row IS its
    * document and keeps its dhash.
    */
  private def perDoc(units: DataFrame, unit: Option[String],
      counts: Seq[(String, String)]): DataFrame = unit match {
    case Some(_) =>
      units.groupBy(col("doc_id")).agg(count(lit(1)).as("n_units"),
        counts.map { case (n, c) => count(col(c)).as(n) } :+
          min(col("min_partner")).as("min_partner"): _*)
    case None =>
      units.select(Seq(col("doc_id"), col("dhash"), lit(1L).as("n_units")) ++
        counts.map { case (n, c) => col(c).isNotNull.cast(LongType).as(n) } :+
        col("min_partner"): _*)
  }

  /** THE BANDED SELF-VERDICT — every media rung's corpus dedup over its
    * band rows ([[videoBandState]]/[[audioBandState]]/[[imageBandState]]
    * shape; `unit` = `frame_idx`, `seg_idx` or `None` for doc-level
    * images). The banded hamming-≤-`hamMax` self-join finds each unit's
    * smallest matching other document; per document: `n_units`,
    * `n_dup_units`, `dup_frac_milli` (exact integer milli), `min_partner`
    * and the SemDeDup-shaped verdict `is_dup` — ≥ τ of its units match
    * AND a matching partner has a smaller id (keep-min: one copy of a
    * re-upload survives). Doc-level rows also carry `dhash`. `banded`
    * feeds both join sides and the spine, so the caller makes it stable.
    */
  private[graft] def bandSelfVerdict(banded: DataFrame, unit: Option[String],
      tauMilli: Long, hamMax: Long): DataFrame =
    perDoc(unitSpine(banded, unit).join(minPartners(banded, unit, hamMax),
        "doc_id" +: unit.toSeq, "left"),
        unit, Seq("n_dup_units" -> "min_partner"))
      .withColumn("dup_frac_milli", expr("n_dup_units * 1000 div n_units"))
      .withColumn("is_dup", coalesce(col("dup_frac_milli") >= tauMilli &&
        col("min_partner") < col("doc_id"), lit(false)))

  /** THE BANDED PROBE — a crawl batch's band rows screened against a
    * maintained corpus band table plus themselves, in one pass. Per
    * batch document: `n_units`, `n_dup_corpus`/`n_dup_batch` (units
    * matching ANY corpus unit / another batch document's),
    * `corpus_frac_milli`/`batch_frac_milli`, `min_batch_partner`,
    * `is_dup_corpus` (corpus share ≥ τ — the corpus already kept its
    * representative), `is_dup_batch` (not a corpus dup, batch share ≥ τ
    * and a smaller-id matching batch partner — keep-min), `keep` =
    * neither. Doc-level rows also carry `dhash`.
    *
    * Scale shape: the corpus contributes hash-sized band rows (at 100 TB
    * a static table bucketed on the band keys, probed with batch-sized
    * volume, never corpus×corpus); the within-batch pass is the tiny
    * self-join. `batchBands` feeds three joins and the spine, so the
    * caller makes it stable.
    */
  private[graft] def bandProbe(corpusBands: DataFrame, batchBands: DataFrame,
      unit: Option[String], tauMilli: Long, hamMax: Long): DataFrame = {
    val keys = "doc_id" +: unit.toSeq
    val corpusHits = bandMatches(batchBands, corpusBands, unit, hamMax)
      .groupBy(keys.map(col): _*)
      .agg(lit(true).as("hit_corpus"))
    perDoc(unitSpine(batchBands, unit)
        .join(corpusHits, keys, "left")
        .join(minPartners(batchBands, unit, hamMax), keys, "left"),
        unit, Seq("n_dup_corpus" -> "hit_corpus",
          "n_dup_batch" -> "min_partner"))
      .withColumn("corpus_frac_milli",
        expr("n_dup_corpus * 1000 div n_units"))
      .withColumn("batch_frac_milli", expr("n_dup_batch * 1000 div n_units"))
      .withColumn("is_dup_corpus", col("corpus_frac_milli") >= tauMilli)
      .withColumn("is_dup_batch", !col("is_dup_corpus") &&
        coalesce(col("batch_frac_milli") >= tauMilli &&
          col("min_partner") < col("doc_id"), lit(false)))
      .withColumn("keep", !col("is_dup_corpus") && !col("is_dup_batch"))
      .withColumnRenamed("min_partner", "min_batch_partner")
  }

  /** A unit-level [[bandSelfVerdict]] in its rung's public names. */
  private def selfAs(v: DataFrame, units: String,
      modality: String): DataFrame =
    v.select(col("doc_id"), col("n_units").as(s"n_$units"),
      col("n_dup_units").as(s"n_dup_$units"), col("dup_frac_milli"),
      col("min_partner"), col("is_dup").as(s"is_dup_$modality"))

  /** A unit-level [[bandProbe]] in its rung's public names. */
  private def probeAs(v: DataFrame, units: String, tag: String): DataFrame =
    v.select(col("doc_id"), col("n_units").as(s"n_$units"),
      col("n_dup_corpus").as(s"n_dup_corpus_$tag"),
      col("n_dup_batch").as(s"n_dup_batch_$tag"), col("corpus_frac_milli"),
      col("batch_frac_milli"), col("min_batch_partner"),
      col("is_dup_corpus"), col("is_dup_batch"), col("keep"))

  /** The three modalities' band tables as one unit — what the mixed
    * compositions gate on, probe and carry, at the graded geometry.
    * Members must be STABLE (checkpointed frames or parquet-scan-rooted):
    * each feeds several joins downstream.
    */
  private[graft] final case class MediaBands(video: DataFrame,
      audio: DataFrame, image: DataFrame) {
    private def rungs: Seq[(Rung, DataFrame)] =
      Seq(VideoRung -> video, AudioRung -> audio, ImageRung -> image)

    def byModality: Seq[(String, DataFrame)] =
      rungs.map { case (r, b) => r.modality -> b }

    /** Per modality, the docs whose media near-duplicate a smaller doc's
      * within these tables — `(doc_id)` each.
      */
    def selfDrops: Seq[DataFrame] = rungs.map { case (r, b) =>
      r.selfVerdict(b).filter(col("is_dup")).select(col("doc_id"))
    }

    /** Per modality, `batch`'s [[bandProbe]] verdict against these
      * tables as the corpus side.
      */
    def probe(batch: MediaBands): Seq[(String, DataFrame)] =
      rungs.zip(batch.rungs).map { case ((r, corpus), (_, b)) =>
        r.modality -> r.probe(corpus, b)
      }

    /** Per modality, the `batch` docs the probe does not keep. */
    def probeDrops(batch: MediaBands): Seq[DataFrame] =
      probe(batch).map(_._2.filter(!col("keep")).select(col("doc_id")))

    /** The union-merge law per modality: the band state of doc-disjoint
      * populations is the union of theirs (an append, never a rewrite).
      */
    def merge(other: MediaBands): MediaBands = MediaBands(
      video.unionByName(other.video), audio.unionByName(other.audio),
      image.unionByName(other.image))

    /** The three tables as ONE modality-tagged frame in
      * [[bandRowSchema]] — one boundary's input; [[unfuse]] slices a
      * materialized copy back.
      */
    def fused: DataFrame = rungs.map { case (r, b) =>
      normBands(b, r.modality, r.unit)
    }.reduce(_ unionByName _)

    /** Per-modality slices of a [[fused]] frame, unit column restored to
      * its type here.
      */
    def unfuse(f: DataFrame): MediaBands = {
      def slice(r: Rung, like: DataFrame) =
        f.filter(col("modality") === r.modality).select(Seq(col("doc_id")) ++
          r.unit.map(u => col("unit_idx").cast(like.schema(u).dataType).as(u)) ++
          Seq(col("dhash"), col("band_idx"), col("band_val")): _*)
      MediaBands(slice(VideoRung, video), slice(AudioRung, audio),
        slice(ImageRung, image))
    }
  }

  private[graft] object MediaBands {
    /** One table per modality from `read`. */
    def of(read: String => DataFrame): MediaBands =
      MediaBands(read("video"), read("audio"), read("image"))

    /** The band states of `docs`' planted media, each made stable by
      * `boundary`, one modality at a time: the video plant (read by cut
      * detection and the keyframe slice) stays persisted only until its
      * state is through `boundary`, so at most one payload plant is held
      * (the plants are the memory-heavy frames).
      */
    def hashed(docs: DataFrame, boundary: DataFrame => DataFrame): MediaBands = {
      val vids = videoStructured(docs).persist()
      val video = boundary(
        videoBandState(vids, CutFrameBytes, CutThresholdMilli))
      vids.unpersist(blocking = false)
      MediaBands(video,
        boundary(audioBandState(audioStructured(docs), AudioFpWin,
          AudioSegWin)),
        boundary(imageBandState(pairImages(docs))))
    }
  }

  /** Replica-0 bound for the fixed-batch contract of
    * `dedup_media_onstate` (and BandProbeMain): ScaleUpMain replicates a
    * corpus at doc_id offsets of 1e9 per replica, so `doc_id < 1e9`
    * selects the base corpus's docs at EVERY scale — the batch axis
    * stays fixed while the corpus/state axis grows, which is exactly the
    * production scaling question the key's 10× slope answers.
    */
  private[graft] val ReplicaBound = 1000000000L

  /** The unified band-row schema of the landing's BATCH side — one shape
    * for all three modalities so a single file stream replays them:
    * (modality, doc_id, unit_idx, dhash, band_idx, band_val). `unit_idx`
    * is the modality's sub-document unit (video keyframe index, audio
    * segment index, 0 for the single image hash), widened to long.
    */
  private[graft] val bandRowSchema: StructType = StructType(Seq(
    StructField("modality", StringType),
    StructField("doc_id", LongType),
    StructField("unit_idx", LongType),
    StructField("dhash", LongType),
    StructField("band_idx", IntegerType),
    StructField("band_val", LongType)))

  /** Normalize a per-modality band frame to [[bandRowSchema]]. */
  private def normBands(df: DataFrame, modality: String,
      unitCol: Option[String]): DataFrame =
    df.select(lit(modality).as("modality"), col("doc_id"),
      unitCol.map(c => col(c).cast(LongType)).getOrElse(lit(0L))
        .as("unit_idx"),
      col("dhash"), col("band_idx").cast(IntegerType),
      col("band_val").cast(LongType))

  /** THE MAINTAINED MEDIA BAND TABLES AS TABLES — materialized ONCE per
    * corpus as a write-once parquet landing (content-fingerprinted
    * against the documents table, atomically published — the
    * `landedEvents` / `imageFixture` discipline), two sides:
    *
    *  - `corpus/{video,audio,image}`: the three band states over the
    *    even-parity corpus's media, raw per-modality schemas — what
    *    "maintained state" MEANS in production (a bucketed table on
    *    durable storage that ingest appends to, not a frame re-derived
    *    per query); [[dedupMediaOnState]] probes these.
    *  - `batch/`: the replica-0 batch's band rows in the unified
    *    [[bandRowSchema]], ONE file per modality with ascending mtimes
    *    (the `landedEventsSorted` discipline) — the cloud-storage
    *    landing a file STREAM tails, each modality a real micro-batch;
    *    `stream_dedup_media` replays it. Landing batch bands is the
    *    production ingest shape: hashes are computed where media is
    *    decoded (ingest), and the dedup gate consumes hash rows. The
    *    batch is a sub-population of `odd/`, so its rows are sliced
    *    from those tables rather than hashed a second time.
    *  - `odd/{video,audio,image}` (v4 — r19 verdict #1a): the
    *    UNBOUNDED odd-parity population's band tables in raw
    *    per-modality schemas — the landed ingest output the composed
    *    cycle keys draw their crawl-batch bands from (sliced by id
    *    predicate at read: the %4 day splits and the live filter are
    *    row filters over these tables). Unbounded, NOT replica-0
    *    bounded, so at a scaled-up dir the landed batches grow with
    *    the data exactly as the in-key hashing did — slicing the
    *    landing changes WHERE batch bands come from, never which rows
    *    exist.
    */
  private[graft] def mediaBandLanding(spark: SparkSession,
      sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.MediaBandCache, sfDir,
      new File(s"$sfDir/documents.parquet")) { tmp =>
      val docs = table(spark, sfDir, "documents").select(col("doc_id"))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      // the corpus sides are BUCKETED tables on the probe keys (v3 —
      // SCALE.md r18's named fix: 8 buckets on (band_idx, band_val),
      // sortBy the same, via a throwaway external stage table whose
      // files land in the tmp dir — the bucketedJoin write-once
      // discipline), so every probe joins the maintained table with
      // ZERO Exchange and ZERO Sort on the corpus side; the files stay
      // plain parquet, so schema-only readers (the batch OnState
      // probes) read the same paths unchanged
      def writeBucketed(df: DataFrame, modality: String): Unit =
        graft.Tables.writeBucketed(df, s"$tmp/corpus/$modality",
          s"media_bands_$modality", "band_idx", "band_val")
      // VIDEO ladders first, serial — video plants are the PERSISTED
      // ones (one plant in memory at a time, the
      // corpusPipelineMultimodalOn memory discipline; the video plant
      // feeds cut detection + the keyframe slice, so it persists while
      // its band state derives). The audio/image ladders have NO
      // persisted plants (single consumers, streamed through tasks), so
      // their four writes submit CONCURRENTLY after the video phase
      // (guide §2.6 via Boundaries.runAll — the landing is rep-1-only
      // wall-clock, but the driver's bench pays it once).
      val vids = videoStructured(corpus).persist()
      writeBucketed(
        videoBandState(vids, CutFrameBytes, CutThresholdMilli), "video")
      vids.unpersist(blocking = false)
      val ovids = videoStructured(odd).persist()
      videoBandState(ovids, CutFrameBytes, CutThresholdMilli)
        .write.mode("overwrite").parquet(s"$tmp/odd/video")
      ovids.unpersist(blocking = false)
      Boundaries.runAll(spark, Seq(
        () => writeBucketed(
          audioBandState(audioStructured(corpus), AudioFpWin,
            AudioSegWin), "audio"),
        () => writeBucketed(imageBandState(pairImages(corpus)), "image"),
        () => audioBandState(audioStructured(odd), AudioFpWin, AudioSegWin)
          .write.mode("overwrite").parquet(s"$tmp/odd/audio"),
        () => imageBandState(pairImages(odd))
          .write.mode("overwrite").parquet(s"$tmp/odd/image")))
      // the replica-0 batch is odd ∧ doc_id < ReplicaBound and band
      // derivation is per-document, so its band rows ARE the odd
      // tables' rows under the bound — sliced from the landed tables
      // (no second decode+hash), normalized to bandRowSchema
      Boundaries.writeAll(spark, Seq(("video", Some("frame_idx")),
          ("audio", Some("seg_idx")), ("image", None)).map {
        case (m, unit) => s"work_$m" -> normBands(
          spark.read.parquet(s"$tmp/odd/$m")
            .filter(col("doc_id") < ReplicaBound), m, unit).coalesce(1)
      }, tmp.getPath)
      // the batch side: one file per modality, mtimes ascending so a
      // paced file stream replays modality-by-modality (coalesce(1) is
      // harness landing plumbing, not an operator plan)
      graft.LocalFs.promoteOrdered(tmp,
        Curation.batchFiles(Seq("video", "audio", "image")))
    }
  }

  /** One landed band table restricted to `pop`'s doc_ids (left-semi; the
    * id frame is small at every day scale, so AQE broadcasts it). Band
    * derivation is per-document ([[videoBandState]] / [[audioBandState]]
    * / [[imageBandState]] hash one doc's payload independently of every
    * other row), so the RESTRICTION of a landed table IS the band state
    * of the restricted population — the slice the composed cycle keys
    * read instead of re-synthesizing and re-hashing plants per run (r19
    * verdict #1a; PropertiesSpec pins the filter corollary of the
    * union-merge law).
    */
  private[graft] def landedBandsOf(spark: SparkSession, landing: String,
      side: String, modality: String, pop: DataFrame): DataFrame =
    spark.read.parquet(s"$landing/$side/$modality")
      .join(pop.select(col("doc_id")), Seq("doc_id"), "left_semi")

  /** ONE modality's corpus band table from the landing AS THE BUCKETED
    * CATALOG TABLE — the PRUNED static side of the `stream_dedup_media`
    * probe (SCALE.md r18's named fix, both halves): the landing is
    * partitioned by modality, so a per-modality ingest stream scans
    * ONLY its own maintained band table (the static-scan term drops
    * from triggers × full three-modality union to one pass over the
    * table total), and the files are registered metadata-only as a
    * table CLUSTERED/SORTED BY (band_idx, band_val) INTO 8 BUCKETS (the
    * `bucketed_join` re-registration discipline), so the probe's
    * sort-merge join needs NO Exchange and NO Sort on the corpus side —
    * only the batch-sized stream side shuffles. Raw per-modality
    * schema; callers project the probe columns WITHOUT casting
    * band_idx/band_val (a cast mints new attributes and discards the
    * bucket distribution).
    */
  private[graft] def mediaBandCorpusBucketed(spark: SparkSession,
      landing: String, modality: String): DataFrame = {
    require(Seq("video", "audio", "image").contains(modality),
      s"unknown modality '$modality' (expected video/audio/image)")
    val path = s"$landing/corpus/$modality"
    // SESSION-UNIQUE catalog name (ADVICE r19): a fixed global name
    // raced on DROP/CREATE between concurrent sessions sharing the
    // metastore, and a superseded-fingerprint sweep could delete the
    // location out from under a stale registration. The appId suffix
    // scopes the registration to this session (the stage-table
    // write-once discipline); callers drop it after the probe
    // ([[dropMediaBandCorpusTable]]).
    val tbl = mediaBandTableName(spark, modality)
    spark.sql(s"DROP TABLE IF EXISTS $tbl") // same-session re-run only
    val schemaDdl = spark.read.parquet(path).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $tbl ($schemaDdl) USING parquet
         |CLUSTERED BY (band_idx, band_val)
         |SORTED BY (band_idx, band_val) INTO 8 BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(tbl)
  }

  private[graft] def mediaBandTableName(spark: SparkSession,
      modality: String): String = {
    val app = spark.sparkContext.applicationId
      .replaceAll("[^A-Za-z0-9_]", "_")
    s"graft_media_bands_${modality}_$app"
  }

  /** Drop the session-scoped bucketed registration once its probe has
    * completed — metadata only, the landing files are untouched.
    */
  private[graft] def dropMediaBandCorpusTable(spark: SparkSession,
      modality: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${mediaBandTableName(spark, modality)}")
    ()
  }

  /** One landed band table sliced by a pure-id predicate — the
    * [[landedBandsOf]] restriction without the semi-join spine (band
    * derivation is per-document, so a doc_id filter of the landed
    * table IS the filtered population's band state, and a plain
    * predicate pushes into the parquet scan).
    */
  private def landedBandsWhere(spark: SparkSession, landing: String,
      side: String, modality: String,
      pred: org.apache.spark.sql.Column): DataFrame =
    spark.read.parquet(s"$landing/$side/$modality").filter(pred)

  /** `dedup_media_onstate` checked key — THE PRODUCTION PROBE SHAPE on
    * the oracle board (r17 verdict #3: the flat-probe claim graded, not
    * just BandProbeMain-measured): the corpus band states are
    * materialized OUTSIDE the graded region ([[mediaBandLanding]], the
    * `cdc_snapshot` landing-dir precedent) and the key is the BATCH
    * PROBE alone — a fixed replica-0 batch (odd doc_ids <
    * [[ReplicaBound]]) hashed and screened against the three maintained
    * band tables via the `OnState` forms, one verdict row per (modality,
    * batch doc). The 10× slope is therefore batch-sized (~flat): the
    * state parquet grows with the corpus but the probe's joins broadcast
    * the batch bands against it map-side.
    *
    * The DuckDB twin recomputes all three verdicts from the planting
    * rules over the SAME populations (the `dedup_*_incremental` twin
    * formulations, batch-bounded) — hash equality proves the
    * parquet-landed state probes exactly like the derived-bands form
    * (the law PropertiesSpec pins in-memory, here through a real
    * storage round-trip).
    *
    * r20: the BATCH bands also arrive from the landing's odd-parity
    * ingest plants ([[landedBandsWhere]] — the r19-#1a "hashes are
    * computed at ingest" discipline the cycle keys already follow;
    * ExtensionsSpec pins this form row-equal to in-key synthesis). The
    * batch predicate is a pure id predicate, so the slice is a pushed
    * parquet filter — the graded plan is probe joins over two band
    * scans, no synthesis subtree.
    */
  def dedupMediaOnState(spark: SparkSession, sfDir: String): DataFrame = {
    val landing = mediaBandLanding(spark, sfDir)
    val batchPred = col("doc_id") % 2 === 1 && col("doc_id") < ReplicaBound
    // each batch band slice feeds three joins in its probe — persisted,
    // released by the caller's clearCache contract
    val corpus = MediaBands.of(m => spark.read.parquet(s"$landing/corpus/$m"))
    val batch = MediaBands.of(
      landedBandsWhere(spark, landing, "odd", _, batchPred).persist())
    corpus.probe(batch).map { case (m, v) =>
      v.select(lit(m).as("modality"), col("doc_id"), col("is_dup_corpus"),
        col("is_dup_batch"), col("keep"))
    }.reduce(_ unionByName _)
      .orderBy(col("modality"), col("doc_id"))
  }

  /** `dedup_media_absorb_onstate` checked key — THE MEDIA ABSORB
    * THROUGH STORAGE, completing the state-axis triangle on the media
    * family (the `corpus_states_absorb_onstate` discipline applied to
    * the band tables): day-1 batch media (doc_id % 4 = 1, replica-0
    * bounded) are hashed ONCE per modality, probed against the
    * parquet-landed corpus band tables, and their band rows APPENDED
    * as parquet to a session work dir — the absorb is a batch-sized
    * write, the union-merge law's production form (new rows into the
    * bucketed band table, never a rewrite). Day-2 batch media
    * (% 4 = 3, bounded) then probe the UNION READ of landing ∪ delta.
    * The planted `{20k+5, 20k+7}` video/audio classes straddle the two
    * batches, so day-2 verdicts flip to corpus-dup ONLY through the
    * absorbed delta — the storage round-trip is graded, not just
    * exercised (the in-memory form of this law is graded inside
    * `corpus_multimodal_generation_cycle`; the image axis has no
    * cross-batch class, so its day-2 union is semantically inert by
    * construction — documented, and the twin proves it stays inert).
    *
    * Output: one verdict row per (day, modality, batch doc). The
    * DuckDB twin recomputes every verdict from the planting rules with
    * day-2's corpus side = the UNION population (even ∪ batch-1). 10×
    * slope is batch-bounded: both batch axes replica-0 fixed, the
    * delta append batch-sized, the probes banded equi-joins.
    *
    * r20: both batches' band rows arrive from the landing's odd-parity
    * ingest plants ([[landedBandsWhere]] pushed-filter slices — the
    * r19-#1a "hashes are computed at ingest" discipline; ExtensionsSpec
    * pins this form row-equal to in-key synthesis). The graded cost is
    * the storage round-trip this key exists to grade: probe → append →
    * union-read probe.
    */
  def dedupMediaAbsorbOnState(spark: SparkSession,
      sfDir: String): DataFrame = {
    val landing = mediaBandLanding(spark, sfDir)
    val work = graft.LocalFs.workDir(graft.LocalFs.Names.MediaAbsorb,
      spark.sparkContext.applicationId)
    def verdicts(day: Int, corpus: MediaBands,
        batch: MediaBands): DataFrame =
      corpus.probe(batch).map { case (m, v) =>
        v.select(lit(day).as("day"), lit(m).as("modality"), col("doc_id"),
          col("is_dup_corpus"), col("is_dup_batch"), col("keep"))
      }.reduce(_ unionByName _)
    // day 1: batch-1 bands arrive from the landing's odd ingest plants
    // (r20 — the r19-#1a "hashes are computed at ingest" discipline;
    // the batch predicate is a pure id predicate, so each slice is a
    // pushed parquet filter, no synthesis subtree). Band frames stay
    // persisted (probe joins + the append), released by the caller's
    // clearCache contract.
    def bandsOf(day: Int): MediaBands = MediaBands.of(
      landedBandsWhere(spark, landing, "odd", _,
        col("doc_id") % 4 === (if (day == 1) 1 else 3) &&
          col("doc_id") < ReplicaBound).persist())
    val landed = MediaBands.of(m => spark.read.parquet(s"$landing/corpus/$m"))
    val b1 = bandsOf(1)
    // THE ABSORB (actions — each also materializes its batch-1 slice for
    // the probe)
    b1.byModality.foreach { case (m, b) =>
      b.write.mode("overwrite").parquet(s"$work/$m")
    }
    // day 2: batch-2 against the union read of landing ∪ appended delta
    val absorbed = landed.merge(
      MediaBands.of(m => spark.read.parquet(s"$work/$m")))
    verdicts(1, landed, b1).unionByName(verdicts(2, absorbed, bandsOf(2)))
      .orderBy(col("day"), col("modality"), col("doc_id"))
  }

  /** The planted scene-key rule as SQL — single source with
    * [[videoPayload]]'s Scala rule (interpolated into both video twins).
    */
  private def videoKeySqlExpr: String =
    """CASE WHEN doc_id % 10 = 1 THEN (doc_id - 1) * 8 + fi // 2
      |     WHEN doc_id % 20 = 7 THEN (doc_id - 2) * 8 + fi // 2
      |     WHEN doc_id % 10 = 6 AND fi // 2 < 2
      |       THEN (doc_id - 6) * 8 + fi // 2
      |     ELSE doc_id * 8 + fi // 2 END""".stripMargin

  /** Shared twin chain for the video family: planting-rule frames →
    * byte lists (levels + noise + jitter) → milli means → cuts →
    * keyframes → gradient hashes → band rows (`fr`/`fb`/`m`/`cut`/
    * `kfs`/`h`/`bands`), consumed by both `dedup_video` twins
    * (unprefixed, over `documents`) and — prefixed, over a population
    * CTE — by the mixed-modality flagship twin.
    */
  private[graft] def videoChainSqlCtes(p: String, src: String): String = {
    val frameB = CutFrameBytes
    val nFrames = VideoScenes * VideoFramesPerScene
    val keyExpr = videoKeySqlExpr
    s"""${p}fr AS (
       |  SELECT doc_id, fi, key,
       |    32 + CAST(CAST(concat('0x', substring(md5(
       |      CAST(key AS VARCHAR) || ':L'), 1, 15)) AS BIGINT) % 12
       |      AS INTEGER) * 8 AS lvl
       |  FROM (SELECT doc_id, fi, ($keyExpr) AS key
       |        FROM $src, UNNEST(range(0, $nFrames)) AS t(fi))),
       |${p}fb AS (
       |  SELECT doc_id, fi,
       |    list_transform(range(0, $frameB), q ->
       |      lvl
       |      + CAST(CAST(concat('0x', substring(md5(
       |          CAST(key AS VARCHAR) || ':' || CAST(q AS VARCHAR)),
       |          1, 15)) AS BIGINT) % 7 AS INTEGER)
       |      + CASE WHEN (doc_id % 10 = 1 OR doc_id % 20 = 7)
       |                  AND q = doc_id % $frameB
       |             THEN CASE WHEN CAST(concat('0x', substring(md5(
       |                 CAST(key AS VARCHAR) || ':'
       |                 || CAST(q AS VARCHAR)), 1, 15)) AS BIGINT)
       |                 % 7 < 6
       |               THEN 1 ELSE -1 END
       |             ELSE 0 END) AS bs
       |  FROM ${p}fr),
       |${p}m AS (
       |  SELECT doc_id, fi, bs,
       |    CAST(list_sum(bs) AS BIGINT) * 1000 // $frameB AS mm
       |  FROM ${p}fb),
       |${p}cut AS (
       |  SELECT a.doc_id, a.fi AS kf
       |  FROM ${p}m a JOIN ${p}m b ON a.doc_id = b.doc_id
       |    AND b.fi = a.fi - 1
       |  WHERE abs(a.mm - b.mm) > $CutThresholdMilli),
       |${p}kfs AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS kf FROM $src
       |  UNION ALL SELECT doc_id, kf FROM ${p}cut),
       |${p}h AS (
       |  SELECT k.doc_id, k.kf,
       |    CAST(list_sum(list_transform(range(1, $frameB), kk ->
       |      CASE WHEN fb.bs[kk + 1] > fb.bs[kk]
       |           THEN CAST(1 AS BIGINT) << (kk - 1)
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
       |  FROM ${p}kfs k JOIN ${p}fb fb ON fb.doc_id = k.doc_id
       |    AND fb.fi = k.kf),
       |${p}bands AS (
       |  SELECT doc_id, kf, dhash, bi.i AS band_idx,
       |    (dhash >> CAST(bi.i * 16 AS INTEGER)) & 65535 AS band_val
       |  FROM ${p}h, UNNEST(range(0, 4)) AS bi(i))""".stripMargin
  }

  /** The planted segment-key rule as SQL — single source with
    * [[audioPayload]]'s Scala rule (interpolated into both audio twins).
    */
  private def audioKeySqlExpr: String =
    """CASE WHEN doc_id % 10 = 1 THEN (doc_id - 1) * 8 + s
      |     WHEN doc_id % 20 = 7 THEN (doc_id - 2) * 8 + s
      |     WHEN doc_id % 10 = 6 AND s < 2 THEN (doc_id - 6) * 8 + s
      |     ELSE doc_id * 8 + s END""".stripMargin

  /** Shared twin chain for the audio family: planting-rule window
    * levels (hash draw + forced-distinct bump + re-encode jitter) →
    * window energies → per-segment gradient fingerprints → band rows
    * (`afr`/`alv`/`aen`/`ah`/`abands`), consumed by both `dedup_audio`
    * twins (unprefixed, over `documents`) and — prefixed, over a
    * population CTE — by the mixed-modality flagship twin. Never
    * touches payload strings — the Spark side must reproduce these
    * energies from the actual PCM bytes.
    */
  private[graft] def audioChainSqlCtes(p: String, src: String): String = {
    val keyExpr = audioKeySqlExpr
    val rNow = "CAST(concat('0x', substring(md5(CAST(key AS VARCHAR) " +
      "|| ':a:' || CAST(w AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""${p}afr AS (
       |  SELECT doc_id, s, w, ($keyExpr) AS key
       |  FROM $src,
       |    UNNEST(range(0, $AudioSegs)) AS ts(s),
       |    UNNEST(range(0, $AudioSegWin)) AS tw(w)),
       |${p}alv AS (
       |  SELECT doc_id, s, w,
       |    40 + 2 * r + CAST(w % 2 AS INTEGER)
       |    + CASE WHEN (doc_id % 10 = 1 OR doc_id % 20 = 7)
       |                AND w = doc_id % $AudioSegWin
       |           THEN 2 ELSE 0 END AS lvl
       |  FROM (
       |    SELECT doc_id, s, w, CAST($rNow % 24 AS INTEGER) AS r
       |    FROM ${p}afr) ${p}aq),
       |${p}aen AS (
       |  SELECT doc_id, s,
       |    list(CAST($AudioFpWin AS BIGINT) * lvl * lvl ORDER BY w) AS es
       |  FROM ${p}alv GROUP BY doc_id, s),
       |${p}ah AS (
       |  SELECT doc_id, CAST(s AS INTEGER) AS seg_idx,
       |    CAST(list_sum(list_transform(range(1, $AudioSegWin), k ->
       |      CASE WHEN es[k + 1] > es[k]
       |           THEN CAST(1 AS BIGINT) << CAST(k - 1 AS INTEGER)
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
       |  FROM ${p}aen),
       |${p}abands AS (
       |  SELECT doc_id, seg_idx, dhash, bi.i AS band_idx,
       |    (dhash >> CAST(bi.i * 16 AS INTEGER)) & 65535 AS band_val
       |  FROM ${p}ah, UNNEST(range(0, 4)) AS bi(i))""".stripMargin
  }

  /** A unit-level twin chain's verdict geometry: the chain's CTE prefix
    * (also the tag of the verdict CTEs built over it), its band-row and
    * unit CTEs, the unit column, and the rung's τ and radius — the SQL
    * counterpart of [[Rung]].
    */
  private final case class SqlRung(tag: String, bands: String,
      units: String, unit: String, tauMilli: Long, hamMax: Long) {
    /** The [[bandSelfVerdict]] twin over the population `pop` (a
      * predicate on a doc_id expression): `<tag>mt<s>` matches and
      * `<tag>v<s>` — per doc `n_units`, `n_dup_units`, `dup_frac_milli`,
      * `min_partner`.
      */
    def selfVerdictCtes(s: String, pop: String => String): String = {
      val (m, v) = (s"${tag}mt$s", s"${tag}v$s")
      s"""$m AS (
         |  SELECT a.doc_id AS doc_a, a.$unit AS u_a,
         |    min(b.doc_id) AS min_partner
         |  FROM $bands a JOIN $bands b ON a.band_idx = b.band_idx
         |    AND a.band_val = b.band_val AND a.doc_id != b.doc_id
         |  WHERE ${pop("a.doc_id")} AND ${pop("b.doc_id")}
         |    AND bit_count(xor(a.dhash, b.dhash)) <= $hamMax
         |  GROUP BY a.doc_id, a.$unit),
         |$v AS (
         |  SELECT k.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_units,
         |    CAST(count($m.min_partner) AS BIGINT) AS n_dup_units,
         |    CAST(count($m.min_partner) AS BIGINT) * 1000 // count(*)
         |      AS dup_frac_milli,
         |    min($m.min_partner) AS min_partner
         |  FROM $units k LEFT JOIN $m
         |    ON $m.doc_a = k.doc_id AND $m.u_a = k.$unit
         |  WHERE ${pop("k.doc_id")}
         |  GROUP BY k.doc_id)""".stripMargin
    }

    /** The [[bandProbe]] twin of the `batch` population against the
      * `corpus` population (predicates on a doc_id expression):
      * `<tag>mc<s>`/`<tag>mb<s>` matches and `<tag>v<s>` — per batch doc
      * `n_units`, `n_dup_corpus`, `n_dup_batch`, `corpus_frac_milli`,
      * `batch_frac_milli`, `min_batch_partner`.
      */
    def probeVerdictCtes(s: String, batch: String => String,
        corpus: String => String): String = {
      val (mc, mb, v) = (s"${tag}mc$s", s"${tag}mb$s", s"${tag}v$s")
      corpusHitCte(s, batch, corpus) + s""",
         |$mb AS (
         |  SELECT a.doc_id AS doc_a, a.$unit AS u_a,
         |    min(b.doc_id) AS min_partner
         |  FROM $bands a JOIN $bands b ON a.band_idx = b.band_idx
         |    AND a.band_val = b.band_val AND a.doc_id != b.doc_id
         |  WHERE ${batch("a.doc_id")} AND ${batch("b.doc_id")}
         |    AND bit_count(xor(a.dhash, b.dhash)) <= $hamMax
         |  GROUP BY a.doc_id, a.$unit),
         |$v AS (
         |  SELECT k.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_units,
         |    CAST(count($mc.hit) AS BIGINT) AS n_dup_corpus,
         |    CAST(count($mb.min_partner) AS BIGINT) AS n_dup_batch,
         |    CAST(count($mc.hit) AS BIGINT) * 1000 // count(*)
         |      AS corpus_frac_milli,
         |    CAST(count($mb.min_partner) AS BIGINT) * 1000 // count(*)
         |      AS batch_frac_milli,
         |    min($mb.min_partner) AS min_batch_partner
         |  FROM $units k
         |  LEFT JOIN $mc ON $mc.doc_a = k.doc_id AND $mc.u_a = k.$unit
         |  LEFT JOIN $mb ON $mb.doc_a = k.doc_id AND $mb.u_a = k.$unit
         |  WHERE ${batch("k.doc_id")}
         |  GROUP BY k.doc_id)""".stripMargin
    }

    /** The corpus half of [[probeVerdictCtes]]: `<tag>mc<s>`, each
      * `batch` unit with a `corpus` band partner within the radius.
      */
    def corpusHitCte(s: String, batch: String => String,
        corpus: String => String): String =
      s"""${tag}mc$s AS (
         |  SELECT a.doc_id AS doc_a, a.$unit AS u_a, true AS hit
         |  FROM $bands a JOIN $bands c ON a.band_idx = c.band_idx
         |    AND a.band_val = c.band_val
         |  WHERE ${batch("a.doc_id")} AND (${corpus("c.doc_id")})
         |    AND bit_count(xor(a.dhash, c.dhash)) <= $hamMax
         |  GROUP BY a.doc_id, a.$unit)""".stripMargin

    /** Per `batch` doc over [[corpusHitCte]]: `<tag>hit` — `n_units`,
      * `n_hit_units`, `corpus_frac_milli`.
      */
    def corpusHitVerdictCtes(batch: String => String,
        corpus: String => String): String = {
      val mc = s"${tag}mc"
      corpusHitCte("", batch, corpus) + s""",
         |${tag}hit AS (
         |  SELECT k.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_units,
         |    CAST(count($mc.hit) AS BIGINT) AS n_hit_units,
         |    CAST(count($mc.hit) AS BIGINT) * 1000 // count(*)
         |      AS corpus_frac_milli
         |  FROM $units k
         |  LEFT JOIN $mc ON $mc.doc_a = k.doc_id AND $mc.u_a = k.$unit
         |  WHERE ${batch("k.doc_id")}
         |  GROUP BY k.doc_id)""".stripMargin
    }

    /** Over a self-verdict row: the keep-min duplicate flag. */
    def isDup: String =
      s"coalesce(dup_frac_milli >= $tauMilli AND min_partner < doc_id, false)"

    private def batchDup: String = s"""coalesce(
       |    batch_frac_milli >= $tauMilli
       |      AND min_batch_partner < doc_id, false)""".stripMargin

    /** Over a probe-verdict row: the three [[bandProbe]] flags. */
    def probeFlags: String =
      s"""corpus_frac_milli >= $tauMilli AS is_dup_corpus,
         |  (corpus_frac_milli < $tauMilli AND $batchDup) AS is_dup_batch,
         |  (corpus_frac_milli < $tauMilli AND NOT $batchDup) AS keep"""
        .stripMargin

    /** Over a probe-verdict row: not kept. */
    def probeDrop: String = s"corpus_frac_milli >= $tauMilli OR $batchDup"
  }

  /** The video rung over the [[videoChainSqlCtes]] chain with prefix `p`. */
  private def videoSqlRung(p: String) =
    SqlRung(p, s"${p}bands", s"${p}kfs", "kf", VideoTauMilli, VideoHamMax)

  /** The audio rung over the [[audioChainSqlCtes]] chain with prefix `p`. */
  private def audioSqlRung(p: String) =
    SqlRung(p, s"${p}abands", s"${p}ah", "seg_idx", AudioTauMilli,
      AudioHamMax)

  /** The composed twins' unit-level rungs: the `v` and `x` chains over
    * `mpop` ([[mediaChainSqlCtes]]).
    */
  private def composedSqlRungs = Seq(videoSqlRung("v"), audioSqlRung("x"))

  /** Both unit-level chains over the population CTE `mpop`: video
    * prefixed `v`, audio prefixed `x`.
    */
  private[graft] def mediaChainSqlCtes: String =
    videoChainSqlCtes("v", "mpop") + ",\n" + audioChainSqlCtes("x", "mpop")

  /** The composed twins' self-verdict gate: CTEs ending in
    * `vdrop<s>`/`xdrop<s>`, the docs of the population `pop` (a predicate
    * on a doc_id expression) that are keep-min dups within it.
    */
  private[graft] def selfDropSqlCtes(s: String,
      pop: String => String): String =
    composedSqlRungs.map { r =>
      r.selfVerdictCtes(s, pop) + s""",
         |${r.tag}drop$s AS (
         |  SELECT doc_id FROM ${r.tag}v$s WHERE ${r.isDup})""".stripMargin
    }.mkString(",\n")

  /** The composed twins' probe gate: CTEs ending in `vdrop<s>`/`xdrop<s>`,
    * the `batch` docs the probe against `corpus` does not keep.
    */
  private[graft] def probeDropSqlCtes(s: String, batch: String => String,
      corpus: String => String): String =
    composedSqlRungs.map { r =>
      r.probeVerdictCtes(s, batch, corpus) + s""",
         |${r.tag}drop$s AS (
         |  SELECT doc_id FROM ${r.tag}v$s WHERE ${r.probeDrop})""".stripMargin
    }.mkString(",\n")

  /** The corpus-hit rows of the batch population CTE `bpop` against
    * `corpus` for both unit-level rungs (over [[mediaChainSqlCtes]]):
    * [[SqlRung.corpusHitVerdictCtes]] per rung, then — in
    * [[corpusHitSelectSql]] — `(modality, doc_id, n_units, n_hit_units,
    * corpus_frac_milli, is_dup_corpus)` per batch doc.
    */
  private[graft] def corpusHitSqlCtes(bpop: String,
      corpus: String => String): String =
    composedSqlRungs.map(_.corpusHitVerdictCtes(
      d => s"$d IN (SELECT doc_id FROM $bpop)", corpus)).mkString(",\n")

  /** The SELECT over [[corpusHitSqlCtes]]: one row per rung and batch
    * doc, flagged at the rung's τ.
    */
  private[graft] def corpusHitSelectSql: String =
    composedSqlRungs.zip(Seq("video", "audio")).map { case (r, m) =>
      s"""SELECT '$m' AS modality, doc_id, n_units, n_hit_units,
         |  corpus_frac_milli,
         |  corpus_frac_milli >= ${r.tauMilli} AS is_dup_corpus
         |FROM ${r.tag}hit""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** One batch population's verdict rows for the media state twins: the
    * video/audio probe flags over `vv<s>`/`xv<s>` (from
    * [[mediaVerdictCtes]] with the same suffix) plus the image planting
    * rule, day-stamped when `day` is given.
    */
  private def mediaVerdictSelect(s: String, bpop: String,
      day: Option[Int]): String = {
    val dayCol = day.fold("")(d => s"$d AS day, ")
    composedSqlRungs.zip(Seq("video", "audio")).map { case (r, m) =>
      s"""SELECT $dayCol'$m' AS modality, doc_id,
         |  ${r.probeFlags}
         |FROM ${r.tag}v$s""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nUNION ALL\n") +
      s"""SELECT $dayCol'image' AS modality, doc_id,
         |  (doc_id % 10 = 3 AND (doc_id - 1) IN (SELECT doc_id FROM mpop))
         |    AS is_dup_corpus,
         |  false AS is_dup_batch,
         |  NOT (doc_id % 10 = 3
         |    AND (doc_id - 1) IN (SELECT doc_id FROM mpop)) AS keep
         |FROM $bpop""".stripMargin
  }

  /** The media state twins' probe CTEs for the batch population CTE
    * `bpop` against `corpus`, both unit-level rungs, suffix `s`.
    */
  private def mediaVerdictCtes(s: String, bpop: String,
      corpus: String => String): String =
    composedSqlRungs.map(_.probeVerdictCtes(s,
      d => s"$d IN (SELECT doc_id FROM $bpop)", corpus)).mkString(",\n")

  val oracleSql: Map[String, String] = Map(
    // the media absorb twin: both batches' verdicts from the planting
    // rules, day-2's corpus side = the UNION population (even ∪
    // batch-1) — the absorbed delta recomputed independently
    "dedup_media_absorb_onstate" -> {
      // concatenated head (see the dedup_video stripMargin note)
      "WITH mpop AS (SELECT doc_id FROM documents),\n" +
      "b1pop AS (SELECT doc_id FROM mpop\n" +
      s"  WHERE doc_id % 4 = 1 AND doc_id < $ReplicaBound),\n" +
      "b2pop AS (SELECT doc_id FROM mpop\n" +
      s"  WHERE doc_id % 4 = 3 AND doc_id < $ReplicaBound),\n" +
      mediaChainSqlCtes + ",\n" +
      mediaVerdictCtes("d1", "b1pop", d => s"$d % 2 = 0") + ",\n" +
      mediaVerdictCtes("d2", "b2pop",
        d => s"$d % 2 = 0 OR $d IN (SELECT doc_id FROM b1pop)") + "\n" +
      mediaVerdictSelect("d1", "b1pop", Some(1)) + "\nUNION ALL\n" +
      mediaVerdictSelect("d2", "b2pop", Some(2)) +
      "\nORDER BY day, modality, doc_id"
    },
    // pure planting-rule recompute: window levels → energies → segment
    // fingerprints → banded hamming → keep-min verdict, no strings
    "dedup_audio" -> {
      val r = audioSqlRung("")
      // concatenated head (the dedup_video stripMargin note applies)
      "WITH " + audioChainSqlCtes("", "documents") + ",\n" +
      r.selfVerdictCtes("", _ => "TRUE") + "\n" +
      s"""SELECT doc_id, n_units AS n_segments, n_dup_units AS n_dup_segments,
         |  dup_frac_milli, min_partner, ${r.isDup} AS is_dup_audio
         |FROM v ORDER BY doc_id""".stripMargin
    },
    // the same chain, match CTEs split by the parity: batch segments
    // probe corpus bands (existence) and batch bands (min partner)
    "dedup_audio_incremental" -> {
      val r = audioSqlRung("")
      // concatenated head (see the dedup_video stripMargin note)
      "WITH " + audioChainSqlCtes("", "documents") + ",\n" +
      r.probeVerdictCtes("", d => s"$d % 2 = 1", d => s"$d % 2 = 0") + "\n" +
      s"""SELECT doc_id, n_units AS n_segments,
         |  n_dup_corpus AS n_dup_corpus_seg, n_dup_batch AS n_dup_batch_seg,
         |  corpus_frac_milli, batch_frac_milli, min_batch_partner,
         |  ${r.probeFlags}
         |FROM v ORDER BY doc_id""".stripMargin
    },
    // pure planting-rule recompute: frames → means → cuts → keyframes →
    // gradient hashes → banded hamming → keep-min verdict, no strings
    "dedup_video" -> {
      val r = videoSqlRung("")
      // concatenated head: the chain contains legitimate leading-`||`
      // concat continuations a second margin strip would corrupt
      "WITH " + videoChainSqlCtes("", "documents") + ",\n" +
      r.selfVerdictCtes("", _ => "TRUE") + "\n" +
      s"""SELECT doc_id, n_units AS n_keyframes,
         |  n_dup_units AS n_dup_keyframes, dup_frac_milli, min_partner,
         |  ${r.isDup} AS is_dup_video
         |FROM v ORDER BY doc_id""".stripMargin
    },
    // the same chain, match CTEs split by the parity: batch keyframes
    // probe corpus bands (existence) and batch bands (min partner)
    "dedup_video_incremental" -> {
      val r = videoSqlRung("")
      // concatenated head (see the dedup_video stripMargin note)
      "WITH " + videoChainSqlCtes("", "documents") + ",\n" +
      r.probeVerdictCtes("", d => s"$d % 2 = 1", d => s"$d % 2 = 0") + "\n" +
      s"""SELECT doc_id, n_units AS n_keyframes,
         |  n_dup_corpus AS n_dup_corpus_kf, n_dup_batch AS n_dup_batch_kf,
         |  corpus_frac_milli, batch_frac_milli, min_batch_partner,
         |  ${r.probeFlags}
         |FROM v ORDER BY doc_id""".stripMargin
    },
    // the OnState probe key: all three verdicts recomputed from the
    // planting rules over the same populations — corpus = even parity,
    // batch = odd parity of replica 0 (the ReplicaBound contract)
    "dedup_media_onstate" -> {
      // concatenated head (see the dedup_video stripMargin note)
      "WITH mpop AS (SELECT doc_id FROM documents),\n" +
      "bpop AS (SELECT doc_id FROM mpop\n" +
      s"  WHERE doc_id % 2 = 1 AND doc_id < $ReplicaBound),\n" +
      mediaChainSqlCtes + ",\n" +
      mediaVerdictCtes("", "bpop", d => s"$d % 2 = 0") + "\n" +
      mediaVerdictSelect("", "bpop", None) +
      "\nORDER BY modality, doc_id"
    },
    // the identical frame/mean/delta arithmetic over character bytes;
    // `//` == `div` on the non-negative sums
    "mm_scene_cuts" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n FROM documents
         |  WHERE text IS NOT NULL AND length(text) >= 1),
         |m AS (
         |  SELECT doc_id,
         |    list_transform(range(0, CAST(ceil(n / $CutFrameBytes.0)
         |        AS BIGINT)),
         |      j -> list_sum(list_transform(
         |          range(1, least($CutFrameBytes, n - j*$CutFrameBytes)
         |            + 1),
         |          k -> ascii(substr(text,
         |            CAST(j*$CutFrameBytes + k AS INTEGER), 1))))
         |        * 1000 // least($CutFrameBytes, n - j*$CutFrameBytes))
         |      AS mm
         |  FROM d),
         |x AS (
         |  SELECT doc_id, mm,
         |    list_transform(range(1, len(mm)),
         |      j -> {'idx': j, 'd': abs(mm[j + 1] - mm[j])}) AS deltas
         |  FROM m),
         |y AS (
         |  SELECT doc_id, mm, deltas,
         |    list_filter(deltas, e -> e.d > $CutThresholdMilli) AS cuts
         |  FROM x)
         |SELECT doc_id,
         |  CAST(len(mm) AS BIGINT) AS n_frames,
         |  CAST(len(cuts) AS BIGINT) AS n_cuts,
         |  coalesce(array_to_string(list_transform(cuts,
         |    e -> CAST(e.idx AS VARCHAR)), ','), '') AS cut_idxs,
         |  CAST(coalesce(list_max(list_transform(deltas, e -> e.d)), 0)
         |    AS BIGINT) AS max_delta
         |FROM y ORDER BY doc_id""".stripMargin,
    // byte-exact PCM16-LE stand-in twin: samples from character pairs
    // (the mm_frame_sample ascii/substr byte alignment), the identical
    // window/hop arithmetic, integer folds for all three features
    "mm_audio_features" ->
      s"""WITH s AS (
         |  SELECT doc_id, list_transform(range(0, length(text) // 2),
         |    i -> ascii(substr(text, 2*i + 1, 1)) +
         |         256 * ascii(substr(text, 2*i + 2, 1)) - 16384) AS sm
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (
         |  SELECT doc_id, CAST(j AS INTEGER) AS win_idx,
         |    sm[j*$AudioHop + 1 : j*$AudioHop + $AudioWin] AS win
         |  FROM s, unnest(range(0,
         |    CASE WHEN len(sm) >= $AudioWin
         |         THEN (len(sm) - $AudioWin) // $AudioHop + 1
         |         ELSE 0 END)) AS t(j))
         |SELECT doc_id, win_idx,
         |  CAST(list_sum(list_transform(win,
         |    x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy,
         |  CAST(len(list_filter(range(1, $AudioWin),
         |    k -> win[k] * win[k + 1] < 0)) AS BIGINT) AS zcr,
         |  CAST(list_max(list_transform(win, x -> abs(x)))
         |    AS INTEGER) AS peak
         |FROM w ORDER BY doc_id, win_idx""".stripMargin,
    // the planted-pixel twin: per document the same (w, h) arithmetic and
    // the per-channel sums enumerated pixel-by-pixel — values only a real
    // decode of the PNG bytes can reproduce on the Spark side
    "mm_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    8 + doc_id % 9 AS w,
        |    8 + (doc_id * 3) % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x, y
        |  FROM d,
        |    unnest(range(0, w)) AS tx(x),
        |    unnest(range(0, h)) AS ty(y))
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(SUM((x*7 + y*11 + doc_id*13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((x*5 + y*3 + doc_id*17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((x*2 + y*5 + doc_id*23) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // the strided-sample twin: k enumerates (ty, tx, channel) row-major
    // (k = ty·12 + tx·3 + ch), sample position ⌊tx·w/4⌋, ⌊ty·h/4⌋ — `//`
    // is DuckDB's integer division, matching Spark-side Int division
    "mm_resize" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 7 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(4 AS INTEGER) AS thumb_w, CAST(4 AS INTEGER) AS thumb_h,
        |  array_to_string(list_transform(range(0, 48), k -> CAST(
        |    CASE k % 3
        |      WHEN 0 THEN ((((k % 12) // 3) * w // 4) * 7
        |        + ((k // 12) * h // 4) * 11 + doc_id * 13) % 256
        |      WHEN 1 THEN ((((k % 12) // 3) * w // 4) * 5
        |        + ((k // 12) * h // 4) * 3 + doc_id * 17) % 256
        |      ELSE ((((k % 12) // 3) * w // 4) * 2
        |        + ((k // 12) * h // 4) * 5 + doc_id * 23) % 256
        |    END AS VARCHAR)), ',') AS thumb_csv
        |FROM d ORDER BY doc_id""".stripMargin,
    // the lossy-codec twin: exact dims arithmetic, and the channel-mean
    // certificate pinned TRUE (see mmDecodeJpeg's scaladoc)
    "mm_decode_jpeg" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(8 + (doc_id * 3) % 7 AS INTEGER) AS height,
        |  true AS px_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // frame explode reproduced with a correlated unnest(range(...)) — one
    // row per 256-byte frame; the position-weighted digest is plain
    // arithmetic in both engines
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
        |  CAST(LEAST(256, length(text) - j*256) AS INTEGER) AS frame_bytes,
        |  CAST(list_sum(list_transform(
        |    range(1, LEAST(256, length(text) - j*256) + 1),
        |    k -> k * ascii(substr(text, j*256 + k, 1))))
        |    % 144115188075855881 AS BIGINT) AS frame_digest
        |FROM documents,
        |  unnest(range(0, CAST(CEIL(length(text)/256.0) AS INTEGER))) AS t(j)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_frame_layout" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST(CEIL(CAST(octet_length(encode(text)) AS DOUBLE) / 256.0)
        |       AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the planted-generator twin of the perceptual hash: md5 cell bits →
    // levels → margin-thresholded horizontal comparisons → 64-bit pack
    // (bit 63 via signed BIGINT shift, the simhash discipline). Matches
    // only if the Spark side really decoded the pixels and its ceil-div
    // boxed means reproduced the planted levels exactly.
    "mm_phash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    36 + (doc_id % 9) * 2 AS w,
        |    32 + ((doc_id * 3) % 7) * 2 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, gx.cx AS cx, gy.cy AS cy,
        |    CASE WHEN CAST(concat('0x', substring(md5(
        |           'img:' || doc_id || ':' || gx.cx || ':' || gy.cy),
        |           1, 15)) AS BIGINT) % 2 = 1
        |         THEN 190 ELSE 60 END AS lvl
        |  FROM d, unnest(range(0, 9)) AS gx(cx), unnest(range(0, 8)) AS gy(cy)),
        |bits AS (
        |  SELECT a.doc_id,
        |    CASE WHEN a.lvl >= b.lvl + 45
        |         THEN CAST(1 AS HUGEINT) << CAST(a.cy * 8 + a.cx AS INTEGER)
        |         ELSE CAST(0 AS HUGEINT) END AS bit
        |  FROM cells a JOIN cells b
        |    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |hsh AS (
        |  -- bit 63 packs via HUGEINT (a signed-BIGINT 1<<63 overflows);
        |  -- the unsigned total folds back to two's complement on cast
        |  SELECT doc_id,
        |    CAST(CASE WHEN SUM(bit) >= 9223372036854775808
        |              THEN SUM(bit) - 18446744073709551616
        |              ELSE SUM(bit) END AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
        |  hsh.dhash,
        |  hsh.dhash & 65535 AS band0,
        |  (hsh.dhash >> 16) & 65535 AS band1,
        |  (hsh.dhash >> 32) & 65535 AS band2,
        |  (hsh.dhash >> 48) & 65535 AS band3
        |FROM d JOIN hsh USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the pair ground truth from the planting rule alone: the fixture's
    // hash-space geometry (distinct docs ≥ hamming 6; a JPEG twin within
    // the margin rule's noise budget) makes "pair ⇔ planted twin" exact —
    // a missed twin (decode/hash drift) or a spurious pair (banding or
    // hamming defect) breaks equality
    "dedup_image" ->
      """SELECT doc_id AS doc_a, doc_id AS doc_b,
        |  'png_jpeg' AS pair_kind
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY doc_a, doc_b, pair_kind""".stripMargin,
    // every flag from the planting rule alone (the dedup_image soundness
    // argument): twin_jpegs are corpus dups, batch_new images are clean
    // except the planted within-batch jpeg pairs, and the keep-min rule
    // deterministically keeps the PNG of each pair
    "dedup_image_incremental" ->
      """SELECT doc_id, 'twin_jpeg' AS role, TRUE AS is_dup_corpus,
        |  FALSE AS is_dup_batch, FALSE AS keep
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT doc_id, 'batch_new', FALSE, doc_id % 20 = 15, TRUE
        |FROM documents WHERE doc_id % 10 = 5
        |UNION ALL
        |SELECT doc_id, 'batch_new_jpeg', FALSE, TRUE, FALSE
        |FROM documents WHERE doc_id % 20 = 15
        |ORDER BY doc_id, role""".stripMargin
  )
}
