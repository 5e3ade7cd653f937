package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: media travels as an opaque `binary` payload column with a
  * typed metadata struct; decode / feature-extract / resize / frame-
  * sample run per-partition in batches so a real decoder (JNI image lib,
  * ffmpeg pipe) slots in without touching the pipeline shape.
  *
  * The decoders here are STUBS — this container has no image/audio
  * libraries — but deterministic ones, so the Spark-side plumbing
  * (schema, partitioning, batch shape, column contracts) is fully
  * testable. Swap [[MediaDecoder]] for a real implementation in
  * production; nothing else changes.
  */
object MultimodalOps {

  /** One media row: payload is opaque bytes; `kind` ∈ image|audio|video. */
  final case class MediaItem(media_id: Long, kind: String, payload: Array[Byte])

  final case class DecodedMeta(
      media_id: Long,
      kind: String,
      byte_len: Long,
      content_hash: String,
      width: Int,
      height: Int,
      n_frames: Int
  )

  /** Batch decoder contract: one call per partition-batch, never per row —
    * the shape a real (expensive, library-backed) decoder needs.
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(items: Iterator[MediaItem]): Iterator[DecodedMeta]
  }

  /** Deterministic stub: metadata derived from payload bytes only.
    * A real decoder would parse the container format here (STUB).
    */
  object StubDecoder extends MediaDecoder {
    override def decodeBatch(items: Iterator[MediaItem]): Iterator[DecodedMeta] =
      items.map { m =>
        val len = m.payload.length.toLong
        val md = java.security.MessageDigest.getInstance("MD5").digest(m.payload)
        val hash = md.map("%02x".format(_)).mkString
        DecodedMeta(m.media_id, m.kind, len, hash,
          width = (len % 640).toInt, height = (len % 480).toInt,
          n_frames = if (m.kind == "video") (len % 16).toInt + 1 else 1)
      }
  }

  /** Decode: per-partition batched map — the `mapInPandas` equivalent in
    * Scala Spark. Partition count is preserved; each partition makes ONE
    * decoder call with an iterator (no per-row decoder setup).
    */
  def decode(media: Dataset[MediaItem], decoder: MediaDecoder = StubDecoder): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => decoder.decodeBatch(it))
  }

  /** Guarded ImageIO decode: peek the dimensions from the container
    * header (no pixel allocation) and refuse any image whose pixel count
    * exceeds `maxPixels` BEFORE the full decode. A decompression-bomb
    * header declaring e.g. 60000×60000 would otherwise make ImageIO
    * allocate a ~14 GB buffer and die with OutOfMemoryError — an Error,
    * not an Exception, so a plain catch never sees it and one hostile
    * file kills the scan. Streams through MemoryCacheImageInputStream so
    * in-memory payloads never spill to ImageIO's default temp-file disk
    * cache (the default `useCache=true` writes every payload to /tmp
    * before decoding). Returns null for anything unreadable or
    * oversized — the quarantine marker.
    */
  private def readImageGuarded(bytes: Array[Byte],
      maxPixels: Long = 1L << 26): java.awt.image.BufferedImage =
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) null
            else reader.read(0)
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => null }

  /** REAL pure-JVM decoder: `javax.imageio` (PNG/BMP/GIF/JPEG readers
    * ship with the JDK, no native libs). Same [[MediaDecoder]] contract
    * as the stub — the pipeline downstream of `decode()` is unchanged;
    * only width/height/n_frames become the container's true values.
    * Payloads ImageIO cannot parse — or whose headers declare a
    * decompression-bomb pixel count (see [[readImageGuarded]]) — report
    * (-1, -1, 0), the quarantine marker a curation pass filters on,
    * never an exception (one corrupt file must not kill a 100 TB scan).
    */
  object ImageIoDecoder extends MediaDecoder {
    override def decodeBatch(items: Iterator[MediaItem]): Iterator[DecodedMeta] =
      items.map { m =>
        val md = java.security.MessageDigest.getInstance("MD5").digest(m.payload)
        val hash = md.map("%02x".format(_)).mkString
        val img = readImageGuarded(m.payload)
        if (img == null)
          DecodedMeta(m.media_id, m.kind, m.payload.length.toLong, hash, -1, -1, 0)
        else
          DecodedMeta(m.media_id, m.kind, m.payload.length.toLong, hash,
            img.getWidth, img.getHeight, 1)
      }
  }

  /** REAL bytes → pixels stage: decode each payload with ImageIO and
    * box-average its luminance (ITU-R 601 integer weights, exact long
    * arithmetic — deterministic across JVMs) down to a rows×cols gray
    * grid. Output schema is IDENTICAL to [[stubPixels]] (media_id, r,
    * px[cols]), so [[dHashBands]] → [[imageHashNearDup]] consume either
    * source unchanged — the decoder boundary carrying real pixels.
    * Undecodable payloads drop (the [[ImageIoDecoder]] quarantine
    * convention, caught by the metadata pass). Per-partition batched
    * `mapPartitions`, the documented decoder boundary; map-only.
    */
  def imagePixels(media: DataFrame, rows: Int = 8, cols: Int = 9,
                  idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val img = readImageGuarded(bytes)
          if (img == null || img.getWidth == 0 || img.getHeight == 0) Iterator.empty
          else lumaGrid(img, rows, cols).iterator.map { case (r, px) => (id, r, px) }
        }
      }.toDF(idCol, "r", "px")
  }

  /** Box-averaged ITU-R 601 luminance grid of one decoded frame —
    * exact long arithmetic (deterministic across JVMs), one bulk
    * `getRGB` per grid box (per-pixel getRGB pays a ColorModel
    * conversion call per sample, ~10-30× slower). Shared by the image
    * and the per-frame video paths.
    */
  private def lumaGrid(img: java.awt.image.BufferedImage,
                       rows: Int, cols: Int): IndexedSeq[(Int, Seq[Int])] = {
    val w = img.getWidth
    val h = img.getHeight
    (0 until rows).map { r =>
      val px = (0 until cols).map { c =>
        val x0 = c * w / cols
        val x1 = math.max((c + 1) * w / cols, x0 + 1)
        val y0 = r * h / rows
        val y1 = math.max((r + 1) * h / rows, y0 + 1)
        val bw = x1 - x0
        val buf = img.getRGB(x0, y0, bw, y1 - y0, null, 0, bw)
        var sum = 0L
        var i = 0
        while (i < buf.length) {
          val rgb = buf(i)
          sum += (((rgb >> 16) & 0xff) * 299L + ((rgb >> 8) & 0xff) * 587L +
            (rgb & 0xff) * 114L) / 1000L
          i += 1
        }
        (sum / buf.length).toInt
      }
      (r, px)
    }
  }

  /** Pure-expression metadata path (no decoder): byte length + content
    * hash + stubbed dimensions, for engines/oracles that can't run the
    * batch decoder. Must agree with [[StubDecoder]] (tested).
    */
  def metadataExpr(df: DataFrame, payloadCol: String = "payload", kindCol: String = "kind"): DataFrame =
    df.select(
      col("media_id"),
      col(kindCol).as("kind"),
      octet_length(col(payloadCol)).cast("long").as("byte_len"),
      md5(col(payloadCol)).as("content_hash"),
      (octet_length(col(payloadCol)) % 640).cast("int").as("width"),
      (octet_length(col(payloadCol)) % 480).cast("int").as("height"),
      when(col(kindCol) === "video", (octet_length(col(payloadCol)) % 16 + 1))
        .otherwise(1).cast("int").as("n_frames")
    )

  /** Frame sampling plan for video rows: every `stride`-th frame index,
    * exploded to (media_id, frame_idx) — the unit of work a frame
    * decoder consumes. Map-side only; no shuffle.
    */
  def sampleFrames(meta: DataFrame, stride: Int = 4): DataFrame =
    meta.filter(col("kind") === "video" && col("n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Resize plan: target box (maxW, maxH) preserving aspect ratio —
    * metadata-only arithmetic; the pixel work happens in the decoder
    * of the next stage (STUB).
    */
  def resizePlan(meta: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scaleW = lit(maxW.toDouble) / greatest(col("width").cast("double"), lit(1.0))
    val scaleH = lit(maxH.toDouble) / greatest(col("height").cast("double"), lit(1.0))
    val scale = least(scaleW, scaleH, lit(1.0))
    meta.select(col("media_id"), col("width"), col("height"),
      round(col("width") * scale).cast("int").as("target_w"),
      round(col("height") * scale).cast("int").as("target_h"))
  }

  // ---- perceptual image hashing (dHash) ----------------------------------

  /** Deterministic stub "decode to gray grid": `rows` image rows per
    * media item, each an array of `cols` 0–255 gray values derived from
    * an md5 digest of (payload, row) — the decoder boundary where a real
    * pipeline would downscale the actual image to a rows×cols luminance
    * grid. Keeping the grid as FRAME ROWS (media_id, r, px[cols]) rather
    * than hiding it inside the hash makes the stage engine-verifiable
    * (a DuckDB oracle replays the same md5 arithmetic) and gives callers
    * a hook to inject per-copy pixel perturbation in tests.
    *
    * Map-only: one explode ×rows, md5 + hex-pair extraction per row, all
    * inside codegen. No shuffle.
    */
  def stubPixels(media: DataFrame, rows: Int = 8, cols: Int = 9,
                 idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    require(cols * 2 <= 32, s"md5 supplies 16 bytes per row; cols=$cols needs ${cols * 2} hex chars")
    media.select(col(idCol), col(payloadCol).cast("string").as("__p"),
        explode(sequence(lit(0), lit(rows - 1))).as("r"))
      .select(col(idCol), col("r"),
        md5(concat(col("__p"), lit(":"), col("r").cast("string")).cast("binary")).as("__hex"))
      .select(col(idCol), col("r"),
        transform(sequence(lit(0), lit(cols - 1)),
          c => conv(col("__hex").substr(c * 2 + 1, lit(2)), 16, 10).cast("int")).as("px"))
  }

  /** dHash band bytes from a pixel-grid frame: one byte per image row,
    * bit c set iff px[c] < px[c+1] (the classic difference hash, robust
    * to uniform brightness shifts because only ORDER between neighbors
    * matters). Output long-form (media_id, band, byte) — exactly the
    * (bucket-key, member) shape the LSH join consumes, and trivially
    * re-derivable in SQL. Statically unrolled comparison sum: stays in
    * whole-stage codegen, no higher-order functions. Map-only.
    */
  def dHashBands(pixels: DataFrame, cols: Int = 9, idCol: String = "media_id"): DataFrame = {
    val byte = (0 until cols - 1).map { c =>
      when(element_at(col("px"), c + 1) < element_at(col("px"), c + 2), lit(1 << c))
        .otherwise(lit(0))
    }.reduce((a, b) => a + b)
    pixels.select(col(idCol), col("r").cast("int").as("band"), byte.cast("int").as("byte"))
  }

  /** Per-id band vector: the `byte`s of `bands` in band order, as `__bv`. */
  def bandVectors(bands: DataFrame, idCol: String): DataFrame =
    bands.groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("band"), col("byte")))),
        s => s.getField("byte")).as("__bv"))

  /** Hamming distance of two band vectors: Σ bit_count(xor) per band,
    * integer adds (order-free). Vectors of different lengths fail the
    * query: `zip_with` would pad the shorter with null, the distance
    * would be null and the pair would vanish from any `<=` filter, so a
    * missing or duplicated band row must not pass silently.
    */
  def bandHamming(a: Column, b: Column): Column =
    when(size(a) =!= size(b), raise_error(concat(lit("band vectors differ in length ("),
        size(a).cast("string"), lit(" vs "), size(b).cast("string"),
        lit("): a (id, band) row is missing or duplicated"))))
      .otherwise(aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, v) => acc + v).cast("int"))

  /** Hamming-bucketed perceptual near-dup pairs over dHash bands: docs
    * sharing ANY (band, byte) bucket are candidates (8 bands of 8 bits —
    * a near-dup differing in d bits has ≥ 1 untouched band whenever
    * d < 8 spread across bands, the SimHash-banding recall argument);
    * candidates verify by exact Hamming distance = Σ bit_count(xor) over
    * the 8 band bytes; pairs with distance ≤ `maxHamming` survive.
    *
    * Scale shape: the bucket self-join is the only corpus-sized shuffle
    * and its key is (band, byte) — 11 bits, combiner-friendly; the
    * verify join moves only candidate pairs + 8-row band vectors. No
    * all-pairs product forms.
    *
    * `bands` is referenced four times (both sides of the bucket join,
    * both sides of the verify) — persist/localCheckpoint upstream if its
    * lineage is expensive (same caller contract as perplexityBuckets).
    */
  def imageHashNearDup(bands: DataFrame, maxHamming: Int = 8,
                       idCol: String = "media_id"): DataFrame = {
    val a = bands.select(col("band"), col("byte"), col(idCol).as("id_a"))
    val b = bands.select(col("band"), col("byte"), col(idCol).as("id_b"))
    val cand = a.join(b, Seq("band", "byte"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // r15 (guide §2.3 — shuffle pair-level rows, not band-level): the
    // old verify re-joined each candidate pair to BOTH band tables at
    // band granularity (8 rows per pair crossing two exchanges) and
    // paid a (id_a, id_b)-keyed aggregate over that fan-out. The band
    // vector per image is 8 bytes — aggregate it ONCE per image
    // (band-ordered via the sorted struct collect), then the Hamming
    // distance is a map-side array fold per pair: two pair-level joins,
    // no post-join aggregate. Same 8 xor/bit_count terms, integer adds
    // (order-free) — values identical, MultimodalSpec + the q106 oracle
    // pin it.
    val vecs = bandVectors(bands, idCol)
    cand
      .join(vecs.select(col(idCol).as("id_a"), col("__bv").as("__bva")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col("__bv").as("__bvb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), bandHamming(col("__bva"), col("__bvb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---- video near-dup via frame-fingerprint sets -------------------------

  /** Per-video frame fingerprints at `stride` sampling: one row per
    * sampled frame with a deterministic stub digest of (payload, frame
    * index) standing in for a real per-frame perceptual hash (the
    * [[StubDecoder]] convention: frame count = payload length % 16 + 1,
    * as q31/q32). Map-only explode — ≤ 16/stride rows per video; the
    * real decoder swaps in at the digest expression without touching
    * the shape.
    */
  def frameFingerprints(media: DataFrame, stride: Int = 2,
                        idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    media.select(col(idCol), col(payloadCol).cast("string").as("__p"),
        (octet_length(col(payloadCol)) % 16 + 1).as("n_frames"))
      .select(col(idCol), col("__p"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))
      .select(col(idCol), col("frame_idx"),
        md5(concat(col("__p"), lit("#"), col("frame_idx").cast("string")).cast("binary")).as("fhash"))

  /** Video near-dup by frame-set overlap: videos sharing ANY frame
    * fingerprint are candidates (one equi-join on the fingerprint — the
    * only corpus-sized shuffle); each candidate pair is verified by the
    * exact Jaccard of its sampled frame-fingerprint sets, and pairs at
    * or above `minJaccard` survive. The standard re-encoded / trimmed /
    * re-hosted video catch: content-identical frames keep identical
    * fingerprints, partial edits lower the overlap instead of zeroing
    * it.
    *
    * `frames` is referenced three times (both join sides + per-video
    * counts) — persist/localCheckpoint upstream if its lineage is
    * expensive (the caller-persist contract).
    *
    * Output: (id_a, id_b, shared_frames, jaccard), id_a < id_b.
    */
  def videoNearDup(frames: DataFrame, minJaccard: Double = 0.3,
                   idCol: String = "media_id"): DataFrame = {
    val counts = frames.groupBy(col(idCol)).agg(count(lit(1)).as("nf"))
    val a = frames.select(col("fhash"), col(idCol).as("id_a"))
    val b = frames.select(col("fhash"), col(idCol).as("id_b"))
    val shared = a.join(b, Seq("fhash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_frames"))
    shared
      .join(counts.select(col(idCol).as("id_a"), col("nf").as("nf_a")), Seq("id_a"))
      .join(counts.select(col(idCol).as("id_b"), col("nf").as("nf_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared_frames"),
        round(col("shared_frames").cast("double")
          / (col("nf_a") + col("nf_b") - col("shared_frames")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // ---- real video decode (multi-frame containers via javax.imageio) ------

  /** Guarded multi-frame decode: every frame of a container ImageIO can
    * enumerate (animated GIF ships with the JDK — the pure-JVM video
    * tier; a TIFF/MJPEG plugin slots in the same way). Frame count is
    * capped at `maxFrames` and every frame passes the per-frame
    * decompression-bomb pixel guard; an unreadable frame is skipped,
    * an unreadable container quarantines to an empty sequence — the
    * [[readImageGuarded]] conventions applied per frame.
    *
    * GIF frames are COMPOSITED onto the logical-screen canvas honoring
    * each frame's placement (ImageDescriptor left/top) and disposal
    * method (GraphicControlExtension): optimized real-world GIFs store
    * sub-rectangle deltas, and the raw `reader.read(i)` sub-images do
    * NOT represent the rendered frames — luma grids and fingerprints
    * must see what a player renders, or delta-encoded footage would
    * fingerprint its patches instead of its frames. Non-GIF containers
    * (full-frame by contract) return raw frames unchanged.
    */
  private def readFramesGuarded(bytes: Array[Byte], maxFrames: Int,
      maxPixels: Long = 1L << 26): IndexedSeq[(Int, java.awt.image.BufferedImage)] =
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) IndexedSeq.empty
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false, true) // seekable: getNumImages needs search
            val n = math.min(reader.getNumImages(true), maxFrames)
            val isGif =
              try reader.getFormatName.toLowerCase(java.util.Locale.ROOT).contains("gif")
              catch { case _: Exception => false }
            if (isGif) compositeGifFrames(reader, n, maxPixels)
            else (0 until n).flatMap { i =>
              try {
                val w = reader.getWidth(i); val h = reader.getHeight(i)
                if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) None
                else Some((i, reader.read(i)))
              } catch { case _: Exception => None }
            }
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => IndexedSeq.empty }

  /** First child element of `root` named `name`, if present. */
  private def metaChild(root: org.w3c.dom.Element,
                        name: String): Option[org.w3c.dom.Element] = {
    val ns = root.getElementsByTagName(name)
    if (ns.getLength > 0) Some(ns.item(0).asInstanceOf[org.w3c.dom.Element]) else None
  }

  /** GIF RENDERED frames: each delta frame drawn at its declared
    * (left, top) onto the persistent logical-screen canvas, with the
    * previous frame's disposal applied first-per-spec — `none` /
    * `doNotDispose` leave the canvas, `restoreToBackgroundColor`
    * clears the frame's rectangle TO TRANSPARENT (luma 0) — the
    * modern-renderer approximation; a spec-strict renderer would fill
    * with the GIF's declared background-color palette index, so GIFs
    * with a non-black background fingerprint differently from such a
    * renderer (browsers also treat background-disposal as transparent,
    * which is the behavior near-dup pairing actually needs to match) —
    * `restoreToPrevious` rolls the
    * canvas back. Missing/unparseable metadata degrades per frame to
    * full-frame-at-origin with no disposal (the raw behavior, correct
    * for the unoptimized full-frame case). Emitted frames are canvas
    * SNAPSHOTS (the canvas mutates across the loop).
    */
  private def compositeGifFrames(reader: javax.imageio.ImageReader, n: Int,
      maxPixels: Long): IndexedSeq[(Int, java.awt.image.BufferedImage)] = {
    import java.awt.image.BufferedImage
    val (sw, sh) =
      try {
        val root = reader.getStreamMetadata
          .getAsTree("javax_imageio_gif_stream_1.0").asInstanceOf[org.w3c.dom.Element]
        metaChild(root, "LogicalScreenDescriptor").map { d =>
          (d.getAttribute("logicalScreenWidth").toInt,
            d.getAttribute("logicalScreenHeight").toInt)
        }.getOrElse((reader.getWidth(0), reader.getHeight(0)))
      } catch { case _: Exception =>
        try (reader.getWidth(0), reader.getHeight(0))
        catch { case _: Exception => (0, 0) }
      }
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > maxPixels) IndexedSeq.empty
    else {
      val canvas = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
      def snap(): BufferedImage = {
        val c = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
        val g = c.createGraphics(); g.drawImage(canvas, 0, 0, null); g.dispose(); c
      }
      val out = IndexedSeq.newBuilder[(Int, BufferedImage)]
      (0 until n).foreach { i =>
        try {
          val raw = reader.read(i)
          if (raw.getWidth > 0 && raw.getHeight > 0 &&
              raw.getWidth.toLong * raw.getHeight <= maxPixels) {
            val (left, top, disposal) =
              try {
                val root = reader.getImageMetadata(i)
                  .getAsTree("javax_imageio_gif_image_1.0").asInstanceOf[org.w3c.dom.Element]
                val (l, t) = metaChild(root, "ImageDescriptor").map { d =>
                  (d.getAttribute("imageLeftPosition").toInt,
                    d.getAttribute("imageTopPosition").toInt)
                }.getOrElse((0, 0))
                (l, t, metaChild(root, "GraphicControlExtension")
                  .map(_.getAttribute("disposalMethod")).getOrElse("none"))
              } catch { case _: Exception => (0, 0, "none") }
            val before = if (disposal == "restoreToPrevious") snap() else null
            val g = canvas.createGraphics()
            g.drawImage(raw, left, top, null)
            g.dispose()
            out += ((i, snap()))
            disposal match {
              case "restoreToBackgroundColor" =>
                val g2 = canvas.createGraphics()
                g2.setComposite(java.awt.AlphaComposite.Clear)
                g2.fillRect(left, top, raw.getWidth, raw.getHeight)
                g2.dispose()
              case "restoreToPrevious" => canvas.setData(before.getData)
              case _ => () // none / doNotDispose: canvas persists
            }
          }
        } catch { case _: Exception => () } // skip the unreadable frame
      }
      out.result()
    }
  }

  /** REAL bytes → per-frame pixel grids: decode every frame of a
    * multi-frame container (animated GIF on a stock JDK) and box-
    * average each to the rows×cols luminance grid — the video
    * analogue of [[imagePixels]], one output row per (frame, grid
    * row). Undecodable payloads drop (quarantine convention).
    * Per-partition batched `mapPartitions`; map-only.
    *
    * Output: (media_id, frame_idx, r, px[cols]).
    */
  def videoFramePixels(media: DataFrame, rows: Int = 8, cols: Int = 9,
                       maxFrames: Int = 64, idCol: String = "media_id",
                       payloadCol: String = "payload"): DataFrame = {
    // [[videoFrameFingerprints]] packs one band byte per grid row into
    // a single long via shiftleft(byte, band*8); at rows > 8 the shift
    // reaches 64 and Spark's shiftleft wraps modulo 64, silently
    // colliding band 8+ with band 0 — refuse the grid here, at the
    // producer, rather than corrupt fingerprints downstream
    require(rows >= 1 && rows <= 8,
      s"rows must be in [1, 8] (fingerprint long-packing contract): $rows")
    require(cols >= 2 && cols <= 9,
      s"cols must be in [2, 9] (dHash byte is cols-1 bits): $cols")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          readFramesGuarded(bytes, maxFrames).iterator.flatMap { case (f, img) =>
            lumaGrid(img, rows, cols).iterator.map { case (r, px) => (id, f, r, px) }
          }
        }
      }.toDF(idCol, "frame_idx", "r", "px")
  }

  /** Per-frame dHash band bytes from REAL frame pixel grids — the
    * [[dHashBands]] byte expression keyed by (media, frame), emitting
    * exactly the shape [[keyframes]] consumes. Map-only.
    */
  def videoFrameDHash(framePx: DataFrame, cols: Int = 9,
                      idCol: String = "media_id"): DataFrame = {
    val byte = (0 until cols - 1).map { c =>
      when(element_at(col("px"), c + 1) < element_at(col("px"), c + 2), lit(1 << c))
        .otherwise(lit(0))
    }.reduce((a, b) => a + b)
    framePx.select(col(idCol), col("frame_idx"), col("r").cast("int").as("band"),
      byte.cast("int").as("byte"))
  }

  /** DISTINCT per-video perceptual frame fingerprints from real frame
    * grids: the 8 dHash band bytes pack into one long per frame
    * (exact `shiftleft` integer arithmetic), and per-video duplicates
    * collapse — scene-static frames carry one fingerprint, so
    * [[videoNearDup]]'s set-Jaccard contract (content overlap, not
    * run length) holds for real footage the way it does for the
    * all-distinct stub hashes. Output: (media_id, fhash).
    *
    * Packing contract: band must stay below 8 (shiftleft wraps mod 64
    * past that) — enforced where the grids are made,
    * [[videoFramePixels]]'s rows ≤ 8 require.
    */
  def videoFrameFingerprints(framePx: DataFrame, cols: Int = 9,
                             idCol: String = "media_id"): DataFrame =
    videoFrameDHash(framePx, cols, idCol)
      .groupBy(col(idCol), col("frame_idx"))
      .agg(sum(expr("shiftleft(cast(byte AS BIGINT), band * 8)")).as("__packed"))
      .select(col(idCol), col("__packed").cast("string").as("fhash"))
      .distinct()

  // ---- real audio decode (pure-JVM WAV via javax.sound.sampled) ----------

  /** Guarded WAV/AIFF/AU decode to MONO samples: parse the container
    * with `javax.sound.sampled` (the WAV/PCM readers ship with the
    * JDK, no native libs), refuse anything whose header declares more
    * than `maxFrames` frames BEFORE buffering (the decompression-bomb
    * guard — a hostile 4-byte-length header would otherwise make the
    * read allocate gigabytes), accept 8/16-bit PCM, and mix channels
    * by average. Returns null for anything unreadable — the
    * [[ImageIoDecoder]] quarantine convention: one corrupt file must
    * not kill a 100 TB scan.
    */
  private def readWavGuarded(bytes: Array[Byte],
      maxFrames: Long = 1L << 24): (Array[Int], Int) =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val enc = f.getEncoding
        val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        val ch = f.getChannels
        val nFrames = ais.getFrameLength
        val rate = math.round(f.getSampleRate)
        if (!(signed || unsigned) || (bits != 8 && bits != 16) || ch < 1 ||
            rate <= 0 || nFrames <= 0 || nFrames > maxFrames) null
        else {
          val raw = ais.readAllBytes()
          val bytesPerSample = bits / 8
          val frameSize = bytesPerSample * ch
          val n = raw.length / frameSize
          val out = new Array[Int](n)
          var i = 0
          while (i < n) {
            var acc = 0L
            var c = 0
            while (c < ch) {
              val off = i * frameSize + c * bytesPerSample
              val s =
                if (bits == 8) {
                  if (signed) raw(off).toInt else (raw(off) & 0xff) - 128
                } else {
                  val (lo, hi) =
                    if (f.isBigEndian) (raw(off + 1), raw(off)) else (raw(off), raw(off + 1))
                  val v = ((hi & 0xff) << 8) | (lo & 0xff)
                  if (signed) v.toShort.toInt else v - 32768
                }
              acc += s
              c += 1
            }
            out(i) = (acc / ch).toInt
            i += 1
          }
          (out, rate)
        }
      } finally ais.close()
    } catch { case _: Exception => null }

  /** Pure-JVM linear-interpolation resample to `dstRate` — the rate
    * normalization that makes [[wavWindows]] keys survive the most
    * common real-world re-encode (44.1 ↔ 48 kHz): windows anchored at
    * a file's NATIVE rate give a resampled copy disjoint window grids,
    * so without this step such a copy could never pair. All-integer
    * arithmetic (output i reads exact source position i·src/dst as
    * idx + frac/dst, truncating division), so the stream is
    * deterministic across JVMs/platforms. Integer sample-count shifts
    * stay exact: resampling a stream dropped by k source samples
    * equals the original's resample shifted by k·dst/src — which is
    * why trimmed copies still align at ONE window delta after
    * normalization.
    */
  private[graft] def resampleLinear(in: Array[Int], srcRate: Int, dstRate: Int,
                                    maxSamples: Long = 1L << 24): Array[Int] = {
    require(srcRate > 0 && dstRate > 0, s"rates must be positive: $srcRate -> $dstRate")
    if (srcRate == dstRate || in.length < 2) in
    else {
      // the decompression-bomb guard lives WITH the allocation: a large
      // upsample ratio would overflow .toInt into a negative array size,
      // so the long-form count is bounds-checked before narrowing
      // (wavWindows' pre-check quarantines instead of throwing; this
      // require is the backstop for any other caller)
      val nOutL = (in.length.toLong - 1) * dstRate / srcRate + 1
      require(nOutL <= maxSamples,
        s"resample output $nOutL samples exceeds cap $maxSamples ($srcRate -> $dstRate)")
      val nOut = nOutL.toInt
      val out = new Array[Int](nOut)
      var i = 0
      while (i < nOut) {
        val num = i.toLong * srcRate
        val idx = (num / dstRate).toInt
        val frac = num % dstRate
        val a = in(idx)
        val b = if (idx + 1 < in.length) in(idx + 1) else a
        out(i) = (a + (b - a).toLong * frac / dstRate).toInt
        i += 1
      }
      out
    }
  }

  /** REAL bytes → analysis-window fingerprints: decode each payload's
    * PCM with `javax.sound.sampled`, cut the sample stream into
    * non-overlapping `windowSamples`-sample windows anchored at sample
    * 0, and fingerprint each window by its ENERGY-CONTOUR descriptor:
    * the window splits into `slices` time slices, each slice's mean
    * absolute amplitude feeds a dHash-style rising/falling bit
    * (slice i+1 > slice i), and the contour plus a coarse log2 energy
    * bucket hash to the window key. Only ORDER between neighboring
    * slices matters, so small amplitude jitter (re-encode dither)
    * keeps most windows' keys intact — the audio analogue of
    * [[imagePixels]]→[[dHashBands]]' brightness-shift robustness.
    *
    * Output schema is IDENTICAL to [[audioWindows]] (media_id, wpos,
    * whash), so [[audioOffsetNearDup]] consumes either source
    * unchanged — the decoder boundary carrying real PCM. Undecodable
    * payloads drop (the quarantine convention).
    *
    * RATE-NORMALIZED: every stream resamples to `canonicalRate` via
    * [[resampleLinear]] BEFORE windowing, so a 44.1 → 48 kHz re-encode
    * (the most common real-world transform) lands on the same window
    * grid as its source and pairs — windows anchored at the native
    * rate would give the copy disjoint keys forever. Trims at window
    * granularity (AT THE CANONICAL RATE) align exactly under the fixed
    * sample-0 grid; a landmark/onset-anchored scheme would align
    * arbitrary trims — out of scope for the pure-JVM tier; the
    * offset-vote consumer is agnostic. Per-partition batched
    * `mapPartitions`; map-only.
    */
  def wavWindows(media: DataFrame, windowSamples: Int = 1024, slices: Int = 16,
                 canonicalRate: Int = 16000,
                 idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    require(windowSamples >= slices && windowSamples % slices == 0,
      s"windowSamples=$windowSamples must be a multiple of slices=$slices")
    require(canonicalRate > 0, s"canonicalRate must be positive: $canonicalRate")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          val decoded = readWavGuarded(bytes)
          // post-resample bomb guard: a low-rate header would otherwise
          // upsample past the frame cap (1 Hz -> x16000 allocation);
          // the 1<<24 bound mirrors resampleLinear's default maxSamples
          // so the quarantine check and the allocation-site require
          // cannot desync — this path drops the payload, never throws
          val samples =
            if (decoded == null ||
                (decoded._1.length.toLong - 1) * canonicalRate / decoded._2 >= (1L << 24)) null
            else resampleLinear(decoded._1, decoded._2, canonicalRate)
          if (samples == null) Iterator.empty
          else {
            val nWin = samples.length / windowSamples
            val sliceLen = windowSamples / slices
            (0 until nWin).iterator.map { w =>
              val means = new Array[Long](slices)
              var total = 0L
              var s = 0
              while (s < slices) {
                var sum = 0L
                var i = 0
                val base = w * windowSamples + s * sliceLen
                while (i < sliceLen) {
                  sum += math.abs(samples(base + i).toLong)
                  i += 1
                }
                means(s) = sum / sliceLen
                total += sum
                s += 1
              }
              var contour = 0L
              var k = 0
              while (k < slices - 1) {
                if (means(k + 1) > means(k)) contour |= (1L << k)
                k += 1
              }
              val bucket = 63 - java.lang.Long.numberOfLeadingZeros(total + 1)
              md.reset()
              val hex = md.digest(s"$contour:$bucket".getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
              (id, w.toLong, hex)
            }
          }
        }
      }.toDF(idCol, "wpos", "whash")
  }

  /** REAL pure-JVM audio decoder behind the same [[MediaDecoder]]
    * contract: metadata from the actual container header — width
    * carries the sample rate, height the channel count, n_frames the
    * PCM frame count (capped to Int). Unparseable or bomb-headed
    * payloads report (-1, -1, 0), the quarantine marker, never an
    * exception. The pipeline downstream of `decode()` is unchanged.
    */
  object WavDecoder extends MediaDecoder {
    override def decodeBatch(items: Iterator[MediaItem]): Iterator[DecodedMeta] =
      items.map { m =>
        val md = java.security.MessageDigest.getInstance("MD5").digest(m.payload)
        val hash = md.map("%02x".format(_)).mkString
        val meta =
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(m.payload))
            try {
              val f = ais.getFormat
              val nf = ais.getFrameLength
              if (nf <= 0 || nf > (1L << 24)) None
              else Some((f.getSampleRate.toInt, f.getChannels,
                math.min(nf, Int.MaxValue.toLong).toInt))
            } finally ais.close()
          } catch { case _: Exception => None }
        meta match {
          case Some((rate, ch, nf)) =>
            DecodedMeta(m.media_id, m.kind, m.payload.length.toLong, hash, rate, ch, nf)
          case None =>
            DecodedMeta(m.media_id, m.kind, m.payload.length.toLong, hash, -1, -1, 0)
        }
      }
  }

  // ---- audio near-dup via offset-consistent window matching --------------

  /** Per-audio analysis-window fingerprints: one row per window with a
    * deterministic stub digest of (payload, window index) standing in
    * for a real spectral fingerprint (the chromaprint/Shazam landmark
    * family). Window count = payload bytes % 24 + 8 — the
    * [[StubDecoder]] convention of deriving fake media structure from
    * the payload. Map-only explode, ≤ 31 rows per audio; a real
    * decoder swaps in at the digest expression without touching the
    * shape.
    */
  def audioWindows(media: DataFrame, idCol: String = "media_id",
                   payloadCol: String = "payload"): DataFrame =
    media.select(col(idCol), col(payloadCol).cast("string").as("__p"),
        (octet_length(col(payloadCol)) % 24 + 8).as("n_win"))
      .select(col(idCol), col("__p"),
        explode(sequence(lit(0), col("n_win") - 1)).as("wpos"))
      .select(col(idCol), col("wpos").cast("long").as("wpos"),
        md5(concat(col("__p"), lit("~"), col("wpos").cast("string")).cast("binary")).as("whash"))

  /** Offset-consistent audio near-dup — the alignment form the video
    * set-Jaccard cannot express: audios sharing window fingerprints are
    * candidates (one equi-join on the hash, the only corpus-sized
    * shuffle), and each matching window pair VOTES for its offset
    * delta (wpos_a − wpos_b). A pair matches only if one single delta
    * collects ≥ `minVotes` — time-consistent overlap (a trimmed or
    * padded copy lines up at one offset), where shuffled or coincidental
    * window hits scatter across deltas and never concentrate.
    *
    * Scale shape: votes aggregate on (pair, delta) is combiner-friendly;
    * the arg-max over deltas is a struct max, no per-pair window sort.
    * `wins` is referenced twice (both join sides) — persist or
    * localCheckpoint upstream if its lineage is expensive (the
    * caller-persist contract).
    *
    * Output: (id_a, id_b, win_offset, votes, total_matches), id_a <
    * id_b, votes ≥ minVotes; win_offset ties break toward the smallest
    * delta.
    */
  def audioOffsetNearDup(wins: DataFrame, minVotes: Int = 4,
                         idCol: String = "media_id"): DataFrame = {
    val a = wins.select(col("whash"), col(idCol).as("id_a"), col("wpos").as("wp_a"))
    val b = wins.select(col("whash"), col(idCol).as("id_b"), col("wpos").as("wp_b"))
    val votes = a.join(b, Seq("whash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), (col("wp_a") - col("wp_b")).as("win_offset"))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy("id_a", "id_b")
      .agg(max(struct(col("votes").as("v"), (-col("win_offset")).as("negoff"))).as("_best"),
        sum(col("votes")).as("total_matches"))
      .select(col("id_a"), col("id_b"),
        (-col("_best.negoff")).as("win_offset"), col("_best.v").as("votes"),
        col("total_matches"))
      .filter(col("votes") >= minVotes)
  }

  // ---- keyframe selection via consecutive-frame perceptual deltas --------

  /** Per-frame dHash band bytes from a frame table `(media_id,
    * frame_idx, fkey)` — the [[stubPixels]]/[[dHashBands]] chain keyed
    * by the frame-content key instead of the whole payload, so each
    * sampled frame gets its own 8×8-bit perceptual hash. `fkey` is
    * whatever identifies the frame's CONTENT (a real decoder supplies
    * the frame's pixel digest; the stub convention is
    * `payload#frame`). Map-only explode: rows × frames per video.
    *
    * Output: (media_id, frame_idx, band, byte).
    */
  def frameDHashBands(frames: DataFrame, rows: Int = 8, cols: Int = 9,
                      idCol: String = "media_id"): DataFrame = {
    require(cols * 2 <= 32, s"md5 supplies 16 bytes per row; cols=$cols needs ${cols * 2} hex chars")
    val px = frames.select(col(idCol), col("frame_idx"), col("fkey"),
        explode(sequence(lit(0), lit(rows - 1))).as("r"))
      .select(col(idCol), col("frame_idx"), col("r"),
        md5(concat(col("fkey"), lit(":"), col("r").cast("string")).cast("binary")).as("__hex"))
      .select(col(idCol), col("frame_idx"), col("r"),
        transform(sequence(lit(0), lit(cols - 1)),
          c => conv(col("__hex").substr(c * 2 + 1, lit(2)), 16, 10).cast("int")).as("px"))
    val byte = (0 until cols - 1).map { c =>
      when(element_at(col("px"), c + 1) < element_at(col("px"), c + 2), lit(1 << c))
        .otherwise(lit(0))
    }.reduce((a, b) => a + b)
    px.select(col(idCol), col("frame_idx"), col("r").cast("int").as("band"),
      byte.cast("int").as("byte"))
  }

  /** Keyframe selection: a sampled frame is a keyframe iff it is the
    * first frame or its perceptual distance to the PREVIOUS sampled
    * frame (Hamming over the 8 dHash band bytes) reaches `minHamming`
    * — the shot-boundary / static-scene reduction that keeps one frame
    * per scene instead of every frame, the standard pre-filter before
    * expensive per-frame models.
    *
    * Plan shape: consecutive deltas come from ONE lag window per
    * (video, band) — the sort key is (video, band) so state is one
    * byte per band, never a per-video frame array; the per-frame
    * Hamming and the per-video rollup reuse the same partitioning.
    *
    * Output: (media_id, n_sampled, n_keyframes, keyframe_idxs) with
    * the kept frame indices comma-joined in order.
    */
  def keyframes(bands: DataFrame, minHamming: Int = 16,
                idCol: String = "media_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("band")).orderBy("frame_idx")
    val deltas = bands
      .withColumn("__prev", lag("byte", 1).over(w))
      .groupBy(idCol, "frame_idx")
      .agg(sum(bit_count(col("byte").bitwiseXOR(col("__prev")))).as("__hamming"))
    deltas
      .withColumn("__key", col("__hamming").isNull || col("__hamming") >= minHamming)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sampled"),
        sum(when(col("__key"), 1L).otherwise(0L)).as("n_keyframes"),
        concat_ws(",", transform(
          array_sort(collect_list(when(col("__key"), col("frame_idx")))),
          x => x.cast("string"))).as("keyframe_idxs"))
  }
}
