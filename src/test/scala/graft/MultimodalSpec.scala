package graft

import graft.ops.MultimodalOps
import graft.ops.MultimodalOps.MediaItem
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: batched stub decoder ≡ expression path; frame
  * sampling and resize plans behave.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def media = Seq(
    MediaItem(0L, "image", "x".repeat(700).getBytes("UTF-8")),
    MediaItem(1L, "audio", "abcdef".getBytes("UTF-8")),
    MediaItem(2L, "video", "y".repeat(100).getBytes("UTF-8"))
  )

  test("batched decoder and expression path agree") {
    val ds = spark.createDataset(media).repartition(2)
    val decoded = MultimodalOps.decode(ds).toDF()
    val viaExpr = MultimodalOps.metadataExpr(ds.toDF())
    val a = decoded.orderBy("media_id").collect().map(_.toSeq)
    val b = viaExpr.orderBy("media_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // partition count preserved (one decoder call per partition)
    assert(MultimodalOps.decode(ds).rdd.getNumPartitions == 2)
  }

  test("stub decode derives deterministic dimensions") {
    val meta = MultimodalOps.decode(spark.createDataset(media)).collect()
      .map(m => m.media_id -> m).toMap
    assert(meta(0L).width == 700 % 640 && meta(0L).height == 700 % 480)
    assert(meta(0L).n_frames == 1, "image has one frame")
    assert(meta(2L).n_frames == 100 % 16 + 1)
  }

  test("frame sampling emits stride-spaced work units for videos only") {
    val meta = MultimodalOps.metadataExpr(spark.createDataset(media).toDF())
    val frames = MultimodalOps.sampleFrames(meta, stride = 2)
      .as[(Long, Int)].collect().toSeq
    assert(frames.forall(_._1 == 2L))
    assert(frames.map(_._2) == (0 until (100 % 16 + 1) by 2))
  }

  test("resize plan preserves aspect ratio and never upscales") {
    val meta = MultimodalOps.metadataExpr(spark.createDataset(media).toDF())
    val plan = MultimodalOps.resizePlan(meta, 30, 30).collect()
      .map(r => r.getAs[Long]("media_id") -> (r.getAs[Int]("target_w"), r.getAs[Int]("target_h"))).toMap
    val m0 = plan(0L) // 60x220 → scale = min(30/60, 30/220) = 0.136
    assert(m0._1 <= 30 && m0._2 <= 30)
    val m1 = plan(1L) // 6x6 → no upscale
    assert(m1 == ((6, 6)))
  }

  // ---- perceptual hashing (dHash) pins ----

  test("dHash is invariant to uniform brightness shift") {
    val media = Seq((0L, "payload-x")).toDF("media_id", "payload")
    val px = MultimodalOps.stubPixels(media)
    // +10 on every pixel: neighbor ORDER is unchanged, so the
    // difference hash must be identical (the property that makes dHash
    // perceptual rather than cryptographic)
    val shifted = px.withColumn("px", transform(col("px"), v => v + 10))
    val h1 = MultimodalOps.dHashBands(px).orderBy("band").collect().map(_.getInt(2)).toSeq
    val h2 = MultimodalOps.dHashBands(shifted).orderBy("band").collect().map(_.getInt(2)).toSeq
    assert(h1 == h2)
    assert(h1.size == 8 && h1.forall(b => b >= 0 && b < 256))
  }

  test("imageHashNearDup: copies pair at small Hamming distance, unrelated payloads die in the verify") {
    val media = Seq(
      (0L, "imgA"), (1L, "imgA"), // exact copy
      (2L, "imgB-completely-different-payload")
    ).toDF("media_id", "payload")
    val px = MultimodalOps.stubPixels(media)
    // single-cell perturbation of the copy (r=0, c=0, +40): at most the
    // two comparison bits that touch the cell can flip
    val pert = px.withColumn("px",
      transform(col("px"), (v, c) =>
        when(col("media_id") === 1 && col("r") === 0 && c === 0, (v + 40) % 256)
          .otherwise(v)))
    val pairs = MultimodalOps.imageHashNearDup(MultimodalOps.dHashBands(pert), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val copyPair = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(copyPair.isDefined, s"perturbed copy not found: ${pairs.toSeq}")
    assert(copyPair.get._3 <= 2, s"one perturbed cell flips at most 2 bits: ${copyPair.get}")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated payload must not survive the Hamming verify: ${pairs.toSeq}")
  }

  test("videoNearDup: identical videos at jaccard 1, partial edits partially overlap, unrelated never pair") {
    val media = Seq(
      (0L, "video-payload-A"), (1L, "video-payload-A"), // identical → jaccard 1.0
      (2L, "video-payload-A"), // will have some frames perturbed below
      (3L, "totally-different-video-payload-B")
    ).toDF("media_id", "payload")
    val frames = MultimodalOps.frameFingerprints(media)
      .withColumn("fhash",
        when(col("media_id") === 2 && col("frame_idx") % 4 === 0,
          md5(concat(col("fhash"), lit("x")).cast("binary"))).otherwise(col("fhash")))
    val pairs = MultimodalOps.videoNearDup(frames, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((0L, 1L)) == 1.0, s"identical videos must overlap fully: $pairs")
    val partial = pairs((0L, 2L))
    assert(partial > 0.3 && partial < 1.0, s"edited copy must overlap partially: $partial")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated video must never become a candidate: $pairs")
  }

  test("audioOffsetNearDup: shifted copies align at one delta, scattered matches never concentrate") {
    val media = Seq(
      (0L, "audio-payload-A"), (1L, "audio-payload-A"), // identical content
      (2L, "audio-payload-A"), // same content, shifted by 3 windows below
      (3L, "a-completely-different-audio-payload")
    ).toDF("media_id", "payload")
    val wins = MultimodalOps.audioWindows(media)
      .withColumn("wpos",
        when(col("media_id") === 2, col("wpos") + 3).otherwise(col("wpos")))
    val got = MultimodalOps.audioOffsetNearDup(wins, minVotes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val nWin = "audio-payload-A".getBytes("UTF-8").length % 24 + 8
    assert(got((0L, 1L)) === ((0L, nWin.toLong)), s"identical audio: delta 0, all windows vote: $got")
    assert(got((0L, 2L)) === ((-3L, nWin.toLong)), s"shifted copy: one consistent delta −3: $got")
    assert(got((1L, 2L)) === ((-3L, nWin.toLong)))
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated audio must never become a candidate: $got")

    // offset-consistency is the point: the same window MULTISET at
    // scrambled positions (position reversed) shares every hash, but
    // votes scatter one-per-delta — a bag-of-windows Jaccard would call
    // this a perfect dup; the aligner must reject it
    val scrambled = MultimodalOps.audioWindows(media.filter(col("media_id") < 1))
      .union(MultimodalOps.audioWindows(
          media.filter(col("media_id") === 1))
        .withColumn("wpos", lit(nWin - 1).cast("long") - col("wpos")))
    val sg = MultimodalOps.audioOffsetNearDup(scrambled, minVotes = 4).collect()
    assert(sg.isEmpty, s"reversed window order shares all hashes but no consistent offset: ${sg.toSeq}")
  }

  test("crossModalAdmission: dup requires BOTH caption and image agreement") {
    import graft.ops.DedupOps
    val capA = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val corpus = Seq((0L, capA, "imgA")).toDF("doc_id", "text", "payload")
    val fresh = Seq(
      (11L, capA + " v2", "imgA"), // both modalities near-dup → admit as dup
      (13L, capA + " v3", "imgZ-completely-different"), // caption-only
      (15L, "an entirely unrelated caption about winter mountain weather and snowfall patterns", "imgA") // image-only
    ).toDF("doc_id", "text", "payload")
    def bands(df: org.apache.spark.sql.DataFrame) =
      MultimodalOps.dHashBands(MultimodalOps.stubPixels(
        df.select(col("doc_id").as("media_id"), col("payload"))))
    val out = DedupOps.crossModalAdmission(fresh, corpus, bands(fresh), bands(corpus))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(11L), "caption + image near-dup must be caught")
    assert(!out(13L), "caption match with a different image must NOT be a dup")
    assert(!out(15L), "image match with a different caption must NOT be a dup")
  }

  test("Hamming verify fails loudly on a missing band row instead of dropping the pair") {
    import graft.ops.DedupOps
    def failure(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    }
    val caption = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val docs = Seq((0L, caption, "imgA"), (1L, caption, "imgA")).toDF("doc_id", "text", "payload")
    val bands = MultimodalOps.dHashBands(MultimodalOps.stubPixels(
      docs.select(col("doc_id").as("media_id"), col("payload"))))
    // the copy shares every band bucket with the original but lost band 7
    val holed = bands.filter(!(col("media_id") === 1 && col("band") === 7))
    assert(MultimodalOps.imageHashNearDup(bands).collect().length === 1, "intact bands pair")
    assert(failure(MultimodalOps.imageHashNearDup(holed).collect())
      .contains("band vectors differ in length (8 vs 7)"))
    val fresh = docs.filter(col("doc_id") === 1)
    val corpus = docs.filter(col("doc_id") === 0)
    assert(failure(DedupOps.crossModalAdmission(fresh, corpus,
        holed.filter(col("media_id") === 1), holed.filter(col("media_id") === 0)).collect())
      .contains("band vectors differ in length (7 vs 8)"))
  }

  // ---- real-decoder path: actual PNG bytes through the same boundary ----

  /** In-memory PNG via the JDK's own encoder: pixel (x, y) colored by
    * `f` — real container bytes, no fixtures on disk.
    */
  private def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
  private def gray(v: Int): Int = { val g = v & 0xff; (g << 16) | (g << 8) | g }

  test("ImageIoDecoder: real PNG bytes yield true dimensions; garbage quarantines") {
    val items = Seq(
      MediaItem(0L, "image", png(40, 24)((x, _) => gray(x * 6))),
      MediaItem(1L, "image", "not an image".getBytes("UTF-8")))
    val meta = MultimodalOps.decode(spark.createDataset(items).repartition(2),
        MultimodalOps.ImageIoDecoder)
      .collect().map(m => m.media_id -> m).toMap
    assert(meta(0L).width == 40 && meta(0L).height == 24 && meta(0L).n_frames == 1)
    assert(meta(1L).width == -1 && meta(1L).height == -1 && meta(1L).n_frames == 0,
      "undecodable payload must quarantine, not throw")
  }

  test("real PNGs through imagePixels -> dHashBands -> imageHashNearDup: " +
    "near-identical images pair, different images don't") {
    // A: horizontal gradient; A': same gradient, mild brightness jitter
    // on a couple of pixels (dHash-invariant: neighbor ORDER survives);
    // B: vertical gradient (every dHash byte differs from A's).
    val a = png(64, 64)((x, _) => gray(x * 4))
    val a2 = png(64, 64)((x, y) => gray(x * 4 + (if (x == 10 && y < 3) 2 else 0)))
    val b = png(64, 64)((_, y) => gray(y * 4))
    val garbage = "corrupt".getBytes("UTF-8")
    val media = Seq((0L, a), (1L, a2), (2L, b), (3L, garbage))
      .toDF("media_id", "payload")
    val pixels = MultimodalOps.imagePixels(media)
    // 8 grid rows per decodable image, garbage dropped
    val counts = pixels.groupBy("media_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 8L, 1L -> 8L, 2L -> 8L))
    val bands = MultimodalOps.dHashBands(pixels).localCheckpoint(true)
    // horizontal gradient: every row byte = 0xFF (all neighbors ascend);
    // vertical gradient: constant within a row -> byte 0
    val bandVals = bands.as[(Long, Int, Int)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._3).toSet }
    assert(bandVals(0L) == Set(0xff) && bandVals(2L) == Set(0))
    val pairs = MultimodalOps.imageHashNearDup(bands)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the (A, A') near-dup pair, got ${pairs.mkString(",")}")
    assert(pairs.head._3 == 0, "jitter below the luminance-box resolution")
  }

  // ---- real-decoder path: actual multi-frame GIF (video tier) -----------

  /** In-memory animated GIF via the JDK's own sequence writer: one
    * frame per painter — real multi-frame container bytes.
    */
  private def gif(frames: Seq[(Int, Int) => Int], w: Int = 64, h: Int = 64): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("real animated GIFs: frame decode -> keyframes finds the scene cut; " +
    "near-dup pairs the trimmed copy only") {
    val asc: (Int, Int) => Int = (x, _) => gray(x * 4)          // dHash bands 0xff
    val desc: (Int, Int) => Int = (x, _) => gray(252 - x * 4)   // dHash bands 0x00
    val stripe8: (Int, Int) => Int = (x, _) => gray(if ((x / 8) % 2 == 0) 40 else 200)
    val stripe16: (Int, Int) => Int = (x, _) => gray(if ((x / 16) % 2 == 0) 40 else 200)
    val a = gif(Seq.fill(4)(asc) ++ Seq.fill(4)(desc))      // two scenes, cut at frame 4
    val aTrim = gif(Seq.fill(2)(asc) ++ Seq.fill(4)(desc))  // trimmed re-encode of A
    val c = gif(Seq.fill(4)(stripe8) ++ Seq.fill(4)(stripe16)) // unrelated footage
    val media = Seq((0L, a), (1L, aTrim), (2L, c), (3L, "not a gif".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val px = MultimodalOps.videoFramePixels(media).localCheckpoint(true)
    val frameCounts = px.select("media_id", "frame_idx").distinct()
      .groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(frameCounts == Map(0L -> 8L, 1L -> 6L, 2L -> 8L),
      s"frame counts off (garbage must drop): $frameCounts")
    // keyframes over REAL frame hashes: the scene cut at frame 4 is the
    // only non-first keyframe of A (static frames within a scene drop)
    val kf = MultimodalOps.keyframes(MultimodalOps.videoFrameDHash(px))
      .filter(col("media_id") === 0L)
      .select("n_sampled", "n_keyframes", "keyframe_idxs")
      .as[(Long, Long, String)].head()
    assert(kf == ((8L, 2L, "0,4")), s"keyframes off: $kf")
    // near-dup over DISTINCT real fingerprints: the trimmed copy shares
    // both scene fingerprints (jaccard 1), the stripes share none
    val pairs = MultimodalOps.videoNearDup(
        MultimodalOps.videoFrameFingerprints(px).localCheckpoint(true))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the (A, A-trimmed) pair, got ${pairs.mkString(",")}")
    assert(pairs.head._3 == 1.0, "trimmed copy keeps both scene fingerprints")
  }

  /** In-memory DELTA-encoded animated GIF: per-frame sub-rectangle
    * patches at declared (left, top) with explicit disposal methods —
    * exactly what optimized real-world GIFs store, and exactly the
    * input the raw `reader.read(i)` path mis-renders.
    */
  private def deltaGif(frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)]): Array[Byte] = {
    import javax.imageio.metadata.IIOMetadataNode
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { case (img, left, top, disposal) =>
        val itype = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
        val meta = writer.getDefaultImageMetadata(itype, null)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def node(name: String): IIOMetadataNode = {
          val ns = root.getElementsByTagName(name)
          if (ns.getLength > 0) ns.item(0).asInstanceOf[IIOMetadataNode]
          else { val n = new IIOMetadataNode(name); root.appendChild(n); n }
        }
        val gce = node("GraphicControlExtension")
        gce.setAttribute("disposalMethod", disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        val id = node("ImageDescriptor")
        id.setAttribute("imageLeftPosition", left.toString)
        id.setAttribute("imageTopPosition", top.toString)
        id.setAttribute("imageWidth", img.getWidth.toString)
        id.setAttribute("imageHeight", img.getHeight.toString)
        id.setAttribute("interlaceFlag", "FALSE")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("delta-encoded GIF: sub-rectangle frames composite onto the logical screen " +
    "honoring placement and disposal (doNotDispose persists, restoreToPrevious rolls back)") {
    def flat(w: Int, h: Int, v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, gray(v))
      img
    }
    // f0: full 64x64 base at 40, persists; f1: bright 32x64 patch on
    // the RIGHT half, rolled back after display; f2: bright 8x64 strip
    // on the LEFT edge — the right half must be BASE again, not the
    // f1 patch (restoreToPrevious), and everything else must still be
    // the f0 base (doNotDispose persistence under f2's patch).
    val payload = deltaGif(Seq(
      (flat(64, 64, 40), 0, 0, "doNotDispose"),
      (flat(32, 64, 200), 32, 0, "restoreToPrevious"),
      (flat(8, 64, 200), 0, 0, "doNotDispose")))
    val px = MultimodalOps.videoFramePixels(Seq((0L, payload)).toDF("media_id", "payload"))
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getSeq[Int](3)).toMap
    assert(px.keys.map(_._1).max === 2, "all three frames must decode")
    val (f0, f1, f2) = (px((0, 3)), px((1, 3)), px((2, 3))) // grid row 3 of each frame
    // f1: left cells carry the PERSISTED base (identical to f0 — a raw
    // 32-wide patch read would fill the whole grid with 200s), right
    // cells carry the patch
    assert((0 to 3).forall(c => f1(c) === f0(c)),
      s"f1 left half must be the persisted base: f0=$f0 f1=$f1")
    assert((5 to 8).forall(c => f1(c) > 150), s"f1 right half must be the patch: $f1")
    assert((0 to 3).forall(c => f0(c) < 60), "base really is dark")
    // f2: left strip bright, right half BACK TO BASE (f1 was
    // restoreToPrevious — without the rollback it would still read 200)
    assert(f2(0) > 100, s"f2 left strip must show the new patch: $f2")
    assert((5 to 8).forall(c => f2(c) === f0(c)),
      s"f2 right half must be rolled back to the base: f0=$f0 f2=$f2")
  }

  test("resampleLinear properties: identity at equal rates, exact integer-shift " +
    "invariance, even-index passthrough on 2x upsample") {
    val rnd = new scala.util.Random(7)
    val in = Array.fill(4000)(rnd.nextInt(65536) - 32768)
    // identity: same rates return the input untouched
    assert(MultimodalOps.resampleLinear(in, 16000, 16000) eq in)
    // 2x upsample: even output indices are EXACT source samples
    val up = MultimodalOps.resampleLinear(in, 8000, 16000)
    assert(up.length === (in.length - 1) * 2 + 1)
    assert(in.indices.take(3999).forall(i => up(2 * i) === in(i)))
    // the scaladoc's shift claim, verified exhaustively on a rational
    // pair (44.1k -> 16k): resampling a k-source-sample trim equals the
    // original's resample shifted by k*dst/src, whenever k*dst/src is
    // integral (k = 441 -> 160 output samples)
    val a = MultimodalOps.resampleLinear(in, 44100, 16000)
    val b = MultimodalOps.resampleLinear(in.drop(441), 44100, 16000)
    assert(b.indices.forall(j => b(j) === a(j + 160)),
      "integer-sample trims must stay exactly aligned after rate normalization")
  }

  // ---- real-decoder path: actual WAV bytes through the same boundary ----

  /** In-memory 16-bit mono PCM WAV via the JDK's own encoder — real
    * container bytes, no fixtures on disk.
    */
  private def wav(samples: Array[Short], rate: Float = 8000f): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Amplitude-modulated tone: envelope varies fast enough that the
    * 16-slice energy contour differs window to window.
    */
  private def tone(n: Int, freq: Double = 440.0, envPeriod: Double = 3000.0,
                   phase: Int = 0): Array[Short] =
    Array.tabulate(n) { i =>
      val t = i + phase
      val env = 5000.0 + 4000.0 * math.sin(2 * math.Pi * t / envPeriod)
      (env * math.sin(2 * math.Pi * t * freq / 8000.0)).toShort
    }

  test("WavDecoder: real WAV bytes yield true rate/channels/frames; garbage quarantines") {
    val items = Seq(
      MediaItem(0L, "audio", wav(tone(4000))),
      MediaItem(1L, "audio", "not a wav at all".getBytes("UTF-8")))
    val meta = MultimodalOps.decode(spark.createDataset(items).repartition(2),
        MultimodalOps.WavDecoder)
      .collect().map(m => m.media_id -> m).toMap
    assert(meta(0L).width == 8000 && meta(0L).height == 1 && meta(0L).n_frames == 4000)
    assert(meta(1L).width == -1 && meta(1L).height == -1 && meta(1L).n_frames == 0,
      "undecodable payload must quarantine, not throw")
  }

  test("real WAVs through wavWindows -> audioOffsetNearDup: " +
    "the jittered trimmed copy aligns at its one offset, garbage and strangers drop") {
    // A: 16384 samples of amplitude-modulated tone at 8 kHz — the
    // canonical 16 kHz resample carries (16383·2)+1 = 32767 samples =
    // 31 full windows; A': A trimmed by 2048 source samples (= 4
    // canonical windows) with ±1-LSB deterministic dither (the energy
    // contour is order-based, so most window keys survive); B:
    // different envelope AND frequency — never concentrates on one
    // delta.
    val base = tone(16 * 1024)
    val trimmedJittered = base.drop(2 * 1024).zipWithIndex.map {
      case (s, i) => (s + (i * 31 % 3) - 1).toShort
    }
    val other = tone(16 * 1024, freq = 523.0, envPeriod = 1100.0)
    val media = Seq(
      (0L, wav(base)), (1L, wav(trimmedJittered)),
      (2L, wav(other)), (3L, "garbage bytes".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val wins = MultimodalOps.wavWindows(media).localCheckpoint(true)
    val counts = wins.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(counts == Map(0L -> 31L, 1L -> 27L, 2L -> 31L),
      s"window counts off (garbage must drop): $counts")
    val pairs = MultimodalOps.audioOffsetNearDup(wins)
      .select("id_a", "id_b", "win_offset", "votes")
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the (A, A') aligned pair, got ${pairs.mkString(",")}")
    val (_, _, off, votes) = pairs.head
    assert(off == 4L, s"a 4-canonical-window trim must align at delta 4, got $off")
    assert(votes >= 4L, s"offset votes $votes below the consistency floor")
  }

  test("wavWindows rate normalization: the SAME audio encoded at 44.1 and 48 kHz pairs; " +
    "a different tone at 48 kHz does not") {
    // one continuous-time signal sampled at two rates — the classic
    // re-encode transform the native-rate window grid could never pair
    def toneAt(rate: Int, seconds: Double, freq: Double = 440.0,
               envPeriod: Double = 0.375): Array[Short] =
      Array.tabulate((rate * seconds).toInt) { i =>
        val t = i.toDouble / rate
        val env = 5000.0 + 4000.0 * math.sin(2 * math.Pi * t / envPeriod)
        (env * math.sin(2 * math.Pi * freq * t)).toShort
      }
    val media = Seq(
      (0L, wav(toneAt(44100, 2.0), rate = 44100f)),
      (1L, wav(toneAt(48000, 2.0), rate = 48000f)),
      (2L, wav(toneAt(48000, 2.0, freq = 523.0, envPeriod = 0.11), rate = 48000f)))
      .toDF("media_id", "payload")
    val wins = MultimodalOps.wavWindows(media).localCheckpoint(true)
    // both canonical streams carry ~2 s × 16 kHz = 31 full windows
    val counts = wins.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(c => c == 31L),
      s"canonical window grids must agree across source rates: $counts")
    val pairs = MultimodalOps.audioOffsetNearDup(wins)
      .select("id_a", "id_b", "win_offset", "votes")
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
      s"expected exactly the cross-rate (44.1k, 48k) pair, got ${pairs.mkString(",")}")
    assert(pairs.head._3 == 0L && pairs.head._4 >= 4L,
      s"same content at two rates must align at delta 0 with real votes: ${pairs.head}")
  }

  test("keyframes: scene boundaries kept, static frames and sub-threshold jitter dropped") {
    // video 1: frames 0-2 all-zero bytes (static), frames 3-5 all-255
    // (scene cut, Hamming 64); video 2: frame 1 differs from frame 0 by
    // ONE bit in one band (Hamming 1 < 16) -> not a keyframe
    val rows =
      (for (f <- 0 to 5; b <- 0 to 7)
        yield (1L, f.toLong, b, if (f < 3) 0 else 255)) ++
      (for (f <- 0 to 1; b <- 0 to 7)
        yield (2L, f.toLong, b, if (f == 1 && b == 0) 1 else 0))
    val bands = rows.toDF("media_id", "frame_idx", "band", "byte")
    val out = graft.ops.MultimodalOps.keyframes(bands)
      .select("media_id", "n_sampled", "n_keyframes", "keyframe_idxs")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set((1L, 6L, 2L, "0,3"), (2L, 2L, 1L, "0")))
  }
}
