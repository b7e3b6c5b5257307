package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media =
    Multimodal.synthesizeFromDocuments(spark.read.parquet(sf() + "/documents.parquet"))

  test("synthesized media table has the typed binary schema") {
    val schema = media.schema
    assert(schema("content").dataType.typeName == "binary")
    assert(schema("media_type").dataType.typeName == "string")
    assert(media.count() == 500)
    val types = media.select("media_type").distinct().as[String].collect().toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("extractFeatures: deterministic, real byte statistics, video frames sampled") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq, "features must be deterministic")
    assert(f1.forall(f => f.n_bytes > 0 && f.byte_mean > 0 && f.byte_entropy > 0))
    assert(f1.forall(f => f.width >= 64 && f.height >= 64))
    assert(f1.filter(_.media_type == "video").forall(_.frames_sampled > 0))
    assert(f1.filter(_.media_type != "video").forall(_.frames_sampled == 0))
    // byte_mean of ascii text payload must be in the printable range
    assert(f1.forall(f => f.byte_mean > 32 && f.byte_mean < 127))
  }

  test("resize truncates payloads while keeping the record schema") {
    val small = Multimodal.resize(media, 16)
    assert(small.collect().forall(_.content.length <= 16))
    // nullability flags differ between encoder- and projection-derived
    // schemas; names and types are the contract
    assert(small.schema.map(f => (f.name, f.dataType)) == media.schema.map(f => (f.name, f.dataType)))
  }

  test("decode runs post-filter (only surviving rows decoded)") {
    // plan shape check: filter before mapPartitions keeps decode off dropped rows
    val filtered = media.filter(col("media_type") === "video")
    val features = Multimodal.extractFeatures(filtered)
    val n = features.count()
    assert(n == media.filter(col("media_type") === "video").count())
    assert(features.collect().forall(_.media_type == "video"))
  }

  test("frameManifest: chunk geometry, sampling stride, video-only filter, real byte sums") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    import spark.implicits._
    val payload = Array.tabulate[Byte](600)(i => (i % 251).toByte)
    val media = Seq(
      MediaRecord(1L, "video", payload, "s"),
      MediaRecord(2L, "image", payload, "s"), // not a video: no frames
    ).toDS()
    val all = Multimodal.frameManifest(media, everyN = 1).collect().sortBy(_.frame_idx)
    assert(all.forall(_.media_id == 1L) && all.length == 3)
    assert(all.map(f => (f.frame_idx, f.off, f.n_bytes)).toSeq ==
      Seq((0, 0, 256), (1, 256, 256), (2, 512, 88)))
    assert(all(0).byte_sum == payload.slice(0, 256).map(b => (b & 0xff).toLong).sum)
    assert(all(2).byte_sum == payload.slice(512, 600).map(b => (b & 0xff).toLong).sum)
    val sampled = Multimodal.frameManifest(media, everyN = 4).collect()
    assert(sampled.map(_.frame_idx).toSeq == Seq(0))
  }

  private def resourceBytes(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing test resource $path")
    try in.readAllBytes()
    finally in.close()
  }

  test("ImageIoCodec decodes real PNG and JPEG dimensions exactly (header-only fixtures)") {
    val png = resourceBytes("/graft/fixture_123x45.png")
    val jpg = resourceBytes("/graft/fixture_64x32.jpg")
    assert(Multimodal.ImageIoCodec.dimensions(png) == ((123, 45)))
    assert(Multimodal.ImageIoCodec.dimensions(jpg) == ((64, 32)))
    assert(Multimodal.ImageIoCodec.isDecodable(png) && Multimodal.ImageIoCodec.isDecodable(jpg))
  }

  test("ImageIoCodec falls back to the stub for undecodable payloads") {
    val text = "not an image at all".getBytes("utf-8")
    assert(!Multimodal.ImageIoCodec.isDecodable(text))
    assert(Multimodal.ImageIoCodec.dimensions(text) == Multimodal.StubCodec.dimensions(text))
    // a truncated PNG header: recognized magic, corrupt body → still total
    val png = resourceBytes("/graft/fixture_123x45.png")
    val truncated = png.take(12)
    assert(Multimodal.ImageIoCodec.dimensions(truncated) == Multimodal.StubCodec.dimensions(truncated))
  }

  test("ImageIoCodec demuxes a real animated GIF: frame count and per-frame reads") {
    val gif = resourceBytes("/graft/fixture_1x1x3.gif")
    assert(Multimodal.ImageIoCodec.frameCount(gif).contains(3))
    // single-image formats answer 1, unrecognized payloads None
    val png = resourceBytes("/graft/fixture_123x45.png")
    assert(Multimodal.ImageIoCodec.frameCount(png).contains(1))
    assert(Multimodal.ImageIoCodec.frameCount("text".getBytes("utf-8")).isEmpty)
    // real per-frame reads: each sampled frame is a self-contained PNG
    val all = Multimodal.ImageIoCodec.sampleFrames(gif, everyN = 1)
    assert(all.length == 3)
    assert(all.forall(f => Multimodal.ImageIoCodec.dimensions(f) == ((1, 1))))
    assert(Multimodal.ImageIoCodec.sampleFrames(gif, everyN = 2).length == 2) // frames 0, 2
    // single-image payloads keep the stub chunk geometry
    assert(
      Multimodal.ImageIoCodec.sampleFrames(png, 1).map(_.toSeq) ==
        Multimodal.StubCodec.sampleFrames(png, 1).map(_.toSeq)
    )
  }

  test("synthesizeGif round-trips frame counts through real demux on the distributed path") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (7L, "e"))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeGif(docs, "doc_id").repartition(2)
    val got = Multimodal.frameCounts(media).collect().map(r => r.media_id -> r.frames).toMap
    assert(got == Map(0L -> 1, 1L -> 2, 2L -> 3, 3L -> 4, 7L -> 4))
  }

  test("JavaSoundCodec parses real WAV headers; unrecognized payloads answer None") {
    val docs = Seq((0L, "a")).toDF("doc_id", "text")
    val wav = Multimodal.synthesizeWav(docs, "doc_id").collect().head.content
    // id 0: frames = 8, rate = 8000, channels = 1, 16-bit
    assert(Multimodal.JavaSoundCodec.audioMeta(wav)
      .contains(Multimodal.AudioMeta(8L, 8000, 1, 16)))
    assert(Multimodal.JavaSoundCodec.isDecodable(wav))
    assert(Multimodal.JavaSoundCodec.audioMeta("not audio".getBytes("utf-8")).isEmpty)
    // truncated header: recognized magic, corrupt body — still total
    assert(Multimodal.JavaSoundCodec.audioMeta(wav.take(10)).isEmpty)
  }

  test("synthesizeWav round-trips header geometry through javax.sound on the distributed path") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (5L, "d"), (70L, "e"))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeWav(docs, "doc_id").repartition(2)
    val got = Multimodal.audioCensus(media).collect()
      .map(r => r.media_id -> ((r.frames, r.sample_rate, r.channels))).toMap
    assert(got == Map(
      0L -> ((8L, 8000, 1)), 1L -> ((9L, 16000, 2)), 2L -> ((10L, 44100, 1)),
      5L -> ((13L, 44100, 2)), 70L -> ((14L, 16000, 1)),
    ))
  }

  test("RiffAviCodec walks the container: header fields, counted movi chunks, rejection") {
    val docs = Seq((0L, "a")).toDF("doc_id", "text")
    val avi = Multimodal.synthesizeAvi(docs, "doc_id").collect().head.content
    // id 0: frames = 2, width = 16, height = 16; chunk count must agree
    assert(Multimodal.RiffAviCodec.aviMeta(avi).contains(Multimodal.AviMeta(2, 16, 16, 2)))
    assert(Multimodal.RiffAviCodec.isDecodable(avi))
    // not RIFF / RIFF-but-not-AVI / truncated: all None, never a throw
    assert(Multimodal.RiffAviCodec.aviMeta("not a container".getBytes("utf-8")).isEmpty)
    val wav = Multimodal.synthesizeWav(docs, "doc_id").collect().head.content
    assert(Multimodal.RiffAviCodec.aviMeta(wav).isEmpty) // RIFF/WAVE, not RIFF/AVI
    assert(Multimodal.RiffAviCodec.aviMeta(avi.take(30)).isEmpty)
  }

  test("synthesizeAvi round-trips geometry through the RIFF walker on the distributed path") {
    val docs = Seq((0L, "a"), (3L, "b"), (7L, "c"), (33L, "d")).toDF("doc_id", "text")
    val media = Multimodal.synthesizeAvi(docs, "doc_id").repartition(2)
    val got = Multimodal.videoCensus(media).collect()
      .map(r => r.media_id -> ((r.total_frames, r.movi_frames, r.width, r.height))).toMap
    assert(got == Map(
      0L -> ((2, 2, 16, 16)), 3L -> ((5, 5, 19, 19)),
      7L -> ((9, 9, 23, 23)), 33L -> ((3, 3, 17, 17)),
    ))
  }

  test("extractFeatures with ImageIoCodec decodes real images on the distributed path") {
    import graft.operators.Multimodal.MediaRecord
    val png = resourceBytes("/graft/fixture_123x45.png")
    val jpg = resourceBytes("/graft/fixture_64x32.jpg")
    val ds = Seq(
      MediaRecord(1L, "image", png, "s"),
      MediaRecord(2L, "image", jpg, "s"),
      MediaRecord(3L, "image", "plain text payload".getBytes("utf-8"), "s"),
    ).toDS().repartition(2)
    val f = Multimodal.extractFeatures(ds, Multimodal.ImageIoCodec).collect().sortBy(_.media_id)
    assert((f(0).width, f(0).height) == ((123, 45)))
    assert((f(1).width, f(1).height) == ((64, 32)))
    // undecodable row rode the stub fallback, not an exception
    val stub = Multimodal.StubCodec.dimensions("plain text payload".getBytes("utf-8"))
    assert((f(2).width, f(2).height) == stub)
    // byte statistics stay real regardless of codec
    assert(f.forall(r => r.n_bytes > 0 && r.byte_entropy > 0))
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def halfImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    img
  }

  test("imageAHash: closed-form half-black/half-white hash, undecodable totality") {
    import graft.operators.Multimodal.MediaRecord
    val ds = Seq(
      MediaRecord(1L, "image", pngBytes(halfImage(8, 8)), "s"),
      MediaRecord(2L, "image", "not an image".getBytes("utf-8"), "s"),
    ).toDS().repartition(2)
    val rows = Multimodal.imageAHash(ds).collect().sortBy(_.media_id).toSeq
    // 8×8 image → one pixel per cell; bits set exactly on the white half
    // (columns 4–7 of every row) → each hash byte is 0xF0
    assert(rows.head.ahash_hi == 0xf0f0f0f0L && rows.head.ahash_lo == 0xf0f0f0f0L, rows.head)
    assert((rows.head.width, rows.head.height) == ((8, 8)))
    assert(rows(1) == Multimodal.ImageHashRow(2L, -1L, -1L, -1, -1), "total on garbage")
  }

  test("imageAHash is invariant to resize and brightness shift; hammingPairs finds the near-dup") {
    import graft.operators.Dedup
    import graft.operators.Multimodal.MediaRecord
    // B = A resized 8×8 → 16×16 (each cell averages a uniform block — the
    // hash is scale-invariant by construction); C = A brightened +48 per
    // channel (cell and global means shift together); D = B with ONE 2×2
    // cell blacked out (a single-bit near-dup); E = A inverted (far).
    val a = halfImage(8, 8)
    val b = halfImage(16, 16)
    val c = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, if (x < 4) 0x303030 else 0xffffff)
      img
    }
    val d = {
      val img = halfImage(16, 16)
      for (y <- 0 until 2; x <- 8 until 10) img.setRGB(x, y, 0x000000)
      img
    }
    val e = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, if (x < 4) 0xffffff else 0x000000)
      img
    }
    val ds = Seq(
      MediaRecord(1L, "image", pngBytes(a), "s"),
      MediaRecord(2L, "image", pngBytes(b), "s"),
      MediaRecord(3L, "image", pngBytes(c), "s"),
      MediaRecord(4L, "image", pngBytes(d), "s"),
      MediaRecord(5L, "image", pngBytes(e), "s"),
    ).toDS().repartition(2)
    val hashed = Multimodal.imageAHash(ds).toDF()
    val byId = hashed.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byId(1L) == byId(2L), "resize-invariant")
    assert(byId(1L) == byId(3L), "brightness-shift-invariant")
    assert(byId(1L) != byId(4L) && byId(1L) != byId(5L))
    val sigs = hashed.select(
      col("media_id"),
      (shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo"))).as("sig"),
    )
    val pairs = Dedup
      .hammingPairs(sigs, "media_id", "sig", bits = 64, prefixBits = 8, maxDist = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // the three exact-equal images pair at dist 0, D joins each at dist 1;
    // E (inverted, Hamming 64) must not pair with anything
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0), (1L, 4L, 1), (2L, 4L, 1), (3L, 4L, 1)), pairs)
  }

  private def wavBytes(samples: Seq[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bos = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(bos)
    def u32(v: Int): Unit = dd.writeInt(Integer.reverseBytes(v))
    def u16(v: Int): Unit = dd.writeShort(java.lang.Short.reverseBytes(v.toShort))
    dd.writeBytes("RIFF"); u32(36 + dataLen); dd.writeBytes("WAVE")
    dd.writeBytes("fmt "); u32(16); u16(1); u16(1); u32(8000); u32(16000); u16(2); u16(16)
    dd.writeBytes("data"); u32(dataLen)
    samples.foreach(s => u16(s.toInt & 0xffff))
    bos.toByteArray
  }

  test("audioFeatures: known samples give exact energy and zero-crossings; totality") {
    import graft.operators.Multimodal.MediaRecord
    // hand-assembled PCM-16 mono WAV with samples [100, -100, 50, 0]:
    // energy = 100² + 100² + 50² + 0² = 22500; crossings at +100→−100 and
    // −100→+50 (0 counts as non-negative) = 2
    val ds = Seq(
      MediaRecord(1L, "audio", wavBytes(Seq[Short](100, -100, 50, 0)), "s"),
      MediaRecord(2L, "audio", "not audio".getBytes("utf-8"), "s"),
    ).toDS().repartition(2)
    val rows = Multimodal.audioFeatures(ds).collect().sortBy(_.media_id).toSeq
    assert(rows.head == Multimodal.AudioFeatureRow(1L, 4L, 22500L, 2L), rows.head)
    assert(rows(1) == Multimodal.AudioFeatureRow(2L, -1L, -1L, -1L), "total on garbage")
  }

  /** The closed-form per-frame aHash synthesizeMjpegAvi is built to
    * guarantee: cell c white iff bit c/2 of Q (even c) / its complement
    * (odd c), Q = (g·2654435761 + p·97003999) mod 2³², p = k + id%4.
    */
  private def mjpegFrameHash(id: Long, k: Int): Long = {
    val q = ((id / 4) * 2654435761L + (k + id % 4) * 97003999L) & 0xffffffffL
    var pat = 0L
    var c = 0
    while (c < 64) {
      val qbit = (q >>> (c / 2)) & 1L
      if (if (c % 2 == 0) qbit == 1L else qbit == 0L) pat |= 1L << c
      c += 1
    }
    pat
  }

  test("synthesizeMjpegAvi: real JPEG frames decode to the exact closed-form aHash") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (7L, "e"), (42L, "f"))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeMjpegAvi(docs, "doc_id").repartition(2)
    val rows = Multimodal.videoFrameHashes(media).collect()
    val byKey = rows.map(r => (r.media_id, r.frame_idx) -> r).toMap
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 42L)) {
      val frames = (4 + id % 4).toInt
      assert(rows.count(_.media_id == id) == frames, s"id=$id frame count")
      for (k <- 0 until frames) {
        val r = byKey((id, k))
        val expect = mjpegFrameHash(id, k)
        assert(r.ahash_hi == (expect >>> 32) && r.ahash_lo == (expect & 0xffffffffL),
          s"id=$id k=$k: decoded aHash diverged from the closed form — the JPEG " +
            "round trip is no longer pixel-exact")
        assert((r.frame_w, r.frame_h) == (((64 * (1 + id % 2)).toInt, 64)))
      }
    }
  }

  test("videoFrameHashes is total: non-AVI payloads answer one sentinel row") {
    import graft.operators.Multimodal.MediaRecord
    val ds = Seq(MediaRecord(9L, "video", "not a container".getBytes("utf-8"), "s")).toDS()
    val rows = Multimodal.videoFrameHashes(ds).collect().toSeq
    assert(rows == Seq(Multimodal.VideoFrameHashRow(9L, -1, -1L, -1L, -1L, -1L, -1, -1)))
  }

  test("ImageIoCodec.sampleFrames demuxes AVI movi chunks into decodable JPEG frames") {
    val docs = Seq((5L, "a")).toDF("doc_id", "text")
    val avi = Multimodal.synthesizeMjpegAvi(docs, "doc_id").collect().head.content
    // id 5: frames = 5, w = 128, h = 64
    val all = Multimodal.ImageIoCodec.sampleFrames(avi, everyN = 1)
    assert(all.length == 5)
    assert(all.forall(f => Multimodal.ImageIoCodec.dimensions(f) == ((128, 64))))
    assert(Multimodal.ImageIoCodec.sampleFrames(avi, everyN = 2).length == 3) // frames 0, 2, 4
  }

  test("videoNearDupPairs: shared-timeline ground truth, ubiquitous-signature drop") {
    // group g = 0: ids 0..3 draw frames from one timeline at p = k + id%4 —
    // range overlaps are the ground-truth shared-frame counts:
    // (0,1)→{1,2,3}=3, (0,2)→{2,3}=2, (0,3)→{3}=1 (below minShared),
    // (1,2)→{2..5}=4, (1,3)→{3,4,5}=3, (2,3)→{3..7}=5
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("doc_id", "text")
    val media = Multimodal.synthesizeMjpegAvi(docs, "doc_id").repartition(2)
    val pairs = Multimodal.videoNearDupPairs(media, minShared = 2, maxVideosPerSig = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((0L, 1L) -> 3L, (0L, 2L) -> 2L, (1L, 2L) -> 4L,
      (1L, 3L) -> 3L, (2L, 3L) -> 5L), pairs)
    // p = 3 is shared by ALL four videos; maxVideosPerSig = 3 drops it as
    // boilerplate: (0,2) falls to 1 (filtered), (2,3) to 4, (0,3) to 0
    val dropped = Multimodal.videoNearDupPairs(media, minShared = 2, maxVideosPerSig = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dropped == Map((0L, 1L) -> 2L, (1L, 2L) -> 3L, (1L, 3L) -> 2L, (2L, 3L) -> 4L), dropped)
  }

  test("videoDedupKeepBest: the timeline group collapses to one longest-video representative") {
    // ids 0..3 form one shared-timeline group: pairs chain them into a
    // single cluster (min-id label 0); frames = 4/5/6/7, so the keeper is
    // id 3 with 7 frames and the other three drop
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("doc_id", "text")
    val media = Multimodal.synthesizeMjpegAvi(docs, "doc_id").repartition(2)
    val rows = Multimodal.videoDedupKeepBest(media, minShared = 2, maxVideosPerSig = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq((0L, 3L, 7L, 4L, 3L)), rows.toSeq)
  }

  test("audioDedupKeepBest: exact-collapse-first clusters cover all clips; gain-dup collapses") {
    import graft.operators.Multimodal.MediaRecord
    // ids 0..7 via the synthetic WAV geometry, plus 101 = a re-gained copy
    // of 100 (amplitude-invariant fingerprint ⇒ identical ⇒ exact collapse:
    // one cluster, equal length, min-id representative) and a garbage
    // payload that must vanish before the dedup ever sees it
    val base = Seq[Short](100, -100, 50, 0, 30, -80, 90, -10)
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val media = Multimodal.synthesizeWav(docs, "doc_id").toDF()
      .union(Seq(
        (100L, "audio", wavBytes(base), "s"),
        (101L, "audio", wavBytes(base.map(s => (s * 2).toShort)), "s"),
        (999L, "audio", "not audio".getBytes("utf-8"), "s"),
      ).toDF("media_id", "media_type", "content", "source"))
      .as[MediaRecord]
    val rows = Multimodal.audioDedupKeepBest(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // disjoint cover of all 10 decodable clips, garbage absent
    assert(rows.map(_._5).sum == 10L, s"every decodable clip in exactly one cluster: ${rows.toSeq}")
    assert(rows.forall(r => r._6 == r._5 - 1), "n_dropped = n_members - 1")
    assert(rows.forall(r => r._4 <= r._5), "merged fingerprints never exceed members")
    // the re-gained pair collapsed: 100 and 101 share a cluster whose
    // representative is the min id (equal sample counts)
    val pairCluster = rows.filter(r => r._2 == 100L)
    assert(pairCluster.length == 1 && pairCluster.head._5 >= 2 && pairCluster.head._3 == 8L,
      s"gain-duplicate must fold into 100's cluster: ${rows.toSeq}")
    assert(!rows.exists(_._2 == 101L), "101 must not survive as a representative")
  }

  test("audioFingerprint: closed form, amplitude invariance, totality") {
    import graft.operators.Multimodal.MediaRecord
    // samples [100, -100, 50, 0] → windows (k·64 div 4 = 16k): energies
    // 10000/10000/2500/0 at windows 0/16/32/48, total 22500; bit set where
    // es·4 > 22500·1, i.e. windows 0 and 16 → lo = 1 | 1<<16 = 65537, hi = 0
    val base = Seq[Short](100, -100, 50, 0)
    val ds = Seq(
      MediaRecord(1L, "audio", wavBytes(base), "s"),
      MediaRecord(2L, "audio", wavBytes(base.map(s => (s * 3).toShort)), "s"), // re-gained copy
      MediaRecord(3L, "audio", wavBytes(Seq[Short](0, 0, 100, 0)), "s"),       // different content
      MediaRecord(4L, "audio", "not audio".getBytes("utf-8"), "s"),
    ).toDS().repartition(2)
    val rows = Multimodal.audioFingerprint(ds).collect().sortBy(_.media_id).toSeq
    assert((rows(0).fp_hi, rows(0).fp_lo, rows(0).n_samples) == ((0L, 65537L, 4L)), rows(0))
    assert(
      (rows(1).fp_hi, rows(1).fp_lo) == ((rows(0).fp_hi, rows(0).fp_lo)),
      "amplitude-scaled copy must fingerprint identically",
    )
    assert((rows(2).fp_hi, rows(2).fp_lo) == ((1L, 0L)), rows(2)) // only window 32 above mean
    assert(rows(3) == Multimodal.AudioFingerprintRow(4L, -1L, -1L, -1L), "total on garbage")
  }

  test("mediaDedupMixed: sniff routes by BYTES (labels lie), garbage dropped, equals the per-family union") {
    import graft.operators.Multimodal.MediaRecord
    val docs = spark.range(0, 9).toDF("doc_id")
    val base = docs.withColumn("cid", col("doc_id") - col("doc_id") % 3)
    // every media_type label is WRONG on purpose — the router must believe
    // the magic bytes, not the column a lying intake wrote
    val imgs = Multimodal
      .synthesizePng(base, "doc_id", contentIdCol = Some("cid"))
      .map(m => m.copy(media_id = m.media_id * 4, media_type = "video"))
    val vids = Multimodal
      .synthesizeMjpegAvi(docs, "doc_id")
      .map(m => m.copy(media_id = m.media_id * 4 + 1, media_type = "audio"))
    val auds = Multimodal
      .synthesizeWav(docs, "doc_id")
      .map(m => m.copy(media_id = m.media_id * 4 + 2, media_type = "image"))
    val junk = Seq(MediaRecord(999L, "image", Array.tabulate(64)(i => (i * 7).toByte), "s")).toDS()
    val all = imgs.union(vids).union(auds).union(junk)
    def rows(df: org.apache.spark.sql.DataFrame, modality: String, repCol: String) =
      df.select(
        lit(modality),
        col("cluster_id"),
        col("rep_media_id"),
        col(repCol).cast("long"),
        col("n_members").cast("long"),
        col("n_dropped").cast("long"),
      ).as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val expected =
      rows(Multimodal.imageDedupKeepBest(imgs, 12, 3), "image", "rep_pixels") ++
        rows(Multimodal.videoDedupKeepBest(vids, 2, 8), "video", "rep_frames") ++
        rows(Multimodal.audioDedupKeepBest(auds, 12, 3), "audio", "rep_samples")
    // materializeInput = false also exercises the re-scan branch
    val mixed = Multimodal
      .mediaDedupMixed(all, materializeInput = false)
      .select(
        col("modality"),
        col("cluster_id"),
        col("rep_media_id"),
        col("rep_size"),
        col("n_members").cast("long"),
        col("n_dropped").cast("long"),
      ).as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(mixed == expected, s"mixed output must equal the per-family union:\n$mixed\nvs\n$expected")
    // the exact-dup image groups guarantee the image branch is non-trivial,
    // audio keeps singletons, and the junk payload matched no sniff
    assert(expected.exists(_._1 == "image") && expected.exists(_._1 == "audio"))
    assert(!mixed.exists(_._3 == 999L), "garbage must be dropped by construction")
  }

  test("pHashBits: DC slot empty, brightness-shift stability, structure sensitivity") {
    // block image (the q256 fixture shape) and its uniformly brightened twin
    def block(shift: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(32, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 32) {
        val cell = (y * 8 / 16) * 8 + x * 8 / 32
        val v0 = ((7L * 64 + cell + 1) * 2654435761L) & 0xffffffffL
        val l = (40L + 88L * ((v0 ^ (v0 >> 13)) % 3) + shift).toInt
        img.setRGB(x, y, l << 16 | l << 8 | l)
      }
      img
    }
    val p = Multimodal.pHashBits(block(0))
    assert((p & (1L << 63)) == 0L, "DC slot (bit 63) must stay empty")
    // +32 per channel: only the DC coefficient moves (AC basis rows sum to
    // ~0; the quantized table leaves a sub-sign rounding residue)
    assert(Multimodal.pHashBits(block(32)) == p, "uniform brightness shift must not move AC signs")
    // inverted structure flips (nearly) every AC sign
    val inv = {
      val img = block(0)
      for (y <- 0 until 16; x <- 0 until 32) {
        val l = 255 - (img.getRGB(x, y) & 0xff)
        img.setRGB(x, y, l << 16 | l << 8 | l)
      }
      img
    }
    assert(java.lang.Long.bitCount(Multimodal.pHashBits(inv) ^ p) > 16, "inversion must be far")
  }

  test("pHashBits is total on sub-8px images (empty pool cells answer mean 0, no throw)") {
    // 1×1 tracking pixels and other sub-8px images leave most 8×8 pool
    // cells EMPTY — real corpora are full of them, and the hash pass is
    // documented total (the aHashBits contract). A divide on an empty cell
    // would kill the whole corpus scan.
    def tiny(w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, ((x + y) % 2) * 0xffffff)
      img
    }
    for ((w, h) <- Seq((1, 1), (3, 5), (7, 8), (8, 3))) {
      val p1 = Multimodal.pHashBits(tiny(w, h))
      assert(p1 == Multimodal.pHashBits(tiny(w, h)), s"${w}x$h: hash must be deterministic")
      assert((p1 & (1L << 63)) == 0L, s"${w}x$h: DC slot must stay empty")
    }
    // the distributed path stays total too: a 1×1 PNG flows through
    // imagePHash without a sentinel (it decodes fine — it is just small)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(tiny(1, 1), "png", bos)
    val media = spark.createDataset(
      Seq(Multimodal.MediaRecord(1L, "image", bos.toByteArray, "spec"))
    )(org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
    val row = Multimodal.imagePHash(media).collect().head
    assert(row.phash_hi >= 0 && row.ahash_hi >= 0, "a decodable 1x1 image must hash, not sentinel")
  }

  test("pHash pairs a REAL lossy JPEG re-encode that exact aHash misses (the q256 ground truth)") {
    // The oracled q256 uses a closed-form noise model (a JPEG quantizer
    // can't be mirrored in SQL); THIS is the real-world ground truth: the
    // q256 block pattern at a fixed 40×24 (each 8×8-pool cell averages
    // 5×3 real pixels — the regime pHash is built for; the oracle corpus
    // keeps the tiny variable sizes) re-encoded through the JDK JPEG
    // writer at quality 0.5 must pair within PhashMaxDist=4 while a
    // substantial minority of re-encodes flip the exact aHash.
    def block(id: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(40, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 40) {
        val cell = (y * 8 / 24) * 8 + x * 8 / 40
        val v0 = ((id * 64 + cell + 1) * 2654435761L) & 0xffffffffL
        val l = (40L + 88L * ((v0 ^ (v0 >> 13)) % 3)).toInt
        img.setRGB(x, y, l << 16 | l << 8 | l)
      }
      img
    }
    var ahashFlips = 0
    var pixelDiffs = 0
    (0 until 150).foreach { id =>
      val img = block(id.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(0.5f)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose()
      ios.close()
      val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
      val pd = java.lang.Long.bitCount(Multimodal.pHashBits(img) ^ Multimodal.pHashBits(dec))
      assert(pd <= 4, s"fixture $id: pHash dist $pd > 4 under a real JPEG re-encode")
      if (Multimodal.aHashBits(img) != Multimodal.aHashBits(dec)) ahashFlips += 1
      var diff = false
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        if ((img.getRGB(x, y) & 0xffffff) != (dec.getRGB(x, y) & 0xffffff)) diff = true
      if (diff) pixelDiffs += 1
    }
    assert(pixelDiffs > 100, s"the re-encode must actually be lossy (got $pixelDiffs/150 changed)")
    assert(ahashFlips > 0, s"ground truth must include re-encodes that flip the exact aHash")
  }

  test("video pHash pairs REAL lossy MJPEG re-encodes that drift the exact aHash census (q266 ground truth)") {
    // The oracled q266 uses cell-level drift (a JPEG quantizer cannot be
    // mirrored in SQL); THIS is the real-world ground truth: clips of
    // q256-regime frames (40×24 — pool cells average 5×3 real pixels, the
    // off-MCU regime where JPEG is genuinely lossy), each clip re-encoded
    // frame-by-frame through the JDK JPEG writer at quality 0.5 and
    // re-packed as MJPEG AVI. The Hamming frame pairing must find EVERY
    // (original, re-encode) pair and nothing else, while the exact
    // per-frame aHash census drifts (measured at the pattern level: ~37%
    // of frames flip at least one aHash bit under this chain).
    import graft.operators.Multimodal.MediaRecord
    def frame(id: Long, k: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(40, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 40) {
        val cell = (y * 8 / 24) * 8 + x * 8 / 40
        val v0 = ((id * 512 + k * 64 + cell + 1) * 2654435761L) & 0xffffffffL
        val l = (40L + 88L * ((v0 ^ (v0 >> 13)) % 3)).toInt
        img.setRGB(x, y, l << 16 | l << 8 | l)
      }
      img
    }
    def jpeg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    val nClips = 60L
    val records = (0L until nClips).flatMap { id =>
      val frames = (4 + id % 4).toInt
      val orig = (0 until frames).map(k => jpeg(frame(id, k), 1.0f)).toIndexedSeq
      val reenc = orig
        .map(b => javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
        .map(img => jpeg(img, 0.5f))
      Seq(
        MediaRecord(2 * id, "video", Multimodal.packMjpegAvi(orig, 40, 24), "spec"),
        MediaRecord(2 * id + 1, "video", Multimodal.packMjpegAvi(reenc, 40, 24), "spec"),
      )
    }
    val media = spark.createDataset(records)(org.apache.spark.sql.Encoders.product[MediaRecord])
    val pairs = Multimodal
      .videoNearDupPairsPHash(media, minShared = 2, maxDist = 4, maxVideosPerSig = 8)
      .collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until nClips).map(id => (2 * id, 2 * id + 1)).toSet
    assert(got == expected, s"every re-encode pair and nothing else: missing=${expected -- got}, extra=${got -- expected}")
    val drifted = pairs.count(r => r.getLong(3) < r.getLong(2))
    assert(drifted > 0, "the re-encode must drift the exact aHash census on some clips")
  }

  test("videoNearDupPairsPHash: long clips (>= 100 frames) pair — no packing cap; frameStep samples deterministically") {
    // The r14 layout packed frame keys as media_id·64 + frame_idx and
    // failed loudly at 64 frames (~2 s of 30 fps video); the struct key
    // has no cap. One 120-frame clip + its re-encode must pair, and the
    // every-4th-frame stride must still pair them on the sampled frames.
    import graft.operators.Multimodal.MediaRecord
    def frame(id: Long, k: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(40, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 40) {
        val cell = (y * 8 / 24) * 8 + x * 8 / 40
        val v0 = ((id * 131072 + k * 64 + cell + 1) * 2654435761L) & 0xffffffffL
        val l = (40L + 88L * ((v0 ^ (v0 >> 13)) % 3)).toInt
        img.setRGB(x, y, l << 16 | l << 8 | l)
      }
      img
    }
    def jpeg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    val nFrames = 120
    val records = Seq(0L, 1L).flatMap { id =>
      val orig = (0 until nFrames).map(k => jpeg(frame(id, k), 1.0f)).toIndexedSeq
      val reenc = orig
        .map(b => javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
        .map(img => jpeg(img, 0.5f))
      Seq(
        MediaRecord(2 * id, "video", Multimodal.packMjpegAvi(orig, 40, 24), "spec"),
        MediaRecord(2 * id + 1, "video", Multimodal.packMjpegAvi(reenc, 40, 24), "spec"),
      )
    }
    val media = spark.createDataset(records)(org.apache.spark.sql.Encoders.product[MediaRecord])
    val expected = Set((0L, 1L), (2L, 3L))
    val full = Multimodal
      .videoNearDupPairsPHash(media, minShared = 2, maxDist = 4, maxVideosPerSig = 8)
      .collect()
    assert(full.map(r => (r.getLong(0), r.getLong(1))).toSet == expected, full.toSeq.toString)
    // ~all 120 frames Hamming-match (an occasional frame drifts past the
    // radius under quality 0.5 — 119/120 observed); the point is the count
    // is far past the old 64-frame packing cap
    assert(full.forall(_.getLong(2) >= 100L),
      s"a 120-frame re-encode pair should Hamming-match nearly every frame: ${full.toSeq}")
    // stride 4 pairs on the 30 sampled frames only — matched count drops
    // to ~nFrames/4 but the pair survives
    val sampled = Multimodal
      .videoNearDupPairsPHash(media, minShared = 2, maxDist = 4, maxVideosPerSig = 8, frameStep = 4)
      .collect()
    assert(sampled.map(r => (r.getLong(0), r.getLong(1))).toSet == expected, sampled.toSeq.toString)
    assert(sampled.forall(r => r.getLong(2) >= 25L && r.getLong(2) < full.find(f =>
      f.getLong(0) == r.getLong(0) && f.getLong(1) == r.getLong(1)).get.getLong(2)),
      s"stride sampling must cut the matched-frame count, not recall: ${sampled.toSeq}")
  }

  test("decodeImage == ImageIO.read pixel-for-pixel (jpg/png via thread-local reader; reuse; undecodable null)") {
    def pixels(img: java.awt.image.BufferedImage): Seq[Int] =
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) yield img.getRGB(x, y)
    // PNG (sniffed path) and JPEG (sniffed path) — decoded twice each so
    // the SECOND decode exercises the REUSED thread-local reader.
    val png = pngBytes(halfImage(20, 12))
    val jpg = Multimodal.encodeJpegQ1(halfImage(16, 16))
    for (payload <- Seq(png, jpg, png, jpg)) {
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      val got = Multimodal.decodeImage(payload)
      assert(got != null && (got.getWidth, got.getHeight) == ((ref.getWidth, ref.getHeight)))
      assert(pixels(got) == pixels(ref), "thread-local reader decode must be pixel-identical to ImageIO.read")
    }
    // Unsniffable format falls back to full dispatch; garbage answers null.
    assert(Multimodal.decodeImage("not an image".getBytes("utf-8")) == null)
    assert(Multimodal.decodeImage(Array.emptyByteArray) == null)
  }

  test("decodeImage: unsniffed formats decode; a corrupt unsniffed payload answers null") {
    import java.awt.image.BufferedImage
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK writer for $fmt")
      out.toByteArray
    }
    val rgb = new BufferedImage(12, 7, BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(3, 2, 0xff0000)
    val bmp = encode(rgb, "bmp")
    val wbmp = encode(new BufferedImage(9, 5, BufferedImage.TYPE_BYTE_BINARY), "wbmp")
    for ((fmt, bytes, w, h) <- Seq(("bmp", bmp, 12, 7), ("wbmp", wbmp, 9, 5))) {
      val img = Multimodal.decodeImage(bytes)
      assert(img != null && img.getWidth == w && img.getHeight == h, s"$fmt did not decode")
    }
    assert(Multimodal.decodeImage(bmp.take(40)) == null, "a truncated BMP must answer null, not throw")
  }
}
