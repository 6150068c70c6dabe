package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{FragmentEngine, Multimodal}
import graft.streaming.StreamingOps

class MultimodalStreamingSpec extends SparkSpec {

  test("media table: payload is real binary; metaColumns reads length + magic") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "hello world of binary payloads"), (2L, "tiny")).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val fast = Multimodal
      .metaColumns(media)
      .collect()
      .map(r => r.getAs[Long]("media_id") -> r)
      .toMap
    assert(fast(1L).getAs[Long]("bytes") == 30L)
    // magic bytes of "hell" = 68656C6C
    assert(fast(1L).getAs[String]("magic") == "68656C6C")
  }

  test("WAV codec: encode/decode round-trips 8- and 16-bit PCM, walking extra chunks") {
    import Multimodal.MediaCodecs
    // 8-bit unsigned PCM: bytes ARE the samples
    val data8 = "abcz".getBytes("US-ASCII") // 97,98,99,122
    val wav8 = MediaCodecs.encodeWavPcm(data8, 8000, 8)
    assert(wav8.length == 44 + 4)
    val d8 = MediaCodecs.decodeWav(7L, wav8)
    assert(d8.fmt == "wav" && d8.sample_rate == 8000 && d8.bits == 8 && d8.channels == 1)
    assert(d8.n_samples == 4L && d8.amp_min == 97 && d8.amp_max == 122)
    assert(d8.amp_sum == 97L + 98 + 99 + 122)

    // an unknown odd-sized chunk between fmt and data must be skipped with pad
    val wavX = MediaCodecs.encodeWavPcm(
      data8, 8000, 8, extraChunks = Seq("junk" -> Array[Byte](1, 2, 3)))
    assert(wavX.length == 44 + 4 + 8 + 3 + 1) // chunk header + body + pad byte
    val dx = MediaCodecs.decodeWav(8L, wavX)
    assert(dx.n_samples == 4L && dx.amp_sum == d8.amp_sum && dx.bytes == wavX.length)

    // 16-bit signed LE PCM, including negative samples
    val samples16 = Array[Short](-32768, -1, 0, 1, 32767)
    val pcm16 = samples16.flatMap(v => Array(v.toByte, (v >> 8).toByte))
    val d16 = MediaCodecs.decodeWav(9L, MediaCodecs.encodeWavPcm(pcm16, 16000, 16))
    assert(d16.bits == 16 && d16.sample_rate == 16000 && d16.n_samples == 5L)
    assert(d16.amp_min == -32768 && d16.amp_max == 32767)
    assert(d16.amp_sum == samples16.map(_.toLong).sum)
  }

  test("PPM codec: P6 header parse tolerates comments and arbitrary whitespace") {
    import Multimodal.MediaCodecs
    val pixels = Array.tabulate[Byte](2 * 2 * 3)(i => (40 + i).toByte)
    val canonical = MediaCodecs.encodePpm(pixels, 2, 2)
    val d = MediaCodecs.decodePpm(1L, canonical)
    assert(d.width == 2 && d.height == 2 && d.channels == 3 && d.bits == 8)
    assert(d.n_samples == 12L && d.amp_min == 40 && d.amp_max == 51)
    assert(d.amp_sum == (40 until 52).sum.toLong)

    // hand-built header with a comment and mixed whitespace — per ppm(5)
    val hairy = ("P6 # a comment\n  2\t2 # dims\n255\n".getBytes("US-ASCII") ++ pixels)
    val dh = MediaCodecs.decodePpm(2L, hairy)
    assert(dh.width == 2 && dh.height == 2 && dh.amp_sum == d.amp_sum)

    // magic dispatch: RIFF → wav, P6 → ppm, anything else rejected
    val rec = Multimodal.MediaRecord(3L, "image", canonical)
    assert(MediaCodecs.decode(rec).fmt == "ppm")
    intercept[IllegalArgumentException] {
      MediaCodecs.decode(Multimodal.MediaRecord(4L, "binary", Array[Byte](1, 2, 3, 4)))
    }
  }

  test("pHash: aligned resize and exact brightness halving are Hamming-0; unrelated images far") {
    import Multimodal.MediaCodecs
    // h ≡ 0 (mod 64): original samples source row 2my at h = 64m, the
    // factor-2 resize samples its row my → source row 2my — identical grid
    val h = 64
    // EVEN bytes only, so per-byte halving divides every gray exactly —
    // the monotone-intensity invariance the own-image-median threshold buys
    val pix = Array.tabulate[Byte](8 * h * 3)(i => (((i * 2654435761L >> 7) & 0xfe)).toByte)
    val img = MediaCodecs.encodePpm(pix, 8, h)
    val p1 = MediaCodecs.phash64(img).get
    assert(p1.length == 64 && p1.forall(c => c == '0' || c == '1'))
    // bit 0 is the DC coefficient — the largest F by construction → always 1
    assert(p1.charAt(0) == '1')
    val p2 = MediaCodecs.phash64(MediaCodecs.resizePpmVertical(img, 2)).get
    assert(p1 == p2, "aligned factor-2 resize must reproduce the hash")
    val dimmed = pix.map(b => ((b & 0xff) / 2).toByte)
    val p3 = MediaCodecs.phash64(MediaCodecs.encodePpm(dimmed, 8, h)).get
    assert(p1 == p3, "exact brightness halving must reproduce the hash")
    val pix2 = Array.tabulate[Byte](8 * h * 3)(i => ((i * 48271L >> 3) & 0xff).toByte)
    val p4 = MediaCodecs.phash64(MediaCodecs.encodePpm(pix2, 8, h)).get
    assert(p1.zip(p4).count { case (a, b) => a != b } > 8, "unrelated image must hash far")
    // empty raster → no hash; executor path emits one row per P6 image
    assert(MediaCodecs.phash64(MediaCodecs.encodePpm(Array.emptyByteArray, 8, 0)).isEmpty)
    val s = spark
    import s.implicits._
    val hashes = Multimodal.imagePHashes(Seq(
      Multimodal.MediaRecord(1L, "image", img),
      Multimodal.MediaRecord(2L, "audio", Array[Byte]('R', 'I', 'F', 'F'))
    ).toDS())
    assert(hashes.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, p1)))
  }

  test("dHash: aligned vertical resize is Hamming-0; banded pairs catch what exact digests miss") {
    import Multimodal.MediaCodecs
    // h ≡ 0 (mod 18): the factor-2 resize's nearest-neighbor grid samples
    // EXACTLY the original's source rows (r_i = 4i both ways), so the
    // perceptual hash is identical even though the payload bytes differ
    val h = 36
    val pix = Array.tabulate[Byte](8 * h * 3)(i => ((i * 2654435761L >> 7) & 0xff).toByte)
    val img = MediaCodecs.encodePpm(pix, 8, h)
    val resized = MediaCodecs.resizePpmVertical(img, 2)
    assert(!java.util.Arrays.equals(img, resized)) // exact digests diverge…
    val d1 = MediaCodecs.dhash64(img).get
    val d2 = MediaCodecs.dhash64(resized).get
    assert(d1.length == 64 && d1.forall(c => c == '0' || c == '1'))
    assert(d1 == d2) // …but the perceptual hash is identical
    // an unrelated image hashes far away (well past the pair threshold)
    val pix2 = Array.tabulate[Byte](8 * h * 3)(i => ((i * 48271L >> 3) & 0xff).toByte)
    val d3 = MediaCodecs.dhash64(MediaCodecs.encodePpm(pix2, 8, h)).get
    assert(d1.zip(d3).count { case (a, b) => a != b } > 6)
    // too short to gradient (h < 9) → no hash
    assert(MediaCodecs.dhash64(MediaCodecs.encodePpm(Array.fill(8 * 8 * 3)(0.toByte), 8, 8)).isEmpty)

    // end-to-end: media frame → executor-side hashes → banded-Hamming pairs
    val s = spark
    import s.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", img),
      Multimodal.MediaRecord(2L, "image", resized),
      Multimodal.MediaRecord(3L, "image", MediaCodecs.encodePpm(pix2, 8, h)),
      Multimodal.MediaRecord(4L, "audio", Array[Byte]('R', 'I', 'F', 'F')) // non-PPM: skipped
    ).toDS()
    val hashes = Multimodal.imageDHashes(media)
    assert(hashes.count() == 3L)
    val pairs = graft.operators.Dedup
      .hammingBandPairs(hashes, "media_id", "dhash", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), pairs.toString)
    // the exact-digest path structurally misses the same duplicate
    val exactGroups = media.toDF()
      .groupBy(md5(col("payload"))).count().filter(col("count") >= 2).count()
    assert(exactGroups == 0L)
  }

  test("audio energy hash: polarity inversion is Hamming-0; gain-scaling invariant; dups pair") {
    import Multimodal.MediaCodecs
    // deterministic 16-bit samples, small enough that ×2 gain cannot clip
    val n = 400
    val samples = Array.tabulate(n)(i => (((i * 2654435761L) % 2001L) - 1000L).toInt)
    def wav(xs: Array[Int]) =
      MediaCodecs.encodeWavPcm(xs.flatMap(v => Array(v.toByte, (v >> 8).toByte)), 16000, 16)
    val orig = wav(samples)
    val h0 = MediaCodecs.audioEnergyHash(samples).get
    assert(h0.length == 64 && h0.forall(c => c == '0' || c == '1'))
    // |−v| = |v|: inversion leaves every frame energy — hence the hash — intact
    assert(MediaCodecs.audioEnergyHash(samples.map(-_)).get == h0)
    // uniform gain: ×2 scales every energy by 2, preserving every comparison
    assert(MediaCodecs.audioEnergyHash(samples.map(_ * 2)).get == h0)
    // < 65 samples: nothing to frame
    assert(MediaCodecs.audioEnergyHash(Array.fill(64)(5)).isEmpty)

    // end-to-end: WAV → invertAudio re-encode (all payload bytes change) →
    // hashes → banded pairs; unrelated stream stays unpaired
    val s = spark
    import s.implicits._
    val other = Array.tabulate(n)(i => (((i * 48271L) % 1801L) - 900L).toInt)
    val media = Seq(Multimodal.MediaRecord(1L, "audio", orig),
      Multimodal.MediaRecord(3L, "audio", wav(other))).toDS()
    val inv = Multimodal.invertAudio(media.filter((r: Multimodal.MediaRecord) => r.media_id == 1L))
      .map(r => r.copy(media_id = 2L))
    assert(!java.util.Arrays.equals(inv.head().payload, orig))
    val pairs = graft.operators.Dedup
      .hammingBandPairs(
        Multimodal.audioEnergyHashes(media.union(inv)), "media_id", "aphash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.map(p => (p._1, p._2)) === Set((1L, 2L)), pairs.toString)
    assert(pairs.head._3 == 0L) // exact invariance, not just small distance
    // 8-bit path: centering at 128 makes a quiet stream hash like silence
    val eight = MediaCodecs.encodeWavPcm(Array.tabulate(200)(i => (128 + (i % 3) - 1).toByte), 8000, 8)
    val h8 = Multimodal.audioEnergyHashes(
      Seq(Multimodal.MediaRecord(9L, "audio", eight)).toDS()).collect()
    assert(h8.length == 1 && h8.head.getString(1).length == 64)
    // temporal downsample: ceil(n/2) samples kept, every 2nd source sample
    val down = Multimodal.downsampleAudio(media.filter(
      (r: Multimodal.MediaRecord) => r.media_id == 1L), 2).head()
    val (_, _, ds) = MediaCodecs.wavSamples(1L, down.payload)
    assert(ds.length == (n + 1) / 2)
    assert(ds.toSeq == samples.indices.collect { case i if i % 2 == 0 => samples(i) }.toSeq)
  }

  test("audioQcReport: hand-computed crossings/repeats/frame energies; non-WAV skipped") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal.{MediaCodecs, MediaRecord}
    // n=8, 8-bit: [100,100,100,100, 0,200,0,200] → mean 100, t = 8s−800 =
    // [0,0,0,0,−800,800,−800,800]: 3 sign crossings (zeros never cross),
    // 3 adjacent repeats, per-sample frames [0,0,0,0,800,800,800,800]
    val burst = Array[Byte](100, 100, 100, 100, 0, 200.toByte, 0, 200.toByte)
    val flat = Array.fill[Byte](8)(42)
    val media = Seq(
      MediaRecord(1L, "audio", MediaCodecs.encodeWavPcm(burst, 8000, 8)),
      MediaRecord(2L, "audio", MediaCodecs.encodeWavPcm(flat, 8000, 8)),
      MediaRecord(3L, "image", MediaCodecs.encodePpm(Array.fill[Byte](24)(7), 8, 1))
    ).toDS()
    val out = graft.operators.Multimodal
      .audioQcReport(media)
      .collect()
      .map(r => r.getAs[Long]("media_id") -> r)
      .toMap
    assert(out.keySet == Set(1L, 2L), "PPM asset must be skipped")
    val b = out(1L)
    assert(b.getAs[Long]("n_samples") == 8L)
    assert(b.getAs[Long]("mean_crossings") == 3L)
    assert(b.getAs[Long]("repeat_ppm") == 3L * 1000000L / 7L)
    assert(b.getAs[Long]("max_frame_energy") == 800L)
    assert(b.getAs[Long]("min_frame_energy") == 0L)
    assert(b.getAs[Long]("dyn_ppm") == 0L)
    val f = out(2L)
    assert(f.getAs[Long]("mean_crossings") == 0L)
    assert(f.getAs[Long]("repeat_ppm") == 1000000L)
    assert(f.getAs[Long]("max_frame_energy") == 0L)
    assert(f.getAs[Long]("dyn_ppm") == 1000000L, "all-flat asset reads as fully flat")
  }

  test("hammingClusters: a chained re-encode family resolves to one canonical cluster") {
    import Multimodal.MediaCodecs
    val s = spark
    import s.implicits._
    // chain: original (h=72) → resize/2 (h=36) → resize/2 again (h=18).
    // All heights are multiples of 18, so EVERY adjacent pair is grid-
    // aligned (Hamming 0) and the whole chain must land in one component.
    val h = 72
    val pix = Array.tabulate[Byte](8 * h * 3)(i => ((i * 2654435761L >> 7) & 0xff).toByte)
    val img = MediaCodecs.encodePpm(pix, 8, h)
    val half = MediaCodecs.resizePpmVertical(img, 2)
    val quarter = MediaCodecs.resizePpmVertical(half, 2)
    val pix2 = Array.tabulate[Byte](8 * h * 3)(i => ((i * 48271L >> 3) & 0xff).toByte)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", img),
      Multimodal.MediaRecord(2L, "image", half),
      Multimodal.MediaRecord(3L, "image", quarter),
      Multimodal.MediaRecord(9L, "image", MediaCodecs.encodePpm(pix2, 8, h)) // unrelated
    ).toDS()
    val out = graft.operators.Dedup
      .hammingClusters(Multimodal.imageDHashes(media), "media_id", "dhash", maxHamming = 6)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // the chain clusters under the min id with size 3; the stranger is a singleton
    assert(out(1L) == ((1L, 3L)) && out(2L) == ((1L, 3L)) && out(3L) == ((1L, 3L)), out.toString)
    assert(out(9L) == ((9L, 1L)))
  }

  test("keep-best-resolution policy keeps the tallest cluster member, not the min id") {
    import Multimodal.MediaCodecs
    val s = spark
    import s.implicits._
    val h = 36
    val pix = Array.tabulate[Byte](8 * h * 3)(i => ((i * 2654435761L >> 7) & 0xff).toByte)
    val img = MediaCodecs.encodePpm(pix, 8, h)
    // the RESIZE carries the SMALLER id — min-id would keep the degraded copy
    val media = Seq(
      Multimodal.MediaRecord(10L, "image", img),
      Multimodal.MediaRecord(5L, "image", MediaCodecs.resizePpmVertical(img, 2))
    ).toDS()
    val clusters = graft.operators.Dedup
      .hammingClusters(Multimodal.imageDHashes(media), "media_id", "dhash", maxHamming = 6)
    val heights = media.map { r =>
      (r.media_id, Multimodal.MediaCodecs.ppmHeader(r.media_id, r.payload)._2.toLong)
    }.toDF("media_id", "height")
    val kept = clusters
      .join(heights, "media_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("height")).as("nh"), col("media_id").as("mid"))).as("b"))
      .select(col("b.mid"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L), kept.toString) // the original survives, 36 > 18
  }

  test("synthesizeMedia emits decodable containers whose stats match the source bytes") {
    val s = spark
    import s.implicits._
    // doc_id 0 → ppm, 1 → wav16, 2 → wav8+LIST; 48 chars ⇒ ppm height 2
    val txt = ("ab" * 24)
    val docs = Seq((0L, txt), (1L, txt), (2L, txt)).toDF("doc_id", "text")
    val out = Multimodal
      .decodeFeatures(Multimodal.synthesizeMedia(docs))
      .collect()
      .map(f => f.media_id -> f)
      .toMap
    val byteSum = txt.map(_.toLong).sum // 24·(97+98)
    assert(out(0L).fmt == "ppm" && out(0L).width == 8 && out(0L).height == 2)
    assert(out(0L).n_samples == 48L && out(0L).amp_sum == byteSum)
    assert(out(0L).bytes == 10 + 1 + 48) // "P6\n8 2\n255\n" + raster
    assert(out(1L).fmt == "wav" && out(1L).bits == 16 && out(1L).sample_rate == 16000)
    assert(out(1L).n_samples == 48L && out(1L).bytes == 44 + 96)
    assert(out(1L).amp_sum == (byteSum - 128L * 48) * 256)
    assert(out(1L).amp_min == (97 - 128) * 256 && out(1L).amp_max == (98 - 128) * 256)
    assert(out(2L).fmt == "wav" && out(2L).bits == 8 && out(2L).sample_rate == 8000)
    assert(out(2L).n_samples == 48L && out(2L).amp_sum == byteSum)
    assert(out(2L).bytes == 70 + 48) // 44-byte canonical + 26-byte LIST/INFO
  }

  test("frame slices cover the payload with the configured stride") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x" * 700)).toDF("doc_id", "text")
    val frames = Multimodal
      .frameSlices(Multimodal.fromDocuments(docs), 256, 4)
      .collect()
    assert(frames.length == 3) // ceil(700/256) = 3 <= 4
    assert(frames.map(_.getAs[Int]("frame_idx")).sorted.sameElements(Array(0, 1, 2)))
    // empty payload → zero frames, not the sequence(0,-1) descending hazard
    // (which would emit spurious frame_idx 0 and -1 rows)
    val empty = Seq((2L, "")).toDF("doc_id", "text")
    assert(Multimodal.frameSlices(Multimodal.fromDocuments(empty), 256, 4).count() == 0)
  }

  test("strided windows overlap by window-minus-hop bytes with exact energies") {
    val s = spark
    import s.implicits._
    // 1000 bytes, window 512, hop 256 → full windows at 0,256,488? no:
    // (1000-512)/256+1 = 2 full starts (0, 256); start 512 would clip.
    val docs = Seq((1L, "ab" * 500)).toDF("doc_id", "text")
    val wins = Multimodal
      .stridedWindows(Multimodal.fromDocuments(docs), 512, 256, 6)
      .collect()
      .sortBy(_.getAs[Int]("win_idx"))
    assert(wins.length == 2)
    // energy of 512 alternating 'a'(97)/'b'(98) bytes = 256·97 + 256·98
    wins.foreach(w => assert(w.getAs[Long]("energy") == 256L * 97 + 256L * 98))
    // shorter-than-window payload → exactly one clipped window
    val short = Seq((2L, "abc")).toDF("doc_id", "text")
    val sw = Multimodal.stridedWindows(Multimodal.fromDocuments(short), 512, 256, 6).collect()
    assert(sw.length == 1 && sw.head.getAs[Long]("energy") == 97L + 98 + 99)
    // empty payload → zero windows (sequence(0,-1) hazard guarded)
    val empty = Seq((3L, "")).toDF("doc_id", "text")
    assert(Multimodal.stridedWindows(Multimodal.fromDocuments(empty), 512, 256, 6).count() == 0)
    // maxWindows caps the fan-out
    val long = Seq((4L, "x" * 5000)).toDF("doc_id", "text")
    assert(Multimodal.stridedWindows(Multimodal.fromDocuments(long), 512, 256, 6).count() == 6)
  }

  test("sceneCuts: a quantized-energy jump between consecutive frames is a cut") {
    val s = spark
    import s.implicits._
    // frames of 'a'·256 (energy 24832, q=12) then 'z'·256 (31232, q=15):
    // deltas 0, 3, 0 → exactly one cut, two shots, four frames
    val docs = Seq(
      (1L, "a" * 512 + "z" * 512),
      (2L, "a" * 512), // flat media: q deltas 0 → no cuts, one shot
      (3L, "")         // empty payload → no frames, absent from output
    ).toDF("doc_id", "text")
    val out = Multimodal
      .sceneCuts(Multimodal.fromDocuments(docs))
      .collect()
      .map(r => r.getAs[Long]("media_id") -> r)
      .toMap
    assert(out(1L).getAs[Long]("n_frames") == 4L)
    assert(out(1L).getAs[Long]("n_cuts") == 1L)
    assert(out(1L).getAs[Long]("n_shots") == 2L)
    assert(out(2L).getAs[Long]("n_cuts") == 0L && out(2L).getAs[Long]("n_shots") == 1L)
    assert(!out.contains(3L))
  }

  test("binaryFile source reads a media directory with inferred modality") {
    val dir = Files.createTempDirectory("graft-media")
    Files.write(dir.resolve("a.png"), Array[Byte](0x50, 0x4E, 0x47, 0x21))
    Files.write(dir.resolve("b.wav"), Array[Byte](0x52, 0x49, 0x46, 0x46, 0x00))
    Files.write(dir.resolve("c.bin"), Array[Byte](1, 2, 3))
    val media = Multimodal.readMediaDir(spark, dir.toString)
    val rows = media.collect().map(r => (r.getAs[String]("modality"), r.getAs[Long]("bytes"))).toSet
    assert(rows == Set(("image", 4L), ("audio", 5L), ("binary", 3L)))
    assert(media.schema("payload").dataType.typeName == "binary")
  }

  test("streaming file source: windowed counts over the events table via availableNow") {
    val s = spark
    import s.implicits._
    val batchDf = Tables.events(spark, "/root/testdata/sf0.001")
    // FileStreamSource wants a directory of files — stage the single parquet
    val streamDir = Files.createTempDirectory("graft-events-stream")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      streamDir.resolve("events.parquet")
    )
    val stream = Tables.canonicalizeEventsTs(
      spark.readStream
        .schema(Tables.table(spark, "/root/testdata/sf0.001", "events").schema)
        .parquet(streamDir.toString)
    )
    val q = StreamingOps
      .hourlyEventCounts(stream, watermark = "10 days")
      .writeStream
      .format("memory")
      .queryName("file_stream_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("file_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = StreamingOps.hourlyEventCounts(batchDf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming hourly counts equal the batch aggregation") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val rows = Seq(
      (at(0), "click", 1.0),
      (at(10), "click", 2.0),
      (at(50), "view", 3.0),
      (at(70), "click", 4.0) // next hour window
    )
    mem.addData(rows: _*)
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps
      .hourlyEventCounts(streamDf)
      .writeStream
      .format("memory")
      .queryName("hourly_out")
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark
      .table("hourly_out")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = StreamingOps
      .hourlyEventCounts(rows.toDF("ts", "event_type", "value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
    assert(streamed(("2024-01-01 10:00", "click")) == ((2L, 3.0)))
  }

  test("stream-static enrichment join attaches dim attributes per micro-batch without state") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamingOps
      .enrichWithDim(mem.toDF().toDF("user_id", "value"), dim, "user_id")
      .writeStream
      .format("memory")
      .queryName("enrich_out")
      .outputMode("append")
      .start()
    mem.addData((1L, 10.0), (3L, 30.0))
    q.processAllAvailable()
    mem.addData((2L, 20.0))
    q.processAllAvailable()
    q.stop()
    val out = spark
      .table("enrich_out")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSet
    // dim match enriches; missing key survives with null tier (left join)
    assert(
      out == Set((1L, 10.0, Some("gold")), (3L, 30.0, None), (2L, 20.0, Some("silver")))
    )
  }

  test("wav chunk walk rejects corrupt chunk sizes instead of hanging or overreading") {
    import graft.operators.Multimodal.MediaCodecs
    val good = MediaCodecs.encodeWavPcm(Array[Byte](1, 0, 2, 0, 3, 0), 8000, 16)
    // chunk size -8 keeps the walk's offset stationary — an executor hang
    // without the guard; chunk starts at byte 12, size field at 16
    val stuck = good.clone()
    val neg = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-8).array()
    System.arraycopy(neg, 0, stuck, 16, 4)
    val eStuck = intercept[IllegalArgumentException](MediaCodecs.wavSamples(7L, stuck))
    assert(eStuck.getMessage.contains("corrupt"))
    intercept[IllegalArgumentException](MediaCodecs.decodeWav(7L, stuck))
    // an oversized data size reads past the payload without the guard;
    // the data chunk's size field sits 4+6 bytes from the end (size + samples)
    val over = good.clone()
    val big = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(1 << 20).array()
    System.arraycopy(big, 0, over, over.length - 6 - 4, 4)
    val eOver = intercept[IllegalArgumentException](MediaCodecs.wavSamples(7L, over))
    assert(eOver.getMessage.contains("corrupt"))
    // the untouched payload still decodes
    assert(MediaCodecs.wavSamples(7L, good)._3.toSeq == Seq(1, 2, 3))
  }

  test("idempotent foreachBatch sink: batch replay does not duplicate rows") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val sink = StreamingOps.idempotentAppend(s"$dir/out")
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      sink(b0, 0L)
      sink(Seq((3L, "c")).toDF("id", "v"), 1L)
      // epoch replay after a "failure": same batch id arrives again — skipped
      sink(b0, 0L)
      val back = s.read.parquet(s"$dir/out").select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
      assert(s.read.parquet(s"$dir/out").count() == 3)
    }
  }

  test("streaming session windows emit exactly the watermark-closed batch sessions") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    // user a: one 3-event session (0-20) and a later singleton; user b: one
    val batch1 = Seq((at(0), "a"), (at(10), "a"), (at(20), "a"), (at(5), "b"))
    // far-future event pushes the watermark (t - 2h) past every session end,
    // closing them; its own session stays open and must NOT emit
    val batch2 = Seq((at(600), "a"))
    val streamDf = mem.toDF().toDF("ts", "user_id")
    val q = StreamingOps
      .sessionCounts(streamDf)
      .writeStream
      .format("memory")
      .queryName("session_out")
      .outputMode("append")
      .start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))
    val streamed = spark.table("session_out").collect().map(key).toSet
    // batch ignores watermarks → all sessions; streamed = the closed subset
    val all = StreamingOps
      .sessionCounts((batch1 ++ batch2).toDF("ts", "user_id"))
      .collect()
      .map(key)
      .toSet
    val open = ("a", "2024-01-01 20:00:00", "2024-01-01 20:30:00", 1L)
    assert(streamed == all - open, s"streamed=$streamed all=$all")
    assert(streamed.contains(("a", "2024-01-01 10:00:00", "2024-01-01 10:50:00", 3L)))
    assert(streamed.contains(("b", "2024-01-01 10:05:00", "2024-01-01 10:35:00", 1L)))
  }

  test("streaming dedup within watermark drops duplicate content keys across batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val q = StreamingOps
      .dedupWithinWatermark(mem.toDF().toDF("ts", "h"), Seq("h"))
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    mem.addData((at(0), "doc-a"), (at(1), "doc-b"), (at(2), "doc-a")) // in-batch dup
    q.processAllAvailable()
    mem.addData((at(3), "doc-b"), (at(4), "doc-c")) // cross-batch dup (inside watermark)
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").collect().map(_.getString(1)).sorted
    assert(keys.sameElements(Array("doc-a", "doc-b", "doc-c")), keys.mkString(","))
  }

  test("mapGroupsWithState running totals accumulate across batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[StreamingOps.EventRow]
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val q = StreamingOps
      .runningTotals(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("running_out")
      .outputMode("update")
      .start()
    mem.addData(StreamingOps.EventRow(t, "click", 1.0), StreamingOps.EventRow(t, "click", 2.0))
    q.processAllAvailable()
    mem.addData(StreamingOps.EventRow(t, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val last = spark
      .table("running_out")
      .filter($"event_type" === "click")
      .orderBy($"cnt".desc)
      .head()
    assert(last.getAs[Long]("cnt") == 3L)
    assert(last.getAs[Double]("sum_value") == 6.0)
  }

  test("watermarked stream-stream time-bracket join equals the batch join") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    // conv 201 (u1@10:45, lookback [9:45,10:45]) → clicks 101@10:00, 102@10:30;
    // conv 202 (u2@10:00, lookback [9:00,10:00]) → click 100@9:00 (inclusive edge)
    val clickRows = Seq((at(-60), "u2", 100L), (at(0), "u1", 101L), (at(30), "u1", 102L))
    val convRows = Seq((at(45), "u1", 201L), (at(0), "u2", 202L))
    val memC = MemoryStream[(java.sql.Timestamp, String, Long)]
    val memV = MemoryStream[(java.sql.Timestamp, String, Long)]
    val joined = StreamingOps
      .timeBracketJoin(
        memV.toDF().toDF("ts", "user_id", "conv_id"),
        memC.toDF().toDF("ts", "user_id", "click_id"),
        "user_id"
      )
      .select(col("conv_id"), col("click_id"))
    val q = joined.writeStream
      .format("memory")
      .queryName("ssjoin_out")
      .outputMode("append")
      .start()
    memC.addData(clickRows: _*)
    memV.addData(convRows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed =
      spark.table("ssjoin_out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingOps
      .timeBracketJoin(
        convRows.toDF("ts", "user_id", "conv_id"),
        clickRows.toDF("ts", "user_id", "click_id"),
        "user_id"
      )
      .select(col("conv_id"), col("click_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set((201L, 101L), (201L, 102L), (202L, 100L)), streamed.toString)
  }

  test("timeBracketLeftJoin emits unmatched lefts with nulls once the watermark closes them") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    // conv 201 (u1@10:45) has click 101@10:00 in bracket; conv 202 (u3@10:00)
    // has NO click — the organic-traffic row an inner join would drop
    val memC = MemoryStream[(java.sql.Timestamp, String, Long)]
    val memV = MemoryStream[(java.sql.Timestamp, String, Long)]
    val joined = StreamingOps
      .timeBracketLeftJoin(
        memV.toDF().toDF("ts", "user_id", "conv_id"),
        memC.toDF().toDF("ts", "user_id", "click_id"),
        "user_id"
      )
      .select(col("conv_id"), col("click_id"))
    val q = joined.writeStream
      .format("memory")
      .queryName("ssleft_out")
      .outputMode("append")
      .start()
    memC.addData((at(0), "u1", 101L))
    memV.addData((at(45), "u1", 201L), (at(0), "u3", 202L))
    q.processAllAvailable()
    // advance the watermark far past conv 202's ts on BOTH streams (the query
    // watermark is the min across inputs), then run one more batch so the
    // state store flushes the now-provably-unmatched left row
    memC.addData((at(600), "w1", 900L))
    memV.addData((at(600), "w2", 901L))
    q.processAllAvailable()
    memC.addData((at(620), "w1", 902L))
    memV.addData((at(620), "w2", 903L))
    q.processAllAvailable()
    q.stop()
    val out = spark
      .table("ssleft_out")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(out.contains((201L, Some(101L))), out.toString) // matched pair
    assert(out.contains((202L, None)), out.toString) // unmatched left, null right
  }

  test("timeBracketFullJoin surfaces unmatched rows from BOTH sides after watermark close") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    // conv 201 (u1@10:45) matches click 101@10:00; conv 202 (u3@10:00) has no
    // click (organic); click 102 (u2@10:00) has no conversion (dead click) —
    // the full-outer audit wants all three rows
    val memC = MemoryStream[(java.sql.Timestamp, String, Long)]
    val memV = MemoryStream[(java.sql.Timestamp, String, Long)]
    val joined = StreamingOps
      .timeBracketFullJoin(
        memV.toDF().toDF("ts", "user_id", "conv_id"),
        memC.toDF().toDF("ts", "user_id", "click_id"),
        "user_id"
      )
      .select(col("conv_id"), col("click_id"))
    val q = joined.writeStream
      .format("memory")
      .queryName("ssfull_out")
      .outputMode("append")
      .start()
    memC.addData((at(0), "u1", 101L), (at(0), "u2", 102L))
    memV.addData((at(45), "u1", 201L), (at(0), "u3", 202L))
    q.processAllAvailable()
    memC.addData((at(600), "w1", 900L))
    memV.addData((at(600), "w2", 901L))
    q.processAllAvailable()
    memC.addData((at(620), "w1", 902L))
    memV.addData((at(620), "w2", 903L))
    q.processAllAvailable()
    q.stop()
    val out = spark
      .table("ssfull_out")
      .collect()
      .map(r => (
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))
      ))
      .toSet
    assert(out.contains((Some(201L), Some(101L))), out.toString) // matched
    assert(out.contains((Some(202L), None)), out.toString) // organic conversion
    assert(out.contains((None, Some(102L))), out.toString) // dead click
  }

  test("streaming frontier loop schedules each canonical url once, replays idempotently") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = Files.createTempDirectory("graft-frontier").toString + "/frontier"

    val mem = MemoryStream[String]
    val q = mem
      .toDF()
      .toDF("url")
      .writeStream
      .foreachBatch(StreamingOps.frontierIngestLoop("url", root))
      .start()
    // batch 0: two distinct targets, one arriving as three variants
    mem.addData(
      "HTTP://A.com:80/x?utm_s=1", "http://a.com/x", "http://a.com/x#frag",
      "http://b.com/y")
    q.processAllAvailable()
    // batch 1: one already-visited variant + one genuinely new target
    mem.addData("http://a.com/x?utm_other=2", "http://c.com/z")
    q.processAllAvailable()
    q.stop()

    def sched = spark.read.parquet(root)
      .select(col("url_norm"), col("ingest_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = Set(
      ("http://a.com/x", 0L), ("http://b.com/y", 0L), ("http://c.com/z", 1L))
    assert(sched == expect, s"schedule $sched")

    // replay of epoch 1 (crash recovery): identical partition content
    StreamingOps.frontierIngestLoop("url", root)(
      Seq("http://a.com/x?utm_other=2", "http://c.com/z").toDF("url"), 1L)
    assert(sched == expect, s"post-replay schedule $sched")
  }

  test("foreachBatch round-robin router continues the insert counter") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = Files.createTempDirectory("graft-stream").toString
    val eng = new FragmentEngine(spark, root)
    eng.loadRatings("ratings", RatingsFixture.path) // 20 rows
    eng.roundRobinPartition("ratings", 5) // lastInserted = 19 % 5 = 4

    val mem = MemoryStream[(Int, Int, Double)]
    val q = mem
      .toDF()
      .toDF("userid", "movieid", "rating")
      .writeStream
      .foreachBatch(StreamingOps.roundRobinRouter(eng, "ratings"))
      .start()
    mem.addData((100, 1, 1.0), (101, 2, 2.0), (102, 3, 3.0))
    q.processAllAvailable()
    q.stop()

    assert(eng.master("ratings").count() == 23)
    val rr = spark.read.parquet(s"$root/round_robin_ratings")
    // rows 20,21,22 → parts 0,1,2 (counter continued from 4)
    val placed = rr
      .filter($"userid" >= 100)
      .select("userid", "part")
      .collect()
      .map(r => r.getInt(0) -> r.getInt(1))
      .toMap
    assert(placed == Map(100 -> 0, 101 -> 1, 102 -> 2))
    assert(eng.catalog.readRoundRobinMeta().get.lastInserted == 2L)
  }

  test("ISO-BMFF box walk: round trip, unknown-box skipping, spec sizes") {
    import graft.operators.Multimodal.MediaCodecs
    val data = "hello mp4 world".getBytes("US-ASCII")
    val b = MediaCodecs.encodeIsoBmff(data, timescale = 1000, duration = 15,
      width = 320, height = 240)
    assert(b.length == 264 + data.length, "spec box sizes: ftyp 24 + moov 216 + free 16 + mdat 8+n")
    val (brand, ts, dur, w, h, nb, mdat) = MediaCodecs.parseIsoBmff(1L, b)
    assert((brand, ts, dur, w, h, nb, mdat) == (("isom", 1000, 15, 320, 240, 7, 15L)))
    // a foreign top-level box between moov and mdat must be skipped by its
    // declared size and counted, nothing else changing
    val udta = java.nio.ByteBuffer.allocate(12).putInt(12)
      .put("udta".getBytes("US-ASCII")).putInt(0xdead).array()
    val withU = b.take(240) ++ udta ++ b.drop(240) // after ftyp+moov (24+216)
    val (brand2, ts2, dur2, w2, h2, nb2, mdat2) = MediaCodecs.parseIsoBmff(1L, withU)
    assert((brand2, ts2, dur2, w2, h2, mdat2) == (("isom", 1000, 15, 320, 240, 15L)))
    assert(nb2 == 8, "the foreign box is walked and counted")
    // empty mdat round-trips
    val empty = MediaCodecs.encodeIsoBmff(Array.emptyByteArray, 1000, 0, 16, 16)
    assert(MediaCodecs.parseIsoBmff(2L, empty)._7 == 0L)
  }

  test("ISO-BMFF box walk rejects corrupt sizes instead of hanging or overreading") {
    import graft.operators.Multimodal.MediaCodecs
    val good = MediaCodecs.encodeIsoBmff("abc".getBytes("US-ASCII"), 1000, 3, 32, 32)
    // size < 8 keeps the walk stationary (or claims largesize) — refuse
    val stuck = good.clone()
    System.arraycopy(java.nio.ByteBuffer.allocate(4).putInt(1).array(), 0, stuck, 0, 4)
    val e1 = intercept[IllegalArgumentException](MediaCodecs.parseIsoBmff(7L, stuck))
    assert(e1.getMessage.contains("unsupported box size"))
    // a box overrunning its parent must refuse, not read past the buffer
    val over = good.clone()
    System.arraycopy(java.nio.ByteBuffer.allocate(4).putInt(1 << 20).array(), 0, over, 0, 4)
    val e2 = intercept[IllegalArgumentException](MediaCodecs.parseIsoBmff(7L, over))
    assert(e2.getMessage.contains("overruns"))
    // truncated trailing header refuses
    val trunc = good ++ java.nio.ByteBuffer.allocate(4).putInt(16).array()
    val e3 = intercept[IllegalArgumentException](MediaCodecs.parseIsoBmff(7L, trunc))
    assert(e3.getMessage.contains("truncated"))
    // the untouched payload still parses
    assert(MediaCodecs.parseIsoBmff(7L, good)._1 == "isom")
  }

  test("mp4BoxMeta: per-doc synthesis + walk matches the synthesis contract") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "short"), (2L, "a" * 500), (3L, "")).toDF("doc_id", "text")
    val out = graft.operators.Multimodal.mp4BoxMeta(docs).collect()
      .map(m => m.media_id -> m).toMap
    assert(out(1L).duration == 5 && out(1L).mdat_bytes == 5L && out(1L).height == 5 + 16)
    assert(out(2L).duration == 500 && out(2L).height == 20 + 16)
    assert(out(3L).mdat_bytes == 0L && out(3L).total_bytes == 264L)
    assert(out.values.forall(m => m.major_brand == "isom" && m.n_boxes == 7 &&
      m.timescale == 1000 && m.width == 320))
  }
}
