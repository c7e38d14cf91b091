package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpecBase {

  test("media table carries opaque payload + typed metadata") {
    val media = Multimodal.mediaTable(spark, sf001)
    val row = media.filter(_.doc_id == 0L).head()
    assert(row.meta.nBytes === row.payload.length)
    assert(Set("image", "audio", "video").contains(row.meta.mediaType))
    assert(row.meta.sourceId === 0L)
  }

  test("fake decoder features derive from the md5 digest (oracle contract)") {
    val payload = "abc".getBytes("UTF-8")
    val h = java.security.MessageDigest.getInstance("MD5").digest(payload)
    def be32(off: Int): Long =
      ((h(off) & 0xffL) << 24) | ((h(off + 1) & 0xffL) << 16) |
        ((h(off + 2) & 0xffL) << 8) | (h(off + 3) & 0xffL)
    val f = Multimodal.FakeDecoder.decode(
      Multimodal.MediaMeta("video", payload.length, 7L), payload)
    assert(f.width === 64 + (be32(0) % 1024).toInt)
    assert(f.height === 64 + (be32(4) % 1024).toInt)
    assert(f.nFrames === 1 + (be32(8) % 120).toInt)
    assert(f.featNorm === be32(12).toDouble / 4294967296.0)
  }

  test("batched featurize (mapInPandas shape) equals the row-wise path") {
    val media = Multimodal.mediaTable(spark, sf001)
    val rowWise = Multimodal.featurize(media).collect().sortBy(_.doc_id)
    val batched = Multimodal.featurizeBatched(media, batchSize = 7)
      .collect().sortBy(_.doc_id)
    assert(batched.toSeq === rowWise.toSeq)
  }

  test("synthPng emits genuine PNG bytes and the JDK codec round-trips the pattern") {
    val docId = 42L
    val png = Multimodal.synthPng(docId)
    // real container format: PNG magic, not a fake blob
    assert((png(0) & 0xff) === 0x89)
    assert(new String(png.slice(1, 4), "US-ASCII") === "PNG")
    val dec = new Multimodal.PngDecoder
    val f = dec.decode(docId, png)
    dec.close()
    val (w, h) = (Multimodal.imgWidth(docId), Multimodal.imgHeight(docId))
    assert(f.width === w)
    assert(f.height === h)
    assert(f.n_channels === 3)
    def expectedSum(c: Int): Long =
      (for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixel(docId, x, y, c).toLong).sum
    assert(f.sum_r === expectedSum(0))
    assert(f.sum_g === expectedSum(1))
    assert(f.sum_b === expectedSum(2))
  }

  test("PNG decoder initializes once per partition, not per row") {
    val images = Multimodal.imageTable(spark, sf001).repartition(5)
    Multimodal.PngDecoder.inits.set(0L)
    val n = Multimodal.decodeImages(images).count()
    assert(n > 0)
    val inits = Multimodal.PngDecoder.inits.get()
    // one decoder per non-empty partition (≤ 5), never one per row
    assert(inits >= 1 && inits <= 5, s"decoder inits = $inits for $n rows")
  }

  test("streaming featurize reuses pooled decoders ACROSS micro-batches") {
    import org.apache.spark.sql.functions.col
    // stage the documents as 3 parquet files + maxFilesPerTrigger=1 →
    // 3 micro-batches through the SAME foreachBatch decode stage
    val src = java.nio.file.Files.createTempDirectory("graft_mb_docs").toString
    graft.sources.Tables.documents(spark, sf001).repartition(3)
      .write.mode("overwrite").parquet(src)
    val nFiles = new java.io.File(src).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 3, s"fixture must span ≥3 files, got $nFiles")
    Multimodal.PngDecoder.inits.set(0L)
    val docs = graft.streaming.Streams.documents
    val out = graft.streaming.Streams.drain(spark, docs,
      docs.all(spark, sf001).filter(_.name == "image_features"), sf001,
      Some(src), Some(1))("image_features").rows
    assert(out.count() === graft.sources.Tables.documents(spark, sf001).count())
    val inits = Multimodal.PngDecoder.inits.get()
    // each micro-batch runs 1 task (one input file); tasks execute
    // sequentially across triggers, so the pool hands the SAME decoder
    // to every batch — constructions stay at peak concurrency (≤2 with
    // scheduling jitter; 0 if an earlier test already stocked the
    // pool), NOT one per (batch × partition) ≥ 3
    assert(inits <= 2,
      s"pooled decoder constructed $inits times across $nFiles micro-batches")

    // features must be byte-identical to the batch path (q101 contract)
    val batch = Multimodal.decodeImages(Multimodal.imageTable(spark, sf001))
      .toDF().orderBy("doc_id").collect()
    assert(out.orderBy("doc_id").collect().toSeq === batch.toSeq)
    assert(out.where(col("sum_r") <= 0).count() === 0)
  }

  test("batched image decode equals the row-wise path") {
    val images = Multimodal.imageTable(spark, sf001)
    val rowWise = Multimodal.decodeImages(images).collect().sortBy(_.doc_id)
    val batched = Multimodal.decodeImagesBatched(images, batchSize = 7)
      .collect().sortBy(_.doc_id)
    assert(batched.toSeq === rowWise.toSeq)
  }

  test("synthWav emits genuine RIFF/WAVE bytes and the JDK codec round-trips the signal") {
    val docId = 17L
    val wav = Multimodal.synthWav(docId)
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val dec = new Multimodal.WavDecoder
    val f = dec.decode(docId, wav)
    val n = Multimodal.audioFrames(docId)
    val samples = (0 until n).map(Multimodal.audioSample(docId, _))
    assert(f.sample_rate === 8000)
    assert(f.channels === 1)
    assert(f.bits === 16)
    assert(f.n_frames === n.toLong)
    assert(f.sum_samples === samples.map(_.toLong).sum)
    assert(f.min_sample === samples.min)
    assert(f.max_sample === samples.max)
  }

  test("WAV decoder initializes once per partition and is repartition-stable") {
    val audio = Multimodal.audioTable(spark, sf001).repartition(5)
    Multimodal.WavDecoder.inits.set(0L)
    val a1 = Multimodal.decodeAudio(audio).collect().sortBy(_.doc_id)
    val inits = Multimodal.WavDecoder.inits.get()
    assert(a1.nonEmpty)
    assert(inits >= 1 && inits <= 5, s"decoder inits = $inits for ${a1.length} rows")
    val a2 = Multimodal.decodeAudio(Multimodal.audioTable(spark, sf001))
      .collect().sortBy(_.doc_id)
    assert(a1.toSeq === a2.toSeq)
  }

  test("decodeResized = exact 2x2 box downsample of the decoded raster, odd edges cropped") {
    val docId = 5L // w=21 h=16: odd width exercises the crop
    assert(Multimodal.imgWidth(docId) % 2 === 1)
    val dec = new Multimodal.PngDecoder
    val r = dec.decodeResized(docId, Multimodal.synthPng(docId))
    dec.close()
    val (w, h) = (Multimodal.imgWidth(docId), Multimodal.imgHeight(docId))
    assert(r.r_width === w / 2)
    assert(r.r_height === h / 2)
    def expected(c: Int): Long =
      (for (by <- 0 until h / 2; bx <- 0 until w / 2) yield {
        val (x, y) = (2 * bx, 2 * by)
        ((Multimodal.pixel(docId, x, y, c) + Multimodal.pixel(docId, x + 1, y, c) +
          Multimodal.pixel(docId, x, y + 1, c) + Multimodal.pixel(docId, x + 1, y + 1, c)) / 4).toLong
      }).sum
    assert(r.rsum_r === expected(0))
    assert(r.rsum_g === expected(1))
    assert(r.rsum_b === expected(2))
  }

  test("synthGif emits a real animated GIF; frame-sampled decode matches the signal") {
    val docId = 23L
    val gif = Multimodal.synthGif(docId)
    assert(new String(gif.slice(0, 6), "US-ASCII").startsWith("GIF8"))
    val dec = new Multimodal.GifDecoder
    val f = dec.decode(docId, gif)
    dec.close()
    val (w, h, nf) = (Multimodal.vidWidth(docId), Multimodal.vidHeight(docId),
      Multimodal.vidFrames(docId))
    assert(f.width === w)
    assert(f.height === h)
    assert(f.n_frames === nf)
    val sampledFrames = (0 until nf by Multimodal.frameStride)
    assert(f.n_sampled === sampledFrames.size)
    val expected = (for (fr <- sampledFrames; y <- 0 until h; x <- 0 until w)
      yield Multimodal.vidGray(docId, x, y, fr).toLong).sum
    assert(f.sum_gray_sampled === expected)
  }

  test("featurize is partition-parallel, deterministic, fixed-width") {
    val media = Multimodal.mediaTable(spark, sf001)
    val f1 = Multimodal.featurize(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.featurize(media.repartition(7)).collect().sortBy(_.doc_id)
    assert(f1.length === media.count())
    assert(f1.toSeq === f2.toSeq) // partitioning must not change features
    assert(f1.forall(f => f.width >= 64 && f.height >= 64 && f.nFrames >= 1))
    assert(f1.filter(_.mediaType != "video").forall(_.nFrames === 1))
  }

  test("q192: codec-path aHash equals a pure-Scala recompute from the fixture") {
    import graft.operators.Multimodal
    val rows = SparkEntry.queries("q192_image_ahash")(spark, sf001)
      .collect().take(25)
    rows.foreach { r =>
      val d = r.getLong(0)
      val (w, h) = (Multimodal.imgWidth(d), Multimodal.imgHeight(d))
      assert(r.getInt(1) === w && r.getInt(2) === h)
      val (bw, bh) = (w / 8, h / 8)
      val bavg = Array.tabulate(64) { k =>
        val (i, j) = (k % 8, k / 8)
        val sum = (for {
          y <- j * bh until (j + 1) * bh
          x <- i * bw until (i + 1) * bw
        } yield (Multimodal.pixel(d, x, y, 0) + Multimodal.pixel(d, x, y, 1) +
          Multimodal.pixel(d, x, y, 2)) / 3).map(_.toLong).sum
        sum / (bw.toLong * bh)
      }
      val mean = bavg.sum / 64
      var (hi, lo) = (0L, 0L)
      (0 until 64).foreach { k =>
        if (bavg(k) > mean) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
      }
      assert(r.getLong(3) === hi && r.getLong(4) === lo,
        s"doc $d: hash (${r.getLong(3)}, ${r.getLong(4)}) != recompute ($hi, $lo)")
    }
  }

  test("q193: codec-path audio fingerprint equals the fixture recompute") {
    import graft.operators.Multimodal
    val rows = SparkEntry.queries("q193_audio_fingerprint")(spark, sf001)
      .collect().take(15)
    rows.foreach { r =>
      val d = r.getLong(0)
      val n = Multimodal.audioFrames(d)
      assert(r.getLong(1) === n.toLong)
      val ww = n / 32
      val energy = Array.tabulate(32) { k =>
        (k * ww until (k + 1) * ww)
          .map(i => math.abs(Multimodal.audioSample(d, i)).toLong).sum
      }
      val mean = energy.sum / 32
      val fp = (0 until 32).foldLeft(0L) { (acc, k) =>
        if (energy(k) > mean) acc | (1L << k) else acc
      }
      assert(r.getLong(2) === fp, s"doc $d fingerprint")
      assert(r.getLong(2) >= 0L, "fingerprint must stay in the low half")
    }
  }

  test("q329: a re-muxed video copy shares the fingerprint byte-digest dedup misses") {
    import spark.implicits._
    val id = 123L
    val orig = Multimodal.synthGif(id)
    val remux = Multimodal.synthGifRemuxed(id)
    // the byte streams differ (container re-encode) — q33's digest
    // dedup keeps both copies
    assert(!java.util.Arrays.equals(orig, remux),
      "re-mux must produce a different byte stream")
    val ds = Seq(
      Multimodal.VideoRow(1L, orig),
      Multimodal.VideoRow(2L, remux),
      Multimodal.VideoRow(3L, Multimodal.synthGif(124L))).toDS()
    val fps = Multimodal.videoFingerprints(ds).collect().sortBy(_.doc_id)
    assert(fps.length == 3)
    // same frames -> same perceptual fingerprint, frame count intact
    assert(fps(0).video_fp == fps(1).video_fp,
      "re-muxed copy must land on the original's fingerprint")
    assert(fps(0).n_frames == fps(1).n_frames &&
      fps(0).n_sampled == fps(1).n_sampled)
    // different content separates
    assert(fps(0).video_fp != fps(2).video_fp,
      "distinct videos must not collide at this fixture")
    // fingerprints pack 16-bit frame hashes: positive, bounded width
    fps.foreach { r =>
      assert(r.video_fp >= 0L &&
        r.video_fp < (1L << (16 * math.min(r.n_sampled, Multimodal.fpFrames))))
    }
  }

  test("q331: banded candidate generation finds EVERY pair within the hamming bound") {
    // independent driver-side reference: brute-force all-pairs over
    // the collected fingerprints (the oracle proves the same thing
    // against DuckDB; this pins it against a second implementation)
    val fps = Multimodal.videoFingerprints(
      Multimodal.videoTable(spark, sf001)).collect()
      .map(r => (r.doc_id, r.n_sampled, r.video_fp))
    val want = (for {
      (da, sa, fa) <- fps; (db, sb, fb) <- fps if da < db && sa == sb
      h = java.lang.Long.bitCount(fa ^ fb)
      if h >= 1 && h <= Multimodal.videoHammingMax
    } yield (da, db, h)).toSet
    val got = SparkEntry.queries("q331_video_neardup_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(5))).toSet
    assert(got == want,
      s"banding missed ${(want -- got).size} / found ${(got -- want).size} extra")
    assert(want.nonEmpty, "the fixture must contain near-miss pairs")
    // exact duplicates (hamming 0) belong to q329's census, not here
    assert(got.forall(_._3 >= 1))
  }

  test("q334/q335: value-grain banding is complete and the census re-sums to the corpus") {
    // image tier
    val imgVals = Multimodal.decodeAHashes(
      Multimodal.imageTable(spark, sf001)).collect()
      .groupBy(r => (r.ahash_hi, r.ahash_lo)).map { case (k, v) => (k, v.size) }
    val wantImg = (for {
      ((ha, la), na) <- imgVals; ((hb, lb), nb) <- imgVals
      if ha < hb || (ha == hb && la < lb)
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if h >= 1 && h <= Multimodal.videoHammingMax
    } yield (ha, la, hb, lb, h, na.toLong, nb.toLong)).toSet
    val gotImg = SparkEntry.queries("q334_image_neardup_values")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getLong(5), r.getLong(6))).toSet
    assert(gotImg == wantImg && wantImg.nonEmpty)
    // audio tier: completeness + the census accounts for every clip
    val audVals = Multimodal.audioFingerprints(
      Multimodal.audioTable(spark, sf001)).collect()
      .groupBy(_.fingerprint).map { case (k, v) => (k, v.size) }
    val wantAud = (for {
      (fa, na) <- audVals; (fb, nb) <- audVals if fa < fb
      h = java.lang.Long.bitCount(fa ^ fb)
      if h >= 1 && h <= Multimodal.videoHammingMax
    } yield (fa, fb, h, na.toLong, nb.toLong)).toSet
    val gotAud = SparkEntry.queries("q335_audio_neardup_values")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotAud == wantAud && wantAud.nonEmpty)
    // the value grain is the scale answer BECAUSE clusters are big:
    // the fixture must actually contain a multi-doc fingerprint value
    assert(audVals.values.max > 1 && imgVals.values.max > 1)
  }

  test("q346: image value clusters equal a driver-side union-find; doc mass conserves") {
    val rows = Multimodal.decodeAHashes(
      Multimodal.imageTable(spark, sf001)).collect()
    val vals = rows.groupBy(r => (r.ahash_hi, r.ahash_lo))
      .map { case (k, v) => (v.map(_.doc_id).min, k, v.size.toLong) }.toSeq
    val pairs = for {
      (va, (ha, la), _) <- vals; (vb, (hb, lb), _) <- vals
      if ha < hb || (ha == hb && la < lb)
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if h >= 1 && h <= Multimodal.videoHammingMax
    } yield (va, vb)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = vals.map(v => v._1 -> find(v._1)).toMap
    val canon = roots.groupBy(_._2).flatMap { case (_, m) =>
      val minV = m.keys.min; m.keys.map(_ -> minV)
    }
    val got = SparkEntry.queries("q346_image_neardup_clusters")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getInt(4),
        r.getLong(5)))
    assert(got.map(g => g._1 -> g._2).toMap == canon,
      "distributed labels must equal brute-force reachability")
    assert(got.groupBy(_._2).map(_._2.head._4).sum == rows.length.toLong,
      "cluster doc mass must re-sum to the corpus")
    assert(got.exists(_._3 > 1), "a multi-value image cluster must exist")
  }

  test("q336: WIDE banded candidates are complete, and the width fixes the one-sample entropy caveat") {
    // brute-force reference over the collected WIDE fingerprints
    val fps = Multimodal.videoFingerprintsWide(
      Multimodal.videoTable(spark, sf001)).collect()
    val vals = fps.groupBy(r => (r.n_sampled,
      List(r.f0_hi, r.f0_lo, r.f1_hi, r.f1_lo, r.f2_hi, r.f2_lo)))
      .map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSeq
    // lexicographic over the 6 words
    def lexLt(a: List[Long], b: List[Long]): Boolean =
      a.zip(b).find(t => t._1 != t._2).exists(t => t._1 < t._2)
    val wantPairs = (for {
      (na, fa, ca) <- vals; (nb, fb, cb) <- vals
      if na == nb && lexLt(fa, fb)
      h = fa.zip(fb).map(t => java.lang.Long.bitCount(t._1 ^ t._2)).sum
      if h >= 1 && h <= Multimodal.videoHammingMax
    } yield (na, fa, fb, h, ca, cb)).toSet
    val got = SparkEntry.queries("q336_video_neardup_wide")(spark, sf001)
      .collect().map(r => (r.getInt(0),
        (1 to 6).map(r.getLong(_)).toList, (7 to 12).map(r.getLong(_)).toList,
        r.getInt(13), r.getLong(14), r.getLong(15))).toSet
    assert(got == wantPairs,
      s"wide banding missed ${(wantPairs -- got).size} / " +
        s"${(got -- wantPairs).size} extra")
    assert(wantPairs.nonEmpty, "the fixture must contain wide near-miss pairs")
    // the caveat the width retires: at 16 bits/frame a one-sample
    // clip had 4-bit sub-bands (≤16 distinct buckets); here every
    // sub-band is 16 bits wide for EVERY clip length
    val oneSample = fps.filter(_.n_sampled == 1)
    assert(oneSample.nonEmpty)
    val oneSampleBuckets = oneSample
      .flatMap(r => Seq(r.f0_lo & 0xffff, r.f0_lo >> 16,
        r.f0_hi & 0xffff, r.f0_hi >> 16).zipWithIndex.map(_.swap))
      .distinct.length
    assert(oneSampleBuckets > 16,
      "one-sample clips must spread over more buckets than the narrow width allowed")
  }
}
