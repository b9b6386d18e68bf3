package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("media table carries opaque binary + typed metadata") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val schema = m.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("media_type").dataType.typeName == "string")
    val types = m.toDF().select("media_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("feature extraction is deterministic and total") {
    val n = Multimodal.mediaTable(spark, sfDir).count()
    val f1 = Multimodal.multimodalFeatures(spark, sfDir).collect().toSeq
    val f2 = Multimodal.multimodalFeatures(spark, sfDir).collect().toSeq
    assert(f1 == f2)
    assert(f1.size == n)
  }

  test("resize fits the box and preserves aspect ratio") {
    val rows = Multimodal.multimodalResize(spark, sfDir).collect()
    rows.filter(_.getString(1) != "audio").foreach { r =>
      val (w, h) = (r.getInt(2), r.getInt(3))
      val (ow, oh) = (r.getInt(4), r.getInt(5))
      assert(ow <= Multimodal.BoxSize && oh <= Multimodal.BoxSize, r)
      assert(math.max(ow, oh) == Multimodal.BoxSize, r) // long side fills
      // exact letterbox arithmetic (scale by BoxSize/max, floor)
      val mx = math.max(w, h)
      assert(ow == w * Multimodal.BoxSize / mx, r)
      assert(oh == h * Multimodal.BoxSize / mx, r)
    }
    rows.filter(_.getString(1) == "audio").foreach(r =>
      assert(r.isNullAt(4) && r.isNullAt(5)))
  }

  test("frame sampling emits at most MaxFrames evenly-strided frames") {
    val rows = Multimodal.multimodalFrames(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Multimodal.MaxFrames + 1)
      val n = rs.head.getInt(1)
      val frames = rs.map(_.getInt(2)).sorted
      assert(frames.head == 0 && frames.last < n)
      val strides = frames.sliding(2).filter(_.size == 2)
        .map(p => p(1) - p(0)).toSet
      assert(strides.size <= 1, s"stride not uniform: $strides")
    }
  }

  test("PNG decode recovers known pixels and the aHash from a fixture") {
    import Multimodal.{Codec, MediaRow}
    val png = Codec.encodePng(docId = 6L, n = 100L)
    // genuine PNG container, not raw bytes
    assert((png(0) & 0xFF) == 0x89 && new String(png, 1, 3, "US-ASCII") == "PNG")
    val f = Codec.decode(MediaRow(6L, "image", png))
    assert(f.width == 100 % 64 + 16 && f.height == 100 % 48 + 16)
    assert(f.n_frames == 1)
    assert(f.px00 == 6)                       // block (0,0) = doc_id % 256
    assert(f.px_corner == Codec.cornerGray(6L, 100L)) // block (7,7)
    // the DECODED aHash equals the synthesis-arithmetic hash — the
    // exact contract the DuckDB oracle replays (cells are uniform, so
    // integer cell averages are exact)
    val cells = for (by <- 0 until 8; bx <- 0 until 8)
      yield (by * 8 + bx, Codec.cellGray(6L, 100L, bx, by).toLong)
    val mean = cells.map(_._2).sum / 64
    var (hi, lo) = (0L, 0L)
    cells.foreach { case (p, cv) =>
      if (cv > mean) { if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32) }
    }
    assert((f.ahash_hi, f.ahash_lo) == ((hi, lo)),
      s"decoded hash ${(f.ahash_hi, f.ahash_lo)} != arithmetic ${(hi, lo)}")
    // the hash is genuinely multi-bit (not the 1-D intensity rung)
    assert(java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo) > 8)
  }

  test("WAV decode recovers the frame count from the parsed container") {
    import Multimodal.{Codec, MediaRow}
    val wav = Codec.encodeWav(docId = 1L, n = 250L)
    assert(new String(wav, 0, 4, "US-ASCII") == "RIFF")
    val f = Codec.decode(MediaRow(1L, "audio", wav))
    assert(f.n_frames == 250 % 1000 + 1)
    assert(f.width == 0 && f.height == 0 && f.px00 == -1)
  }

  test("video is a real animated GIF; frame count from the container") {
    import Multimodal.{Codec, MediaRow}
    val vid = Codec.encodeVideo(docId = 2L, n = 300L)
    // genuine GIF89a container
    assert(new String(vid, 0, 6, "US-ASCII") == "GIF89a")
    val f = Codec.decode(MediaRow(2L, "video", vid))
    assert(f.n_frames == 300 % 240 + 1)
    assert(f.width == 300 % 64 + 16 && f.height == 300 % 48 + 16)
    assert(f.px00 == 2 && f.px_corner == Codec.cornerGray(2L, 300L))
    // the GIF round trip is LOSSLESS (indexed gray palette): the key
    // frame's hash equals the PNG twin's
    val png = Codec.decode(MediaRow(2L, "image", Codec.encodePng(2L, 300L)))
    assert((f.ahash_hi, f.ahash_lo) == ((png.ahash_hi, png.ahash_lo)),
      "GIF key frame hash diverged from the PNG twin — palette loss")
    // independent frame count: an ImageIO reader NOT constructed by
    // the codec must agree with the decode's container walk
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(vid))
    try {
      rd.setInput(iis)
      assert(rd.getNumImages(true) == 300 % 240 + 1)
    } finally { rd.dispose(); iis.close() }
    // single-frame edge: n chosen so n % 240 + 1 == 1
    val one = Codec.decode(MediaRow(5L, "video", Codec.encodeVideo(5L, 240L)))
    assert(one.n_frames == 1)
  }

  test("features store builds once per dataset; all queries are store reads") {
    // warm the store, then run every multimodal query again — none may
    // trigger a rebuild (the r8 regression was each query re-encoding
    // AND re-decoding the whole corpus: 3× codec cost per suite)
    Multimodal.featuresTable(spark, sfDir).count()
    val before = Multimodal.featureStores.builds.get()
    Multimodal.multimodalFeatures(spark, sfDir).count()
    Multimodal.multimodalResize(spark, sfDir).count()
    Multimodal.multimodalFrames(spark, sfDir).count()
    assert(Multimodal.featureStores.builds.get() == before,
      "a multimodal query rebuilt the features store instead of reading it")
  }

  test("distributed decode matches the synthesis contract end-to-end") {
    import spark.implicits._
    val f = Multimodal.multimodalFeatures(spark, sfDir)
      .filter($"media_type" === "image").limit(5).collect()
    f.foreach { r =>
      assert(r.getInt(5) == (r.getLong(0) % 256).toInt, r) // px00 = doc_id % 256
    }
  }

  test("media dedup: keep-first over decoded signatures, store read only") {
    import spark.implicits._
    val dups = Multimodal.mediaDedup(spark, sfDir).collect()
    assert(dups.nonEmpty, "corpus should contain signature duplicates")
    // keep-first: every survivor precedes its members, never reported
    // as a dup itself, and members never cross media types
    val dupIds = dups.map(_.getLong(0)).toSet
    dups.foreach { r =>
      assert(r.getLong(2) < r.getLong(0), s"dup_of not the class min: $r")
      assert(!dupIds.contains(r.getLong(2)), s"survivor reported as dup: $r")
    }
    // replay the rule from the features store: a reported pair's
    // signatures must be identical field-for-field
    val sig = Multimodal.featuresTable(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    dups.foreach(r => assert(sig(r.getLong(0)) == sig(r.getLong(2)),
      s"pair with differing signatures: $r"))
    // dedup is a store read — never a rebuild, never a binary re-scan
    val before = Multimodal.featureStores.builds.get()
    Multimodal.mediaDedup(spark, sfDir).count()
    assert(Multimodal.featureStores.builds.get() == before,
      "media_dedup rebuilt the features store")
  }

  test("media near-dup: banded Hamming candidates ≡ the naive rule, no cartesian") {
    import spark.implicits._
    // pigeonhole exhaustiveness precondition: with bands > ε, a pair
    // within ε differing bits matches exactly in ≥ 1 band
    assert(Multimodal.HamBands > Multimodal.HamEps,
      "band count must exceed ε or band-equality candidates drop pairs")
    val df = Multimodal.mediaNearDup(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // plain-Scala ground truth from the decoded store's hashes
    val imgs = Multimodal.featuresTable(spark, sfDir)
      .filter($"media_type" === "image")
      .select("doc_id", "ahash_hi", "ahash_lo").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val want = for {
      (a, hiA, loA) <- imgs; (b, hiB, loB) <- imgs
      ham = java.lang.Long.bitCount(hiA ^ hiB) +
        java.lang.Long.bitCount(loA ^ loB)
      if a < b && ham <= Multimodal.HamEps
    } yield (a, b, ham)
    assert(got.sorted == want.sorted.toSeq,
      s"banded pairs diverge from the naive rule: got ${got.size}, " +
        s"want ${want.size}")
    assert(got.nonEmpty, "corpus yields no near-dup pair — gate vacuous")
    // each pair exactly once, and the candidate join is band-equality —
    // never a cartesian over the image set
    assert(got.distinct.size == got.size, "duplicate candidate pairs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates are not band-local:\n$plan")
  }

  test("audio/video near-dup: bucketed candidates ≡ naive, no cartesian") {
    import spark.implicits._
    val store = Multimodal.featuresTable(spark, sfDir)
    // audio: |Δ decoded samples| ≤ ε through the adjacent-bucket probe
    val adf = Multimodal.mediaNearDupAudio(spark, sfDir)
    val aGot = adf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val au = store.filter($"media_type" === "audio")
      .select("doc_id", "n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1)
    val aWant = for {
      (a, sa) <- au; (b, sb) <- au
      if a < b && math.abs(sa - sb) <= Multimodal.AudioEps
    } yield (a, b, sa, sb)
    assert(aGot.sorted == aWant.sorted.toSeq,
      s"audio pairs diverge: got ${aGot.size}, want ${aWant.size}")
    assert(aGot.nonEmpty, "no audio near-dup pair — gate vacuous")
    // video: key-frame hash equality + |Δ frames| ≤ ε
    val vdf = Multimodal.mediaNearDupVideo(spark, sfDir)
    val vGot = vdf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val vids = store.filter($"media_type" === "video")
      .select("doc_id", "ahash_hi", "ahash_lo", "n_frames").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)), r.getInt(3)))
      .sortBy(_._1)
    val vWant = for {
      (a, ha, fa) <- vids; (b, hb, fb) <- vids
      if a < b && ha == hb && math.abs(fa - fb) <= Multimodal.FrameEps
    } yield (a, b, fa, fb)
    assert(vGot.sorted == vWant.sorted.toSeq,
      s"video pairs diverge: got ${vGot.size}, want ${vWant.size}")
    Seq(adf, vdf).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"near-dup candidates are not bucket-local:\n$plan")
    }
  }

  test("audio spectral fingerprint: decoded PCM ≡ synthesis arithmetic, " +
    "spectral pairs reach past the duration rung and reject inside it") {
    import Multimodal.{Codec, MediaRow}
    import spark.implicits._
    // the decoded fingerprint equals a plain-Scala replay of the
    // synthesis contract — the decode genuinely read every sample
    for ((id, n) <- Seq((1L, 250L), (7L, 999L), (13L, 3L), (4L, 31L))) {
      val f = Codec.decode(MediaRow(id, "audio", Codec.encodeWav(id, n)))
      val samples = Array.tabulate((n % 1000 + 1).toInt)(i =>
        ((id + i) % 32768).toInt)
      assert(f.pcm_sig == Codec.pcmSig(samples),
        s"decoded fingerprint drifted for doc $id n=$n")
      assert(f.pcm_sig >= 0 && f.pcm_sig < (1L << 48),
        s"fingerprint outside the 8×6-bit pack: ${f.pcm_sig}")
    }
    // visual rows carry the -1 sentinel
    val store = Multimodal.featuresTable(spark, sfDir)
    assert(store.filter($"media_type" =!= "audio")
      .filter($"pcm_sig" =!= -1L).count() == 0)
    // the spectral rung ≡ the naive rule over the landed store
    val df = Multimodal.mediaNearDupAudioSpectral(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSeq
    val au = store.filter($"media_type" === "audio")
      .select("doc_id", "n_frames", "pcm_sig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val want = for {
      (a, sa, ga) <- au; (b, sb, gb) <- au
      if a < b && ga == gb && math.abs(sa - sb) <= Multimodal.AudioSpecEps
    } yield (a, b, ga, sa, sb)
    assert(got.sorted == want.sorted.toSeq,
      s"spectral pairs diverge: got ${got.size}, want ${want.size}")
    // CONTENT, not duration: the rung finds pairs the duration rung's
    // ε cannot reach, and rejects duration-close pairs whose decoded
    // spectra disagree — both must be non-vacuous for the fingerprint
    // to be doing any work
    assert(got.exists(p => math.abs(p._4 - p._5) > Multimodal.AudioEps),
      "no pair beyond the duration rung's reach — fingerprint vacuous")
    val rejected = for {
      (a, sa, ga) <- au; (b, sb, gb) <- au
      if a < b && ga != gb && math.abs(sa - sb) <= Multimodal.AudioEps
    } yield (a, b)
    assert(rejected.nonEmpty,
      "every duration-close pair matched spectrally — rejection vacuous")
    // bucket-local candidates, exhaustive by width > ε
    assert(Multimodal.AudioSpecBucket > Multimodal.AudioSpecEps)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"spectral candidates are not bucket-local:\n$plan")
  }

  test("incremental media ingest: base ∪ delta ≡ full store, delta ∝ batch") {
    // the union must answer exactly like the full store
    val full = Multimodal.multimodalFeatures(spark, sfDir).collect().toSeq
    val incr = Multimodal.multimodalFeaturesIncremental(spark, sfDir)
      .collect().toSeq
    assert(incr == full,
      "incremental features diverged from the full store replay")
    // the delta segment holds EXACTLY the batch (decode ∝ batch), and
    // the batch never reached the base decode
    val nBatch = graft.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % Multimodal.MediaIncrEvery === Multimodal.MediaIncrSlot).count()
    assert(nBatch > 0, "empty media batch — gate vacuous")
    assert(Multimodal.mediaDeltaSegment(spark, sfDir).count() == nBatch,
      "delta segment is not batch-shaped")
    assert(Multimodal.mediaBaseSegment(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id")
        % Multimodal.MediaIncrEvery === Multimodal.MediaIncrSlot)
      .count() == 0, "batch docs leaked into the base decode")
    // segments land once; re-running is pure segment reads
    val b0 = Multimodal.mediaSegStores.builds.get()
    val df = Multimodal.multimodalFeaturesIncremental(spark, sfDir)
    df.collect()
    assert(Multimodal.mediaSegStores.builds.get() == b0,
      "media segments rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mediab") && plan.contains("graft_mediad"),
      "incremental read does not stand on the landed segments:\n" + plan)
  }

  test("incremental near-dup: ≡ full answer restricted to batch-touching " +
    "pairs, probe reads landed segments, no cartesian") {
    import org.apache.spark.sql.functions.col
    val isBatch = (id: Long) =>
      id % Multimodal.MediaIncrEvery == Multimodal.MediaIncrSlot
    val full = Multimodal.mediaNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val want = full.filter(p => isBatch(p._1) || isBatch(p._2)).toSeq
    val df = Multimodal.mediaNearDupIncremental(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq
    assert(got == want, s"incremental pairs diverge: got ${got.size}, " +
      s"want ${want.size}")
    // non-vacuous BOTH ways: batch-internal and batch × base pairs
    assert(got.exists(p => isBatch(p._1) && isBatch(p._2)),
      "no batch-internal pair — cross-check vacuous")
    assert(got.exists(p => isBatch(p._1) ^ isBatch(p._2)),
      "no batch × base pair — the cross-segment band join is untested")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mediad") && plan.contains("graft_mediab"),
      "incremental probe does not stand on the landed segments:\n" + plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "incremental candidates are not band-local:\n" + plan)
  }

  test("media delete: tombstone ∝ batch, zero leak, mask ≡ purge, " +
    "re-anchoring, build-once") {
    import org.apache.spark.sql.functions.col
    val deleted = Multimodal.mediaTombStore(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    // tombstone sidecar is exactly the batch
    val nBatch = Multimodal.featuresTable(spark, sfDir)
      .filter(col("doc_id") % Multimodal.MediaDelEvery
        === Multimodal.MediaDelSlot).count()
    assert(nBatch > 0 && deleted.size == nBatch.toInt,
      "tombstone sidecar is not batch-shaped")
    // zero leak: a deleted doc neither survives nor anchors
    val masked = Multimodal.mediaDelete(spark, sfDir).collect().toSeq
    masked.foreach { r =>
      assert(!deleted.contains(r.getLong(0)), s"deleted doc survives: $r")
      assert(!deleted.contains(r.getLong(2)), s"deleted doc anchors: $r")
    }
    // mask ≡ purge (the compaction half answers identically)
    val purged = Multimodal.mediaDeleteCompact(spark, sfDir).collect().toSeq
    assert(masked == purged, "mask and purge diverge")
    // the masked answer IS the rule replayed over the survivors
    // (plain-Scala replay from the landed store: keep-first by
    // signature among non-deleted docs)
    val feats = Multimodal.featuresTable(spark, sfDir)
      .collect().filterNot(r => deleted.contains(r.getLong(0)))
    val want = feats
      .groupBy(r => (r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
      .values.flatMap { grp =>
        val anchor = grp.map(_.getLong(0)).min
        grp.filter(_.getLong(0) != anchor)
          .map(r => (r.getLong(0), r.getString(1), anchor))
      }.toSeq.sortBy(_._1)
    assert(masked.map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))) == want,
      "masked dedup diverges from the survivor-rule replay")
    // re-anchoring is EXERCISED: some class lost its full-dedup
    // survivor to the delete and re-anchored (non-vacuous takedown)
    val fullAnchors = Multimodal.mediaDedup(spark, sfDir)
      .collect().map(_.getLong(2)).toSet
    assert(fullAnchors.exists(deleted.contains),
      "no deleted doc ever anchored — re-anchoring untested")
    // the purged segment is store − tombstones exactly
    assert(Multimodal.mediaPurgedSegment(spark, sfDir).count()
      == Multimodal.featuresTable(spark, sfDir).count() - deleted.size)
    // sidecar and purge land once; the purged probe reads ONLY the
    // purged segment (no tombstone path, no mask)
    val t0 = Multimodal.mediaTombStores.builds.get()
    val p0 = Multimodal.mediaPurgeStores.builds.get()
    val df = Multimodal.mediaDeleteCompact(spark, sfDir)
    df.collect()
    assert(Multimodal.mediaTombStores.builds.get() == t0 &&
      Multimodal.mediaPurgeStores.builds.get() == p0,
      "delete artifacts rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mediapurge") &&
      !plan.contains("graft_mediatomb"),
      "purged probe does not stand on the purged segment alone:\n" + plan)
  }
}
