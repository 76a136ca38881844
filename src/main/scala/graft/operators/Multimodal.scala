package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: images / audio /
  * video travel as opaque `BinaryType` columns next to typed metadata,
  * and the per-record operations (decode, feature-extract, resize,
  * frame-sample) run as partition-batched typed transforms —
  * `Dataset.mapPartitions` is the JVM analog of `mapInPandas`: one
  * iterator per partition, records processed in a tight loop without
  * per-row planning overhead, output schema declared via Encoders.
  *
  * STUB BOUNDARY (clearly marked): the image/audio codecs are not in
  * this environment, so `decodeBytes` parses a deterministic fake
  * container format written by the `fabricate*` functions instead of
  * JPEG/WAV/MP4. Everything AROUND the codec — binary schema, typed
  * metadata, partition batching, frame explode shapes, embedding
  * handoff into [[Similarity]] — is real, tested, and would be
  * unchanged with a real codec on the classpath.
  *
  * Container layout (big-endian ints): magic(4) | w(4) | h(4) |
  * payload(w*h bytes, splitmix-derived). Video: magic | nFrames | w |
  * h | frames(nFrames*w*h).
  */
object Multimodal {

  val ImageMagic = 0x47494D47 // "GIMG"
  val VideoMagic = 0x47564944 // "GVID"
  val AudioMagic = 0x47415544 // "GAUD"

  @inline private def mix64(x0: Long): Long = graft.plans.Kernels.mix64(x0)

  // ----------------------------------------------------- fabrication

  /** Deterministic fake image bytes from a seed: dimensions derive from
    * the seed, payload from splitmix64. STUB stand-in for real encoded
    * images; lets oracle queries verify the decode loop independently.
    */
  def fabricateImage(seed: Long): Array[Byte] = {
    val w = 16 + (math.floorMod(seed, 48L)).toInt
    val h = 16 + (math.floorMod(seed * 7, 48L)).toInt
    val out = java.nio.ByteBuffer.allocate(12 + w * h)
    out.putInt(ImageMagic).putInt(w).putInt(h)
    var i = 0
    while (i < w * h) { out.put((mix64(seed * 1048576 + i) & 0xFF).toByte); i += 1 }
    out.array()
  }

  /** Deterministic fake video: `1 + seed % 24` frames of 8×8. */
  def fabricateVideo(seed: Long): Array[Byte] = {
    val nFrames = 1 + math.floorMod(seed, 24L).toInt
    val (w, h) = (8, 8)
    val out = java.nio.ByteBuffer.allocate(16 + nFrames * w * h)
    out.putInt(VideoMagic).putInt(nFrames).putInt(w).putInt(h)
    var i = 0
    while (i < nFrames * w * h) { out.put((mix64(seed * 4096 + i) & 0xFF).toByte); i += 1 }
    out.array()
  }

  /** Deterministic fake audio: header carries an arithmetic-derivable
    * sample rate and length, payload is 8-bit PCM from splitmix64.
    * Layout: magic(4) | sampleRate(4) | nSamples(4) | payload(nSamples).
    */
  def fabricateAudio(seed: Long): Array[Byte] = {
    val rate = 8000 + math.floorMod(seed, 3L).toInt * 4000
    val n = 1000 + math.floorMod(seed * 11, 3000L).toInt
    val out = java.nio.ByteBuffer.allocate(12 + n)
    out.putInt(AudioMagic).putInt(rate).putInt(n)
    var i = 0
    while (i < n) { out.put((mix64(seed * 65536 + i) & 0xFF).toByte); i += 1 }
    out.array()
  }

  private val fabricateImageUdf = udf(fabricateImage _)
  private val fabricateVideoUdf = udf(fabricateVideo _)
  private val fabricateAudioUdf = udf(fabricateAudio _)
  def fabricateImageCol(seed: org.apache.spark.sql.Column) = fabricateImageUdf(seed)
  def fabricateVideoCol(seed: org.apache.spark.sql.Column) = fabricateVideoUdf(seed)
  def fabricateAudioCol(seed: org.apache.spark.sql.Column) = fabricateAudioUdf(seed)

  // ---------------------------------------------------------- decode

  case class ImageMeta(id: Long, width: Int, height: Int, n_bytes: Long,
                       mean_intensity: Double)

  /** Decode + feature-extract over a binary image column, batched per
    * partition. Input: (id, content). The header parse + intensity
    * stats are the STUB codec; the partition-iterator shape is the real
    * 100-TB plumbing (no per-row UDF setup, no driver collect).
    */
  def decodeImages(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == ImageMagic, s"not a fake image: id $id")
        val w = b.getInt(); val h = b.getInt()
        var sum = 0L
        var i = 0
        while (i < w * h) { sum += (bytes(12 + i) & 0xFF); i += 1 }
        ImageMeta(id, w, h, w.toLong * h, sum.toDouble / (w * h))
      }
    }(Encoders.product[ImageMeta]).toDF()
  }

  case class Frame(id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: every `everyN`-th frame of a video binary becomes
    * its own row (id, frame_idx, frame bytes) — the explode shape a
    * vision-model preprocessing pipeline feeds from.
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
                   everyN: Int): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == VideoMagic, s"not a fake video: id $id")
        val n = b.getInt(); val w = b.getInt(); val h = b.getInt()
        val frameSize = w * h
        (0 until n by everyN).map { f =>
          val frame = java.util.Arrays.copyOfRange(bytes, 16 + f * frameSize,
            16 + (f + 1) * frameSize)
          Frame(id, f, frame)
        }
      }
    }(Encoders.product[Frame]).toDF()
  }

  case class AudioWindow(id: Long, sample_rate: Int, window_idx: Int,
                         n_samples: Int, energy: Double)

  /** Windowed audio feature extraction: each `windowSamples`-sample
    * window of an audio binary becomes a row (id, rate, window index,
    * samples in window, mean-square energy) — the audio analog of
    * [[sampleFrames]]'s explode shape, feeding an acoustic-model
    * preprocessing pipeline. The last window may be short; energy is
    * over the signed 8-bit samples.
    */
  def audioWindows(df: DataFrame, idCol: String, binCol: String,
                   windowSamples: Int): DataFrame = {
    require(windowSamples > 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == AudioMagic, s"not a fake audio: id $id")
        val rate = b.getInt(); val n = b.getInt()
        val nWin = (n + windowSamples - 1) / windowSamples
        (0 until nWin).map { w =>
          val start = w * windowSamples
          val end = math.min(start + windowSamples, n)
          var sum = 0.0
          var i = start
          while (i < end) {
            val s = bytes(12 + i).toDouble // signed 8-bit sample
            sum += s * s
            i += 1
          }
          AudioWindow(id, rate, w, end - start, sum / (end - start))
        }
      }
    }(Encoders.product[AudioWindow]).toDF()
  }

  /** Deterministic fake video with PLANTED SHOT STRUCTURE: frames are
    * 8×8; the pixel base re-derives from the frame's SHOT index
    * (`frame / shotLen`), so frames inside one shot are near-identical
    * (plus a sparse 1/16 per-frame jitter of +16, wrapped mod 256)
    * while consecutive frames across a shot boundary are independent
    * noise — the "hard cut" structure a scene-cut detector exists to
    * find. Layout matches [[fabricateVideo]]; all arithmetic
    * (splitmix64 + masks), so a second engine re-derives every pixel.
    */
  def fabricateShotVideo(seed: Long): Array[Byte] = {
    val nFrames = 8 + math.floorMod(seed, 17L).toInt // 8..24
    val shotLen = 3 + math.floorMod(seed * 7, 5L).toInt // 3..7
    val (w, h) = (8, 8)
    val out = java.nio.ByteBuffer.allocate(16 + nFrames * w * h)
    out.putInt(VideoMagic).putInt(nFrames).putInt(w).putInt(h)
    var f = 0
    while (f < nFrames) {
      val shot = f / shotLen
      var p = 0
      while (p < w * h) {
        val base = mix64(seed * 1048576 + shot * 4096L + p) & 0xFF
        val jitter =
          if ((mix64(seed * 8191 + f * 64L + p) & 15) == 0) 16L else 0L
        out.put(((base + jitter) & 0xFF).toByte)
        p += 1
      }
      f += 1
    }
    out.array()
  }

  private val fabricateShotVideoUdf = udf(fabricateShotVideo _)
  def fabricateShotVideoCol(seed: org.apache.spark.sql.Column) =
    fabricateShotVideoUdf(seed)

  case class SceneCutStats(id: Long, n_frames: Long, n_cuts: Long,
                           longest_shot: Long)

  /** Scene-cut detection: consecutive-frame SAD (sum of absolute
    * pixel differences, unsigned bytes — exact integer arithmetic)
    * compared against `cutThreshold`; a frame pair at-or-over the
    * threshold is a hard cut, and the in-row island scan reports the
    * longest run of cut-free frames (the longest shot). Per video:
    * (id, n_frames, n_cuts, longest_shot) — the shot-profile signal a
    * video-corpus curation stage gates on (static-screen detection,
    * slideshow filtering, shot-boundary sampling).
    *
    * 100-TB shape: pure map-side, one partition-batched pass over the
    * binary column, O(bytes) per row, zero shuffle — like
    * [[audioSegments]], and with the same full payload-level oracle
    * replayability (integer SAD, deterministic fabrication).
    */
  def videoSceneCuts(df: DataFrame, idCol: String, binCol: String,
                     cutThreshold: Long): DataFrame = {
    require(cutThreshold >= 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == VideoMagic, s"not a fake video: id $id")
        val n = b.getInt(); val w = b.getInt(); val h = b.getInt()
        val fs = w * h
        var f = 1; var nCuts = 0L
        var longest = if (n > 0) 1L else 0L
        var run = longest
        while (f < n) {
          var sad = 0L
          var p = 0
          while (p < fs) {
            sad += math.abs((bytes(16 + f * fs + p) & 0xFF) -
              (bytes(16 + (f - 1) * fs + p) & 0xFF))
            p += 1
          }
          if (sad >= cutThreshold) { nCuts += 1; run = 1L }
          else { run += 1; if (run > longest) longest = run }
          f += 1
        }
        SceneCutStats(id, n.toLong, nCuts, longest)
      }
    }(Encoders.product[SceneCutStats]).toDF()
  }

  case class ShotKeyframe(id: Long, shot_idx: Long, start_frame: Long,
                          n_frames_in_shot: Long, keyframe_idx: Long,
                          detail: Long)

  /** Keyframe extraction: segment each video by the [[videoSceneCuts]]
    * hard-cut gate, then emit ONE row per shot whose keyframe is the
    * shot's most DETAILED frame — detail = 64·Σp² − (Σp)² (the frame's
    * pixel variance scaled by N², kept as an exact integer so the
    * argmax is bit-deterministic; ties break to the earliest frame,
    * "strict > while scanning ascending"). The per-shot keyframe row is
    * what a vision-language training pipeline samples instead of every
    * N-th frame ([[sampleFrames]]) — one representative frame per shot,
    * cut-aligned.
    *
    * 100-TB shape: pure map-side like [[videoSceneCuts]] — one
    * partition-batched pass, O(bytes) per video, zero shuffle; output
    * is shots-per-video rows, bounded by n_frames.
    */
  def shotKeyframes(df: DataFrame, idCol: String, binCol: String,
                    cutThreshold: Long): DataFrame = {
    require(cutThreshold >= 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == VideoMagic, s"not a fake video: id $id")
        val n = b.getInt(); val w = b.getInt(); val h = b.getInt()
        val fs = w * h
        def detailOf(f: Int): Long = {
          var s = 0L; var s2 = 0L
          var p = 0
          while (p < fs) {
            val v = (bytes(16 + f * fs + p) & 0xFF).toLong
            s += v; s2 += v * v
            p += 1
          }
          fs.toLong * s2 - s * s
        }
        val out = Seq.newBuilder[ShotKeyframe]
        var shotIdx = 0L; var start = 0
        var bestF = 0; var bestD = if (n > 0) detailOf(0) else 0L
        var f = 1
        def close(endExcl: Int): Unit = {
          out += ShotKeyframe(id, shotIdx, start.toLong,
            (endExcl - start).toLong, bestF.toLong, bestD)
          shotIdx += 1
        }
        while (f < n) {
          var sad = 0L
          var p = 0
          while (p < fs) {
            sad += math.abs((bytes(16 + f * fs + p) & 0xFF) -
              (bytes(16 + (f - 1) * fs + p) & 0xFF))
            p += 1
          }
          if (sad >= cutThreshold) {
            close(f)
            start = f; bestF = f; bestD = detailOf(f)
          } else {
            val d = detailOf(f)
            if (d > bestD) { bestD = d; bestF = f } // strict >: ties stay earliest
          }
          f += 1
        }
        if (n > 0) close(n)
        out.result()
      }
    }(Encoders.product[ShotKeyframe]).toDF()
  }

  /** Deterministic fake audio with PLANTED near-duplicate structure:
    * the PCM base derives from `seed mod nGroups` (same re-encode
    * group structure as [[fabricateNearDupImage]]) over a FIXED
    * 65-window length (65·64 = 4160 samples — exactly fills the
    * 64-bit delta fingerprint below, so no degenerate zero bits),
    * plus a sparse per-seed perturbation (1/64 of samples shifted by
    * +8, wrapped mod 256) — "same recording, different encode".
    */
  def fabricateNearDupAudio(seed: Long, nGroups: Int): Array[Byte] = {
    val base = math.floorMod(seed, nGroups.toLong)
    val n = 65 * 64
    val out = java.nio.ByteBuffer.allocate(12 + n)
    out.putInt(AudioMagic).putInt(16000).putInt(n)
    var i = 0
    while (i < n) {
      val raw = mix64(base * 65536 + i) & 0xFF
      val perturb = if ((mix64(seed * 8191 + i) & 63) == 0) 8L else 0L
      out.put(((raw + perturb) & 0xFF).toByte)
      i += 1
    }
    out.array()
  }

  private def fabricateNearDupAudioUdf(nGroups: Int) =
    udf((seed: Long) => fabricateNearDupAudio(seed, nGroups))
  def fabricateNearDupAudioCol(seed: org.apache.spark.sql.Column,
                               nGroups: Int): org.apache.spark.sql.Column =
    fabricateNearDupAudioUdf(nGroups)(seed)

  /** 64-bit energy-delta fingerprint (the shape of acoustic
    * fingerprinting à la Chromaprint, reduced to the stub codec):
    * 65 windows of 64 samples; bit w is set when window w+1's
    * sum-of-squares energy EXCEEDS window w's — exact integer
    * comparisons, so the fingerprint is bit-deterministic and a
    * second engine re-derives it sample-by-sample. Robust to small
    * perturbations: a flipped sample moves one window's energy by
    * ≤ ~2k against typical inter-window deltas of ~40k, so re-encodes
    * of one recording differ in a few bits — the Hamming-ball regime
    * [[Dedup.hammingPairs]] is built for.
    */
  def audioFingerprint64(bytes: Array[Byte]): Long = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    require(b.getInt() == AudioMagic, "not a fake audio")
    b.getInt(); val n = b.getInt()
    val nWin = math.min(65, n / 64)
    val e = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var ss = 0L
      var i = w * 64
      while (i < (w + 1) * 64) {
        val s = bytes(12 + i).toLong
        ss += s * s
        i += 1
      }
      e(w) = ss
      w += 1
    }
    var sh = 0L
    var k = 0
    while (k < nWin - 1 && k < 64) {
      if (e(k + 1) > e(k)) sh |= (1L << k)
      k += 1
    }
    sh
  }

  /** Perceptual AUDIO near-dup pairs: decode → [[audioFingerprint64]]
    * → the same guaranteed-recall banded Hamming join as
    * [[imageNearDup]] — the third modality on the shared
    * [[Dedup.hammingPairs]] machinery (text SimHash, image dHash,
    * audio energy-delta). Output (id_a, id_b, hamming).
    *
    * Like q162's image pairs, the PAIR LIST is Θ(G²) per duplicate
    * group by definition (measured 73 s at 10× on 250-copy groups —
    * SCALE.md round 12); for corpora with giant re-encode groups use
    * [[audioNearDupCanonical]], the linear-output twin.
    */
  def audioNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 4,
                   maxCandidatePairs: Long = 1L << 30): DataFrame =
    Dedup.hammingPairs(audioSig(df, idCol, binCol), maxHamming,
      maxCandidatePairs)

  /** [[audioNearDup]]'s LINEAR-OUTPUT twin — [[Dedup.hammingCanonical]]
    * over the audio fingerprint, exactly as [[imageNearDupCanonical]]
    * is over dHash: the canonical-collapse machinery is
    * modality-generic. One row per clip: (id, canonical_id, n_members).
    */
  def audioNearDupCanonical(df: DataFrame, idCol: String, binCol: String,
                            maxHamming: Int = 4): DataFrame =
    Dedup.hammingCanonical(audioSig(df, idCol, binCol), maxHamming)

  private def audioSig(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) => (id, audioFingerprint64(bytes)) }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("id", "sh")
  }

  case class AudioSegStats(id: Long, sample_rate: Long, n_windows: Long,
                           n_active: Long, n_segments: Long, longest_run: Long)

  /** VAD-style audio segmentation: frame the signal into
    * `windowSamples`-sample windows, mark a window ACTIVE when its
    * sum-of-squares ≥ `meanSqThreshold` × window length (the
    * mean-square energy test kept as an EXACT integer comparison — no
    * division, no floats), and merge consecutive active windows into
    * segments. Per input row: (id, sample_rate, n_windows, n_active,
    * n_segments, longest_run) — the speech/music activity profile an
    * ASR-corpus curation stage gates on.
    *
    * 100-TB shape: pure map-side — one partition-batched pass over the
    * binary column, O(bytes) per row, zero shuffle; the segment merge
    * is the in-row island scan, never a window function. All
    * arithmetic is integer, so a second engine re-derives every
    * sample, window verdict, and island from first principles.
    */
  def audioSegments(df: DataFrame, idCol: String, binCol: String,
                    windowSamples: Int, meanSqThreshold: Long): DataFrame = {
    require(windowSamples > 0 && meanSqThreshold >= 0)
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val b = java.nio.ByteBuffer.wrap(bytes)
        require(b.getInt() == AudioMagic, s"not a fake audio: id $id")
        val rate = b.getInt(); val n = b.getInt()
        val nWin = (n + windowSamples - 1) / windowSamples
        var w = 0; var nActive = 0L; var nSeg = 0L
        var longest = 0L; var run = 0L
        while (w < nWin) {
          val start = w * windowSamples
          val end = math.min(start + windowSamples, n)
          var ss = 0L
          var i = start
          while (i < end) {
            val s = bytes(12 + i).toLong // signed 8-bit sample
            ss += s * s
            i += 1
          }
          if (ss >= meanSqThreshold * (end - start)) {
            nActive += 1; run += 1
            if (run == 1L) nSeg += 1
            if (run > longest) longest = run
          } else run = 0L
          w += 1
        }
        AudioSegStats(id, rate.toLong, nWin.toLong, nActive, nSeg, longest)
      }
    }(Encoders.product[AudioSegStats]).toDF()
  }

  /** Binary → deterministic pseudo-embedding (unit-norm Float array):
    * the STUB for a learned vision/audio encoder, shaped exactly like
    * the real thing so the output feeds [[Similarity.cosineTopK]] /
    * [[Dedup.embeddingNearDupPairs]] unchanged.
    */
  def embedBinary(df: DataFrame, idCol: String, binCol: String, dim: Int): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val v = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) {
          v(i % dim) += (bytes(i) & 0xFF) / 255.0f - 0.5f
          i += 1
        }
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (id, if (norm == 0) v else v.map(_ / norm))
      }
    }(Encoders.tuple(Encoders.scalaLong,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()))
      .toDF("id", "embedding")
  }

  /** CLIP-style image–text alignment gate (the LAION filtering
    * primitive): embed the binary image column with the stub encoder,
    * join each record's image embedding against its text-side
    * embedding by id, score cosine similarity, and flag rows at or
    * above `minCosine`. Returns (id, cosine rounded to 6, kept).
    *
    * 100-TB shape: one id-keyed equi-join of two skinny embedding
    * frames (the binary column collapses to `dim` floats BELOW the
    * shuffle) + a codegen'd map-side cosine — no pair explosion, no
    * broadcast of corpus-sized sides. With a real CLIP encoder the
    * embed step swaps in unchanged.
    */
  def alignmentGate(images: DataFrame, idCol: String, binCol: String,
                    texts: DataFrame, textIdCol: String, vecCol: String,
                    dim: Int, minCosine: Double): DataFrame = {
    val img = embedBinary(images, idCol, binCol, dim)
    val txt = texts.select(col(textIdCol).cast("long").as("id"),
      col(vecCol).as("tvec"))
    img.join(txt, Seq("id"))
      .select(col("id"),
        round(graft.plans.Exprs.cosineSim(col("embedding"), col("tvec")), 6)
          .as("cosine"))
      .withColumn("kept", col("cosine") >= minCosine)
  }

  // ------------------------------------------------- perceptual dedup

  /** Deterministic fake image with PLANTED near-duplicate structure:
    * the pixel base derives from `seed mod nGroups`, so seeds in the
    * same residue class produce near-identical images, plus a sparse
    * per-seed perturbation (1/64 of pixels shifted by +32) so
    * within-group copies differ by a few perceptual-hash bits — the
    * "same photo, re-encoded/re-cropped" structure an image dedup
    * stage exists to find. All arithmetic (splitmix64 + bit masks), so
    * a second engine re-derives every pixel — and thus every hash and
    * every pair — from first principles.
    */
  def fabricateNearDupImage(seed: Long, nGroups: Int): Array[Byte] = {
    val base = math.floorMod(seed, nGroups.toLong)
    val w = 16 + (math.floorMod(base, 48L)).toInt
    val h = 16 + (math.floorMod(base * 7, 48L)).toInt
    val out = java.nio.ByteBuffer.allocate(12 + w * h)
    out.putInt(ImageMagic).putInt(w).putInt(h)
    var i = 0
    while (i < w * h) {
      val p = (mix64(base * 1048576 + i) & 0xFF) +
        (if ((mix64(seed * 8191 + i) & 63) == 0) 32 else 0)
      out.put((p & 0xFF).toByte)
      i += 1
    }
    out.array()
  }

  private def fabricateNearDupImageUdf(nGroups: Int) =
    udf((seed: Long) => fabricateNearDupImage(seed, nGroups))
  def fabricateNearDupImageCol(seed: org.apache.spark.sql.Column,
                               nGroups: Int) =
    fabricateNearDupImageUdf(nGroups)(seed)

  /** 64-bit difference hash (dHash) of a fake-container image: sample
    * 65 evenly spaced payload positions `p_j = j·(n−1) div 64` and set
    * bit j iff `pix[p_j] < pix[p_{j+1}]`. Gradient signs are stable
    * under re-encoding/brightness shifts — the standard perceptual
    * fingerprint family. Works on the payload BYTES, not the
    * fabrication arithmetic: a real codec would slot in above this
    * unchanged.
    */
  def dhash64(bytes: Array[Byte]): Long = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    require(b.getInt() == ImageMagic, "not a fake image")
    val w = b.getInt(); val h = b.getInt()
    val n = w * h
    var hash = 0L
    var j = 0
    while (j < 64) {
      val a = bytes(12 + (j.toLong * (n - 1) / 64).toInt) & 0xFF
      val c = bytes(12 + ((j + 1).toLong * (n - 1) / 64).toInt) & 0xFF
      if (a < c) hash |= (1L << j)
      j += 1
    }
    hash
  }

  /** Image near-duplicate pairs: decode → perceptual hash (one
    * partition-batched pass, [[dhash64]]) → the guaranteed-recall
    * banded Hamming join of [[Dedup.hammingPairs]]. Output
    * `(id_a, id_b, hamming)` for every pair of images within
    * `maxHamming` dHash bits.
    *
    * Scale shape: the binary column never shuffles — it collapses to
    * an 8-byte fingerprint in the decode stage's own map, and only
    * (id, hash, bandKey) rows move. Candidate buckets are the
    * C(maxHamming+3, 3) block-combination keys (~32 bits each), so at
    * billions of images a bucket holds O(N / 2^32) rows — no
    * quadratic blowup on non-duplicates.
    */
  def imageNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxHamming: Int = 4,
                   maxCandidatePairs: Long = 1L << 30): DataFrame =
    Dedup.hammingPairs(dhashSig(df, idCol, binCol), maxHamming,
      maxCandidatePairs)

  /** [[imageNearDup]]'s LINEAR-OUTPUT twin for corpora with giant
    * duplicate groups — decode → dHash → [[Dedup.hammingCanonical]]
    * (per-bucket star edges + min-label components instead of the
    * Θ(G²)-per-group pair list). One row per image:
    * (id, canonical_id, n_members). "Keep one copy" is
    * `filter(id === canonical_id)`.
    */
  def imageNearDupCanonical(df: DataFrame, idCol: String, binCol: String,
                            maxHamming: Int = 4): DataFrame =
    Dedup.hammingCanonical(dhashSig(df, idCol, binCol), maxHamming)

  private[graft] def dhashSig(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val ds = df.select(col(idCol).cast("long").as("id"), col(binCol).as("content"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    ds.mapPartitions { it =>
      it.map { case (id, bytes) => (id, dhash64(bytes)) }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("id", "sh")
  }
}
