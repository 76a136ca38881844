package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing: fabrication → decode roundtrip,
  * resize, frame sampling, and the embedding handoff into the ANN
  * operators. The codec is a deterministic stub; the schemas, partition
  * batching, and explode shapes under test are the real pipeline.
  */
class MultimodalSpec extends SparkSpec {

  private def imgs(n: Int) = {
    import spark.implicits._
    (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateImageCol(col("doc_id")).as("content"))
      .repartition(3) // exercise multi-partition mapPartitions batching
  }

  test("decodeImages recovers fabricated dimensions and byte stats") {
    val meta = Multimodal.decodeImages(imgs(50), "doc_id", "content").collect()
    assert(meta.length === 50)
    meta.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("width") === 16 + (id % 48).toInt)
      assert(r.getAs[Int]("height") === 16 + (id * 7 % 48).toInt)
      assert(r.getAs[Long]("n_bytes") ===
        (16 + id % 48) * (16 + id * 7 % 48))
      val m = r.getAs[Double]("mean_intensity")
      assert(m > 80 && m < 175, s"splitmix payload mean should be ~127.5, got $m")
    }
  }

  test("sampleFrames explodes every Nth frame with correct byte slices") {
    import spark.implicits._
    val vids = (0 until 30).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateVideoCol(col("doc_id")).as("content"))
    val frames = Multimodal.sampleFrames(vids, "doc_id", "content", everyN = 4)
    val counts = frames.groupBy(col("id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("n")).toMap
    (0 until 30).foreach { i =>
      val nFrames = 1 + (i % 24)
      assert(counts(i.toLong) === ((nFrames - 1) / 4 + 1).toLong, s"id $i")
    }
    // frame bytes are 8×8 slices
    assert(frames.select(length(col("frame"))).distinct().head().getInt(0) === 64)
  }

  test("audioWindows: windows tile the signal exactly; energy matches a direct scan") {
    import spark.implicits._
    val df = Seq(5L, 6L, 7L).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateAudioCol(col("doc_id")).as("content"))
    val win = Multimodal.audioWindows(df, "doc_id", "content", windowSamples = 512)
      .collect()
    Seq(5L, 6L, 7L).foreach { seed =>
      val bytes = Multimodal.fabricateAudio(seed)
      val n = java.nio.ByteBuffer.wrap(bytes).getInt(8)
      val rows = win.filter(_.getLong(0) == seed).sortBy(_.getInt(2))
      assert(rows.map(_.getInt(3)).sum === n, s"windows must tile all $n samples")
      assert(rows.head.getInt(1) === 8000 + (seed % 3).toInt * 4000)
      // direct energy check on window 0
      val direct = (0 until math.min(512, n))
        .map(i => { val v = bytes(12 + i).toDouble; v * v }).sum / math.min(512, n)
      assert(math.abs(rows.head.getDouble(4) - direct) < 1e-9)
    }
  }

  test("embedBinary → cosineTopK: every query's rank-1 neighbor is itself") {
    val emb = Multimodal.embedBinary(imgs(40), "doc_id", "content", dim = 16)
    assert(emb.select(size(col("embedding"))).distinct().head().getInt(0) === 16)
    val top = Similarity.cosineTopK(emb, emb.filter(col("id") < 5),
      "id", "embedding", "id", "embedding", k = 2)
    val rank1 = top.filter(col("rank") === 1).collect()
    assert(rank1.length === 5)
    rank1.foreach { r =>
      assert(r.getAs[Long]("query_id") === r.getAs[Long]("neighbor_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
  }

  test("fabricateNearDupImage: same residue class → few dHash bits apart, " +
       "different class → far apart") {
    val hashes = (0L until 30L).map(id =>
      id -> Multimodal.dhash64(Multimodal.fabricateNearDupImage(id, 10)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for ((ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib) {
      if (ia % 10 == ib % 10)
        assert(ham(ha, hb) <= 8,
          s"planted near-dups $ia/$ib differ by ${ham(ha, hb)} bits")
      else
        assert(ham(ha, hb) >= 10,
          s"unrelated $ia/$ib only ${ham(ha, hb)} bits apart")
    }
  }

  test("imageNearDup equals the brute-force Hamming-ball pair set") {
    import spark.implicits._
    val n = 120
    val df = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"),
        Multimodal.fabricateNearDupImageCol(col("doc_id"), 20).as("content"))
      .repartition(5)
    val got = Multimodal.imageNearDup(df, "doc_id", "content", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hs = (0 until n).map(i =>
      Multimodal.dhash64(Multimodal.fabricateNearDupImage(i.toLong, 20)))
    val want = (for {
      a <- 0 until n; b <- a + 1 until n
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 4
    } yield (a.toLong, b.toLong, d)).toSet
    assert(want.nonEmpty, "fabrication should plant pairs within Hamming 4")
    assert(got === want,
      "banded join must find EXACTLY the Hamming-ball pairs (guaranteed recall)")
  }

  test("audioSegments: planted activity patterns and brute-force parity") {
    import spark.implicits._
    // hand-built containers: payload pattern chosen per case
    def clip(id: Long, samples: Array[Byte]): (Long, Array[Byte]) = {
      val out = java.nio.ByteBuffer.allocate(12 + samples.length)
      out.putInt(Multimodal.AudioMagic).putInt(16000).putInt(samples.length)
      out.put(samples)
      (id, out.array())
    }
    val w = 4 // window size for the planted cases
    val silence = clip(0L, Array.fill[Byte](16)(0)) // 4 windows, 0 active
    val loud = clip(1L, Array.fill[Byte](16)(100)) // all active, ONE segment
    // windows: active, silent, active, active(short tail) → 2 segments,
    // longest run 2
    val mixed = clip(2L, (Array.fill[Byte](4)(100) ++ Array.fill[Byte](4)(0)
      ++ Array.fill[Byte](5)(100)).toArray)
    val got = Multimodal.audioSegments(
        Seq(silence, loud, mixed).toDF("doc_id", "content").repartition(3),
        "doc_id", "content", windowSamples = w, meanSqThreshold = 50L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(0L) === ((4L, 0L, 0L, 0L)))
    assert(got(1L) === ((4L, 4L, 1L, 4L)))
    assert(got(2L) === ((4L, 3L, 2L, 2L)))
    // brute-force parity on fabricated audio (the q191 configuration)
    val n = 40
    val fab = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateAudioCol(col("doc_id")).as("content"))
      .repartition(5)
    val res = Multimodal.audioSegments(fab, "doc_id", "content", 256, 5500L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    (0 until n).foreach { idInt =>
      val id = idInt.toLong
      val bytes = Multimodal.fabricateAudio(id)
      val b = java.nio.ByteBuffer.wrap(bytes)
      b.getInt(); val rate = b.getInt(); val nSamp = b.getInt()
      val verdicts = (0 until (nSamp + 255) / 256).map { wi =>
        val (s0, e0) = (wi * 256, math.min(wi * 256 + 256, nSamp))
        val ss = (s0 until e0).map(i => { val s = bytes(12 + i).toLong; s * s }).sum
        ss >= 5500L * (e0 - s0)
      }
      val runs = verdicts.foldLeft(List.empty[Long]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true) => 1L :: acc
        case (acc, false) if acc.nonEmpty && acc.head == 0 => acc
        case (acc, false) => 0L :: acc
      }.filter(_ > 0)
      assert(res(id) === ((rate.toLong, verdicts.size.toLong,
        verdicts.count(identity).toLong, runs.size.toLong,
        if (runs.isEmpty) 0L else runs.max)))
    }
  }

  test("alignmentGate scores the driver-computed cosine and gates exactly") {
    import spark.implicits._
    val n = 30
    val imgs = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateImageCol(col("doc_id")).as("content"))
      .repartition(3)
    // deterministic text vectors
    val txts = (0 until n).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (((i * 31 + j * 7) % 19) - 9).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val got = Multimodal.alignmentGate(imgs, "doc_id", "content",
        txts, "vec_id", "embedding", dim = 64, minCosine = 0.05)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(got.size === n)
    // driver brute force: same float32 encoder fold + double cosine
    (0 until n).foreach { i =>
      val bytes = Multimodal.fabricateImage(i.toLong)
      val v = new Array[Float](64)
      bytes.indices.foreach(k => v(k % 64) += (bytes(k) & 0xFF) / 255.0f - 0.5f)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      val u = if (norm == 0) v else v.map(_ / norm)
      val t = Array.tabulate(64)(j => (((i * 31 + j * 7) % 19) - 9).toFloat / 10f)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { j =>
        val x = u(j).toDouble; val y = t(j).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      val cos = BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(i.toLong) === ((cos, cos >= 0.05)), s"doc $i")
    }
  }

  test("videoSceneCuts: planted shot boundaries are found exactly; brute-force parity") {
    import spark.implicits._
    val n = 40
    val fab = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateShotVideoCol(col("doc_id")).as("content"))
      .repartition(5)
    val got = Multimodal.videoSceneCuts(fab, "doc_id", "content", 2000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (0 until n).foreach { idInt =>
      val id = idInt.toLong
      val bytes = Multimodal.fabricateShotVideo(id)
      val b = java.nio.ByteBuffer.wrap(bytes)
      b.getInt(); val nf = b.getInt(); b.getInt(); b.getInt()
      // brute force over the raw bytes
      val sads = (1 until nf).map { f =>
        (0 until 64).map(p => math.abs((bytes(16 + f * 64 + p) & 0xFF) -
          (bytes(16 + (f - 1) * 64 + p) & 0xFF)).toLong).sum
      }
      val cuts = sads.count(_ >= 2000L)
      val shotLens = sads.foldLeft(List(1L)) { (acc, sad) =>
        if (sad >= 2000L) 1L :: acc else (acc.head + 1) :: acc.tail
      }
      assert(got(id) === ((nf.toLong, cuts.toLong, shotLens.max)))
      // the planted structure: cut exactly at every shotLen boundary
      val slen = 3 + math.floorMod(id * 7, 5L).toInt
      val planted = (1 until nf).count(f => f % slen == 0)
      assert(cuts === planted,
        s"detector must find exactly the planted boundaries for seed $id")
    }
  }

  test("shotKeyframes: per-shot argmax-detail with earliest-frame ties (brute force)") {
    import spark.implicits._
    val n = 40
    val fab = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"), Multimodal.fabricateShotVideoCol(col("doc_id")).as("content"))
      .repartition(5)
    val got = Multimodal.shotKeyframes(fab, "doc_id", "content", 2000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    (0 until n).foreach { idInt =>
      val id = idInt.toLong
      val bytes = Multimodal.fabricateShotVideo(id)
      val b = java.nio.ByteBuffer.wrap(bytes)
      b.getInt(); val nf = b.getInt(); b.getInt(); b.getInt()
      def pix(f: Int, p: Int): Long = (bytes(16 + f * 64 + p) & 0xFF).toLong
      def detail(f: Int): Long = {
        val s = (0 until 64).map(pix(f, _)).sum
        val s2 = (0 until 64).map(p => pix(f, p) * pix(f, p)).sum
        64L * s2 - s * s
      }
      val cutAt = (1 until nf).filter { f =>
        (0 until 64).map(p => math.abs(pix(f, p) - pix(f - 1, p))).sum >= 2000L
      }.toSet
      var shot = 0L; var start = 0
      (1 to nf).foreach { f =>
        if (f == nf || cutAt(f)) {
          val frames = start until f
          val best = frames.maxBy(g => (detail(g), -g)) // ties → earliest
          assert(got((id, shot)) ===
            ((start.toLong, frames.size.toLong, best.toLong, detail(best))),
            s"doc $id shot $shot")
          shot += 1; start = f
        }
      }
      // no extra shots reported
      assert(!got.contains((id, shot)))
    }
  }

  test("audioNearDup equals the brute-force Hamming-ball pair set") {
    import spark.implicits._
    val n = 150
    val df = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"),
        Multimodal.fabricateNearDupAudioCol(col("doc_id"), 25).as("content"))
      .repartition(5)
    val got = Multimodal.audioNearDup(df, "doc_id", "content", maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = (0 until n).map(i =>
      Multimodal.audioFingerprint64(Multimodal.fabricateNearDupAudio(i.toLong, 25)))
    val want = (for {
      a <- 0 until n; b <- a + 1 until n
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 4
    } yield (a.toLong, b.toLong)).toSet
    assert(got === want,
      "banded join must find EXACTLY the Hamming-ball pairs (guaranteed recall)")
    // the planted structure is findable: same-group pairs dominate
    assert(want.nonEmpty && want.forall { case (a, b) => a % 25 == b % 25 },
      "near-dups must be within re-encode groups on this fixture")
  }

  test("audioNearDupCanonical: identical to pairs+CC on Hamming-tight groups") {
    import spark.implicits._
    val n = 120
    val df = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"),
        Multimodal.fabricateNearDupAudioCol(col("doc_id"), 20).as("content"))
      .repartition(5)
    val lab = Multimodal.audioNearDupCanonical(df, "doc_id", "content", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(lab.size === n)
    lab.foreach { case (id, (canon, _)) => assert(canon <= id) }
    val fps = (0 until n).map(i =>
      Multimodal.audioFingerprint64(Multimodal.fabricateNearDupAudio(i.toLong, 20)))
    val parent = (0 until n).toArray
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (a <- 0 until n; b <- a + 1 until n
         if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 4) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val pairCanon = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    assert(lab.view.mapValues(_._1).toMap === pairCanon,
      "Hamming-tight audio groups must collapse identically to pairs+CC")
  }

  test("imageNearDupCanonical: star components refine pair components; " +
      "tight groups collapse identically") {
    import spark.implicits._
    val n = 120
    val df = (0 until n).map(_.toLong).toDF("doc_id")
      .select(col("doc_id"),
        Multimodal.fabricateNearDupImageCol(col("doc_id"), 20).as("content"))
      .repartition(5)
    val lab = Multimodal.imageNearDupCanonical(df, "doc_id", "content",
        maxHamming = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // one row per image; canonical is a component member ≤ id-min rule
    assert(lab.size === n)
    lab.foreach { case (id, (canon, _)) => assert(canon <= id) }
    // n_members is consistent: every member of a canonical reports the
    // same size, and sizes sum to n
    val byCanon = lab.values.groupBy(_._1)
    byCanon.foreach { case (_, ms) =>
      assert(ms.map(_._2).toSet.size === 1)
      assert(ms.head._2 === ms.size.toLong)
    }
    assert(byCanon.values.map(_.size).sum === n)
    // refinement: every star component sits inside one pair component
    // (never merges across), and on this Hamming-tight fixture the two
    // partitions are IDENTICAL
    val hs = (0 until n).map(i =>
      Multimodal.dhash64(Multimodal.fabricateNearDupImage(i.toLong, 20)))
    val parent = (0 until n).toArray
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (a <- 0 until n; b <- a + 1 until n
         if java.lang.Long.bitCount(hs(a) ^ hs(b)) <= 4) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val pairCanon = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    assert(lab.view.mapValues(_._1).toMap === pairCanon,
      "Hamming-tight groups must collapse identically to pairs+CC")
  }
}
