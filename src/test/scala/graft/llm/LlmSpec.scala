package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per normalized content") {
    val d = docs(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "other text",
      4L -> "  HELLO WORLD ")
    val kept = Dedup.exactDedup(d, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("minhash near-duplicates finds the planted near-dup pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " other word"
    val unrelated = (100 to 160).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashNearDuplicates(d, "text", "doc_id",
      threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("near-dup join falls back to a shuffled join over the broadcast " +
    "cap, broadcasts under it") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = docs(1L -> base, 2L -> (base + " extra"), 3L -> "unrelated doc")
    def joins(maxBytes: Long): String =
      Dedup.minhashNearDuplicates(d, "text", "doc_id", threshold = 0.1,
        maxBroadcastBytes = maxBytes)
        .queryExecution.executedPlan.toString
    // disable Spark's own size-based auto-broadcast so the plan shape
    // reflects ONLY our hint (test data is tiny and would always
    // auto-broadcast otherwise)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      // cap = 0: the shingle side must NOT be hint-broadcast (the join on
      // "a"/"b" resolves as sort-merge / shuffled hash instead)
      assert(!joins(0L).contains("BroadcastHashJoin"))
      // generous cap: the hint applies and the probe stays map-side
      assert(joins(Long.MaxValue).contains("BroadcastHashJoin"))
    } finally spark.conf.set(key, prev)
    // and the answer is identical either way
    val a = Dedup.minhashNearDuplicates(d, "text", "doc_id", threshold = 0.1,
      maxBroadcastBytes = 0L).collect().toSet
    val b = Dedup.minhashNearDuplicates(d, "text", "doc_id", threshold = 0.1)
      .collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("simhash: identical docs collide, disjoint docs are distant") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "zz yy xx ww vv uu")
    val sk = Dedup.simhashSketch(d, "text", "doc_id")
    val m = sk.as[(Long, String)].collect().toMap
    assert(m(1L) == m(2L))
    assert(m(1L).length == 64 && m(1L).forall(c => c == '0' || c == '1'))
    val dist = sk.agg(Dedup.hamming(lit(m(1L)), lit(m(3L)))).head.getInt(0)
    assert(dist > 10)
  }

  test("simhash of a zero-token document is all zeros") {
    val d = docs(1L -> "", 2L -> "   ", 3L -> "word")
    val m = Dedup.simhashSketch(d, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "0" * 64)
    assert(m(2L) == "0" * 64)
    assert(m(3L) != "0" * 64)
  }

  test("minhash signature: null iff no tokens; identical docs agree") {
    val d = docs(1L -> "a b c", 2L -> "a  b   c", 3L -> "")
    val sig = d.select($"doc_id",
      TextFunctions.minhashSignature($"text", 16).as("s"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(sig(1L).get == sig(2L).get)
    assert(sig(1L).get.length == 16)
    assert(sig(1L).get.forall(v => v >= 0 && v < TextFunctions.MinhashPrime))
    assert(sig(3L).isEmpty)
  }

  test("native minhash coefficients match the documented oracle derivation") {
    val expected = TextFunctions.minhashCoeffs(16)
    (0 until 16).foreach { i =>
      assert(graft.functions.TextHashImpl.coeffA(i) == expected(i)._1)
      assert(graft.functions.TextHashImpl.coeffB(i) == expected(i)._2)
    }
  }

  test("native ngram_hash48 equals hashing the string shingles") {
    val d = docs(1L -> "Hello  World, this is a test", 2L -> "ab",
      3L -> "héllo wörld ünïcode")
    val both = d.select($"doc_id",
      TextFunctions.ngramShingleHashes($"text", 3).as("native"),
      call_function("hash48_sort_dedup",
        TextFunctions.ngramShingles($"text", 3)).as("viaStrings"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    both.foreach { case (id, a, b) => assert(a == b, s"doc $id") }
    assert(both.find(_._1 == 2L).get._2.isEmpty) // shorter than n
  }

  test("inter_size_sorted: merge-intersection count over sorted arrays") {
    val df = Seq((Seq(1L, 3L, 5L, 9L), Seq(3L, 5L, 7L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(2L, 4L), Seq(2L, 4L))).toDF("a", "b")
      .selectExpr("inter_size_sorted(a, b) AS i")
    assert(df.as[Long].collect().toSeq == Seq(2L, 0L, 2L))
  }

  test("ngram jaccard: identity is 1, disjoint is 0") {
    val d = docs(1L -> "abcdef", 2L -> "abcdef", 3L -> "uvwxyz")
    val sh = d.select($"doc_id",
      TextFunctions.ngramShingles($"text", 3).as("sh"))
    val arr = sh.as[(Long, Seq[String])].collect().toMap
    val j = d.sparkSession.range(1)
      .select(
        TextFunctions.jaccard(typedlit(arr(1L)), typedlit(arr(2L))).as("same"),
        TextFunctions.jaccard(typedlit(arr(1L)), typedlit(arr(3L))).as("diff"))
      .head
    assert(j.getDouble(0) == 1.0)
    assert(j.getDouble(1) == 0.0)
  }

  test("langid picks the language with most stopword hits") {
    val d = docs(
      1L -> "the cat and the dog in the house is big",
      2L -> "der Hund und die Katze ist nicht ein Tier",
      3L -> "qqq zzz xxx")
    val got = d.select($"doc_id", TextFunctions.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "de"); assert(got(3L) == "und")
  }

  test("cosineTopK: self-similarity ranks first with score 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(vecs, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0), 3).as[(Long, Double)].collect()
    assert(top.head == ((0L, 1.0)))
    assert(top.map(_._1).toSeq == Seq(0L, 1L, 2L))
  }

  test("annCosine agrees with brute force on the top hit") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 50L).map { i =>
      val v = if (i == 42L) base.map(x => x * 1.01f)
      else Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = base.map(_.toDouble).toSeq
    val ann = Similarity.annCosine(df, "embedding", "vec_id", q, 5)
      .as[(Long, Double)].collect()
    assert(ann.head._1 == 42L, s"ann top hit was ${ann.toSeq}")
    assert(ann.head._2 > 0.999)
  }

  test("embeddingNearDuplicates finds planted duplicate vectors") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 100L).map { i =>
      val v = if (i == 7L || i == 42L) base.map(x => x * (1 + i * 1e-4f))
      else Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDuplicates(df, "embedding",
      "vec_id", dim = 16, threshold = 0.999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((7L, 42L)), s"got $pairs")
  }

  test("autoPlanes: smallest p in [8,32] with 2^p*4 >= n (integer rule)") {
    import Similarity.autoPlanes
    assert(autoPlanes(1L) == 8)
    assert(autoPlanes(501L) == 8) // the driver's seeded sf0.01 corpus
    assert(autoPlanes(2001L) == 9) // seeded sf0.1
    assert(autoPlanes(20001L) == 13) // seeded sf1
    assert(autoPlanes(200001L) == 16) // seeded sf10 == q201's planes
    assert(autoPlanes(32768L) == 13) // exact-power boundary: inclusive
    assert(autoPlanes(32769L) == 14)
    assert(autoPlanes(Long.MaxValue) == 32) // upper clamp
  }

  test("autoNlist: smallest c in [16,4096] with c*c >= n (≈ ceil sqrt)") {
    import Similarity.autoNlist
    assert(autoNlist(1L) == 16) // lower clamp
    assert(autoNlist(256L) == 16) // exact-square boundary: inclusive
    assert(autoNlist(257L) == 17)
    assert(autoNlist(500L) == 23) // the driver's sf0.01 corpus
    assert(autoNlist(2000L) == 45) // sf0.1
    assert(autoNlist(20000L) == 142) // sf1
    assert(autoNlist(200000L) == 448) // sf10
    assert(autoNlist(600000L) == 775) // sf30
    assert(autoNlist(Long.MaxValue) == 4096) // upper clamp
    // the probed corpus fraction nprobe/nlist must FALL across the
    // bench decades — the property q205 exists to buy (r14 verdict #1)
    assert(4.0 / autoNlist(600000L) < 4.0 / autoNlist(20000L))
  }

  test("embeddingNearDuplicates DEFAULT auto-scales planes (== explicit " +
    "autoPlanes width) and still finds the planted pair") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val rows = (0L until 120L).map { i =>
      val v = if (i == 3L || i == 77L) base.map(x => x * (1 + i * 1e-4f))
      else Array.fill(16)(rnd.nextGaussian().toFloat)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    def run(planes: Int): Set[(Long, Long)] =
      Similarity.embeddingNearDuplicates(df, "embedding", "vec_id",
        dim = 16, threshold = 0.999, planes = planes)
        .select("a", "b").as[(Long, Long)].collect().toSet
    val auto = run(0) // the default: planes <= 0 -> autoPlanes(count)
    assert(auto == run(Similarity.autoPlanes(120L)))
    assert(auto == Set((3L, 77L)), s"got $auto")
  }

  test("simhashCandidatePairs DEFAULT is the block-permutation banding") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val near = (1 to 79).map(i => s"tok$i").mkString(" ") + " tok80x"
    val other = (200 to 280).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> near, 3L -> other, 4L -> base)
    val got = Dedup.simhashCandidatePairs(d, "text", "doc_id")
      .select("a", "b").as[(Long, Long)].collect().toSet
    // driver-side mirror of the 20-block-triple banding over sketches
    val sk = Dedup.simhashSketch(d, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    val mirror = (for {
      combo <- Dedup.SimhashCombos
      key = (id: Long) => combo.map { i =>
        val (off, len) = Dedup.SimhashBlocks(i)
        sk(id).substring(off - 1, off - 1 + len)
      }.mkString
      grouped = sk.keys.toSeq.groupBy(key)
      ids <- grouped.values if ids.size >= 2
      s = ids.sorted
      i <- s.indices; j <- (i + 1) until s.size
    } yield (s(i), s(j))).toSet
    assert(got == mirror, s"got $got vs mirror $mirror")
    assert(got.contains((1L, 4L))) // exact dup: identical sketch
  }

  test("curate funnel: dedup, near-dup, quality, language in order") {
    val good = "the cat and the dog sat in the house for a while " * 4
    val d = docs(
      1L -> good,                      // survivor
      2L -> good,                      // exact dup of 1 -> dropped
      3L -> (good + " extra tail"),    // near-dup of 1 -> dropped
      4L -> "!!! ??? !!! ??? !!!",     // punctuation-heavy -> quality
      5L -> ("der Hund und die Katze ist nicht ein Tier mit den von " * 4))
    val (out, rep) = Curate.curateWithReport(d, minQuality = 0.5,
      langs = Seq("en"), nearDupThreshold = 0.5)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(rep.input == 5 && rep.afterExact == 4)
    assert(rep.afterNearDup == 3, s"$rep")
    assert(rep.output == 1, s"$rep")
  }

  test("centroids: mean of identical vectors is the vector") {
    val df = Seq(
      (0L, Array(1.0f, 2.0f), 7), (1L, Array(1.0f, 2.0f), 7),
      (2L, Array(4.0f, 6.0f), 8), (3L, Array(0.0f, 0.0f), 8)
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.centroids(df, "embedding", "label")
      .as[(Int, Seq[Double])].collect().toMap
    assert(m(7) == Seq(1.0, 2.0))
    assert(m(8) == Seq(2.0, 3.0))
  }

  test("winnowing: shared substrings >= w+n-1 share a fingerprint") {
    import graft.functions.TextHashImpl.winnowFingerprint
    import org.apache.spark.unsafe.types.UTF8String
    def fp(s: String): Set[Long] = {
      val a = winnowFingerprint(UTF8String.fromString(s), 8, 4)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    // the guarantee: any shared substring of length >= w + n - 1 = 11
    // contributes at least one common selected hash
    val shared = "the quick brown fox jumps over it"
    val d1 = s"AAAA $shared BBBB"
    val d2 = s"xxxxxxxx $shared yyyy zz"
    assert(fp(d1).intersect(fp(d2)).nonEmpty)
    // disjoint texts: no common fingerprints
    assert(fp("abcdefghijklmnopqrstuvwxyz")
      .intersect(fp("0123456789012345678901234567")).isEmpty)
    // edges: shorter than n -> empty; between n and n+w-1 -> one window
    assert(fp("1234567").isEmpty)
    assert(fp("12345678").size == 1)
    // determinism
    assert(fp(d1) == fp(d1))
    // selected set is a subset of all n-gram hashes
    val all = {
      val a = graft.functions.TextHashImpl
        .ngramHash48(UTF8String.fromString(d1), 8)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    assert(fp(d1).subsetOf(all))
  }

  test("multimodal: typed feature extraction and frame sampling") {
    import Multimodal._
    val assets = Seq(
      Asset(1L, "image", "0123456789abcdef".getBytes, 64, 48, 1000L),
      Asset(2L, "audio", Array.emptyByteArray, 0, 0, 0L))
    val feats = extractFeatures(assets.toDS()).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats(1L).n_bytes == 16L)
    assert(feats(1L).feature.length == 8)
    assert(feats(2L).feature.toSeq == Seq.fill(8)(0.0))
    // deterministic across runs
    val again = extractFeatures(assets.toDS()).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats(1L).content_hash == again(1L).content_hash)

    val frames = Seq((1L, "0123456789abcdef".getBytes))
      .toDF("id", "bytes")
      .select(frameSample($"bytes", 4, 4).as("frames"))
      .as[Seq[Array[Byte]]].head()
    assert(frames.length == 4)
    assert(new String(frames.head) == "0123")
    assert(new String(frames(2)) == "89ab")

    // resize stub: 16-byte "image" downsampled to 2x4 = 8 bytes of
    // evenly spaced probes; empty input stays empty; deterministic
    val resized = Seq((1L, "0123456789abcdef".getBytes),
      (2L, Array.emptyByteArray))
      .toDF("id", "bytes")
      .select($"id", resizeStub($"bytes", 2, 4).as("r"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(new String(resized(1L)) == "02468ace")
    assert(resized(2L).isEmpty)
  }

  test("multimodal: REAL png encode/decode round trip recovers exact " +
    "pixel sums; garbage bytes fail loudly") {
    import Multimodal._
    // doc_id 7 -> w = 4 + 7%5 = 6, h = 3 + 7%4 = 6; "ab" alternates
    // char codes 97/98 across channels: channel c of pixel i is
    // text[(3i + c) % 2] -> r,g,b cycle deterministically
    val d = docs((7L, "ab"))
    val pngs = imagesFromText(d, "text", "doc_id")
    val raw = pngs.as[(Long, Array[Byte])].head()
    // real PNG magic, not a stub payload
    assert(raw._2.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val st = imageChannelStats(pngs, "png", "asset_id").head()
    assert((st.w, st.h) == (6, 6))
    val expected = (0 until 36).foldLeft((0L, 0L, 0L)) {
      case ((r, g, b), i) =>
        def px(c: Int) = "ab".charAt((3 * i + c) % 2).toInt & 0xff
        (r + px(0), g + px(1), b + px(2))
    }
    assert((st.sum_r, st.sum_g, st.sum_b) == expected)
    // empty text emits no image row at all
    assert(imagesFromText(docs((1L, "")), "text", "doc_id").count() == 0)
    // undecodable binaries must throw, not count garbage as pixels
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("asset_id", "png")
    assertThrows[org.apache.spark.SparkException] {
      imageChannelStats(bad, "png", "asset_id").collect()
    }
  }

  test("multimodal: thumbnail resize checksum matches the pixel rule " +
    "for even and odd dimensions") {
    import Multimodal._
    // doc_id 7 -> 6x6 source, 3x3 thumb; thumb pixel (x,y) samples
    // source (2x, 2y); lum from the "ab" char cycle
    val th = imageThumbnail(
      imagesFromText(docs((7L, "ab")), "text", "doc_id"),
      "png", "asset_id").head()
    assert((th.w, th.h, th.w2, th.h2) == (6, 6, 3, 3))
    val expected = (0 until 9).map { j =>
      val (x2, y2) = (j % 3, j / 3)
      val i = (2 * y2) * 6 + 2 * x2
      def px(c: Int) = "ab".charAt((3 * i + c) % 2).toInt & 0xff
      (j + 1).toLong * (px(0) + px(1) + px(2))
    }.sum
    assert(th.checksum == expected)
    // odd dims: doc_id 6 -> 5x5 source, ceil-half 3x3 thumb sampling
    // rows/cols (0,2,4) — the edge the (w+1)/2 arithmetic must keep
    val t6 = imageThumbnail(
      imagesFromText(docs((6L, "xyz")), "text", "doc_id"),
      "png", "asset_id").head()
    assert((t6.w, t6.h, t6.w2, t6.h2) == (5, 5, 3, 3))
    val exp6 = (0 until 9).map { j =>
      val i = (2 * (j / 3)) * 5 + 2 * (j % 3)
      def px(c: Int) = "xyz".charAt((3 * i + c) % 3).toInt & 0xff
      (j + 1).toLong * (px(0) + px(1) + px(2))
    }.sum
    assert(t6.checksum == exp6)
  }

  test("multimodal: REAL animated-GIF encode/decode round trip recovers " +
    "exact per-frame pixel sums; garbage bytes fail loudly") {
    import Multimodal._
    // doc_id 7 -> w 6, h 6, nf = 2 + 7%3 = 3 frames
    val d = docs((7L, "ab"))
    val gifs = videosFromText(d, "text", "doc_id")
    val raw = gifs.as[(Long, Array[Byte])].head()
    // real GIF89a magic, not a stub payload
    assert(raw._2.take(6).map(_.toChar).mkString == "GIF89a")
    val st = videoFrameStats(gifs, "gif", "asset_id").collect()
      .sortBy(_.frame)
    assert(st.length == 3)
    assert(st.forall(s0 => (s0.w, s0.h) == (6, 6)))
    for (f <- 0 until 3) {
      val expected = (0 until 36).foldLeft((0L, 0L, 0L)) {
        case ((r, g, b), i) =>
          def px(c: Int) = "ab".charAt((3 * i + c + 7 * f) % 2).toInt & 0xff
          (r + px(0), g + px(1), b + px(2))
      }
      assert((st(f).sum_r, st(f).sum_g, st(f).sum_b) == expected,
        s"frame $f")
    }
    // empty text emits no video row at all
    assert(videosFromText(docs((1L, "")), "text", "doc_id").count() == 0)
    // undecodable binaries must throw, not count garbage as frames
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("asset_id", "gif")
    assertThrows[org.apache.spark.SparkException] {
      videoFrameStats(bad, "gif", "asset_id").collect()
    }
  }

  test("multimodal: REAL wav encode/decode round trip recovers exact " +
    "sample sums; garbage bytes fail loudly") {
    import Multimodal._
    // doc_id 7 -> n = 160 + 7%5*40 = 240 samples; "ab" alternates
    // sample values ((97|98 & 0xff) - 128) * 256 = -7936 / -7680
    val wavs = wavFromText(docs((7L, "ab")), "text", "doc_id")
    val raw = wavs.as[(Long, Array[Byte])].head()
    // real RIFF/WAVE container, not a stub payload
    assert(new String(raw._2.take(4)) == "RIFF")
    assert(new String(raw._2.slice(8, 12)) == "WAVE")
    val st = audioSampleStats(wavs, "wav", "asset_id").head()
    assert(st.n_samples == 240L && st.sample_rate == 8000L)
    assert(st.sum_samples == 120L * -7936 + 120L * -7680)
    assert(st.sum_abs == 120L * 7936 + 120L * 7680)
    // empty text emits no clip at all
    assert(wavFromText(docs((1L, "")), "text", "doc_id").count() == 0)
    // undecodable binaries must throw, not count garbage as samples
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("asset_id", "wav")
    assertThrows[org.apache.spark.SparkException] {
      audioSampleStats(bad, "wav", "asset_id").collect()
    }
  }

  test("int8 quantization: codes exact, fidelity high, zero vector safe") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (scale, q) = Similarity.quantizeInt8($"embedding")
    val deq = Similarity.dequantizeInt8(scale, q)
    val out = df.select($"vec_id", q.as("q"),
        round(Similarity.cosine($"embedding".cast("array<double>"), deq), 6)
          .as("ck"))
      .as[(Long, Seq[Long], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 == Seq(127L, -64L, 32L, 0L)) // -63.5 rounds away from 0
    assert(out(1L)._2 > 0.999)
    assert(out(2L)._1 == Seq(0L, 0L, 0L, 0L))
    assert(out(2L)._2 == 0.0)
  }

  test("repetition signals: dup-line fractions and top bigram") {
    val d = docs(
      1L -> "aaa\nbbb\naaa\n\n  \nccc",        // 4 lines, 1 repeat
      2L -> "x y x y x z",                      // top bigram "x y" x2
      3L -> "",                                 // degenerate
      4L -> "longline\nlongline\nab")
    val m = d.select($"doc_id",
        TextFunctions.dupLineFrac($"text").as("lf"),
        TextFunctions.dupLineCharFrac($"text").as("cf"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((0.25, 0.25)))             // 1 of 4 lines, 3 of 12 chars
    assert(m(3L) == ((0.0, 0.0)))
    assert(m(4L)._1 == 0.333333)                // 1 of 3 lines
    assert(m(4L)._2 == 0.444444)                // 8 of 18 chars
    val bg = d.select($"doc_id",
        TextFunctions.wordBigrams($"text").as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(bg(2L) == Seq("x y", "y x", "x y", "y x", "x z"))
    assert(bg(3L).isEmpty)
  }

  test("hash split: deterministic, complete, and weight-proportional") {
    val ids = spark.range(0, 2000).select($"id".as("doc_id"))
    val splits = ids.select($"doc_id",
        Curate.splitAssign($"doc_id",
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000)).as("s"))
    val counts = splits.groupBy("s").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000)           // total function, no nulls
    assert(counts("train") > 1500 && counts("val") > 100 &&
      counts("test") > 100)
    // stable across repartitioning (the anti-randomSplit property)
    val again = ids.repartition(13).select($"doc_id",
        Curate.splitAssign($"doc_id",
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000)).as("s"))
    assert(splits.except(again).isEmpty && again.except(splits).isEmpty)
    // sampleHash keeps roughly permyriad/10000
    val n = Curate.sampleHash(ids, "doc_id", 2000).count()
    assert(n > 300 && n < 500)
  }

  test("tokenStarts two-phase scan equals a single global prefix sum") {
    import org.apache.spark.sql.expressions.Window
    val d = spark.range(0, 500)
      .select($"id".as("doc_id"), ($"id" % 37 + 1).as("tok"))
      .repartition(7) // scrambled input partitioning
    val got = Curate.tokenStarts(d, "doc_id", $"tok", numPartitions = 5)
      .select($"doc_id", $"start").as[(Long, Long)].collect().toMap
    val want = d.withColumn("start",
        coalesce(sum($"tok").over(Window.orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"start").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("packSequences: full cover, capacity-exact, order-preserving") {
    val L = 100
    val d = spark.range(0, 200)
      .select($"id".as("doc_id"), ($"id" % 53 + 1).as("tok"))
    val total = d.agg(sum($"tok")).as[Long].head()
    val packed = Curate.packSequences(d, "doc_id", $"tok", L)
    val perSeq = packed.groupBy($"seq_id")
      .agg(sum($"n_tokens").as("nt")).as[(Long, Long)]
      .collect().sortBy(_._1)
    // every sequence is exactly full except possibly the last
    assert(perSeq.init.forall(_._2 == L))
    assert(perSeq.map(_._2).sum == total)
    // sequence ids are contiguous from 0
    assert(perSeq.map(_._1).toSeq == (0L until perSeq.length).toSeq)
    // each doc's contributions sum to its token count
    val perDoc = packed.groupBy($"doc_id")
      .agg(sum($"n_tokens").as("nt")).as[(Long, Long)].collect().toMap
    val toks = d.as[(Long, Long)].collect().toMap
    assert(perDoc == toks)
  }

  test("mixCorpus: drop / downsample / upsample epochs, deterministic") {
    val d = spark.range(0, 1000).select($"id".as("doc_id"),
      concat(lit("s"), ($"id" % 4).cast("string")).as("source"))
    val mixed = Curate.mixCorpus(d, "doc_id", "source",
      Map("s0" -> 0.0, "s1" -> 0.4, "s2" -> 2.0, "s3" -> 2.5))
    val bySrc = mixed.groupBy($"source")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("nd"),
        max($"epoch").as("me"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(!bySrc.contains("s0"))                   // dropped
    val (n1, nd1, me1) = bySrc("s1")                // ~40% kept once
    assert(me1 == 1 && n1 == nd1 && n1 > 60 && n1 < 140)
    val (n2, nd2, me2) = bySrc("s2")                // exactly 2 epochs
    assert(me2 == 2 && nd2 == 250 && n2 == 500)
    val (n3, nd3, me3) = bySrc("s3")                // 2 or 3 epochs
    assert(me3 == 3 && nd3 == 250 && n3 > 550 && n3 < 700)
    // reproducible under any partitioning
    val again = Curate.mixCorpus(d.repartition(11), "doc_id", "source",
      Map("s0" -> 0.0, "s1" -> 0.4, "s2" -> 2.0, "s3" -> 2.5))
    assert(mixed.except(again).isEmpty && again.except(mixed).isEmpty)
  }

  test("piiMask masks emails, urls, phones; counts match") {
    val d = Seq(
      (1L, "write bob.smith+x@corp.example.com or see " +
        "https://a.example.org/p?q=1 call +44 20-7946-0958 ok"),
      (2L, "no pii here, just 12345 and words"),
      (3L, "two mails a@b.io c@d.co and http://x.y/z"))
      .toDF("doc_id", "text")
    val r = d.select($"doc_id",
        TextFunctions.piiMask($"text").as("m"),
        TextFunctions.piiCount($"text", TextFunctions.EmailPattern)
          .as("ne"),
        TextFunctions.piiCount($"text", TextFunctions.UrlPattern)
          .as("nu"),
        TextFunctions.piiCount($"text", TextFunctions.PhonePattern)
          .as("np"))
      .as[(Long, String, Int, Int, Int)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L)._2 ==
      "write <EMAIL> or see <URL> call <PHONE> ok")
    assert((r(1L)._3, r(1L)._4, r(1L)._5) == (1, 1, 1))
    assert(r(2L)._2 == "no pii here, just 12345 and words")
    assert((r(2L)._3, r(2L)._4, r(2L)._5) == (0, 0, 0))
    assert(r(3L)._2 == "two mails <EMAIL> <EMAIL> and <URL>")
    assert((r(3L)._3, r(3L)._4, r(3L)._5) == (2, 1, 0))
  }

  test("charWindowHash48: positional, equal windows hash equal") {
    import graft.functions.TextHashImpl.charWindowHash48
    import org.apache.spark.unsafe.types.UTF8String
    val t = "abcdefghij"
    val hs = charWindowHash48(UTF8String.fromString(t), 4)
    assert(hs.numElements() == t.length - 4 + 1)
    // same 4-gram at two positions -> same hash; different -> different
    val t2 = "xxabcdyyabcdzz"
    val h2 = charWindowHash48(UTF8String.fromString(t2), 4)
    val arr = h2.toLongArray()
    assert(arr(2) == arr(8)) // both hash "abcd"
    assert(arr(0) != arr(2))
    // shorter than k -> empty; multi-byte chars counted as chars
    assert(charWindowHash48(UTF8String.fromString("abc"), 4)
      .numElements() == 0)
    assert(charWindowHash48(UTF8String.fromString("héllo"), 5)
      .numElements() == 1)
  }

  test("duplicatedSpans merges overlapping duplicated windows") {
    val shared = "0123456789abcdefghij" // 20 chars shared
    val d = docs(
      1L -> s"AAA${shared}BBBB",
      2L -> s"CCCCC${shared}DD",
      3L -> "completely unrelated text 999")
    val spans = Dedup.duplicatedSpans(d, "text", "doc_id", k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
      .sorted // the operator no longer imposes a global sort
    // the 20 shared chars give 11 duplicated windows per doc, merging
    // into ONE span covering exactly the shared run
    assert(spans == Seq(
      (1L, 4L, 23L, 11L), // doc 1: shared at offset 3 (1-based 4)
      (2L, 6L, 25L, 11L)  // doc 2: shared at offset 5 (1-based 6)
    ))
  }

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  test("kmeans separates two obvious blobs and is partition-invariant") {
    // blob A hugs e1, blob B hugs e2; ids interleaved so first-k init
    // picks one seed from each blob
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(1f, 0f, 0f) else Seq(0f, 1f, 0f)
      (i.toLong, base.map(_ + i * 1e-3f))
    }
    val (assigned, cents) = Similarity.kmeans(
      vecs(rows: _*), "embedding", "vec_id", k = 2, iters = 2)
    val byCluster = assigned.select("vec_id", "centroid")
      .as[(Long, Int)].collect().toMap
    assert((0 until 20).forall(i =>
      byCluster(i.toLong) == byCluster((i % 2).toLong)))
    assert(byCluster(0L) != byCluster(1L))
    assert(cents.length == 2)
    // partition-invariant: DECIMAL sums + 6dp rounding make centroids
    // independent of partitioning/merge order
    val (_, cents7) = Similarity.kmeans(
      vecs(rows: _*).repartition(7), "embedding", "vec_id",
      k = 2, iters = 2)
    assert(cents == cents7)
  }

  test("kmeans keeps the previous centroid for an emptied cluster") {
    // all vectors identical: first-wins argmax sends every vector to
    // centroid 1, so cluster 2 empties and must keep its init value
    val rows = (0L until 6L).map(i => (i, Seq(1f, 1f)))
    val (_, cents) = Similarity.kmeans(
      vecs(rows: _*), "embedding", "vec_id", k = 2, iters = 1)
    assert(cents(0) == Seq(1.0, 1.0))
    assert(cents(1) == Seq(1.0, 1.0)) // kept, not NaN/zeroed
  }

  test("semanticDedup drops only larger ids of within-cluster near-dups") {
    val rows = Seq(
      0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f), // seeds
      2L -> Seq(0.99f, 0.01f, 0f),                  // near-dup of 0
      3L -> Seq(0.01f, 0.99f, 0f),                  // near-dup of 1
      4L -> Seq(0f, 0.2f, 0.8f))                    // own corner-ish
    val out = Similarity.semanticDedup(vecs(rows: _*), "embedding",
        "vec_id", k = 2, iters = 1, threshold = 0.98)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out(0L) && out(1L)) // smallest ids always kept
    assert(!out(2L) && !out(3L)) // cosine(0,2) and (1,3) ~0.9999
  }

  /** Stage a tiny documents.parquet fixture dir for the q111-q113
    * query-level tests (they read `<dir>/documents.parquet`). */
  private def docsDir(rows: (Long, String, String)*): String = {
    val dir = graft.TempDirs.create("graft-llmspec-docs")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q111 bigram familiarity: hand-computed MLE ratios") {
    // bigram counts: "a b" -> 2, "a c" -> 1; context 'a' -> 3
    val dir = docsDir((0L, "a b", "s"), (1L, "a b", "s"),
      (2L, "a c", "s"), (3L, "x", "s"))
    val out = graft.SparkEntry.queries("q111_bigram_familiarity")(
        spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 1L, 2L, 3L, 0.666667), (1L, 1L, 2L, 3L, 0.666667),
      (2L, 1L, 1L, 3L, 0.333333),
      (3L, 0L, 0L, 0L, 0.0))) // 1-token doc: no bigrams, score 0
  }

  test("hll sketches: shard-union estimate within 5% of true distinct") {
    // the mergeability contract q112 rests on: sketch each shard
    // independently, union the sketch BYTES, estimate the whole
    val df = (1 to 1000)
      .map(i => (s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("v", "shard")
    val est = df.groupBy($"shard")
      .agg(hll_sketch_agg($"v", lit(12)).as("sk"))
      .agg(hll_union_agg($"sk", lit(false)).as("u"))
      .select(hll_sketch_estimate($"u")).as[Long].head()
    assert(math.abs(est - 1000L) <= 50, s"estimate $est vs 1000")
    val dir = docsDir((1 to 60).map(i =>
      (i.toLong, s"doc text $i", s"src${i % 3}")): _*)
    val rows = graft.SparkEntry.queries("q112_sketch_distinct")(
        spark, dir)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(rows.map(_._1) == Seq("ALL", "src0", "src1", "src2"))
    assert(rows.map(_._2) == Seq(60L, 20L, 20L, 20L))
    assert(rows.forall(_._3), s"accuracy gate tripped: $rows")
  }

  test("q196 sketch profile: estimate delta is labeled, inside 5%") {
    // The q196 oracle hardcodes est_ok=true (the estimate is engine-
    // internal), so a sketch-accuracy regression would surface there
    // as an opaque row-hash mismatch. This pins the same gate with a
    // LABELED failure and prints the per-column deltas.
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q196_sketch_profile")(spark, sf)
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("est_ok"),
        s"q196 accuracy gate FAILED for column " +
          s"${r.getAs[String]("col_name")} " +
          s"(n_distinct=${r.getAs[Long]("n_distinct")})")
    }
    val ev = graft.Queries.T(spark, sf, "events")
    for ((nm, c) <- Seq("event_id" -> col("event_id"),
      "event_type" -> col("event_type"), "user_id" -> col("user_id"))) {
      val (est, exact) = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(c, lit(12))).as("e"),
        countDistinct(c).as("x")).as[(Long, Long)].head()
      val delta = math.abs(est.toDouble - exact) / math.max(1L, exact)
      info(f"q196 $nm: est=$est exact=$exact delta=${delta * 100}%.3f%%")
      assert(delta <= 0.05,
        f"$nm sketch drift ${delta * 100}%.2f%% exceeds the 5%% gate")
    }
  }

  test("q113 quantile sketch: approx decile inside the exact envelope") {
    val dir = docsDir((1 to 500).map(i =>
      (i.toLong, "x" * i, "s")): _*) // n_chars = 1..500
    val out = graft.SparkEntry.queries("q113_quantile_sketch")(
        spark, dir)
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(out.map(_._1) == (1L to 9L))
    // exact interpolated median of 1..500: (n-1)*0.5 -> 250.5
    assert(out(4)._2 == 250.5)
    assert(out.forall(_._3), s"approx outside envelope: $out")
  }

  test("q198 DSIR selection ranks target-like docs above off-target") {
    // src0 (the target slice) is 'wiki'-flavoured, src1 is 'spam'-
    // flavoured. Two src1 probes: one written like the target, one
    // like the rest of src1. Importance weighting must rank the
    // target-like probe strictly above the spam-like probe.
    val base = (0 until 5).map(i =>
        (i.toLong, "wiki facts curated prose", "src0")) ++
      (10 until 15).map(i => (i.toLong, "spam junk casino junk", "src1"))
    val dir = docsDir(base ++ Seq(
      (100L, "wiki facts curated prose", "src1"), // target-like probe
      (101L, "spam junk casino junk", "src1")): _*) // off-target probe
    val out = graft.SparkEntry.queries("q198_dsir_select")(spark, dir)
      .as[(Long, String, Double)].collect().toSeq
    // ordered: scores descending, doc_id tiebreak ascending
    assert(out == out.sortBy(r => (-r._3, r._1)))
    val score = out.map(r => r._1 -> r._3).toMap
    assert(score(100L) > score(101L),
      s"target-like probe must outrank off-target: $out")
    // identical text => identical score regardless of source label
    assert(score(100L) == score(0L), s"score is content-only: $out")
  }

  test("q199 epoch shuffle survives an empty corpus (sum-of-zero-rows " +
    "is NULL)") {
    val dir = docsDir() // zero documents
    val out = graft.SparkEntry.queries("q199_epoch_shuffle")(spark, dir)
      .collect()
    assert(out.isEmpty)
  }

  test("q199 epoch shuffle: complete, byte-balanced, epoch-seeded") {
    val rnd = new scala.util.Random(7)
    val docs = (1 to 40).map(i =>
      (i.toLong, "x" * (20 + rnd.nextInt(180)), "s"))
    val dir = docsDir(docs: _*)
    val total = docs.map(_._2.length.toLong).sum
    val maxDoc = docs.map(_._2.length.toLong).max
    val out = graft.SparkEntry.queries("q199_epoch_shuffle")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    for (e <- Seq(0L, 1L)) {
      val sh = out.filter(_._1 == e)
      assert(sh.map(_._2).forall(s => s >= 0 && s < 8))
      assert(sh.map(_._3).sum == 40L, s"epoch $e loses docs: $sh")
      assert(sh.map(_._4).sum == total, s"epoch $e loses bytes: $sh")
      // offset-quantile assignment: a shard holds the docs whose start
      // falls in its T/8 window, so its bytes <= T/8 + one max doc
      assert(sh.map(_._4).max <= total / 8 + maxDoc + 1,
        s"epoch $e shard imbalance: $sh (total=$total, maxDoc=$maxDoc)")
    }
    // different epochs = different permutations: the shard histograms
    // (8 byte-sums over a random order) almost surely differ
    assert(out.filter(_._1 == 0L).map(_._4) !=
      out.filter(_._1 == 1L).map(_._4),
      "epoch 0 and 1 produced identical shard byte histograms")
  }

  test("broadcast gate rejects an amplification bomb the constant " +
    "estimate would have broadcast") {
    // dictionary-encoded boilerplate: the SAME shingle-rich 4KB text
    // on every row parquet-encodes to ~one copy + refs, so the
    // optimizer's size estimate stays tiny — but the materialized
    // shingle frame is rows x distinct-shingles x 8B. A constant-32x
    // gate passes the estimate and broadcasts hundreds of MB into
    // executors; the measured tier must reject it.
    val rnd = new scala.util.Random(11)
    val boiler = (1 to 4096).map(_ => ('a' + rnd.nextInt(26)).toChar)
      .mkString // ~4K distinct 3-gram shingles
    val dir = graft.TempDirs.create("graft-llmspec-bomb")
    spark.range(0, 30000)
      .select($"id".as("doc_id"), lit(boiler).as("text"))
      .write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    val sh = d.select($"doc_id",
      TextFunctions.ngramShingleHashes($"text", 3).as("sh"))
    val est = sh.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = 64L << 20
    // prove this corpus IS the dangerous case: the old constant gate
    // would have said "broadcast" (estimate*32 under the cap) while
    // the real frame is ~30000 x 4094 x 8B ~ 980 MB
    assert(est * Dedup.ShingleBytesAmplification <= cap,
      s"fixture not dictionary-compressed enough (est=$est); " +
        "the scenario no longer exercises the constant-gate hazard")
    assert(!Dedup.shingleBroadcastable(sh, cap),
      "measured gate broadcast a ~1GB shingle frame")
    // and a genuinely small frame still broadcasts
    val small = docs((1L, "tiny text one"), (2L, "tiny text two"))
      .select($"doc_id",
        TextFunctions.ngramShingleHashes($"text", 3).as("sh"))
    assert(Dedup.shingleBroadcastable(small, cap),
      "measured gate refused a trivially small frame")
  }
}
