package graft

import graft.sim.Ann
import graft.text.{Dedup, TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data operators: dedup (exact / n-gram Jaccard / MinHash-LSH /
  * SimHash), text analysis, similarity search, multimodal plumbing.
  */
class TextSimSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("exact dedup groups by content hash, keeper = min id") {
    val d = docs(1L -> "hello world", 2L -> "hello world", 3L -> "unique")
    val got = Dedup.exactGroups(d, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((2L, 1L), (1L, 3L)))
  }

  test("n-gram Jaccard: identical docs = 1.0, disjoint docs filtered out") {
    val d = docs(1L -> "abcabc", 2L -> "abcabc", 3L -> "xyzxyz")
    val got = Dedup.ngramJaccard(d, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got === Map((1L, 2L) -> 1.0))
  }

  test("n-gram Jaccard matches a hand-computed overlap") {
    // shingle sets k=2: "abcd"->{ab,bc,cd}, "bcde"->{bc,cd,de}; J = 2/4
    val d = docs(1L -> "abcd", 2L -> "bcde")
    val got = Dedup.ngramJaccard(d, "doc_id", "text", k = 2, threshold = 0.1)
      .head()
    assert(got.getDouble(2) === 0.5)
  }

  test("minhash estimate approximates true Jaccard; LSH finds near-dups") {
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replace("lazy", "hazy")
    val far = "completely different content with nothing shared at all " * 8
    val d = docs(1L -> base, 2L -> near, 3L -> far)
    val trueJ = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.0)
      .filter(col("d1") === 1 && col("d2") === 2).head().getDouble(2)
    val got = Dedup.minHashLsh(d, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet === Set((1L, 2L)), "only the near-dup pair collides")
    assert(math.abs(got((1L, 2L)) - trueJ) < 0.2,
      s"est ${got((1L, 2L))} vs true $trueJ")
  }

  test("simhash: identical docs equal; unrelated docs differ") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "entirely other words here")
    val m = Dedup.simHash(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
  }

  test("text analysis columns: tokens, avg length, stopword/alpha ratios, langid, fingerprint") {
    val d = docs(1L -> "the cat sat", 2L -> "der hund ist nicht da")
    val r = d.select(col("doc_id"), TF.tokenCount(col("text")).as("n"),
      TF.avgTokenLen(col("text")).as("avg"),
      TF.stopwordRatio(col("text")).as("sw"),
      TF.alphaRatio(col("text")).as("al"),
      TF.langId(col("text")).as("lang"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 3L)
    assert(math.abs(r(1L).getDouble(2) - 3.0) < 1e-12)    // 9 chars / 3 tokens
    assert(math.abs(r(1L).getDouble(3) - 1.0 / 3) < 1e-12) // "the" of 3
    assert(r(1L).getString(5) === "en")
    assert(r(2L).getString(5) === "de")
    // fingerprint invariant to case/punct/whitespace
    val fp = spark.range(1).select(
      TF.fingerprint(lit("Hello, World!")).as("a"),
      TF.fingerprint(lit("  hello world  ")).as("b")).head()
    assert(fp.getString(0) === fp.getString(1))
  }

  test("brute-force ANN: exact top-k by cosine") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val top1 = Ann.bruteTopK(vecs, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
  }

  test("LSH ANN recovers exact duplicates as top-1 with cosine ~ 1") {
    val rnd = new scala.util.Random(42)
    val dim = 16
    val pts = (0 until 20).flatMap { c =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      Seq((2L * c, v), (2L * c + 1, v)) // identical twins
    }
    val vecs = pts.toDF("vec_id", "embedding")
    val got = Ann.lshTopK(vecs, "vec_id", "embedding", k = 1, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val top1 = got.map(t => t._1 -> t._2).toMap
    // identical vectors share every band bucket → twin always a candidate
    (0 until 20).foreach { c =>
      assert(top1(2L * c) === 2L * c + 1)
      assert(top1(2L * c + 1) === 2L * c)
    }
    got.foreach(t => assert(t._3 > 0.999))
  }

  test("LSH ANN recall@5 >= 0.9 vs brute force on the real embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
      .select(col("vec_id"), col("nn_id")).persist()
    val nTrue = brute.count()
    val lsh = Ann.lshTopK(emb, "vec_id", "embedding", k = 5, dim = 64)
      .select(col("vec_id"), col("nn_id"))
    val caught = brute.join(lsh, Seq("vec_id", "nn_id"), "left_semi").count()
    brute.unpersist()
    val recall = caught.toDouble / nTrue
    assert(recall >= 0.9, f"recall@5 $recall%.3f < 0.9 at default LSH params")
  }

  test("IVF ANN recovers exact duplicates; recall floor on real embeddings") {
    // identical twins land in the same k-means cell, so IVF must return
    // the twin as top-1 with cosine ~ 1
    val rnd = new scala.util.Random(7)
    val dim = 16
    val pts = (0 until 20).flatMap { c =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      Seq((2L * c, v), (2L * c + 1, v))
    }
    val twins = pts.toDF("vec_id", "embedding")
    val top1 = Ann.ivfTopK(twins, "vec_id", "embedding", k = 1, nlist = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    (0 until 20).foreach { c =>
      assert(top1(2L * c)._1 === 2L * c + 1)
      assert(top1(2L * c)._2 > 0.999)
    }
    // measured floor on the real table (0.84 at 16/8 on sf0.01 — the
    // synthetic tail neighbors span clusters; see Ann.ivfTopK scaladoc)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
      .select(col("vec_id"), col("nn_id")).persist()
    val nTrue = brute.count()
    val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", k = 5)
      .select(col("vec_id"), col("nn_id"))
    val caught = brute.join(ivf, Seq("vec_id", "nn_id"), "left_semi").count()
    brute.unpersist()
    assert(caught.toDouble / nTrue >= 0.7,
      f"IVF recall@5 ${caught.toDouble / nTrue}%.3f < 0.7")
  }

  test("MinHash-LSH pair recall >= 0.9 vs exact Jaccard on real documents") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.7)
      .select(col("d1"), col("d2")).persist()
    val nTrue = exact.count()
    assert(nTrue > 0, "test premise: the table contains near-dup pairs")
    val cands = Dedup.minHashLsh(d, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.0)
      .select(col("d1"), col("d2"))
    val caught = exact.join(cands, Seq("d1", "d2"), "left_semi").count()
    exact.unpersist()
    assert(caught.toDouble / nTrue >= 0.9,
      f"pair recall ${caught.toDouble / nTrue}%.3f < 0.9")
  }

  test("LSH defaults: recall on the 500x64 test tables beats the settings they replaced") {
    // the evidence behind Ann.lshTopK's bands/bits and Dedup.minHashLsh's
    // bands: each default against the grid point it was chosen over
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Ann.bruteTopK(emb, "vec_id", "embedding", 5)
      .select(col("vec_id"), col("nn_id")).persist()
    val nTrue = brute.count()
    def annRecall(lsh: DataFrame): Double =
      brute.join(lsh.select(col("vec_id"), col("nn_id")),
        Seq("vec_id", "nn_id"), "left_semi").count().toDouble / nTrue
    val annDefault = annRecall(Ann.lshTopK(emb, "vec_id", "embedding", 5, 64))
    val annOld = annRecall(Ann.lshTopK(emb, "vec_id", "embedding", 5, 64,
      bands = 8, bitsPerBand = 8))
    brute.unpersist()
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.7)
      .select(col("d1"), col("d2")).persist()
    val nPairs = exact.count()
    def pairRecall(bands: Option[Int]): Double = {
      val cands = bands.fold(Dedup.minHashLsh(d, "doc_id", "text",
          threshold = 0.0))(b => Dedup.minHashLsh(d, "doc_id", "text",
          bands = b, threshold = 0.0))
      exact.join(cands.select(col("d1"), col("d2")), Seq("d1", "d2"),
        "left_semi").count().toDouble / nPairs
    }
    val mhDefault = pairRecall(None)
    val mhFewer = pairRecall(Some(8))
    exact.unpersist()
    info(f"ann recall@5 default $annDefault%.3f, 8x8 $annOld%.3f; " +
      f"minhash pair recall default $mhDefault%.3f, 8 bands $mhFewer%.3f")
    // sf0.001: 0.938 vs 0.138, and 1.000 vs 0.789
    assert(annDefault >= 0.9 && annDefault > annOld,
      f"ann recall@5 $annDefault%.3f (8x8: $annOld%.3f)")
    assert(mhDefault >= 0.9 && mhDefault > mhFewer,
      f"minhash pair recall $mhDefault%.3f (8 bands: $mhFewer%.3f)")
  }

  test("sha-parity MinHash-LSH (q26 config): near-dups found, identical docs est=1") {
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replace("lazy", "hazy")
    val far = "completely different content with nothing shared at all " * 8
    val d = docs(1L -> base, 2L -> near, 3L -> far, 4L -> base)
    val got = Dedup.minHashLsh(d, "doc_id", "text",
      k = 3, numHashes = 16, bands = 4, threshold = 0.7,
      maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // identical docs share every signature component -> est exactly 1.0
    assert(got((1L, 4L)) === 1.0)
    assert(got.contains((1L, 2L)) && got.contains((2L, 4L)),
      "near-dup pairs must collide in some band")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc must not appear")
    // the signatures themselves are the DuckDB-replayable family: the
    // seeded sha hash of a known shingle matches a precomputed value
    val h = spark.range(1)
      .select(Dedup.shaSeededHash60(lit("abc"), 0).as("h")).head().getLong(0)
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest("0:abc".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    assert(h === expected)
  }

  test("simhash multi-probe == brute-force Hamming filter (exact parity)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val d = docs((0L until 12L).map { i =>
      i -> (if (i % 3 == 0) base
            else if (i % 3 == 1) base.replace("zeta", s"zeta$i")
            else s"totally different content number $i with its own words")
    }: _*)
    val multiProbe = Dedup.simHashNearDup(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: all pairs of fingerprints within Hamming 3
    val fp = Dedup.simHash(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, h1) <- fp; (i2, h2) <- fp if i1 < i2
      h = java.lang.Long.bitCount(h1 ^ h2) if h <= 3
    } yield (i1, i2, h)).toSet
    assert(multiProbe === brute)
    assert(brute.nonEmpty, "test premise: some pairs within Hamming 3")
  }

  test("embedding-cosine near-duplicates: exact pairs above threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Ann.nearDuplicates(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("BPE-ish regex token count") {
    val d = docs(1L -> "don't stop-me now, 42x!", 2L -> "   ")
    val got = d.select(col("doc_id"), TF.tokenCountBpe(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // don|'|t|stop|-|me|now|,|42|x|! = 11 tokens; whitespace-only = 0
    assert(got === Map(1L -> 11L, 2L -> 0L))
  }

  test("multimodal frame sampling: offsets, tail frame, stride") {
    import graft.multimodal.Multimodal
    val d = docs(1L -> ("x" * 100), 2L -> "short")
    val got = Multimodal.sampleFrames(spark,
        Multimodal.asBinary(d, "doc_id", "text"), "id", "media",
        frameSize = 32, stride = 2)
      .collect()
      .map(f => (f.id, f.frame_idx, f.offset, f.frame_len, f.first_byte))
      .toSet
    // doc 1: 100 bytes = 4 frames (0..3), stride 2 keeps 0 and 2;
    // doc 2: 5 bytes = one short tail frame
    assert(got === Set(
      (1L, 0L, 0L, 32L, 'x'.toLong), (1L, 2L, 64L, 32L, 'x'.toLong),
      (2L, 0L, 0L, 5L, 's'.toLong)))
  }

  test("multimodal stub decode is deterministic with real plumbing") {
    val d = docs(1L -> "some media payload", 2L -> "x")
    val bin = graft.multimodal.Multimodal.asBinary(d, "doc_id", "text")
    assert(bin.schema("media").dataType.typeName === "binary")
    val frames = graft.multimodal.Multimodal
      .decodeFrames(spark, bin, "id", "media")
      .collect().map(f => f.id -> f).toMap
    assert(frames(1L).width === 16 + "some media payload".length % 48)
    assert(frames(1L).first_byte === 's'.toLong)
    assert(frames(2L).channels === 3L)
  }

  test("simhash multi-probe: maxHamming=0 at 64 bits (full-width band mask)") {
    import spark.implicits._
    // width-64 band: (1L << 64) - 1 would be 0 under Java's mod-64 shift;
    // the mask must be all-ones so identical fingerprints still collide
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val pairs = graft.text.Dedup
      .simHashNearDup(df, "doc_id", "text", maxHamming = 0, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 0)))
  }

  test("multimodal feature extraction: chunk means, short tail, empty") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val df = Seq((1L, "AAAABBBB"), (2L, "ABC"), (3L, ""))
      .toDF("id", "text")
    val got = Multimodal.extractFeatures(spark,
        Multimodal.asBinary(df, "id", "text"), "id", "media", k = 4)
      .collect().map(f => f.id -> f.features).toMap
    // len 8, k 4 -> chunk 2: AA AA BB BB
    assert(got(1L) === Seq(65 / 255.0, 65 / 255.0, 66 / 255.0, 66 / 255.0))
    // len 3 -> chunk 1: A B C, last chunk empty
    assert(got(2L) === Seq(65 / 255.0, 66 / 255.0, 67 / 255.0, 0.0))
    assert(got(3L) === Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("multimodal resize: aspect-preserving bounding box, never upscales") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val frames = Seq(
      Multimodal.Frame(1L, 64L, 32L, 3L, 0L),  // wide: limited by maxW
      Multimodal.Frame(2L, 10L, 40L, 3L, 0L),  // tall: limited by maxH
      Multimodal.Frame(3L, 8L, 8L, 3L, 0L))    // small: untouched
      .toDS()
    val got = Multimodal.resizeFrames(frames, maxW = 16, maxH = 16)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("out_width"), r.getAs[Long]("out_height"),
          r.getAs[Double]("scale"))).toMap
    assert(got(1L) === ((16L, 8L, 0.25)))
    assert(got(2L) === ((4L, 16L, 0.4)))
    assert(got(3L) === ((8L, 8L, 1.0)))
  }

  // ---- oracle-parity ANN twins (q57/q58): the test re-implements the
  // whole pipeline single-threaded from the same public definitions —
  // the in-JVM analog of the DuckDB replay ----

  private def parityFixture(): (org.apache.spark.sql.DataFrame,
      Map[Long, Array[Long]]) = {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000).toLong).toArray
    }.toMap
    (emb, q)
  }

  private def idotL(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("parity LSH ANN (q57) equals a single-threaded replay") {
    val (emb, q) = parityFixture()
    val bands = 8; val bits = 8; val dim = 64; val k = 5
    // signatures from the same sha-derived ±1 planes
    val sig = q.map { case (vid, v) =>
      (vid, (0 until bands).map { b =>
        (0 until bits).map { j =>
          val dot = (0 until dim).map(d => v(d) * Ann.shaSign(b, j, d)).sum
          if (dot > 0) 1L << j else 0L
        }.sum
      }.toArray)
    }
    val cands = (for {
      (v1, s1) <- sig.toSeq; (v2, s2) <- sig.toSeq
      if v1 != v2 && (0 until bands).exists(b => s1(b) == s2(b))
    } yield (v1, v2)).toSet
    val expected = cands.groupBy(_._1).flatMap { case (vid, ps) =>
      ps.toSeq.map { case (_, nn) => (nn, idotL(q(vid), q(nn))) }
        .sortBy { case (nn, d) => (-d, nn) }.take(k).zipWithIndex
        .map { case ((nn, d), i) => (vid, nn, (i + 1).toLong, d) }
    }.toSet
    val got = Ann.lshTopKParity(emb, "vec_id", "embedding",
        k = k, dim = dim, bands = bands, bitsPerBand = bits)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no candidate pairs")
  }

  test("parity IVF ANN (q58) equals a single-threaded replay") {
    val (emb, q) = parityFixture()
    val nlist = 16; val nprobe = 4; val k = 5
    def sha60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val cent = q.keys.toSeq.sortBy(v => (sha60(v.toString), v)).take(nlist)
      .map(q).toArray
    def ranked(v: Array[Long]): Seq[Int] =
      cent.indices.sortBy(c =>
        (cent(c).map(x => x * x).sum - 2 * idotL(v, cent(c)), c))
    val home = q.map { case (vid, v) => vid -> ranked(v).head }
    val expected = q.keys.flatMap { vid =>
      val probed = ranked(q(vid)).take(nprobe).toSet
      q.keys.filter(nn => nn != vid && probed(home(nn)))
        .map(nn => (nn, idotL(q(vid), q(nn)))).toSeq
        .sortBy { case (nn, d) => (-d, nn) }.take(k).zipWithIndex
        .map { case ((nn, d), i) => (vid, nn, (i + 1).toLong, d) }
    }.toSet
    val got = Ann.ivfTopKParity(emb, "vec_id", "embedding",
        k = k, nlist = nlist, nprobe = nprobe)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no probed candidates")
  }

  test("parity PQ ANN (q154) equals a single-threaded ADC replay") {
    val (emb, q) = parityFixture()
    val m = 8; val ksub = 16; val dim = 64; val subDim = dim / m; val k = 5
    def sha60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val samp = q.keys.toSeq.sortBy(v => (sha60(v.toString), v)).take(ksub)
      .map(q).toArray
    def sub(v: Array[Long], s: Int): Array[Long] =
      v.slice(s * subDim, (s + 1) * subDim)
    def dist2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val code = q.map { case (vid, v) =>
      vid -> (0 until m).map(s =>
        (0 until ksub).minBy(c => (dist2(sub(v, s), sub(samp(c), s)), c))
      ).toArray
    }
    val queries = q.keys.filter(v => sha60(v.toString) % 1000L < 40)
    val expected = queries.flatMap { vid =>
      q.keys.filter(_ != vid).map { nn =>
        val adc = (0 until m).map(s =>
          dist2(sub(q(vid), s), sub(samp(code(nn)(s)), s))).sum
        (nn, adc)
      }.toSeq.sortBy { case (nn, a) => (a, nn) }.take(k).zipWithIndex
        .map { case ((nn, a), i) => (vid, nn, (i + 1).toLong, a) }
    }.toSet
    val got = Ann.pqTopKParity(emb, "vec_id", "embedding",
        k = k, dim = dim, m = m, ksub = ksub)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no sampled queries")
  }

  test("contamination severity ladder grades by longest shared gram") {
    import graft.text.TrainPrep
    val bench = docs(1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")
    val corpus = docs(
      10L -> "x w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 y", // verbatim 12
      11L -> "a w1 w2 w3 w4 w5 w6 b",                      // 6 but not 12
      12L -> "c w1 w2 w3 d",                               // 3 only
      13L -> "nothing shared here at all")
    val sev = TrainPrep.contaminationSeverity(corpus, "doc_id", "text",
        bench, "text", sizes = Seq(3, 6, 12))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sev === Map(10L -> 12L, 11L -> 6L, 12L -> 3L))
  }

  test("word n-grams, contamination check, and corpus top-k n-grams") {
    import graft.text.TrainPrep
    // wordNgrams basics
    val ng = docs(1L -> "a b c d", 2L -> "a b")
      .select(col("doc_id"), TF.wordNgrams(col("text"), 3).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ng(1L) === Seq("a b c", "b c d"))
    assert(ng(2L) === Seq.empty, "short doc yields no n-grams, not a crash")
    // contamination: doc 10 shares the trigram "x y z" with bench doc 1;
    // doc 11 shares two distinct trigrams; doc 12 is clean
    val bench = docs(1L -> "x y z w v u")
    val corpus = docs(10L -> "p q x y z r", 11L -> "x y z w maybe",
      12L -> "nothing shared at all here")
    val cont = TrainPrep.contamination(corpus, "doc_id", "text",
        bench, "text", n = 3, minShared = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cont === Map(10L -> 1L, 11L -> 2L))
    // top-k bigrams by document frequency with deterministic tie-break
    val d3 = docs(1L -> "a b c", 2L -> "a b x", 3L -> "a b c")
    val top = TrainPrep.topNgrams(d3, "doc_id", "text", n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.toSeq === Seq(("a b", 3L, 1L), ("b c", 2L, 2L)))
  }

  test("stratified sample: sha-decided keeps match the replay; mixture stats exact") {
    import graft.text.TrainPrep
    val rows = (1L to 300L).map(i =>
      (i, if (i % 6 == 0) "de" else if (i % 3 == 0) "fr" else "en",
        "w " * (i % 7 + 1).toInt))
    val df = rows.toDF("doc_id", "lang", "text")
    val stats = TrainPrep.mixtureStats(df, "lang", TF.tokenCount(col("text")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // strata: en 200, fr 50, de 50 -> min 50
    assert(stats("en")._1 === 200L && stats("fr")._1 === 50L
      && stats("de")._1 === 50L)
    assert(stats("en")._3 === 250000L, "keep_ppm = 50/200 of a million")
    assert(stats("fr")._3 === 1000000L && stats("de")._3 === 1000000L)
    def sha60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val expected = rows.filter { case (id, lang, _) =>
      sha60(s"mix:$id") % 1000000L < stats(lang)._3
    }.map(_._1).toSet
    import org.apache.spark.sql.functions.{col => c}
    val fr = TrainPrep.mixtureStats(df, "lang", TF.tokenCount(c("text")))
      .select(c("stratum"), c("keep_ppm"))
    val got = TrainPrep.stratifiedSample(df, "doc_id", "lang", fr, "mix")
      .select(c("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < rows.size)
  }

  test("token budget: water-filling with one redistribution round") {
    import graft.text.TrainPrep
    // avail: A=100, B=10, C=40; total 150 -> budget 75, fair 25
    // round 1: A 25, B 10 (short), C 25 -> used 60, unsat {A, C}
    // round 2: extra = 15 div 2 = 7 -> A min(100,32)=32, C min(40,32)=32
    val df = Seq(("A", 60L), ("A", 40L), ("B", 10L), ("C", 40L))
      .toDF("source", "n_chars")
    val got = TrainPrep.tokenBudget(df, "source", col("n_chars"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("A") === ((100L, 32L, 320000L)))
    assert(got("B") === ((10L, 10L, 1000000L)))
    assert(got("C") === ((40L, 32L, 800000L)))
  }

  test("novelty: first-occurrence shingle share in ppm") {
    import graft.text.Dedup
    // shingles (k=3): doc1 {abc, bcd}, doc2 {abc}, doc3 {xyz}
    // first ids: abc->1, bcd->1, xyz->3
    val docs = Seq((1L, "abcd"), (2L, "abc"), (3L, "xyz"), (4L, "ab"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyPpm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((2L, 1000000L)))
    assert(got(2L) === ((1L, 0L)))
    assert(got(3L) === ((1L, 1000000L)))
    assert(!got.contains(4L)) // under shingle length -> no row
  }

  test("span dedup removes corpus-frequent spans and reassembles in order") {
    val docs = Seq(
      (1L, "a b c d e f"),   // spans: "a b c", "d e f"
      (2L, "a b c x y z"),
      (3L, "a b c q r"),     // tail span shorter than spanWords
      (4L, "u v w"),
      (5L, "a b c")          // entirely boilerplate -> empty kept_text
    ).toDF("doc_id", "text")
    // "a b c" occurs in 4 docs > maxDf=2 -> removed everywhere
    val got = Dedup.dedupSpans(docs, "doc_id", "text", spanWords = 3,
        maxDf = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 1L, "d e f")))
    assert(got(2L) === ((2L, 1L, "x y z")))
    assert(got(3L) === ((2L, 1L, "q r")))
    assert(got(4L) === ((1L, 1L, "u v w")))
    assert(got(5L) === ((1L, 0L, "")))
    // NULL-text docs still get their contract row (id, 0, 0, "")
    val withNull = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val g2 = Dedup.dedupSpans(withNull, "doc_id", "text", spanWords = 3,
        maxDf = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(g2(2L) === ((0L, 0L, "")))
    assert(g2(1L) === ((1L, 1L, "a b c")))
  }

  test("calibrated int8 quantization: exact codes, bounded reconstruction") {
    val vecs = Seq(
      (1L, Seq(0.0f, 10.0f)),
      (2L, Seq(1.0f, 10.0f)),
      (3L, Seq(0.3f, 10.0f))).toDF("vec_id", "embedding")
    val got = Ann.calibratedInt8(vecs, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getDouble(2)))).toMap
    // dim0: lo=0, hi=1 -> codes -127 / 127 / floor(0.3·254)-127 = -51;
    // dim1 constant -> code 0, zero error
    assert(got(1L)._1 === Seq(-127L, 0L))
    assert(got(2L)._1 === Seq(127L, 0L))
    assert(got(3L)._1 === Seq(-51L, 0L))
    // floor quantization: error < one grid cell = (hi-lo)/254
    got.values.foreach { case (_, err) =>
      assert(err >= 0.0 && err < 1.0 / 254.0 + 1e-9) }
    assert(got(1L)._2 === 0.0 && got(2L)._2 === 0.0)
    assert(got(3L)._2 > 0.0)
  }

  test("contaminationBloom: flags a superset of exact contamination") {
    import graft.text.TrainPrep
    val corpus = Seq(
      (10L, "the quick brown fox jumps"), // shares "a b c" with bench? no
      (11L, "a b c d e"),                 // shares trigram "a b c"
      (12L, "totally unrelated words here"),
      (13L, "c b a reversed order only")  // reversed: NOT shared
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "a b c shared prefix")).toDF("doc_id", "text")
    val exact = TrainPrep.contamination(corpus, "doc_id", "text",
        bench, "text", n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TrainPrep.contaminationBloom(corpus, "doc_id", "text",
        bench, "text", n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.contains(11L) && !exact.contains(13L))
    // no false negatives: every exactly-contaminated doc is flagged, with
    // at least as many flagged grams (false positives only add)
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id) && bloom(id) >= n)
    }
  }

  test("semDedup: co-clustered duplicates drop to the min id, pairwise") {
    // four identical vectors (cos 1) + an orthogonal anti-parallel pair
    // (cos -1): whatever the sha-sampled centroids are, the identical
    // vectors share one cluster (identical distances, tie to lower cid),
    // so 2..4 drop against 1; vectors 5 and 6 have no cluster-mate at
    // cos >= 0.38 (cos 0 to the x-group, -1 to each other) and keep
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(1.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f)), (6L, Array(0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Ann.semDedup(vecs, "vec_id", "embedding", nlist = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    assert(got(1L) == ((true, -1L)))
    Seq(2L, 3L, 4L).foreach(i => assert(got(i) == ((false, 1L))))
    assert(got(5L)._1 && got(6L)._1)
  }

  test("labelNoise: mislabeled vector in a tight cluster is flagged") {
    // group X: three identical vectors labeled (1, 1, 2) — the label-2
    // one disagrees with its whole neighborhood; group Y: consistent.
    // k=2 keeps each neighborhood inside its own group (within-group
    // dot 1e6 always outranks the cross-group dot 0)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(1.0f, 0.0f), 1),
      (3L, Array(1.0f, 0.0f), 2),
      (4L, Array(0.0f, 1.0f), 3), (5L, Array(0.0f, 1.0f), 3),
      (6L, Array(0.0f, 1.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val got = Ann.labelNoise(vecs, "vec_id", "embedding", "label",
        k = 2, dim = 2, bands = 4, bitsPerBand = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(got(3L) == ((0L, 1L)), "mislabeled vector must be suspect")
    // its two group-mates see labels (1, 2): exactly at the 0.5 bar ->
    // not suspect (inclusive threshold)
    assert(got(1L) == ((500000L, 0L)) && got(2L) == ((500000L, 0L)))
    Seq(4L, 5L, 6L).foreach(i => assert(got(i) == ((1000000L, 0L))))
  }

  test("setsim jaccardJoin: prefix filter is lossless vs brute all-pairs") {
    import graft.sim.SetSimJoin
    val rnd = new scala.util.Random(7)
    val pairs = (for {
      id <- 1L to 60L
      t <- 1L to (3 + rnd.nextInt(8)).toLong
    } yield (id, 1L + rnd.nextInt(25).toLong)).distinct
    val df = pairs.toDF("id", "tok")
    val got = SetSimJoin.jaccardJoin(df, "id", "tok", 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(5)))).toMap
    // brute force: every pair of ids, exact Jaccard
    val sets = pairs.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; jj <- i + 1 until ids.size
      (u, v) = (ids(i), ids(jj))
      inter = (sets(u) & sets(v)).size.toLong
      uni = (sets(u) | sets(v)).size.toLong
      if inter * 1000000L >= 500000L * uni
    } yield (u, v) -> ((inter, inter * 1000000L / uni))).toMap
    assert(brute.nonEmpty && got == brute)
  }

  test("setsim jaccardJoin: hand case — threshold boundary inclusive") {
    import graft.sim.SetSimJoin
    // sets {1,2,3,4} and {3,4,5,6}: inter 2, union 6, J = 1/3 -> out at
    // t=0.5; {1,2,3} and {2,3}: inter 2, union 3, J = 2/3 -> in; and an
    // exact-boundary pair {1,2} {2,3}... J = 1/3; use {1,2} {1,2,3,4}?
    // inter 2 union 4 J = 0.5 exactly -> IN (>= is inclusive)
    val df = Seq(
      (10L, Seq(1L, 2L, 3L, 4L)), (11L, Seq(3L, 4L, 5L, 6L)),
      (12L, Seq(1L, 2L))
    ).toDF("id", "toks")
      .select(col("id"), explode(col("toks")).as("tok"))
    val got = SetSimJoin.jaccardJoin(df, "id", "tok", 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 12L)))
  }

  test("kmeansParity: centroids move to the cluster means, exact integers") {
    // two obvious groups on the x axis; whatever the sha init picks, the
    // two-round Lloyd ends with the groups split and every member nearest
    // its own group mean
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.1f, 10.0f)),
      (6L, Array(10.0f, 10.1f))
    ).toDF("vec_id", "embedding")
    val got = Ann.kmeansParity(vecs, "vec_id", "embedding",
        k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val gA = Seq(1L, 2L, 3L).map(got(_)._1).toSet
    val gB = Seq(4L, 5L, 6L).map(got(_)._1).toSet
    assert(gA.size == 1 && gB.size == 1 && gA != gB,
      s"expected the two planted groups separated, got $got")
    // after convergence the centroid is the integer-floor group mean:
    // group A mean = floor((0+100+0)/3, (0+0+100)/3) = (33, 33);
    // d2 of (0,0) to it = 33^2+33^2 = 2178; of (100,0): 67^2+33^2 = 5578
    assert(got(1L)._2 == 2178L)
    assert(got(2L)._2 == 5578L)
  }

  test("minhash calibration ledger equals a single-threaded replay") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "the quick brown fox leaps over the lazy dog",
      4L -> "entirely different content with no overlap at all")
    val got = Dedup.minHashCalibration(d, "doc_id", "text",
        k = 3, numHashes = 16, bands = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // replay: shingles, sha-seeded signatures, banding, est vs exact
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "the quick brown fox leaps over the lazy dog",
      4L -> "entirely different content with no overlap at all")
    val grams = texts.map { case (id, t) =>
      id -> (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet }
    val sig = grams.map { case (id, gs) =>
      id -> (0 until 16).map(j => gs.map(g => Oracles.sha60(s"$j:$g")).min)
    }
    val ids = texts.keys.toSeq.sorted
    val cands = for {
      a <- ids; b <- ids if a < b
      if (0 until 4).exists(bd =>
        sig(a).slice(bd * 4, bd * 4 + 4) == sig(b).slice(bd * 4, bd * 4 + 4))
    } yield (a, b)
    val expect = cands.map { case (a, b) =>
      val est = sig(a).zip(sig(b)).count { case (x, y) => x == y }
        .toLong * 1000000L / 16L
      val i = (grams(a) & grams(b)).size.toLong
      val u = grams(a).size + grams(b).size - i
      (est / 100000L, math.abs(est - i * 1000000L / u))
    }.groupBy(_._1).map { case (bkt, g) =>
      bkt -> ((g.size.toLong, g.map(_._2).sum / g.size, g.map(_._2).max))
    }
    assert(got === expect)
    assert(got.nonEmpty) // near-dup trio must collide in some band
  }

  test("containment: substring doc fully contained, ppm matches brute force") {
    val a = "the quick brown fox jumps"
    val b = a + " zz" // tiny suffix: high resemblance, so bands collide
    val d = docs(1L -> a, 2L -> b, 3L -> "qqqqqqqqqqqq")
    val got = Dedup.containmentLsh(d, "doc_id", "text", k = 3,
        numHashes = 16, bands = 4, thresholdPpm = 500000L,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def sh(s: String) = s.sliding(3).toSet
    val inter = (sh(a) intersect sh(b)).size.toLong
    assert(got((1L, 2L)) === 1000000L) // A substring of B => containment 1
    assert(got((2L, 1L)) === 1000000L * inter / sh(b).size)
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bm25 odds-idf matches the hand-computed integer formula") {
    val d = docs(1L -> "x x y", 2L -> "y z")
    val got = graft.text.TfIdf.bm25OddsMicro(d, "doc_id", "text", Seq("x"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // N=2, Σdl=5, df(x)=1: idf = 3e6 div 3 = 1e6. d1: tf=2, dl=3:
    // norm = 250000 + (750000·3·2) div 5 = 1150000
    // wtf  = (2·2200000·1e6) div (2e6 + (1200000·1150000) div 1e6) = 1301775
    assert(got(1L) === ((3L, 1L, 1301775L)))
    assert(got(2L) === ((2L, 0L, 0L)))
  }

  test("hard negatives: labels split, ties to min id, missing pos -1/0") {
    // three identical vectors (every band collides, all dots equal):
    // quantized dot = 1e6 + 4e6 + 9e6 + 16e6 = 30e6, ranks tie to min id
    val v = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    val vecs = Seq((1L, v, 0), (2L, v, 0), (3L, v, 1))
      .toDF("vec_id", "embedding", "label")
    val got = Ann.hardNegatives(vecs, "vec_id", "embedding", "label",
        dim = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val d = 30000000L
    assert(got(1L) === ((0L, 3L, d, 2L, d, 0L)))
    assert(got(2L) === ((0L, 3L, d, 1L, d, 0L)))
    // vec 3 is the only label-1: no same-label candidate anywhere
    assert(got(3L) === ((1L, 1L, d, -1L, 0L, -d)))
  }

  test("jl distortion: collinear pairs exact, cross-axis from sha signs") {
    // 1-sparse collinear vectors project to distortion exactly 1e6 (every
    // row sees the same +-1 factor); the cross-axis pair's d2_proj is
    // 4e6 per sign-disagreeing row, computable from the sha signs
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Ann.jlDistortion(vecs, "vec_id", "embedding",
        dim = 2, outDim = 16, sampleN = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got((1L, 2L)) === ((1000000L, 16000000L, 1000000L)))
    val k = (0 until 16).count(j => Ann.shaJlSign(j, 0) != Ann.shaJlSign(j, 1))
    val d2p = 4000000L * k
    assert(got((1L, 3L)) === ((2000000L, d2p, d2p * 1000000L / (16L * 2000000L))))
    assert(got((2L, 3L))._1 === 5000000L)
  }

  test("mmr: replayed greedy matches, low lambda skips the duplicate") {
    // vectors: two near-duplicates of the top hit plus an orthogonal-ish
    // one; the sha-chosen query and the greedy picks are replayed
    // single-threaded below
    val vs = Map(1L -> Seq(10.0f, 0.0f), 2L -> Seq(10.0f, 1.0f),
      3L -> Seq(10.0f, 1.0f), 4L -> Seq(3.0f, 8.0f))
    val vecs = vs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val lam = 300000L
    val got = Ann.mmrSelect(vecs, "vec_id", "embedding", k = 3,
        poolK = 3, lambdaPpm = lam)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // single-threaded replay
    def q(v: Seq[Float]) = v.map(x => math.floor(x * 1000).toLong)
    def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map(t => t._1 * t._2).sum
    val qid = vs.keys.minBy(id => (Oracles.sha60(s"q:$id"), id))
    val rel = (vs - qid).map { case (id, v) => id -> dot(q(v), q(vs(qid))) }
    val pool = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(3)
    var sel = Seq.empty[(Long, Long, Long)]
    for (rk <- 1 to 3) {
      val cand = pool.filterNot(p => sel.exists(_._2 == p._1)).map {
        case (id, r) =>
          val ms = if (sel.isEmpty) 0L
            else sel.map(s => dot(q(vs(id)), q(vs(s._2)))).max
          val mmr = if (sel.isEmpty) lam * r
            else lam * r - (1000000L - lam) * ms
          (id, mmr)
      }
      val best = cand.minBy { case (id, m) => (-m, id) }
      sel = sel :+ ((rk.toLong, best._1, best._2))
    }
    assert(got.toSeq === sel)
    // diversity: the two clones never both appear in the top 2
    val top2 = got.take(2).map(_._2).toSet
    assert(!(top2.contains(2L) && top2.contains(3L)))
  }

  test("typo pairs: same block within edit distance, outsiders excluded") {
    val d = docs(
      1L -> "hello world this is a doc",
      2L -> "hello world this is a dox",   // dist 1 to doc 1
      3L -> "hello there entirely different content here now",
      4L -> "zzz unrelated")
    val got = Dedup.typoPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 1L)))
  }

  test("rrf fusion: ranks replayed from both retrievers, formula exact") {
    import graft.text.TfIdf
    val d = docs(1L -> "spark spark spark", 2L -> "spark join",
      3L -> "nothing here at all", 4L -> "join filter stream spark")
    val terms = Seq("spark", "join", "stream", "filter")
    // replay retriever A (BM25 — itself spec-tested) and retriever B
    // (raw tf), then the rrf formula, single-threaded
    val bm = TfIdf.bm25OddsMicro(d, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val tf = Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 4L)
    def ranks(s: Map[Long, Long]) = s.toSeq
      .sortBy { case (id, v) => (-v, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val (ra, rb) = (ranks(bm), ranks(tf))
    val expect = (1L to 4L).map(id => (id, ra(id), rb(id),
      1000000L / (60L + ra(id)) + 1000000L / (60L + rb(id))))
      .sortBy { case (id, _, _, rrf) => (-rrf, id) }
    val got = TfIdf.rrfFusion(d, "doc_id", "text", terms)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expect)
  }

  test("label centroids: signed squared cosine between class means") {
    // label 0 mean e0, label 1 mean e1 (orthogonal), label 2 mean -e0
    // (anti-parallel): diagonal 1e6, 0-1 and 1-2 zero, 0-2 exactly -1e6
    val vecs = Seq((1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Ann.labelCentroidSep(vecs, "vec_id", "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === Map(
      (0L, 0L) -> 1000000L, (1L, 1L) -> 1000000L, (2L, 2L) -> 1000000L,
      (0L, 1L) -> 0L, (1L, 2L) -> 0L, (0L, 2L) -> -1000000L))
  }

  test("winnow: match guarantee, tie positions, short docs, density") {
    import spark.implicits._
    val k = 5; val w = 4
    // repeated chars: all shingle hashes equal, so each full window must
    // pick its RIGHTMOST position (robust winnowing tie rule)
    val ties = Seq((1L, "a" * 8), (2L, "a" * 9), (3L, "a" * 7))
      .toDF("doc_id", "text")
    val tGot = Dedup.winnow(ties, "doc_id", "text", k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 chars -> 4 shingles -> one full window, rightmost pos 3;
    // 9 chars -> two windows -> {3, 4}; 7 chars -> no full window
    assert(tGot === Set((1L, 3L), (2L, 3L), (2L, 4L)))

    // guarantee: two docs sharing a substring of length >= w + k - 1
    // share at least one (possibly position-shifted) fingerprint HASH
    val shared = "qwertzuiop" // 10 >= 8
    val docs = Seq((1L, s"abcdef${shared}ghijkl"),
      (2L, s"zzz${shared}yyy")).toDF("doc_id", "text")
    val fps = Dedup.winnow(docs, "doc_id", "text", k, w).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val common = fps.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fps.filter(_._1 == 2L).map(_._2).toSet)
    assert(common.nonEmpty)

    // density: on random-ish text, selections ~ 2/(w+1) of positions
    val rnd = Seq((9L, (1 to 400).map(i =>
      ('a' + (i * 31 % 26)).toChar).mkString)).toDF("doc_id", "text")
    val nSel = Dedup.winnow(rnd, "doc_id", "text", k, w).count()
    val nPos = 400 - k + 1
    assert(nSel >= nPos / (w + 1) && nSel <= nPos) // loose lower bound
  }
}
