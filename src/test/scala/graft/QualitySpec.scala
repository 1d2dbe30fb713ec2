package graft

import graft.kernels.{Bfs, GraphStats}
import graft.text.{QualityRules, TrainPrep}
import org.apache.spark.sql.functions._

/** Round-4 operators: repetition gates, PII scrub, fixed-size reservoir
  * sampling, labeled multi-source BFS + harmonic centrality. */
class QualitySpec extends SparkSpec {

  import spark.implicits._

  test("BpeTrain.learnMerges: hand-traced rounds, ties, overlap, exhaustion") {
    import graft.text.BpeTrain
    // vocab: aaab freq 2 (case-folded from "Aaab"), aab freq 1.
    // r1: (a,a)=5 beats (a,b)=3; r2: (a,b)=2 ties (aa,a)=2 -> lex picks
    // (a,b); r3: (aa,ab)=2 beats (aa,b)=1
    val docs = Seq((1L, "Aaab aaab! aab?")).toDF("doc_id", "text")
    val got = BpeTrain.learnMerges(docs, "text", 3).orderBy("round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "a", 5L), (2, "a", "b", 2L),
      (3, "aa", "ab", 2L)))
    // leftmost NON-OVERLAPPING: "aaaa" merges to [aa,aa] (not [aa,a,a]),
    // so round 2 finds (aa,aa)=3; then no pairs remain -> 2 rows only
    val docs2 = Seq((1L, "aaaa aaaa aaaa b")).toDF("doc_id", "text")
    val got2 = BpeTrain.learnMerges(docs2, "text", 3).orderBy("round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got2.toSeq == Seq((1, "a", "a", 9L), (2, "aa", "aa", 3L)))
  }

  test("repetitionStats: hand-computed mode/bigram ppm and keep gate") {
    val docs = Seq(
      // 4 tokens, mode 'a' x3 -> 750000 ppm (fails the gate); bigrams
      // [a a, a b, b a] distinct 3/3 -> dup 0
      (1L, "a a b a"),
      // 6 distinct tokens -> top 166666 ppm (passes); dup 0
      (2L, "u v w x y z"),
      // repeated bigram: tokens [p q p q], bigrams [p q, q p, p q] ->
      // dup (3-2)/3 = 333333 ppm (fails); top 500000 (fails)
      (3L, "p q p q")
    ).toDF("doc_id", "text")
    val r = QualityRules.repetitionStats(docs, "doc_id", "text",
        topTokPpmMax = 400000L, dupBigramPpmMax = 100000L)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(4L, 6L, 4L)) // n_tokens
    assert(r.map(_.getLong(2)).toSeq == Seq(3L, 1L, 2L)) // top_cnt
    assert(r.map(_.getLong(3)).toSeq == Seq(750000L, 166666L, 500000L))
    assert(r.map(_.getLong(4)).toSeq == Seq(0L, 0L, 333333L))
    assert(r.map(_.getLong(5)).toSeq == Seq(0L, 1L, 0L)) // keep
  }

  test("bigramLmScore: hand-computed conditional ppm, fluent > garbled") {
    // corpus bigrams: doc1 "a b a b" -> [a b, b a, a b];
    //                 doc2 "a b"     -> [a b];  doc3 "x y" -> [x y]
    // counts: (a b)=4? no: bc(a b)=3, bc(b a)=1, bc(x y)=1
    // prefixes: pc(a)=3, pc(b)=1, pc(x)=1
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"),
      (4L, "q")).toDF("doc_id", "text")
    val got = QualityRules.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // doc1: ppms = [3e6/3=1000000, 1e6/1=1000000, 1000000] -> avg 1000000
    assert(got(1L) === ((3L, 1000000L)))
    // doc2: one bigram (a b): 3*1e6 div 3 = 1000000
    assert(got(2L) === ((1L, 1000000L)))
    // doc3: (x y): 1*1e6 div 1 = 1000000
    assert(got(3L) === ((1L, 1000000L)))
    // doc4: no bigram -> no row
    assert(!got.contains(4L))
    // discrimination: common phrasing beats a one-off continuation
    val corpus = (Seq((10L, "the quick fox"), (11L, "the quick fox"),
      (12L, "the quick fox"), (13L, "the slow fox")))
      .toDF("doc_id", "text")
    val s2 = QualityRules.bigramLmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s2(10L) > s2(13L),
      s"fluent ${s2(10L)} should beat rare ${s2(13L)}")
  }

  test("bigramSurprisalBits: floor-log2 bits match a hand trace") {
    // bigrams: "the quick"x3, "quick fox"x3, "the slow"x1, "slow fox"x1
    // prefixes: pc(the)=4, pc(quick)=3, pc(slow)=1
    val corpus = Seq((10L, "the quick fox"), (11L, "the quick fox"),
      (12L, "the quick fox"), (13L, "the slow fox"))
      .toDF("doc_id", "text")
    val got = QualityRules.bigramSurprisalBits(corpus, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc10: bits(the quick) = len(bin(4 div 3 = 1)) - 1 = 0,
    //        bits(quick fox) = len(bin(3 div 3 = 1)) - 1 = 0
    assert(got(10L) === ((2L, 0L, 0L)))
    // doc13: bits(the slow) = len(bin(4 div 1 = 4 = 100b)) - 1 = 2,
    //        bits(slow fox) = len(bin(1)) - 1 = 0 -> avg 2*1000 div 2
    assert(got(13L) === ((2L, 2L, 1000L)))
  }

  test("tokenDiversity: hand-computed TTR and Gini-Simpson ppm") {
    val docs = Seq(
      // "a a b": n=3, distinct=2, ttr=666666; sumsq=2^2+1=5,
      // gini = 1e6 - 5e6/9 = 1e6 - 555555 = 444445
      (1L, "a a b"),
      // all distinct: n=4, ttr=1e6, sumsq=4, gini = 1e6 - 250000 = 750000
      (2L, "w x y z"),
      // degenerate single repeated token: gini = 0 (1e6 - 9e6/9)
      (3L, "t t t")
    ).toDF("doc_id", "text")
    val r = QualityRules.tokenDiversity(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(1)).toSeq === Seq(3L, 4L, 3L)) // n_tokens
    assert(r.map(_.getLong(2)).toSeq === Seq(2L, 4L, 1L)) // distinct
    assert(r.map(_.getLong(3)).toSeq === Seq(666666L, 1000000L, 333333L))
    assert(r.map(_.getLong(4)).toSeq === Seq(444445L, 750000L, 0L))
  }

  test("piiStats: counts and masked sha match a hand-masked document") {
    val docs = Seq(
      (1L, "reach me at jo.na+x@sub.example.org or 192.168.0.1 ok"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = QualityRules.piiStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 1L)
    assert(r(1).getLong(1) == 0L && r(1).getLong(2) == 0L)
    val expected = spark.sql(
      "SELECT sha2('reach me at <EMAIL> or <IP> ok', 256)").head.getString(0)
    assert(r(0).getString(3) == expected)
    // unplanted text: masked sha == plain sha
    val plain = spark.sql(
      "SELECT sha2('no pii here at all', 256)").head.getString(0)
    assert(r(1).getString(3) == plain)
  }

  test("reservoirSample: exactly k per stratum, partitioning-invariant") {
    val docs = (1L to 200L).map(i => (i, if (i % 4 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val a = TrainPrep.reservoirSample(docs.repartition(1),
      "doc_id", "lang", k = 5, salt = "t")
    val b = TrainPrep.reservoirSample(docs.repartition(7),
      "doc_id", "lang", k = 5, salt = "t")
    val sa = a.select("doc_id", "lang", "rnk").orderBy("lang", "rnk")
      .collect().toSeq
    val sb = b.select("doc_id", "lang", "rnk").orderBy("lang", "rnk")
      .collect().toSeq
    assert(sa == sb) // same rows + same ranks regardless of partitioning
    assert(a.groupBy("lang").count().collect()
      .forall(_.getLong(1) == 5L))
    // output keeps the input schema (+rnk), no helper columns leak
    assert(a.columns.toSeq == Seq("doc_id", "lang", "rnk"))
  }

  test("perSeedDistances + harmonic on a path graph, hand-traced") {
    // path 1-2-3-4-5; seeds {1, 4}
    val sym = graft.graph.Edges.symmetrize(
      edgeDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))))
    val seeds = Seq(1L, 4L).toDF("vid")
    val d = Bfs.perSeedDistances(sym, seeds, maxHop = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(d == Set(
      (1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (4L, 4L, 0L), (4L, 3L, 1L), (4L, 5L, 1L), (4L, 2L, 2L),
      (4L, 1L, 3L)))
    // seed 1: 1/1 + 1/2 + 1/3 -> 1000000 + 500000 + 333333
    val hm = GraphStats.harmonicCentrality(sym, seeds, maxHop = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(hm(1L) == ((3L, 1833333L)))
    // seed 4: two at 1, one at 2, one at 3
    assert(hm(4L) == ((4L, 2833333L)))
  }

  test("sampleInduced: node-induced semantics, deterministic") {
    val e = edgeDF((1L to 40L).flatMap(i => Seq((i, i + 1), (i, i + 2))))
    val s1 = graft.graph.Edges.sampleInduced(e, "t", 500)
    val s2 = graft.graph.Edges.sampleInduced(e.repartition(5), "t", 500)
    val r1 = s1.as[(Long, Long)].collect().toSet
    assert(r1 == s2.as[(Long, Long)].collect().toSet) // partition-invariant
    assert(r1.nonEmpty && r1.size < 80) // a real half-ish sample
    // node-induced: the kept vertex set explains every surviving edge
    val kept = (1L to 42L).filter { v =>
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"t:$v".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(h, 16) % 1000 < 500
    }.toSet
    assert(r1.forall { case (a, b) => kept(a) && kept(b) })
    assert(e.as[(Long, Long)].collect()
      .filter { case (a, b) => kept(a) && kept(b) }.toSet == r1)
  }

  test("canonicalize: chains collapse transitively, singletons stay") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // 2~3 and 3~5: one cluster {2,3,5} even though 2 and 5 never paired
    val pairs = Seq((2L, 3L), (3L, 5L)).toDF("d1", "d2")
    val r = graft.text.Dedup.canonicalize(spark, docs, "doc_id", pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set(
      (1L, 1L, 1L), (2L, 2L, 1L), (3L, 2L, 0L),
      (4L, 4L, 1L), (5L, 2L, 0L)))
  }

  test("node2vecWalks: exact replay of an independent simulator") {
    // triangle {1,2,3} with a tail 3-4: exercises all three weights
    // (return, distance-1 via the triangle, distance-2 via the tail)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val eset = edges.toSet
    val adjMap = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).sorted }
    def sha60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    def pickStep(s: Int, walk: Long, prev: Long, cur: Long): Long = {
      val cands = adjMap(cur)
      val ws = cands.map(x =>
        if (x == prev) 1L
        else if (eset((math.min(prev, x), math.max(prev, x)))) 2L
        else 1L)
      val r = sha60(s"n2v:$walk:$s:$prev:$cur") % ws.sum
      val cum = ws.scanLeft(0L)(_ + _).tail
      cands(cum.indexWhere(r < _))
    }
    val expected = adjMap.keys.flatMap { v =>
      val first = adjMap(v)((sha60(s"n2v:$v:1:$v") % adjMap(v).size).toInt)
      val second = pickStep(2, v, v, first)
      val third = pickStep(3, v, first, second)
      Seq((v, 0L, v), (v, 1L, first), (v, 2L, second), (v, 3L, third))
    }.toSet
    val got = graft.kernels.RandomWalk.node2vecWalks(edgeDF(edges), 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("deep perSeedDistances compacts its reached set (path, 12 hops)") {
    val sym = graft.graph.Edges.symmetrize(
      edgeDF((1L to 12L).map(i => (i, i + 1))))
    val d = Bfs.perSeedDistances(sym, Seq(1L).toDF("vid"), maxHop = 12)
    assert(d.count() == 13L)
    assert(d.filter(col("vid") === 13L).head.getLong(2) == 12L)
  }

  test("BpeTrain.encode: hand-traced token counts after learned merges") {
    import graft.text.BpeTrain
    // vocab low:2, lower:1. r1: (l,o)=3 -> 'lo'; r2: (lo,w)=3 -> 'low'.
    // encode: low -> 1 symbol, lower -> [low,e,r] = 3
    val docs = Seq((1L, "low low lower"), (2L, "lower")).toDF("doc_id", "text")
    val got = BpeTrain.encode(docs, "doc_id", "text", 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((3L, 5L)), 2L -> ((1L, 3L))))
  }

  test("domainAffinity: target-unique grams score positive, raw negative") {
    import graft.text.TrainPrep
    val docs = Seq((1L, "x x", "en"), (2L, "y y", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TrainPrep.domainAffinity(docs, "doc_id", "text",
        col("lang") === "en").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 3L) // 2 unigrams + 1 bigram
    assert(got(1L)._2 > 0L, s"target doc score ${got(1L)._2}")
    assert(got(2L)._2 < 0L, s"raw doc score ${got(2L)._2}")
  }

  test("oovStats: deterministic vocabulary boundary and integer ppm") {
    import graft.text.TrainPrep
    // counts a:2 b:2 c:1 d:1 -> top-2 by (cnt desc, w) = {a, b}
    val docs = Seq((1L, "a a b"), (2L, "b c d")).toDF("doc_id", "text")
    val got = TrainPrep.oovStats(docs, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((3L, 0L, 0L)), 2L -> ((3L, 2L, 666666L))))
  }

  test("winsorize: exact-percentile clipping and tail flags") {
    import graft.text.TrainPrep
    // counts: 1 x4, 5 x4, 100, 200 -> cum(1)=4, cum(5)=8, cum(100)=9,
    // cum(200)=10; lo(p20): cum*100 >= 200 -> v=1; hi(p80): >= 800 -> v=5
    val vals = Seq(1L, 1L, 1L, 1L, 5L, 5L, 5L, 5L, 100L, 200L)
    val docs = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("doc_id", "n")
    val got = TrainPrep.winsorize(docs, "doc_id", col("n"), 20, 80)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(8L) == ((100L, 5L, 1L)))
    assert(got(9L) == ((200L, 5L, 1L)))
    assert(got(0L) == ((1L, 1L, 0L)))
    assert(got(4L) == ((5L, 5L, 0L)))
  }

  test("lengthBucketBatches: hand-traced buckets, capacity, padding") {
    import graft.text.TrainPrep
    // token counts 1,100,128 -> bucket 128 (capacity 2); 129,200 ->
    // bucket 256 (capacity 1)
    val docs = Seq((1L, 1L), (2L, 100L), (3L, 128L), (4L, 129L),
      (5L, 200L)).toDF("doc_id", "n")
    val got = TrainPrep.lengthBucketBatches(docs, "doc_id", col("n"),
        bucketWidth = 128, batchTokens = 256).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      (128L, 0L) -> ((2L, 101L, 155L)),
      (128L, 1L) -> ((1L, 128L, 0L)),
      (256L, 0L) -> ((1L, 129L, 127L)),
      (256L, 1L) -> ((1L, 200L, 56L))))
  }

  test("cohen's kappa: hand-computed table, perfect and inverse cases") {
    def kappa(rows: Seq[(Long, Long)]): (Long, Long, Long, Long, Long,
        Long, Long, Long) = {
      val r = QualityRules.agreementKappa(rows.toDF("a", "b"),
        col("a"), col("b")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    }
    // n=10: n00=4, n01=1, n10=2, n11=3 -> po .70, pe .50, kappa .40
    val mixed = Seq.fill(4)((0L, 0L)) ++ Seq((0L, 1L)) ++
      Seq.fill(2)((1L, 0L)) ++ Seq.fill(3)((1L, 1L))
    assert(kappa(mixed) ===
      ((10L, 4L, 1L, 2L, 3L, 700000L, 500000L, 400000L)))
    // perfect agreement on a balanced table -> kappa 1.0
    val perfect = Seq.fill(5)((0L, 0L)) ++ Seq.fill(5)((1L, 1L))
    assert(kappa(perfect)._8 === 1000000L)
    // systematic disagreement -> kappa -1.0 (negative path exercises
    // the truncating-div sign handling the oracle decomposes)
    val inverse = Seq.fill(5)((0L, 1L)) ++ Seq.fill(5)((1L, 0L))
    assert(kappa(inverse)._8 === -1000000L)
  }

  test("char-distribution OOD: L1 ppm vs corpus histogram, hand case") {
    val docs = Seq((1L, "aaab"), (2L, "abbb"), (3L, "1234 !!")) // 3: no letters
      .toDF("doc_id", "text")
    val got = QualityRules.charDistributionOod(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // corpus over letter-bearing docs: a=4, b=4, total 8 -> 500000 each
    // doc1: a=750000, b=250000 -> |250000| + |250000| = 500000
    assert(got(1L) === ((4L, 500000L)))
    assert(got(2L) === ((4L, 500000L)))
    assert(!got.contains(3L)) // no letters: excluded, not divided-by-zero
    // a doc matching the corpus distribution scores 0
    val bal = Seq((1L, "ab"), (2L, "ab")).toDF("doc_id", "text")
    QualityRules.charDistributionOod(bal, "doc_id", "text")
      .collect().foreach(r => assert(r.getLong(2) === 0L))
  }

  test("curriculum order: best bin first, sha-shuffled within, dense rank") {
    val docs = Seq((1L, 900000L), (2L, 100000L), (3L, 920000L),
      (4L, 150000L), (5L, 500000L)).toDF("doc_id", "s")
    val got = TrainPrep.curriculumOrder(spark, docs, "doc_id", col("s"),
        bins = 8, partitions = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // bins: 900000*8 div 1000001 = 7, 920000 -> 7; 500000 -> 3;
    // 100000 -> 0, 150000 -> 1
    assert(got(1L)._1 === 7L && got(3L)._1 === 7L)
    assert(got(5L)._1 === 3L)
    assert(got(2L)._1 === 0L && got(4L)._1 === 1L)
    // single-threaded replay of the packed-key total order
    val expect = Seq(1L -> 7L, 2L -> 0L, 3L -> 7L, 4L -> 1L, 5L -> 3L)
      .map { case (id, bin) =>
        id -> ((7L - bin) * (1L << 60) + Oracles.sha60(s"cur:$id"))
      }.sortBy { case (id, key) => (key, id) }.map(_._1)
    expect.zipWithIndex.foreach { case (id, idx) =>
      assert(got(id)._2 === idx.toLong, s"doc $id")
    }
  }

  test("gopherGates: each rule fails on its own counterexample") {
    // docA passes everything: 30 words (2 stopwords + 28 distinct
    // 5-char fillers), mean len 144/30 = 4.8 (boundary, inclusive),
    // maxtok 1*5 <= 30
    val fillers = (1 to 28).map(i => f"wrd$i%02d").mkString(" ")
    val docA = s"the a $fillers"
    val docB = "the a x" // 3 words: fails words, meanlen, rep
    // 32 words, 153 chars, mean 4.78 <= 4.8; no stopwords: fails stop
    val docC = s"zz yy $fillers xtra1 xtra"
    val docs = Seq((1L, docA), (2L, docB), (3L, docC))
      .toDF("doc_id", "text")
    val got = QualityRules.gopherGates(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got(1L) === ((1L, 1L, 1L, 1L, 1L)))
    assert(got(2L) === ((0L, 0L, 1L, 0L, 0L)))
    assert(got(3L) === ((1L, 1L, 0L, 1L, 0L)))
  }

  test("textrank: hand-traced 3 ppm rounds on a two-edge token graph") {
    import graft.text.TextRank
    // graph a-b (w 9) and a-c (w 9): wout a 18, b 9, c 9. Round 1:
    // r_a = 0.15 + 0.85*2.0 = 1.85, r_b = r_c = 0.15 + 0.85*0.5 = 0.575
    // (all in ppm with integer div); rounds 2-3 traced the same way
    val d = Seq((1L, "a b a b a b a b a b"), (2L, "a c a c a c a c a c"))
      .toDF("doc_id", "text")
    val got = TextRank.keywords(d, "doc_id", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map("a" -> ((1741625L, 1L)), "b" -> ((629187L, 2L)),
      "c" -> ((629187L, 3L))))
  }

  test("span corruption: sha-replayed spans, union of overlaps, target") {
    import graft.text.SpanCorrupt
    val text = (0 until 12).map(i => s"t$i").mkString(" ")
    val starts = (0L to 9L)
      .filter(p => Math.floorMod(Oracles.sha60(s"sc:1:$p"), 100L) < 8L)
    val masked = starts.flatMap(p => p until p + 3).toSet
    val got = SpanCorrupt.pairs(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text")
      .head()
    assert(got.getLong(1) === 12L)
    assert(got.getLong(2) === masked.size.toLong)
    assert(got.getString(3) === (0 until 12)
      .map(i => if (masked(i.toLong)) "_" else s"t$i").mkString(" "))
    assert(got.getString(4) === (0 until 12)
      .filter(i => masked(i.toLong)).map(i => s"t$i").mkString(" "))
  }

  test("kneser-ney: hand-traced milli probabilities and continuation counts") {
    // "a b a b a c": bigrams (a,b)x2 (b,a)x2 (a,c)x1; c1(a)=3 n1plus(a)=2,
    // c1(b)=2 n1plus(b)=1; n1pre = 1 for a,b,c; B = 3 types.
    // pkn(a,b) = (2000-750) div 3 + (1500 div 3)*(333) div 1000 = 416+166
    // pkn(a,c) = (1000-750) div 3 + 166 = 83+166
    // pkn(b,a) = (2000-750) div 2 + (750 div 2)*333 div 1000 = 625+124
    val d = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val got = QualityRules.knBigram(d, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      ("a", "b") -> ((2L, 582L, 1L)),
      ("a", "c") -> ((1L, 249L, 2L)),
      ("b", "a") -> ((2L, 749L, 1L))))
  }

  test("naive bayes: hand-traced integer log-count-ratio weights") {
    import graft.text.NaiveBayes
    // class 1: spam x3, buy x3 (T1 = 6, N1 = 2); class 0: ham x3,
    // nice x3 (T0 = 6, N0 = 2); V = 4. w(spam) = bits(4*10) - bits(1*10)
    // = 5 - 3 = 2 (w(buy) same); w(ham) = w(nice) = -2; prior 0. Every
    // doc scores +-6 -> perfect diagonal confusion
    val d = Seq((1L, "spam spam buy", 1L), (2L, "spam buy buy", 1L),
      (3L, "ham ham nice", 0L), (4L, "ham nice nice", 0L))
      .toDF("doc_id", "text", "y")
    val got = NaiveBayes.confusion(d, "doc_id", "text", col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 2L), (0L, 0L, 2L)))
  }

  test("decision stump: exact Gini argmin, per-feature winners, ranks") {
    import graft.text.DecisionStump
    // f1 separates perfectly at <= 2; f2 is uninformative (50/50 split)
    val ft = Seq((0L, 1L, 5L), (0L, 2L, 6L), (1L, 3L, 5L), (1L, 4L, 6L))
      .toDF("y", "f1", "f2")
    val got = DecisionStump.train(ft, Seq("f1", "f2"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // f1 <= 2: both sides pure, score 0, acc 1.0, best split overall
    assert(got("f1") === ((2L, 0L, 1000000L, 1L)))
    // f2 <= 5: (4-1-1)*1e9/2 per side = 2e9; acc 0.5; ranked after the
    // three f1 splits (0, 1333333333, 1333333333)
    assert(got("f2") === ((5L, 2000000000L, 500000L, 4L)))
  }

  test("dedup savings: cluster-size histogram with chars saved") {
    import graft.text.Dedup
    // "aa" x3 (2 copies removed, 4 chars), "bbb" x1, "cc" x2 (1 copy, 2)
    val docs = Seq((1L, "aa"), (2L, "aa"), (3L, "aa"), (4L, "bbb"),
      (5L, "cc"), (6L, "cc")).toDF("doc_id", "text")
    val got = Dedup.dedupSavings(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(3L -> ((1L, 3L, 4L)), 1L -> ((1L, 1L, 0L)),
      2L -> ((1L, 2L, 2L))))
  }

  test("pack audit: spanners, spilled tokens, fill ppm on a hand layout") {
    // capacity 4, docs of 3/3/2 tokens at starts 0/3/6: doc2 spans
    // (offset 3 + 3 > 4, spills 2), doc3 spans (2 + 2 > 4 is false:
    // offset 6 pmod 4 = 2, 2+2 = 4 not > 4). n_bins = max(bin)+1 = 2;
    // fill = 8 tokens / 8 slots = 1e6
    val docs = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h"))
      .toDF("doc_id", "text")
    val packed = TrainPrep.sequentialPack(spark, docs, "doc_id",
      graft.text.TextFunctions.tokenCount(col("text")), capacity = 4)
    val r = TrainPrep.packAudit(packed, 4).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((2L, 3L, 1L, 8L, 2L, 1000000L)))
  }

  test("nb gains: per-score-band histogram, cumulative capture") {
    import graft.text.NaiveBayes
    // same fixture as the confusion test: spam docs score +6, ham -6
    val d = Seq((1L, "spam spam buy", 1L), (2L, "spam buy buy", 1L),
      (3L, "ham ham nice", 0L), (4L, "ham nice nice", 0L))
      .toDF("doc_id", "text", "y")
    val got = NaiveBayes.gains(d, "doc_id", "text", col("y"))
      .orderBy(col("score").desc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (6L, 2L, 2L, 2L, 2L, 1000000L, 1000000L),
      (-6L, 2L, 0L, 4L, 2L, 0L, 1000000L)))
  }

  test("block cohesion: adjacent-block jaccard ppm and boundary flag") {
    // doc1 blocks {a,b,c}|{a,b,d}: inter 2 / union 4 -> 500000, cohesive;
    // doc2 blocks disjoint -> 0 ppm, boundary; doc3 single block -> no row
    val docs = Seq((1L, "a b c a b d"), (2L, "x y z p q r"), (3L, "m n"))
      .toDF("doc_id", "text")
    val got = QualityRules.blockCohesion(docs, "doc_id", "text",
        blockTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 0L, 500000L, false),
      (2L, 0L, 0L, true)))
  }

  test("tokenizer fertility: per-language floor-ppm sub-tokens per word") {
    // doc1 'en' (3 marker hits): 4 words, 4 BPE pieces -> 1e6 ppm;
    // doc2 'de': 3/3 -> 1e6; doc3 'und': 2 words, 3 pieces (zz,!,qq)
    // -> 1500000 ppm
    val docs = Seq((1L, "the the of x"), (2L, "der die qq"),
      (3L, "zz! qq")).toDF("doc_id", "text")
    val got = QualityRules.tokenizerFertility(docs, "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "en" -> ((1L, 4L, 4L, 1000000L)),
      "de" -> ((1L, 3L, 3L, 1000000L)),
      "und" -> ((1L, 2L, 3L, 1500000L))))
  }

  test("max token run: islands per doc, argmax ties to lower token") {
    val docs = Seq((1L, "a a a b b"), (2L, "x x y y"), (3L, "a b a b"))
      .toDF("doc_id", "text")
    // minRun=3: only doc1's a-run qualifies
    val g3 = QualityRules.maxTokenRun(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(g3.toSeq === Seq((1L, "a", 3L)))
    // minRun=2: doc2 ties x/y at 2 -> lexically lower token wins; doc3
    // has no consecutive repeat at all
    val g2 = QualityRules.maxTokenRun(docs, "doc_id", "text", minRun = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(g2.toSeq === Seq((1L, "a", 3L), (2L, "x", 2L)))
  }

  test("split drift: ppm gaps and TV agree with a replayed assignment") {
    // the sha-side of hashSplit is oracled by q48; here replay the
    // assignment with the same Column and check the drift arithmetic
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "aa bb" else "aa cc")).toDF("doc_id", "text")
    val assigned = docs
      .select(col("doc_id"), TrainPrep.hashSplit("doc_id", "s1").as("split"),
        col("text"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    def ppm(split: String, tok: String): Long = {
      val toks = assigned.filter(_._1 == split)
        .flatMap(_._2.split("\\s+"))
      if (toks.isEmpty) 0L
      else toks.count(_ == tok).toLong * 1000000L / toks.length
    }
    val toks = Seq("aa", "bb", "cc")
    val expTv = toks.map(t => math.abs(ppm("train", t) - ppm("val", t)))
      .sum / 2
    val got = TrainPrep.splitDrift(docs, "doc_id", "text", topK = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.length === 3)
    got.foreach { case (t, tr, va, d, tv) =>
      assert(tr === ppm("train", t))
      assert(va === ppm("val", t))
      assert(d === math.abs(tr - va))
      assert(tv === expTv)
    }
    // rows ordered by gap desc then token
    assert(got.map(r => (-r._4, r._1)).toSeq === got.map(r => (-r._4, r._1))
      .sorted.toSeq)
  }

  test("lorenzDeciles: hand-traced deciles and Gini; uniform gives zero") {
    // values 1..4: T=10, S=1+4+9+16=30, G=(2*30-5*10)/(4*10)=0.25
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("doc_id", "n_chars")
    val got = TrainPrep.lorenzDeciles(df, "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    // ranks land in deciles 2, 4, 7, 9 ((d·4 div 10, (d+1)·4 div 10])
    assert(got.map(_._1).toSeq === Seq(2L, 4L, 7L, 9L))
    assert(got.map(_._3).toSeq === Seq(1L, 2L, 3L, 4L)) // mass per decile
    assert(got.map(_._5).toSeq ===
      Seq(100000L, 300000L, 600000L, 1000000L)) // cumulative share
    assert(got.forall(_._6 === 250000L))
    // identical values: perfect equality, Gini exactly 0
    val flat = (1L to 10L).map((_, 5L)).toDF("doc_id", "n_chars")
    val g0 = TrainPrep.lorenzDeciles(flat, "n_chars").collect()
    assert(g0.forall(_.getLong(5) === 0L))
    assert(g0.map(_.getLong(1)).sum === 10L) // every rank in some decile
  }

  test("heapsLedger: trigram first-occurrence buckets, hand-traced") {
    val docs = Seq(
      (0L, "a b c d"), // grams: "a b c", "b c d"
      (1L, "a b c"),   // nothing new
      (2L, "x y z"),   // "x y z"
      (3L, "p q")      // too short, no trigram
    ).toDF("doc_id", "text")
    val got = TrainPrep.heapsLedger(docs, "doc_id", "text", n = 3,
        bucket = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === Seq((0L, 0L, 1L, 2L, 2L), (1L, 2L, 3L, 1L, 3L)))
  }

  test("NB calibration: band accounting, conf formula, ECE recompute") {
    import graft.text.NaiveBayes
    // two clearly separable classes so both labels appear
    val docs = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) "spam spam offer" else "hello world again"))
      .toDF("doc_id", "text")
    val label = (col("text").contains("spam")).cast("long")
    val got = NaiveBayes.calibration(docs, "doc_id", "text", label)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.map(_._2).sum === 30L) // every doc in exactly one band
    got.foreach { case (s, n, nc, conf, acc, gap, _) =>
      assert(nc <= n)
      val m = math.min(math.abs(s), 20L)
      assert(conf === 1000000L * (1L << m) / ((1L << m) + 1L))
      assert(acc === 1000000L * nc / n)
      assert(gap === math.abs(conf - acc))
    }
    // constant ECE column equals the n-weighted mean gap
    val ece = got.map(r => r._2 * r._6).sum / got.map(_._2).sum
    assert(got.forall(_._7 === ece))
    // the separable corpus self-classifies perfectly
    assert(got.map(_._3).sum === 30L)
  }

  test("kAnonymityRisk: risky groups and corpus share, hand-traced") {
    // QI (lang, bucket): (en,0) x4 safe; (en,1) x2, (de,0) x1 risky
    val df = Seq(("en", 0L), ("en", 0L), ("en", 0L), ("en", 0L),
      ("en", 1L), ("en", 1L), ("de", 0L)).toDF("lang", "b")
    val got = QualityRules.kAnonymityRisk(df, Seq("lang", "b"), k = 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // risk = 3 of 7 docs -> 428571 ppm
    assert(got === Set(("en", 1L, 2L, 428571L), ("de", 0L, 1L, 428571L)))
    // k=1 finds nothing (every group has at least itself)
    assert(QualityRules.kAnonymityRisk(df, Seq("lang", "b"), 1L)
      .count() === 0L)
  }

  test("lDiversityRisk: under-diverse groups and corpus share, hand-traced") {
    // (en,0): 3 docs over sources a/b/c — diverse at l=3, safe;
    // (en,1): 2 docs, one source — risky; (de,0): 2 docs, two sources — risky
    val df = Seq(("en", 0L, "a"), ("en", 0L, "b"), ("en", 0L, "c"),
      ("en", 1L, "a"), ("en", 1L, "a"), ("de", 0L, "a"), ("de", 0L, "b"))
      .toDF("lang", "b", "src")
    val got = QualityRules.lDiversityRisk(df, Seq("lang", "b"), "src", 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // risky docs 4 of 7 -> 571428 ppm
    assert(got === Set(("en", 1L, 2L, 1L, 571428L),
      ("de", 0L, 2L, 2L, 571428L)))
    // l=1 finds nothing (every group spans at least one value)
    assert(QualityRules.lDiversityRisk(df, Seq("lang", "b"), "src", 1L)
      .count() === 0L)
  }

  test("looSourceValue: hand-traced LOO weights on the two-source fixture") {
    import graft.text.NaiveBayes
    // the confusion-test fixture split across two sources; holding out
    // either source halves every count symmetrically. Hand trace for
    // held-out B (t1s=t0s=3, n1s=n0s=1, no exclusive vocab -> vloo=4):
    // w(spam)=bits(3*7)-bits(1*7)=+2, w(buy)=bits(2*7)-bits(7)=+1,
    // w(ham)=-2, w(nice)=-1, prior 0 -> doc1 scores +5, doc3 -5; the
    // held-out docs (2, 4) leave the eval. A is symmetric.
    val d = Seq((1L, "spam spam buy", 1L, "A"), (2L, "spam buy buy", 1L, "B"),
      (3L, "ham ham nice", 0L, "A"), (4L, "ham nice nice", 0L, "B"))
      .toDF("doc_id", "text", "y", "src")
    val got = NaiveBayes.looSourceValue(d, "doc_id", "text", "src", col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(("A", 1L, 1L, 1L), ("A", 0L, 0L, 1L),
      ("B", 1L, 1L, 1L), ("B", 0L, 0L, 1L)))
  }

  test("blocklistGate: hit accounting and keep threshold") {
    val docs = Seq((1L, "fast scan slow error slow"), // 2 slow+1 error of 5
      (2L, "fast scan merge")).toDF("doc_id", "text")
    val got = QualityRules.blocklistGate(docs, "doc_id", "text",
        Seq("error", "slow", "fail"), thresholdPpm = 500000L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) === ((5L, 3L, 600000L, false)))
    assert(got(2L) === ((3L, 0L, 0L, true)))
  }

  test("ndcgAtK: hand-traced DCG/IDCG/MRR; empty when nothing relevant") {
    import graft.text.TfIdf
    val scored = Seq((1L, 2L, 100L), (2L, 0L, 90L), (3L, 1L, 80L),
      (4L, 3L, 10L)).toDF("doc_id", "rel", "score")
    val got = TfIdf.ndcgAtK(scored, "doc_id", "rel", "score", k = 3)
      .collect()
    assert(got.length === 1)
    val r = got.head
    // actual top-3: rels 2,0,1 -> 2*1000000 + 0 + 1*500000 = 2500000
    // ideal top-3:  rels 3,2,1 -> 3000000 + 2*630929 + 500000 = 4761858
    assert(r.getLong(0) === 2500000L)
    assert(r.getLong(1) === 4761858L)
    assert(r.getLong(2) === 2500000L * 1000000L / 4761858L)
    assert(r.getLong(3) === 1000000L)
    val dead = scored.withColumn("rel", lit(0L))
    assert(TfIdf.ndcgAtK(dead, "doc_id", "rel", "score", 3).count() === 0L)
  }

  test("codeSwitch: mixed-language doc flagged, tie breaks to larger") {
    val en = "the a of and to in is it " * 4 // 32 tokens, langid en
    val de = "der die das und ist nicht der die " * 4 // 32 tokens, de
    val docs = Seq((1L, (en + de).trim), (2L, (en + en).trim))
      .toDF("doc_id", "text")
    val got = QualityRules.codeSwitch(docs, "doc_id", "text", seg = 32)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))).toMap
    // doc 1: one en segment + one de segment; 1-1 tie -> 'en' > 'de'
    assert(got(1L) === ((2L, 2L, "en", 500000L)))
    assert(got(2L) === ((2L, 1L, "en", 0L)))
  }
}
