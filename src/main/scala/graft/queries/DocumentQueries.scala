package graft.queries

import graft.multimodal.Multimodal
import graft.text.{Dedup, TextFunctions => TF}
import graft.queries.Common._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries over the `documents` table: text analysis, dedup,
  * training-data preparation and the multimodal payload path. */
object DocumentQueries {
  val all: Seq[Q] = Seq(
    // -- documents: text analysis / dedup (training-data ops) --
    Q("q15_sha_invariant", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        sha2(col("text"), 256).as("sha")),
      Sql("SELECT doc_id, sha256(text) AS sha FROM documents")),
    Q("q16_dedup_exact", (s, d) =>
      Dedup.exactGroups(T(s, d, "documents"), "doc_id", "text"),
      Sql("""SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin)),
    // Exact all-pairs n-gram Jaccard — the quadratic exactness baseline
    // for q26's LSH scale path. Runs on a deterministic sha-sampled doc
    // slice (~1/4 of docs → ~1/16 of the pair work): exactness on the
    // slice is preserved and the oracle applies the identical slice, but
    // the suite no longer pays the full quadratic wall (r4: 154 s = 11%
    // of the suite) for a baseline whose scale twin is hash-matched.
    Q("q17_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccard(
        T(s, d, "documents").filter(
          conv(substring(sha2(concat(lit("q17:"),
            col("doc_id").cast("string")), 256), 1, 4), 16, 10)
            .cast("long") % 4 === 0),
        "doc_id", "text", 3, 0.65)
        .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard")),
      // identical sha slice as the Spark side: ~1/4 of docs, exact on the slice
      Sql("""WITH docs AS (SELECT doc_id, text FROM documents
        |  WHERE CAST(('0x' || substr(sha256('q17:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 4 = 0),
        |pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i FROM docs),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
        |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
        |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.65""".stripMargin)),
    Q("q18_tokens", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens")),
      Sql("""SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents""".stripMargin)),
    Q("q19_quality", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        round(TF.avgTokenLen(col("text")), 6).as("avg_token_len"),
        round(TF.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TF.alphaRatio(col("text")), 6).as("alpha_ratio")),
      Sql("""SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |       / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len,
        | round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |       / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stopword_ratio,
        | round(CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
        |       / length(text), 6) AS alpha_ratio
        |FROM documents""".stripMargin)),
    Q("q20_langid", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.langId(col("text")).as("lang_pred")),
      Sql("""SELECT doc_id,
        | CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |      WHEN d >= f AND d > 0 THEN 'de'
        |      WHEN f > 0 THEN 'fr'
        |      ELSE 'und' END AS lang_pred
        |FROM (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f
        |FROM documents)""".stripMargin)),
    Q("q21_fingerprint", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.fingerprint(col("text")).as("fp")),
      Sql("""SELECT doc_id, sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents""".stripMargin)),

    // the composite corpus filter a pretraining pipeline actually runs:
    // exact-dedup keepers ∧ language ∧ quality thresholds, in one pass
    Q("q55_corpus_filter", (s, d) => {
      val docs = T(s, d, "documents")
      val keep = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keeper").as("doc_id"))
      docs.join(keep, "doc_id")
        .select(col("doc_id"), TF.langId(col("text")).as("lang"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.alphaRatio(col("text")).as("alpha"))
        .filter(col("lang") === "en" && col("n_tokens") >= 10 &&
          col("alpha") >= 0.4)
        .select(col("doc_id"), col("n_tokens"))
    },
      Sql("""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |q AS (SELECT d.doc_id,
        |  CASE WHEN e >= g AND e >= f AND e > 0 THEN 'en'
        |       WHEN g >= f AND g > 0 THEN 'de'
        |       WHEN f > 0 THEN 'fr' ELSE 'und' END AS lang,
        |  n_tokens, alpha
        |  FROM (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('der','die','das','und','ist','nicht'))) AS g,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('le','la','les','et','est','que'))) AS f,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha
        |    FROM documents) d
        |  JOIN k ON d.doc_id = k.doc_id)
        |SELECT doc_id, n_tokens FROM q
        |WHERE lang = 'en' AND n_tokens >= 10 AND alpha >= 0.4""".stripMargin)),

    // -- multimodal: binary column + stubbed per-partition decode --
    Q("q25_mm_decode", (s, d) =>
      Multimodal.decodeFrames(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media")
        .toDF().select(col("id").as("doc_id"), col("width"),
          col("height"), col("first_byte")),
      Sql("""SELECT doc_id,
        | 16 + octet_length(encode(text)) % 48 AS width,
        | 16 + (CAST(ascii(substr(text, 1, 1)) AS BIGINT) + octet_length(encode(text))) % 48 AS height,
        | CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents""".stripMargin)),

    // multimodal preprocessing: decode -> aspect-preserving resize into a
    // 32x32 bounding box (geometry oracled; pixel rescale is the stubbed
    // codec's job)
    Q("q51_mm_resize", (s, d) =>
      Multimodal.resizeFrames(
          Multimodal.decodeFrames(s,
            Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
            "id", "media"),
          maxW = 32, maxH = 32)
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"), col("scale")),
      Sql("""WITH f AS (SELECT doc_id,
        |  16 + octet_length(encode(text)) % 48 AS width,
        |  16 + (CAST(ascii(substr(text, 1, 1)) AS BIGINT)
        |        + octet_length(encode(text))) % 48 AS height
        |  FROM documents),
        |sc AS (SELECT doc_id, width, height,
        |  least(CAST(32.0 AS DOUBLE) / width, CAST(32.0 AS DOUBLE) / height,
        |        CAST(1.0 AS DOUBLE)) AS s
        |  FROM f)
        |SELECT doc_id, width, height,
        |  greatest(CAST(floor(width * s) AS BIGINT), 1) AS out_width,
        |  greatest(CAST(floor(height * s) AS BIGINT), 1) AS out_height,
        |  round(s, 6) AS scale
        |FROM sc""".stripMargin)),

    // multimodal feature extraction: 8 chunk-mean byte intensities per
    // payload (long format: one row per (doc, feature index))
    Q("q52_mm_features", (s, d) =>
      Multimodal.extractFeatures(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media")
        .toDF()
        .select(col("id").as("doc_id"),
          posexplode(col("features")).as(Seq("j", "f")))
        .select(col("doc_id"), col("j").cast("long").as("j"),
          round(col("f"), 6).as("f")),
      Sql("""WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(range(8)) AS j FROM b),
        |i AS (SELECT doc_id, len, text, unnest(range(0, len)) AS p FROM b),
        |v AS (SELECT doc_id,
        |             CAST(floor(p / greatest(ceil(len / 8.0), 1)) AS BIGINT) AS j,
        |             CAST(ascii(substr(text, CAST(p + 1 AS INT), 1)) AS DOUBLE) AS byte
        |      FROM i),
        |m AS (SELECT doc_id, j, avg(byte) / 255.0 AS f FROM v GROUP BY 1, 2)
        |SELECT g.doc_id, g.j,
        |       round(CAST(coalesce(m.f, 0.0) AS DOUBLE), 6) AS f
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id AND g.j = m.j""".stripMargin)),

    // multimodal frame sampling: every 4th 32-byte frame of the payload
    Q("q41_mm_frames", (s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.asBinary(T(s, d, "documents"), "doc_id", "text"),
          "id", "media", frameSize = 32, stride = 4)
        .toDF().select(col("id").as("doc_id"), col("frame_idx"),
          col("offset"), col("frame_len"), col("first_byte")),
      Sql("""WITH f AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |idx AS (SELECT doc_id, text, len,
        |               unnest(range(0, CAST(ceil(len / 32.0) AS BIGINT), 4)) AS i
        |        FROM f)
        |SELECT doc_id, i AS frame_idx, i * 32 AS offset,
        |       least(32, len - i * 32) AS frame_len,
        |       CAST(ascii(substr(text, CAST(i * 32 + 1 AS INT), 1)) AS BIGINT) AS first_byte
        |FROM idx""".stripMargin)),
    // BPE-ish regex token counts
    Q("q34_tokens_bpe", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TF.tokenCountBpe(col("text")).as("n_bpe_tokens")),
      Sql("""SELECT doc_id,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
        |   AS n_bpe_tokens
        |FROM documents""".stripMargin)),
    // oracle-parity SimHash: sha-based 60-bit token hash (xxhash64 has no
    // DuckDB counterpart; the fast path keeps xxhash64 — TextSimSpec)
    Q("q27_simhash", (s, d) =>
      Dedup.simHash(T(s, d, "documents"), "doc_id", "text",
        bits = 60, tokenHash = Dedup.shaTokenHash60)
        .select(col("id").as("doc_id"), col("simhash")),
      // SimHash over the shared sha256-based 60-bit token hash: bit j of the
      // fingerprint = sign of the per-token (2*bit_j - 1) sum
      Sql("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substr(sha256(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |b AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
        |      FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |FROM b GROUP BY 1""".stripMargin)),
    // SimHash near-duplicate pairs via pigeonhole multi-probe (bands =
    // maxHamming+1, so every pair within the radius shares an exact band
    // — the banded join is EXACT at this radius, hence hash-oracle-able)
    Q("q54_simhash_neardup", (s, d) =>
      Dedup.simHashNearDup(T(s, d, "documents"), "doc_id", "text",
        maxHamming = 3, bits = 60, tokenHash = Dedup.shaTokenHash60,
        maxBucket = Int.MaxValue), // cap off => strictly pigeonhole-exact
      // exact all-pairs Hamming over the same sha-based fingerprints — the
      // pigeonhole multi-probe must reproduce it exactly at radius 3
      Sql("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substr(sha256(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |b AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
        |      FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM b GROUP BY 1)
        |SELECT a.doc_id AS d1, c.doc_id AS d2,
        |       CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3""".stripMargin)),

    // sequential token packing (concat-and-chunk): which 512-token bin
    // does each doc start in, and at what offset — two-phase global cumsum
    Q("q47_pack", (s, d) =>
      graft.text.TrainPrep.sequentialPack(s, T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")), capacity = 512),
      Sql("""WITH t AS (SELECT doc_id,
        |                  len(regexp_split_to_array(trim(text), '\s+')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n,
        |             CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
        |      FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(floor(strt / 512.0) AS BIGINT) AS bin,
        |       strt % 512 AS bin_offset
        |FROM c""".stripMargin)),

    // deterministic sha-keyed train/val/test split (80/10/10)
    Q("q48_split", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        graft.text.TrainPrep.hashSplit("doc_id", "s1").as("split")),
      Sql("""SELECT doc_id,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |       AS BIGINT) % 100 AS h
        |FROM documents)""".stripMargin)),

    // intra-document repetition: sentence counts before/after dedup
    Q("q49_intradoc", (s, d) => {
      val sents = split(col("text"), "\\. ")
      T(s, d, "documents").select(col("doc_id"),
        size(sents).cast("long").as("n_sent"),
        size(array_distinct(sents)).cast("long").as("n_uniq"),
        round(lit(1.0) -
          size(array_distinct(sents)).cast("double") / size(sents), 6)
          .as("dup_ratio"))
    },
      Sql("""WITH s AS (SELECT doc_id, string_split(text, '. ') AS sents
        |           FROM documents)
        |SELECT doc_id, len(sents) AS n_sent,
        |       len(list_distinct(sents)) AS n_uniq,
        |       round(1.0 - CAST(len(list_distinct(sents)) AS DOUBLE)
        |             / len(sents), 6) AS dup_ratio
        |FROM s""".stripMargin)),

    // oracle-parity MinHash-LSH near-dup pairs (promoted from rows-only in
    // round 3): permutations are seeded sha256 hashes (shaSeededHash60) so
    // DuckDB computes the identical signatures, band keys are compared
    // relationally in the oracle, the hot-bucket cap is off (strict LSH
    // semantics), and the threshold is applied INSIDE minHashLsh — nothing
    // below it is ever materialized (the round-2 bench ran threshold 0.0
    // and eagerly checkpointed the whole unfiltered candidate set).
    // Measured recall vs exact Jaccard stays asserted in TextSimSpec
    // ("LSH defaults") — off the bench path.
    Q("q26_minhash_lsh", (s, d) =>
      Dedup.minHashLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
        .select(col("d1"), col("d2"),
          round(col("est_jaccard"), 4).as("est_jaccard")),
      // oracle-parity MinHash-LSH: identical seeded-sha signatures (min of
      // sha256("j:" || shingle) top-60-bits per permutation j), band keys
      // compared RELATIONALLY (list equality per band of 4), distinct
      // colliding pairs, est = equal components / 16 — the exact relational
      // replay of Dedup.minHashLsh(hashFn = shaSeededHash60, cap off)
      Sql(s"""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS (SELECT doc_id, j,
        |              min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |$MH_BANDS,
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2)
        |SELECT d1, d2, round(est, 4) AS est_jaccard FROM eq
        |WHERE est >= 0.7""".stripMargin)),

    // deterministic stratified downsampling: balance languages to the
    // smallest stratum's row count via sha-keyed keep decisions — fully
    // reproducible corpus mixing (every doc's fate is a pure function of
    // (salt, doc_id, per-lang counts))
    Q("q60_stratified_sample", (s, d) => {
      val docs = T(s, d, "documents")
      val fr = graft.text.TrainPrep
        .mixtureStats(docs, "lang", TF.tokenCount(col("text")))
        .select(col("stratum"), col("keep_ppm"))
      graft.text.TrainPrep
        .stratifiedSample(docs, "doc_id", "lang", fr, salt = "mix")
        .select(col("doc_id"), col("lang"))
    },
      // stratified sample: keep a doc iff sha256("mix:" || doc_id) mod 1e6
      // clears its language's keep_ppm (min-stratum balancing fractions)
      Sql("""WITH st AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |fr AS (SELECT lang,
        |              (SELECT min(n_docs) FROM st) * 1000000 // n_docs AS keep_ppm
        |       FROM st)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN fr ON d.lang = fr.lang
        |WHERE CAST(('0x' || substr(sha256('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < fr.keep_ppm""".stripMargin)),
    // per-language mixture statistics + balancing keep-fractions (the
    // input table of q60, exposed as its own operator)
    Q("q61_mixture", (s, d) =>
      graft.text.TrainPrep.mixtureStats(T(s, d, "documents"), "lang",
        TF.tokenCount(col("text"))),
      Sql("""WITH st AS (SELECT lang AS stratum, count(*) AS n_docs,
        |                   CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |            FROM documents GROUP BY 1)
        |SELECT stratum, n_docs, n_tokens,
        |       (SELECT min(n_docs) FROM st) * 1000000 // n_docs AS keep_ppm
        |FROM st""".stripMargin)),

    // benchmark-contamination check: corpus docs sharing any word trigram
    // with the sha-sampled "benchmark" slice of the corpus
    Q("q65_contamination", (s, d) => {
      val docs = T(s, d, "documents")
      val isBench = shaMod("doc_id", 1000L) < 30
      graft.text.TrainPrep.contamination(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", n = 3, minShared = 1L)
    },
      // word-trigram contamination: distinct per-doc trigrams joined against
      // the deduplicated benchmark trigram set
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |pos AS (SELECT doc_id, t, is_bench, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, is_bench, array_to_string(t[i:i+2], ' ') AS g
        |       FROM pos),
        |bg AS (SELECT DISTINCT g FROM ng WHERE is_bench)
        |SELECT n.doc_id, count(*) AS n_shared
        |FROM ng n JOIN bg ON n.g = bg.g
        |WHERE NOT n.is_bench
        |GROUP BY 1
        |HAVING count(*) >= 1""".stripMargin)),

    // corpus-wide top-20 word bigrams by document frequency (profiling /
    // boilerplate detection; distributed TakeOrdered, no global window)
    Q("q66_top_ngrams", (s, d) =>
      graft.text.TrainPrep.topNgrams(T(s, d, "documents"), "doc_id", "text",
        n = 2, k = 20),
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2),
        |ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS g FROM pos),
        |fr AS (SELECT g, count(*) AS n_docs FROM ng GROUP BY 1)
        |SELECT g, n_docs,
        |       CAST(row_number() OVER (ORDER BY n_docs DESC, g) AS BIGINT) AS rnk
        |FROM fr
        |QUALIFY rnk <= 20""".stripMargin)),

    // Gopher-style repetition gates: top-token share + duplicate-bigram
    // share as floor-ppm integers, keep flag at (12%, 2%) — thresholds
    // calibrated so both classes appear at sf0.01
    Q("q77_repetition", (s, d) =>
      graft.text.QualityRules.repetitionStats(
        T(s, d, "documents"), "doc_id", "text"),
      // token mode via unnest + two-phase count; bigram stats as list
      // arithmetic; all ratios floor-ppm integer division — bit-exact
      Sql("""WITH toks AS (SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |md AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(max(c) AS BIGINT) AS top_cnt FROM tc GROUP BY 1),
        |tt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |       FROM documents),
        |bs AS (SELECT doc_id,
        |         CASE WHEN len(t) >= 2 THEN CAST(len(t) - 1 AS BIGINT)
        |              ELSE 0 END AS nbg,
        |         CASE WHEN len(t) >= 2 THEN CAST(len(list_distinct(
        |                [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]))
        |              AS BIGINT) ELSE 0 END AS dbg
        |       FROM tt)
        |SELECT md.doc_id, n_tokens, top_cnt,
        |       top_cnt * 1000000 // n_tokens AS top_tok_ppm,
        |       CASE WHEN nbg > 0 THEN (nbg - dbg) * 1000000 // nbg
        |            ELSE 0 END AS dup_bigram_ppm,
        |       CAST(CASE WHEN top_cnt * 1000000 // n_tokens <= 120000
        |                  AND (CASE WHEN nbg > 0
        |                       THEN (nbg - dbg) * 1000000 // nbg
        |                       ELSE 0 END) <= 20000
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM md JOIN bs ON md.doc_id = bs.doc_id""".stripMargin)),

    // PII scrub over a deterministically planted corpus (~30% of docs get
    // a synthetic email + dotted quad appended — the raw word-salad corpus
    // has none, so the patterns are exercised both ways): match counts +
    // the masked-text sha identity
    Q("q78_pii_scrub", (s, d) => {
      val id = col("doc_id")
      val planted = T(s, d, "documents").select(id,
        when(pmod(Dedup.shaTokenHash60(
            concat(lit("pii:"), id.cast("string"))), lit(10L)) < 3,
          concat(col("text"),
            lit(" contact admin"), id.cast("string"),
            lit("@example.com at 10.2."),
            pmod(id, lit(256L)).cast("string"), lit("."),
            pmod(id * 7, lit(256L)).cast("string")))
          .otherwise(col("text")).as("text"))
      graft.text.QualityRules.piiStats(planted, "doc_id", "text")
    },
      // identical planting expression, RE2-safe patterns, email masked
      // before dotted quads (an email host can look like a quad)
      Sql("""WITH planted AS (SELECT doc_id,
        |    CASE WHEN CAST(('0x' || substr(sha256('pii:' ||
        |             CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 3
        |      THEN text || ' contact admin' || CAST(doc_id AS VARCHAR)
        |           || '@example.com at 10.2.'
        |           || CAST(doc_id % 256 AS VARCHAR) || '.'
        |           || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
        |    AS n_ipv4,
        |  sha256(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'))
        |    AS masked_sha
        |FROM planted""".stripMargin)),

    // deterministic fixed-size per-language sample (reservoir semantics
    // via sha order, two-phase top-k — no per-stratum window funnel)
    Q("q79_reservoir", (s, d) =>
      graft.text.TrainPrep.reservoirSample(
        T(s, d, "documents"), "doc_id", "lang", k = 8, salt = "rsv")
        .select(col("doc_id"), col("lang"), col("rnk")),
      // global top-8 per stratum by sha order — the two-phase plan's result
      // is partitioning-independent, so one window replays it
      Sql("""SELECT doc_id, lang, rnk FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(('0x' || substr(sha256('rsv:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id)
        |      AS BIGINT) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 8""".stripMargin)),

    // dedup END TO END: q26's LSH pairs collapsed into clusters (hash-min
    // CC over the pair graph) with a canonical survivor per cluster — the
    // rewrite table every dedup pipeline actually ships
    Q("q81_dedup_canonical", (s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      Dedup.canonicalize(s, docs, "doc_id", pairs)
    },
      // q26's exact LSH pair chain, then transitive-closure min-label CC
      // over the pair graph (the q08 oracle pattern) and a corpus left join
      Sql("""WITH RECURSIVE pos AS (SELECT doc_id, text,
        |      unnest(generate_series(1, length(text) - 2)) AS i
        |    FROM documents),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g
        |       FROM pos),
        |hx AS (SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g),
        |             1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band,
        |               list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bnd a JOIN bnd b
        |           ON a.band = b.band AND a.key = b.key
        |              AND a.doc_id < b.doc_id),
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2),
        |pr AS (SELECT d1, d2 FROM eq WHERE est >= 0.7),
        |psym AS (SELECT d1 AS s, d2 AS d FROM pr
        |         UNION ALL SELECT d2, d1 FROM pr),
        |verts AS (SELECT DISTINCT s AS vid FROM psym),
        |reach(vid, lbl) AS (
        |  SELECT vid, vid FROM verts
        |  UNION
        |  SELECT p.d, r.lbl FROM reach r JOIN psym p ON r.vid = p.s
        |),
        |comp AS (SELECT vid, min(lbl) AS c FROM reach GROUP BY vid)
        |SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS canonical_id,
        |       CAST(CASE WHEN coalesce(comp.c, d.doc_id) = d.doc_id
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
        |FROM documents d LEFT JOIN comp ON d.doc_id = comp.vid""".stripMargin)),

    // corpus-driven boilerplate: word 5-grams whose document frequency is
    // >= 5 are boilerplate phrases (C4-style frequent-phrase rule — the
    // phrase table comes from the corpus itself, unlike q65 where it is
    // an external benchmark); per-doc floor-ppm share + keep gate
    Q("q85_boilerplate", (s, d) =>
      graft.text.QualityRules.frequentPhraseStats(
        T(s, d, "documents"), "doc_id", "text"),
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
        |        FROM tok WHERE len(t) >= 5),
        |pg AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g, count(*) AS c
        |       FROM pos GROUP BY 1, 2),
        |dfq AS (SELECT g, count(*) AS df FROM pg GROUP BY 1),
        |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_phrases,
        |               CAST(sum(CASE WHEN df >= 5 THEN c ELSE 0 END) AS BIGINT)
        |                 AS n_boiler
        |        FROM pg JOIN dfq USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_phrases, 0) AS n_phrases,
        |       coalesce(n_boiler, 0) AS n_boiler,
        |       CASE WHEN coalesce(n_phrases, 0) > 0
        |            THEN coalesce(n_boiler, 0) * 1000000 // n_phrases
        |            ELSE 0 END AS boiler_ppm,
        |       CASE WHEN (CASE WHEN coalesce(n_phrases, 0) > 0
        |                       THEN coalesce(n_boiler, 0) * 1000000 // n_phrases
        |                       ELSE 0 END) <= 500000
        |            THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // per-doc top-3 salient terms by tf-idf with the exact-integer
    // idf = 1000000*N div df (parity twin of the ln(N/df) production
    // scoring — same plan, bit-replayable ranking)
    Q("q86_tfidf", (s, d) =>
      graft.text.TfIdf.topTermsIdfPpm(
        T(s, d, "documents"), "doc_id", "text", k = 3),
      Sql("""WITH toks AS (SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |      FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |sc AS (SELECT doc_id, term,
        |         CAST(tf * ((1000000 * nn.n) // df) AS BIGINT) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        |       FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
        |FROM rk WHERE rank <= 3""".stripMargin)),

    // span-level corpus rewrite (CCNet line-dedup analog): 3-word spans
    // occurring in > 2 docs are boilerplate and removed; docs reassembled
    Q("q88_span_dedup", (s, d) =>
      Dedup.dedupSpans(T(s, d, "documents"), "doc_id", "text",
        spanWords = 3, maxDf = 2),
      // span i = words [i*3+1, i*3+3] (1-indexed inclusive slice == Spark's
      // slice(t, i*3+1, 3)); boilerplate = span text in > 2 distinct docs
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |sp0 AS (SELECT doc_id, t,
        |          unnest(generate_series(0,
        |            CAST(ceil(len(t) / 3.0) AS BIGINT) - 1)) AS i
        |        FROM tok),
        |sp AS (SELECT doc_id, i,
        |         array_to_string(t[(i*3 + 1):(i*3 + 3)], ' ') AS span
        |       FROM sp0),
        |dfq AS (SELECT span, count(DISTINCT doc_id) AS ndocs
        |        FROM sp GROUP BY 1),
        |kept AS (SELECT doc_id, i, span FROM sp JOIN dfq USING (span)
        |         WHERE ndocs <= 2),
        |re AS (SELECT doc_id, count(*) AS kept_spans,
        |              string_agg(span, ' ' ORDER BY i) AS kept_text
        |       FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
        |SELECT t.doc_id AS id, n_spans,
        |       coalesce(kept_spans, 0) AS kept_spans,
        |       coalesce(kept_text, '') AS kept_text
        |FROM tot t LEFT JOIN re USING (doc_id)""".stripMargin)),

    // PMI-family collocations: top adjacent word pairs by exact-integer
    // lift ppm over the bigram contingency table (hapax pairs dropped)
    Q("q93_collocations", (s, d) =>
      graft.text.TfIdf.collocationLiftPpm(T(s, d, "documents"), "doc_id", "text",
        minCount = 2, k = 20),
      // exact-integer lift over the bigram contingency table, identical
      // staged-div associativity as the Spark expression
      Sql("""WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2),
        |bg AS (SELECT t[i] AS x, t[i+1] AS y, count(*) AS n_xy
        |       FROM pos GROUP BY 1, 2),
        |b AS (SELECT sum(n_xy) AS b FROM bg),
        |lx AS (SELECT x, sum(n_xy) AS n_x FROM bg GROUP BY 1),
        |ry AS (SELECT y, sum(n_xy) AS n_y FROM bg GROUP BY 1),
        |sc AS (SELECT bg.x, bg.y, bg.n_xy,
        |         CAST(((1000000 * bg.n_xy) // lx.n_x) * b.b // ry.n_y
        |           AS BIGINT) AS lift_ppm
        |       FROM bg JOIN lx USING (x) JOIN ry USING (y) CROSS JOIN b
        |       WHERE bg.n_xy >= 2),
        |rk AS (SELECT *, row_number() OVER
        |         (ORDER BY lift_ppm DESC, x, y) AS rnk FROM sc)
        |SELECT x, y, n_xy, lift_ppm FROM rk WHERE rnk <= 20""".stripMargin)),

    // corpus-trained bigram LM fluency score (CCNet/Wiki-LM quality
    // gate, integer ppm): train counts and score every doc in one pass
    Q("q102_bigram_lm", (s, d) =>
      graft.text.QualityRules.bigramLmScore(
        T(s, d, "documents"), "doc_id", "text"),
      // bigram LM replay: same whitespace tokens, bigram strings joined
      // with one space, conditional ppm = count(w1,w2)*1e6 // count(w1,·)
      // over the BIGRAM stream, per-doc floor-ppm average
      Sql("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tk WHERE len(t) >= 2),
        |bgs AS (SELECT doc_id,
        |               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg,
        |               t[CAST(i AS INT)] AS w1
        |        FROM pos),
        |bc AS (SELECT bg, count(*) AS bc FROM bgs GROUP BY 1),
        |pc AS (SELECT w1, count(*) AS pc FROM bgs GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(x.bc * 1000000 // p.pc) AS BIGINT) // count(*) AS lm_ppm
        |FROM bgs b JOIN bc x ON b.bg = x.bg JOIN pc p ON b.w1 = p.w1
        |GROUP BY 1""".stripMargin)),

    // count-min sketch heavy hitters: exact top-30 corpus tokens joined
    // with their sketch point-estimates (4×256 counters, sha-derived row
    // hashes → DuckDB replays the sketch bit-for-bit). The sketch is the
    // fixed-memory path for token frequency at 100 TB — one pass, full
    // map-side combine, counter table ≤ depth·width rows regardless of
    // vocabulary size
    Q("q113_cms_heavy", (s, d) => {
      val toks = T(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      graft.text.Sketches.cmTopK(toks, "t", "cnt", k = 30)
        .select(col("t"), col("cnt"), col("rnk"), col("cms_est"))
    },
      // count-min sketch replayed bucket-for-bucket: same sha row hashes,
      // same 4x256 counter table, min over rows = the point estimate
      Sql("""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |             FROM documents),
        |cnt AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
        |rb AS (SELECT t, cnt, i,
        |       CAST(('0x' || substr(sha256(t || '#' || i), 1, 15)) AS BIGINT) % 256 AS bucket
        |       FROM cnt CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) ii),
        |sk AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS c
        |       FROM rb GROUP BY 1, 2),
        |top AS (SELECT t, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rnk
        |        FROM cnt QUALIFY rnk <= 30),
        |est AS (SELECT rb.t, min(sk.c) AS cms_est
        |        FROM rb JOIN top ON rb.t = top.t
        |        JOIN sk ON sk.i = rb.i AND sk.bucket = rb.bucket
        |        GROUP BY 1)
        |SELECT top.t, top.cnt, top.rnk, est.cms_est
        |FROM top JOIN est ON top.t = est.t""".stripMargin)),

    // Bloom-filter decontamination — the fixed-memory scale twin of q65:
    // the benchmark's trigram set compresses to <= 16384 sha-derived bit
    // positions (broadcastable whatever the benchmark size); flagged =
    // all 3 hash positions set. False positives are sha-deterministic
    // (replayed by the oracle) and there are no false negatives — the
    // safe direction for decontamination
    Q("q124_bloom_decontam", (s, d) => {
      val docs = T(s, d, "documents")
      val isBench = shaMod("doc_id", 1000L) < 30
      graft.text.TrainPrep.contaminationBloom(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", n = 3)
    },
      // Bloom decontamination replay: identical bench/doc split and
      // trigrams as q65, sha bit positions p_j(g) = sha60(j || ':' || g)
      // mod 16384, flagged iff all 3 positions land in the bench set
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |pos AS (SELECT doc_id, t, is_bench, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, is_bench, array_to_string(t[i:i+2], ' ') AS g
        |       FROM pos),
        |hp AS (SELECT doc_id, is_bench, g, j,
        |              CAST(('0x' || substr(sha256(j || ':' || g), 1, 15)) AS BIGINT) % 16384 AS p
        |       FROM ng, (SELECT unnest([0, 1, 2]) AS j)),
        |bloom AS (SELECT DISTINCT p FROM hp WHERE is_bench),
        |hits AS (SELECT h.doc_id, h.g FROM hp h JOIN bloom b ON h.p = b.p
        |         WHERE NOT h.is_bench
        |         GROUP BY h.doc_id, h.g HAVING count(*) = 3)
        |SELECT doc_id, count(*) AS n_flagged FROM hits GROUP BY 1
        |HAVING count(*) >= 1""".stripMargin)),

    // fixed-memory histogram quantile sketch over document lengths: the
    // scale twin of q104's exact percentiles — <= 64 counters shuffle
    // whatever the input size, estimate = lower edge of the bucket where
    // the cumulative count reaches ceil(q*n/100), error <= one width
    Q("q129_hist_quantiles", (s, d) =>
      graft.text.Sketches.histQuantiles(T(s, d, "documents"),
        col("n_chars"), buckets = 64, qsPct = Seq(50, 90, 99)),
      // histogram sketch replay: identical integer width/bucket/target
      // arithmetic (// is floor division; all values non-negative)
      Sql("""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
        |st AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM v),
        |wd AS (SELECT mn, n, (mx - mn) // 64 + 1 AS width FROM st),
        |h AS (SELECT (v - mn) // width AS b, count(*) AS c FROM v, wd GROUP BY 1),
        |cu AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM h),
        |qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct)
        |SELECT pct, min(b) AS bucket,
        |       (SELECT mn FROM wd) + min(b) * (SELECT width FROM wd) AS est
        |FROM qs JOIN cu ON cum >= (pct * (SELECT n FROM wd) + 99) // 100
        |GROUP BY 1""".stripMargin)),

    // systematic PPS sampling: 50 picks walked along the cumulative
    // token-weight axis — inclusion ∝ weight, deterministic, docs heavier
    // than W/k picked multiply (n_picks); the weighted complement of the
    // uniform sha splits (q48/q60/q79)
    Q("q130_pps_sample", (s, d) =>
      graft.text.TrainPrep.systematicPpsSample(s, T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")), k = 50),
      // systematic PPS replay: window cumsum over doc_id order (the oracle
      // may use the global window the Spark plan avoids), positions
      // p_j = floor(j*W/50), n_picks = |{j in [0,50): p_j in [start, start+w)}|
      Sql("""WITH t AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             CAST(sum(w) OVER (ORDER BY doc_id) - w AS BIGINT) AS strt
        |      FROM t),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t),
        |p AS (SELECT doc_id, w, strt,
        |             greatest(0, least(50, ((strt + w) * 50 + tw - 1) // tw)
        |                         - ((strt * 50 + tw - 1) // tw)) AS n_picks
        |      FROM c, tot)
        |SELECT doc_id, w AS weight, strt AS w_start, n_picks
        |FROM p WHERE n_picks > 0""".stripMargin)),

    // BPE merge learning (tokenizer training): the first 3 merges
    // learned from the documents corpus — integer pair counts over the
    // distinct-word vocabulary, lexicographic tie-break, leftmost
    // non-overlapping merge per round
    Q("q135_bpe_merges", (s, d) =>
      graft.text.BpeTrain.learnMerges(T(s, d, "documents"), "text", 3),
      // 3 BPE rounds replayed as chained CTEs: sequences are |-wrapped
      // ||-joined symbol strings so replace('|l||r|','|lr|') IS the
      // leftmost non-overlapping merge (the consumed delimiter blocks
      // overlap; the wrapper blocks sub-symbol matches)
      Sql(s"""WITH words AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |s0 AS (SELECT '|' || array_to_string(regexp_extract_all(word, '.'),
        |                                     '||') || '|' AS seq, freq
        |       FROM words),
        |${bpePairs(1)},
        |k1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS (SELECT replace(seq, '|' || l || '||' || r || '|',
        |                      '|' || l || r || '|') AS seq, freq
        |       FROM s0 CROSS JOIN k1),
        |${bpePairs(2)},
        |k2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS (SELECT replace(seq, '|' || l || '||' || r || '|',
        |                      '|' || l || r || '|') AS seq, freq
        |       FROM s1 CROSS JOIN k2),
        |${bpePairs(3)},
        |k3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS INT) AS round, l AS merge_left, r AS merge_right,
        |       cnt AS pair_count FROM k1
        |UNION ALL SELECT 2, l, r, cnt FROM k2
        |UNION ALL SELECT 3, l, r, cnt FROM k3""".stripMargin)),

    // tokenizer application: per-doc [a-z]+ word count and symbol count
    // after the 3 learned q135 merges — the train→encode loop closed;
    // the merge fold runs over the distinct-word vocabulary only
    Q("q139_bpe_encode", (s, d) =>
      graft.text.BpeTrain.encode(T(s, d, "documents"), "doc_id", "text", 3),
      // the q135 merge chain with the word carried through, one more
      // replace round (s3), then docs join the (word -> n_syms) map
      Sql(s"""WITH dw AS MATERIALIZED (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |words AS MATERIALIZED (SELECT word, count(*) AS freq FROM dw GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT word, '|' || array_to_string(regexp_extract_all(word, '.'),
        |                                      '||') || '|' AS seq, freq
        |  FROM words),
        |${bpePairs(1)},
        |k1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq, freq
        |  FROM s0 CROSS JOIN k1),
        |${bpePairs(2)},
        |k2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq, freq
        |  FROM s1 CROSS JOIN k2),
        |${bpePairs(3)},
        |k3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |s3 AS MATERIALIZED (
        |  SELECT word, replace(seq, '|' || l || '||' || r || '|',
        |                       '|' || l || r || '|') AS seq
        |  FROM s2 CROSS JOIN k3),
        |toks AS (SELECT word,
        |                CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT) AS ntok
        |         FROM s3)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(t.ntok) AS BIGINT) AS n_tokens
        |FROM dw d JOIN toks t USING (word)
        |GROUP BY 1""".stripMargin)),

    // DSIR-style hashed n-gram domain-affinity scoring (integer ppm):
    // target = the English slice; features = word uni+bigrams sha-hashed
    // into 4096 buckets; score = summed smoothed rate difference (ppb)
    Q("q140_domain_affinity", (s, d) =>
      graft.text.TrainPrep.domainAffinity(T(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", buckets = 4096),
      // hashed-gram rates: per-bucket target/raw counts densified over all
      // 4096 buckets, add-one-smoothed integer ppm, per-doc summed diff
      Sql("""WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
        |                     regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |uni AS (SELECT doc_id, is_t, unnest(t) AS g FROM toks),
        |bi AS (SELECT doc_id, is_t, array_to_string(t[i:i+1], ' ') AS g
        |       FROM (SELECT doc_id, is_t, t,
        |                    unnest(generate_series(1, len(t) - 1)) AS i
        |             FROM toks WHERE len(t) >= 2)),
        |g AS MATERIALIZED (
        |  SELECT doc_id, is_t, g,
        |         CAST(('0x' || substr(sha256(g), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |counts AS (SELECT b, CAST(count(*) AS BIGINT) AS rc,
        |                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |           FROM g GROUP BY 1),
        |dense AS (SELECT gs.b, coalesce(c.rc, 0) AS rc, coalesce(c.tc, 0) AS tc
        |          FROM (SELECT unnest(generate_series(0, 4095)) AS b) gs
        |          LEFT JOIN counts c ON gs.b = c.b),
        |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt,
        |               CAST(sum(tc) AS BIGINT) AS tt FROM dense),
        |rates AS (SELECT b,
        |            CAST((tc + 1) * 1000000000 // (tt + 4096) AS BIGINT) AS t_ppb,
        |            CAST((rc + 1) * 1000000000 // (rt + 4096) AS BIGINT) AS r_ppb
        |          FROM dense CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(t_ppb - r_ppb) AS BIGINT) AS score_ppb
        |FROM g JOIN rates USING (b)
        |GROUP BY 1""".stripMargin)),

    // padding-efficient length-bucketed batch assembly (group-by-length
    // finetuning batches): width-128 token buckets, 16384-token batches,
    // per-batch padding waste
    Q("q141_length_batches", (s, d) =>
      graft.text.TrainPrep.lengthBucketBatches(T(s, d, "documents"),
        "doc_id", TF.tokenCount(col("text")),
        bucketWidth = 128, batchTokens = 16384),
      // width-128 length buckets, 16384-token batch capacity, id-ordered
      // row_number per bucket, integer division throughout
      Sql("""WITH d AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |             ((n_tokens - 1) // 128 + 1) * 128 AS bucket_cap
        |      FROM d WHERE n_tokens >= 1),
        |c AS (SELECT doc_id, n_tokens, bucket_cap,
        |             greatest(1, 16384 // bucket_cap) AS capacity,
        |             row_number() OVER (PARTITION BY bucket_cap
        |                                ORDER BY doc_id) AS rn
        |      FROM b)
        |SELECT bucket_cap, (rn - 1) // capacity AS batch_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(count(*) * bucket_cap - sum(n_tokens) AS BIGINT) AS padded_tokens
        |FROM c GROUP BY 1, 2""".stripMargin)),

    // vocabulary coverage / OOV rate against the top-500 corpus words —
    // the tokenizer-coverage profile (vocab broadcast, one corpus pass)
    Q("q144_oov", (s, d) =>
      graft.text.TrainPrep.oovStats(T(s, d, "documents"),
        "doc_id", "text", vocabSize = 500),
      // top-500 vocabulary by (count desc, word), whitespace tokens, per-
      // doc OOV ppm by integer division
      Sql("""WITH tok AS (SELECT doc_id,
        |                    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |             FROM documents),
        |vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY 1)
        |          ORDER BY cnt DESC, w LIMIT 500)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000000
        |              // count(*) AS BIGINT) AS oov_ppm
        |FROM tok t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY 1""".stripMargin)),

    // corpus-curation funnel: the end-to-end keep pipeline (language ->
    // length -> exact-dedup survivor -> decontamination) with per-stage
    // attrition counts — every stage is an already-verified operator
    // (q20/q18/q16/q65) composed into one plan
    Q("q149_curation_funnel", (s, d) => {
      val docs = T(s, d, "documents")
      val s1 = docs
      val s2 = s1.filter(TF.langId(col("text")) === "en")
      val s3 = s2.filter(TF.tokenCount(col("text")) >= 20)
      val keepers = s3.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val s4 = s3.join(keepers, Seq("doc_id"), "left_semi")
      val isBench = shaMod("doc_id", 1000L) < 30
      val flagged = graft.text.TrainPrep.contamination(
          s4.filter(!isBench), "doc_id", "text",
          docs.filter(isBench), "text", n = 3, minShared = 1L)
        .select(col("doc_id"))
      val s5 = s4.filter(!isBench).join(flagged, Seq("doc_id"), "left_anti")
      Seq(("1_all", s1), ("2_lang", s2), ("3_length", s3),
        ("4_dedup", s4), ("5_decontam", s5))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"),
            col("n_docs"))
        }
        .reduce(_ union _)
    },
      // the q20 lang rule, a length gate, the q16 min-id dedup survivor,
      // and the q65 trigram decontamination, composed; one count per stage
      Sql("""WITH lang AS (SELECT doc_id, text,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f
        |  FROM documents),
        |d2 AS MATERIALIZED (SELECT doc_id, text FROM lang
        |      WHERE e >= d AND e >= f AND e > 0),
        |d3 AS MATERIALIZED (SELECT doc_id, text FROM d2
        |      WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 20),
        |kp AS (SELECT min(doc_id) AS doc_id FROM d3 GROUP BY sha256(text)),
        |d4 AS MATERIALIZED (SELECT d3.doc_id, d3.text FROM d3
        |      JOIN kp ON d3.doc_id = kp.doc_id),
        |nb AS MATERIALIZED (SELECT doc_id, text FROM d4
        |      WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 >= 30),
        |bt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |       FROM documents
        |       WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30),
        |bpos AS (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
        |         FROM bt WHERE len(t) >= 3),
        |bg AS MATERIALIZED (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
        |      FROM bpos),
        |npos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |               FROM nb) WHERE len(t) >= 3),
        |ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |       FROM npos),
        |flagged AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bg ON n.g = bg.g),
        |d5 AS (SELECT nb.doc_id FROM nb LEFT JOIN flagged fl
        |       ON nb.doc_id = fl.doc_id WHERE fl.doc_id IS NULL)
        |SELECT '1_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |UNION ALL SELECT '2_lang', CAST(count(*) AS BIGINT) FROM d2
        |UNION ALL SELECT '3_length', CAST(count(*) AS BIGINT) FROM d3
        |UNION ALL SELECT '4_dedup', CAST(count(*) AS BIGINT) FROM d4
        |UNION ALL SELECT '5_decontam', CAST(count(*) AS BIGINT) FROM d5""".stripMargin)),

    // Iceberg-style MERGE INTO (upsert): a deterministic update batch
    // (sha%10 slice relabeled) plus an insert batch (shifted ids) merged
    // into a documents catalog; the latest snapshot is read back — prior
    // snapshots stay time-travelable (CatalogSpec)
    Q("q150_catalog_merge", (s, d) => {
      val root = scratchDir("graft_mrg")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      cat.createOrReplace("docs", docs)
      val touched = shaMod("doc_id", 10L) === 0
      val updates = docs.filter(touched)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 1000000L).as("n_chars"))
      val inserts = docs.filter(touched)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          lit("new").as("lang"), col("n_chars"))
      cat.merge(s, "docs", updates.unionByName(inserts), "doc_id")
      cat.read(s, "docs")
    },
      // simulated MERGE: matched keys take the update payload, the insert
      // batch appends shifted ids
      Sql("""WITH h AS (SELECT doc_id, lang, n_chars,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h10
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN h10 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CASE WHEN h10 = 0 THEN n_chars + 1000000 ELSE n_chars END AS n_chars
        |FROM h
        |UNION ALL
        |SELECT doc_id + 10000000, 'new', n_chars FROM h WHERE h10 = 0""".stripMargin)),

    // row-level CDC between two catalog snapshots (changelog scan):
    // delete a sha%7 slice, upsert the q150-style update batch, then
    // diff snapshot 0 vs latest — one (key, payload-sha) full outer join
    Q("q151_cdc", (s, d) => {
      val root = scratchDir("graft_cdc")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val s0 = cat.createOrReplace("docs", docs)
      cat.deleteWhere(s, "docs",
        shaMod("doc_id", 7L) === 0)
      val touched = shaMod("doc_id", 10L) === 0
      cat.merge(s, "docs",
        docs.filter(touched)
          .select(col("doc_id"), lit("xx").as("lang"), col("n_chars")),
        "doc_id")
      graft.catalog.Cdc.rowDiff(cat.readSnapshot(s, "docs", s0),
        cat.read(s, "docs"), "doc_id", Seq("lang", "n_chars"))
    },
      // the delete+merge sequence folded into CASE logic: the sha%10 slice
      // ends updated (its lang always changes), the rest of the sha%7
      // slice ends deleted; everything else is unchanged and not emitted
      Sql("""WITH h AS (SELECT doc_id,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 7 AS h7,
        |  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS h10
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN h10 = 0 THEN 'update' ELSE 'delete' END AS op
        |FROM h WHERE h10 = 0 OR h7 = 0""".stripMargin)),

    // exact-percentile winsorization of document token counts at
    // p05/p95 — outlier capping before packing/weighted sampling
    Q("q152_winsorize", (s, d) =>
      graft.text.TrainPrep.winsorize(T(s, d, "documents"), "doc_id",
        TF.tokenCount(col("text")), loPct = 5, hiPct = 95),
      // exact-percentile thresholds from the cumulative value histogram,
      // per-row integer clipping
      Sql("""WITH d AS (SELECT doc_id,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS v
        |           FROM documents),
        |n AS (SELECT count(*) AS n FROM d),
        |hist AS (SELECT v, count(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hist),
        |lo AS (SELECT min(v) AS lo FROM cum CROSS JOIN n WHERE cum * 100 >= n.n * 5),
        |hi AS (SELECT min(v) AS hi FROM cum CROSS JOIN n WHERE cum * 100 >= n.n * 95)
        |SELECT doc_id, v, least(greatest(v, lo), hi) AS v_clipped,
        |       CAST(CASE WHEN v < lo THEN -1 WHEN v > hi THEN 1 ELSE 0 END
        |            AS BIGINT) AS tail
        |FROM d CROSS JOIN lo CROSS JOIN hi""".stripMargin)),

    // lexical diversity (type-token ratio + Gini–Simpson index, integer
    // ppm): the repetitive/template/spam text gate that length and
    // stopword ratios (q19) miss
    Q("q155_diversity", (s, d) =>
      graft.text.QualityRules.tokenDiversity(
        T(s, d, "documents"), "doc_id", "text"),
      // integer diversity replay: same whitespace tokens, per-word counts,
      // ppm floor division
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS distinct_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tokens, distinct_tokens,
        |       CAST(distinct_tokens * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
        |       CAST(1000000 - sumsq * 1000000 // (n_tokens * n_tokens) AS BIGINT)
        |         AS gini_ppm
        |FROM ag""".stripMargin)),

    // catalog ADD COLUMN schema evolution: append a batch carrying a new
    // `quality` column; the merged read widens the table and back-fills
    // prior rows (surfaced as -1 via coalesce: a null bigint would
    // round-trip as float through the driver's pandas compare)
    Q("q156_schema_evolution", (s, d) => {
      val root = scratchDir("graft_evo")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
      cat.createOrReplace("evo", docs.select(col("doc_id"), col("lang")))
      val touched = shaMod("doc_id", 10L) === 0
      cat.append("evo", docs.filter(touched)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          TF.tokenCount(col("text")).as("quality")))
      cat.read(s, "evo")
        .select(col("doc_id"), col("lang"),
          coalesce(col("quality"), lit(-1L)).as("quality"))
    },
      // schema evolution replay: the base snapshot lacks `quality`
      // (back-filled -1); the appended slice carries its token count
      Sql("""SELECT doc_id, lang, CAST(-1 AS BIGINT) AS quality FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000 AS doc_id, lang,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS quality
        |FROM documents
        |WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 0""".stripMargin)),

    // contamination severity ladder: longest benchmark n-gram shared
    // (3/6/12 words) — triage between incidental phrase overlap and
    // verbatim benchmark leakage (the graded twin of q65's boolean)
    Q("q157_contamination_severity", (s, d) => {
      val docs = T(s, d, "documents")
      val isBench = shaMod("doc_id", 1000L) < 30
      graft.text.TrainPrep.contaminationSeverity(
        docs.filter(!isBench), "doc_id", "text",
        docs.filter(isBench), "text", sizes = Seq(3, 6, 12))
    },
      // severity ladder replay: q65's gram pipeline over sizes {3,6,12},
      // max matched size per non-benchmark doc
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |                    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 30 AS is_bench
        |             FROM documents),
        |sz AS (SELECT unnest([3, 6, 12]) AS g_n),
        |pos AS (SELECT doc_id, t, is_bench, g_n,
        |               unnest(generate_series(1, len(t) - g_n + 1)) AS i
        |        FROM tok CROSS JOIN sz WHERE len(t) >= g_n),
        |ng AS (SELECT DISTINCT doc_id, is_bench, g_n,
        |              array_to_string(t[i:i+g_n-1], ' ') AS g
        |       FROM pos),
        |bg AS (SELECT DISTINCT g_n, g FROM ng WHERE is_bench)
        |SELECT n.doc_id, CAST(max(n.g_n) AS BIGINT) AS max_gram
        |FROM ng n JOIN bg ON n.g_n = bg.g_n AND n.g = bg.g
        |WHERE NOT n.is_bench
        |GROUP BY 1""".stripMargin)),

    // streaming UPSERT ingest: a deterministic one-row-per-key change
    // feed applied micro-batch by micro-batch via foreachBatch MERGE —
    // the continuous CDC-application path (q150 is the one-shot twin);
    // final state is batch-split-independent because each key merges once
    Q("q161_stream_upsert", (s, d) => {
      val root = scratchDir("graft_supsert")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      cat.createOrReplace("docs", docs)
      val feed = docs.filter(pmod(Dedup.shaTokenHash60(
          col("doc_id").cast("string")), lit(5L)) === 0)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 7L).as("n_chars"))
      val feedDir = s"$root/feed"
      feed.repartition(3).write.mode("overwrite").parquet(feedDir)
      graft.streaming.Streaming.ingestUpsert(s, feedDir, feed.schema,
        cat, "docs", "doc_id")
      cat.read(s, "docs")
    },
      // change-feed replay: one update row per sha%5 key, latest-wins
      Sql("""SELECT doc_id,
        |       CASE WHEN h % 5 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CASE WHEN h % 5 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
        |FROM (SELECT doc_id, lang, n_chars,
        |             CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |      FROM documents) t""".stripMargin)),

    // snapshot expiry (compact-then-expire table maintenance): three
    // staged commits compacted into a self-contained snapshot, history
    // expired to keep=1 — content intact, unreachable files deleted
    // (CatalogSpec asserts expired time travel fails, kept ids read)
    Q("q162_snapshot_expiry", (s, d) => {
      val root = scratchDir("graft_exp")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val h = shaMod("doc_id", 3L)
      cat.createOrReplace("docs", docs.filter(h === 0))
      cat.append("docs", docs.filter(h === 1))
      cat.append("docs", docs.filter(h === 2))
      cat.compact(s, "docs")
      val expired = cat.expireSnapshots("docs", keep = 1)
      require(expired.nonEmpty, "compact-then-expire must prune history")
      cat.read(s, "docs")
    },
      // expiry preserves the compacted content: staged thirds re-union to
      // the whole table
      Sql("SELECT doc_id, lang, n_chars FROM documents")),

    // zone-map data skipping over documents value-clustered by n_chars
    // (width-64 zones): the range predicate on the clustered column
    // skips most zones by bounds alone, the same-shaped predicate on
    // the scattered doc_id column prunes nothing — the layout-decision
    // evidence a 100 TB table is clustered from
    Q("q164_zone_skip", (s, d) =>
      graft.catalog.ZoneMap.skippingStats(T(s, d, "documents"),
        "n_chars", width = 64L, "doc_id",
        cLo = 200L, cHi = 400L, pLo = 100L, pHi = 5000L),
      // zone bounds + bounds-first scan verdicts, pure integer
      Sql("""WITH z AS (SELECT n_chars // 64 AS zone, n_chars AS c, doc_id AS p
        |           FROM documents),
        |ag AS (SELECT zone, count(*) AS n_rows,
        |              min(c) AS c_min, max(c) AS c_max,
        |              min(p) AS p_min, max(p) AS p_max
        |       FROM z GROUP BY 1)
        |SELECT zone, n_rows, c_min, c_max, p_min, p_max,
        |       CAST(NOT (c_max < 200 OR c_min > 400) AS INT) AS scan_clustered,
        |       CAST(NOT (p_max < 100 OR p_min > 5000) AS INT) AS scan_probe
        |FROM ag""".stripMargin)),

    // optimistic-concurrency commit validation: txn B staged against the
    // base snapshot must detect the keys txn A changed under it (its
    // sha%17==3 slice), abort those, and rebase — output is B's write
    // set with the conflict verdict and the post-rebase state (A's
    // n_chars bump preserved under B's lang rewrite)
    Q("q165_commit_conflict", (s, d) => {
      val root = scratchDir("graft_txn")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val s0 = cat.createOrReplace("docs", docs)
      val h = shaMod("doc_id", 17L)
      cat.merge(s, "docs", docs.filter(h === 3)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars")), "doc_id")
      val bKeys = docs.filter(h === 3 || h === 5).select(col("doc_id"))
      val verdict = graft.catalog.Cdc.conflictKeys(
        cat.readSnapshot(s, "docs", s0), cat.read(s, "docs"),
        "doc_id", Seq("lang", "n_chars"), bKeys)
      val rebased = cat.read(s, "docs")
        .join(bKeys, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
      cat.merge(s, "docs", rebased, "doc_id")
      cat.read(s, "docs").join(verdict, "doc_id")
        .select(col("doc_id"), col("conflicted"), col("lang"),
          col("n_chars"))
    },
      // OCC replay: A's slice (sha%17==3) conflicts with B's write set
      // (sha%17 in (3,5)); the final state carries A's bump under B's
      // rebased lang rewrite
      Sql("""WITH h AS (SELECT doc_id, lang, n_chars,
        |                  CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 17 AS cls
        |           FROM documents)
        |SELECT doc_id, CAST(cls = 3 AS INT) AS conflicted,
        |       'xx' AS lang,
        |       CASE WHEN cls = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM h WHERE cls IN (3, 5)""".stripMargin)),

    // compaction planning over a simulated file manifest (doc_id div 20
    // files, size = total chars): small files greedily packed into
    // ~15000-byte output groups — pure metadata planning, never the data
    Q("q171_compaction_plan", (s, d) =>
      graft.catalog.Compaction.plan(
        T(s, d, "documents")
          .groupBy(expr("doc_id div 20L").as("file_id"))
          .agg(sum(col("n_chars")).as("size_bytes")),
        "file_id", "size_bytes",
        smallBytes = 6000L, targetBytes = 15000L),
      // greedy pack replay: cumulative candidate size over file order
      Sql("""WITH mf AS (SELECT doc_id // 20 AS file_id,
        |                   CAST(sum(n_chars) AS BIGINT) AS size_bytes
        |            FROM documents GROUP BY 1),
        |cand AS (SELECT file_id, size_bytes,
        |                CAST(size_bytes < 6000 AS INT) AS candidate
        |         FROM mf),
        |cum AS (SELECT file_id, size_bytes, candidate,
        |               CAST(COALESCE(sum(CASE WHEN candidate = 1 THEN size_bytes END)
        |                 OVER (ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |        FROM cand)
        |SELECT file_id, size_bytes, candidate,
        |       CAST(CASE WHEN candidate = 1 THEN cb // 15000 ELSE -1 END AS BIGINT) AS target_group
        |FROM cum""".stripMargin)),

    // MinHash calibration ledger (sketch QA): per estimate-decile
    // absolute error of the q26 signature estimate vs exact shingle
    // Jaccard, exact side computed over CANDIDATE pairs only
    Q("q173_sketch_calibration", (s, d) =>
      // maxBucket capped off: the oracle replays UNCAPPED banding (the
      // same configuration rule as q26); production callers keep the cap
      Dedup.minHashCalibration(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, maxBucket = Int.MaxValue),
      // calibration replay: q26's sha-seeded signatures + banding, exact
      // shingle Jaccard on candidates, integer ppm error per decile
      Sql("""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |shg AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS MATERIALIZED (
        |  SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |  FROM shg, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(j // 4 AS INT) AS band, list(m ORDER BY j) AS key
        |        FROM hx GROUP BY 1, 2),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bnd a JOIN bnd b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |est AS (SELECT c.d1, c.d2,
        |               CAST(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) * 1000000 // 16 AS BIGINT) AS est_ppm
        |        FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                    JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |        GROUP BY 1, 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
        |ix AS (SELECT c.d1, c.d2, count(*) AS i
        |       FROM cand c JOIN shg a ON a.doc_id = c.d1
        |                   JOIN shg b ON b.doc_id = c.d2 AND b.g = a.g
        |       GROUP BY 1, 2),
        |pairs AS (SELECT CAST(e.est_ppm // 100000 AS BIGINT) AS bucket,
        |                 abs(e.est_ppm - COALESCE(ix.i, 0) * 1000000 // (sa.n + sb.n - COALESCE(ix.i, 0))) AS err
        |          FROM est e
        |          LEFT JOIN ix ON e.d1 = ix.d1 AND e.d2 = ix.d2
        |          JOIN sz sa ON sa.doc_id = e.d1
        |          JOIN sz sb ON sb.doc_id = e.d2)
        |SELECT bucket, count(*) AS n_pairs,
        |       CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_ppm,
        |       CAST(max(err) AS BIGINT) AS max_err_ppm
        |FROM pairs GROUP BY 1""".stripMargin)),

    // labeler-agreement harness: Cohen's kappa (integer ppm) between
    // the length rule (tokens >= 20, q149's gate) and the diversity
    // rule (gini >= 500000, q155's score) over documents
    Q("q176_kappa", (s, d) => {
      val docs = T(s, d, "documents")
      val div = graft.text.QualityRules
        .tokenDiversity(docs, "doc_id", "text")
        .select(col("doc_id"), col("gini_ppm"))
      val joined = docs.select(col("doc_id"),
          (TF.tokenCount(col("text")) >= 20L).cast("long").as("la"))
        .join(div, "doc_id")
        .select(col("la"), (col("gini_ppm") >= 500000L).cast("long").as("lb"))
      graft.text.QualityRules.agreementKappa(joined, col("la"), col("lb"))
    },
      // kappa replay: q155's token histogram feeds both labelers; the
      // final division is sign-decomposed so DuckDB's floor // replays
      // Spark's truncating div on a possibly-negative po - pe
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1),
        |lab AS (SELECT CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS a,
        |               CASE WHEN 1000000 - sumsq * 1000000 // (n_tokens * n_tokens) >= 500000
        |                    THEN 1 ELSE 0 END AS b
        |        FROM ag),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |             CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |             CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |             CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |      FROM lab),
        |k AS (SELECT n, n00, n01, n10, n11,
        |             CAST((n00 + n11) * 1000000 // n AS BIGINT) AS po_ppm,
        |             CAST(((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) * 1000000 // (n * n) AS BIGINT) AS pe_ppm
        |      FROM m)
        |SELECT n, n00, n01, n10, n11, po_ppm, pe_ppm,
        |       CAST(CASE WHEN pe_ppm = 1000000 THEN 1000000
        |                 WHEN po_ppm - pe_ppm >= 0
        |                   THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
        |                 ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm))
        |            END AS BIGINT) AS kappa_ppm
        |FROM k""".stripMargin)),

    // curriculum export order: 8 diversity-score bins best-first,
    // sha-shuffled within each bin, global index via the two-phase rank
    // (no single-task window)
    Q("q177_curriculum", (s, d) => {
      val score = graft.text.QualityRules
        .tokenDiversity(T(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("gini_ppm"))
      graft.text.TrainPrep.curriculumOrder(s, score, "doc_id",
        col("gini_ppm"), bins = 8)
    },
      // curriculum replay: q155's gini feeds the bin; rank = row_number
      // over (packed key, doc_id) — the two-phase rank's exact total order
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |wc AS (SELECT doc_id, unnest(t) AS w FROM tok),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * c) AS BIGINT) AS sumsq
        |       FROM cnt GROUP BY 1),
        |sc AS (SELECT doc_id,
        |              CAST(1000000 - sumsq * 1000000 // (n_tokens * n_tokens) AS BIGINT) AS gini
        |       FROM ag),
        |ky AS (SELECT doc_id,
        |              CAST(gini * 8 // 1000001 AS BIGINT) AS bin,
        |              (7 - gini * 8 // 1000001) * (CAST(1 AS BIGINT) << 60)
        |                + CAST(('0x' || substr(sha256('cur:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS key
        |       FROM sc)
        |SELECT doc_id, bin,
        |       CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS order_idx
        |FROM ky""".stripMargin)),

    // inverted index build (search-side corpus artifact): per-(term,doc)
    // tf + sorted position list for terms with df >= 5 — one explode +
    // two aggs, the df gate keeps hapax noise out of the postings
    Q("q178_inverted_index", (s, d) => {
      val toks = T(s, d, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "term")
      val postings = toks.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"),
          array_join(sort_array(collect_list(col("p")))
            .cast("array<string>"), ",").as("positions"))
      val df5 = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df")).filter(col("df") >= 5)
      postings.join(df5, "term")
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          col("positions"))
    },
      // postings replay: WITH ORDINALITY positions (1-based -> -1), df gate
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS term,
        |               generate_subscripts(t, 1) - 1 AS p
        |        FROM tok),
        |post AS MATERIALIZED (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
        |         string_agg(CAST(p AS VARCHAR), ',' ORDER BY p) AS positions
        |  FROM pos GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM post GROUP BY 1 HAVING count(*) >= 5)
        |SELECT p.term, p.doc_id, p.tf, d.df, p.positions
        |FROM post p JOIN dfc d ON p.term = d.term""".stripMargin)),

    // dedup-aware split-leakage audit: near-dup pairs (q26 config)
    // crossing the q48 train/val/test boundaries — the contamination
    // check a split must pass before training; output = per
    // (split_a, split_b) pair counts with the cross-split leak flag
    Q("q179_split_leakage", (s, d) => {
      val pairs = Dedup.minHashLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.7,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60)
      val sp = T(s, d, "documents").select(col("doc_id"),
        graft.text.TrainPrep.hashSplit("doc_id", "s1").as("split"))
      pairs
        .join(sp.select(col("doc_id").as("d1"), col("split").as("sa")), "d1")
        .join(sp.select(col("doc_id").as("d2"), col("split").as("sb")), "d2")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak",
          (col("split_a") =!= col("split_b")).cast("int"))
    },
      // leakage replay: q26's sha-banding candidates + the q48 split rule
      Sql(s"""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |shg AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS MATERIALIZED (
        |  SELECT doc_id, j,
        |         min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |  FROM shg, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |$MH_BANDS,
        |eq AS (SELECT c.d1, c.d2,
        |              sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 16.0 AS est
        |       FROM cand c JOIN hx x ON x.doc_id = c.d1
        |                   JOIN hx y ON y.doc_id = c.d2 AND x.j = y.j
        |       GROUP BY 1, 2),
        |prs AS (SELECT d1, d2 FROM eq WHERE est >= 0.7),
        |sp AS (SELECT doc_id,
        |              CASE WHEN CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |                   WHEN CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
        |                   ELSE 'test' END AS split
        |       FROM documents),
        |tag AS (SELECT least(a.split, b.split) AS split_a,
        |               greatest(a.split, b.split) AS split_b
        |        FROM prs JOIN sp a ON prs.d1 = a.doc_id
        |                 JOIN sp b ON prs.d2 = b.doc_id)
        |SELECT split_a, split_b, count(*) AS n_pairs,
        |       CAST(split_a <> split_b AS INT) AS leak
        |FROM tag GROUP BY 1, 2""".stripMargin)),

    // per-source dataset card ("datasheets for datasets"): docs, token
    // volume, language spread, exact-dup rate, mean length — the
    // one-page corpus profile, every column a verified rule composed
    Q("q182_dataset_card", (s, d) =>
      T(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(sha2(col("text"), 256)).as("n_unique"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"),
          expr("(n_docs - n_unique) * 1000000L div n_docs").as("dup_ppm"),
          expr("n_chars div n_docs").as("mean_chars")),
      // dataset-card replay: q18's token rule, exact-dup sha, integral ppm
      Sql("""SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST((count(*) - count(DISTINCT sha256(text))) * 1000000 // count(*) AS BIGINT) AS dup_ppm,
        |       CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // distributional OOD score: per-doc L1 ppm distance between the
    // doc's letter histogram and the corpus's — explode-free 26-counter
    // codegen, one corpus pass + a 1-row histogram broadcast
    Q("q183_char_ood", (s, d) =>
      graft.text.QualityRules.charDistributionOod(
        T(s, d, "documents"), "doc_id", "text"),
      // OOD replay: the same 26 length-difference counters, corpus
      // histogram over letter-bearing docs, integral ppm L1
      Sql {
        val ls = ('a' to 'z').toSeq
        val cnts = ls.map(c =>
          s"(length(lt) - length(replace(lt, '$c', ''))) AS c_$c")
          .mkString(", ")
        val tot = ls.map(c => s"c_$c").mkString(" + ")
        val gs = ls.map(c => s"CAST(sum(c_$c) AS BIGINT) AS g_$c")
          .mkString(", ")
        val gtot = ls.map(c => s"g_$c").mkString(" + ")
        val l1 = ls.map(c =>
          s"abs(c_$c * 1000000 // total - g_$c * 1000000 // gtotal)")
          .mkString(" + ")
        s"""WITH lt AS (SELECT doc_id, lower(text) AS lt FROM documents),
           |cn AS (SELECT doc_id, $cnts FROM lt),
           |fl AS MATERIALIZED (SELECT *, $tot AS total FROM cn
           |                    WHERE $tot > 0),
           |corp AS (SELECT $gs FROM fl),
           |corpt AS (SELECT *, $gtot AS gtotal FROM corp)
           |SELECT doc_id, CAST(total AS BIGINT) AS n_letters,
           |       CAST($l1 AS BIGINT) AS l1_ppm
           |FROM fl, corpt""".stripMargin
      }),

    // approximate-query-processing error report: per-lang mean doc
    // length, exact vs a 20% sha-sample estimate, |error| in ppm — the
    // calibration a dashboard needs before trusting sampled aggregates
    Q("q185_aqp_error", (s, d) => {
      val docs = T(s, d, "documents")
      val exact = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_exact"), sum(col("n_chars")).as("sc"))
        .select(col("lang"), col("n_exact"),
          expr("sc div n_exact").as("mean_exact"))
      val est = docs
        .filter(shaMod("doc_id", 5L) === 0L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sample"), sum(col("n_chars")).as("ss"))
        .select(col("lang"), col("n_sample"),
          expr("ss div n_sample").as("mean_est"))
      exact.join(est, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_exact"), col("mean_exact"),
          coalesce(col("n_sample"), lit(0L)).as("n_sample"),
          coalesce(col("mean_est"), lit(-1L)).as("mean_est"),
          coalesce(expr("abs(mean_est - mean_exact) * 1000000L div mean_exact"),
            lit(-1L)).as("err_ppm"))
    },
      // AQP replay: the same sha%5 sample, integral means, sentinel -1
      Sql("""WITH ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact,
        |                   CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_exact
        |            FROM documents GROUP BY 1),
        |sm AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sample,
        |              CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_est
        |       FROM documents
        |       WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0
        |       GROUP BY 1)
        |SELECT ex.lang, ex.n_exact, ex.mean_exact,
        |       COALESCE(sm.n_sample, 0) AS n_sample,
        |       COALESCE(sm.mean_est, -1) AS mean_est,
        |       COALESCE(CAST(abs(sm.mean_est - ex.mean_exact) * 1000000 // ex.mean_exact AS BIGINT), -1) AS err_ppm
        |FROM ex LEFT JOIN sm ON ex.lang = sm.lang""".stripMargin)),

    // asymmetric containment near-dup (Broder): minhash-LSH candidates,
    // EXACT shingle containment |A∩B| div |A| in ppm, both orientations
    // >= 0.8 — the quote/subsumption pairs q26's resemblance misses
    Q("q188_containment", (s, d) =>
      Dedup.containmentLsh(T(s, d, "documents"), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, thresholdPpm = 800000L,
        maxBucket = Int.MaxValue, hashFn = Dedup.shaSeededHash60),
      // q26's sha-parity banding prefix, then exact shingle containment of
      // each candidate orientation in ppm
      Sql(s"""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |hx AS (SELECT doc_id, j,
        |              min(CAST(('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT)) AS m
        |       FROM sh, (SELECT unnest(range(16)) AS j) GROUP BY 1, 2),
        |$MH_BANDS,
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        |ix AS MATERIALIZED (SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS i
        |      FROM cand c JOIN sh a ON a.doc_id = c.d1
        |                  JOIN sh b ON b.doc_id = c.d2 AND a.g = b.g
        |      GROUP BY 1, 2),
        |bo AS (SELECT i.d1 AS contained, i.d2 AS container, (1000000 * i.i) // x.n AS containment_ppm
        |       FROM ix i JOIN sz x ON x.doc_id = i.d1
        |       UNION ALL
        |       SELECT i.d2, i.d1, (1000000 * i.i) // y.n
        |       FROM ix i JOIN sz y ON y.doc_id = i.d2)
        |SELECT contained, container, containment_ppm FROM bo
        |WHERE containment_ppm >= 800000""".stripMargin)),

    // BM25 retrieval scoring (odds idf, integer micro-units) for a fixed
    // query-term set — the ranked scorer fed by q178's inverted index
    Q("q189_bm25", (s, d) =>
      graft.text.TfIdf.bm25OddsMicro(T(s, d, "documents"), "doc_id",
        "text", Seq("spark", "join", "stream", "filter")),
      // BM25 odds-idf in integer micro-units, k1 = 1.2, b = 0.75 (ppm),
      // same staged associativity as the Spark expressions
      Sql(raw"""WITH $BM25,
        |sc AS (SELECT doc_id,
        |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
        |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s,
        |              CAST(count(*) AS BIGINT) AS nm
        |       FROM pt GROUP BY 1)
        |SELECT dl.doc_id, dl.dl, coalesce(sc.nm, 0) AS n_terms_matched,
        |       coalesce(sc.s, 0) AS score_micro
        |FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id""".stripMargin)),

    // differential-privacy-style histogram release: per-(lang, source)
    // counts + bounded two-sided noise, clamp at 0, k=5 suppression. The
    // noise is a DETERMINISTIC sha-derived stand-in (no calibrated RNG in
    // this sandbox); the release shape — sensitivity-1 count, bounded
    // additive noise, small-count suppression — is the real pipeline
    Q("q190_dp_release", (s, d) => {
      val noise = pmod(Dedup.shaTokenHash60(
        concat(lit("dp:"), col("lang"), lit(":"), col("source"))),
        lit(7L)) - lit(3L)
      T(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"),
          greatest(lit(0L), col("n") + noise).as("released"))
        .filter(col("released") >= 5L)
    },
      // sha-derived bounded noise, clamp at 0, k = 5 suppression
      Sql("""WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source,
        |             greatest(CAST(0 AS BIGINT), n +
        |               (CAST(('0x' || substr(sha256('dp:' || lang || ':' || source), 1, 15)) AS BIGINT) % 7) - 3) AS released
        |      FROM g)
        |SELECT lang, source, released FROM r WHERE released >= 5""".stripMargin)),

    // weighted sampling without replacement (integer A-ES variant): key =
    // sha60("ws:"+id) div weight, monotone in weight (heavier docs draw
    // smaller keys), 20 smallest kept — distributed TakeOrdered, no
    // global sort; the deterministic weighted twin of q79/q130
    Q("q191_weighted_sample", (s, d) =>
      T(s, d, "documents")
        .withColumn("sha_key", Dedup.shaTokenHash60(
          concat(lit("ws:"), col("doc_id").cast("string"))))
        .withColumn("k", expr("sha_key div greatest(n_chars, 1L)"))
        .orderBy(col("k"), col("doc_id")).limit(20)
        .select(col("doc_id"), col("n_chars"), col("k").as("sample_key")),
      // integer A-ES: 20 smallest sha60 div weight keys
      Sql("""WITH k AS (SELECT doc_id, n_chars,
        |             CAST(('0x' || substr(sha256('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |               // greatest(n_chars, 1) AS sample_key
        |           FROM documents)
        |SELECT doc_id, n_chars, sample_key FROM k
        |ORDER BY sample_key, doc_id LIMIT 20""".stripMargin)),

    // robust per-language outliers: low-median + MAD, all integer — docs
    // with |n_chars − med| > 2·MAD. Low-median = element at position
    // (cnt+1) div 2 in value order (exact, no interpolation); the per-
    // lang window is fine because lang cardinality is tiny — at corpus
    // scale swap in percentile_approx
    Q("q192_mad_outliers", (s, d) => {
      val docs = T(s, d, "documents")
      def lowMedian(in: DataFrame, v: String, out: String): DataFrame = {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col(v), col("doc_id"))
        in.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy(col("lang"))))
          .filter(col("rn") === expr("(cnt + 1L) div 2L"))
          .groupBy(col("lang")).agg(min(col(v)).as(out))
      }
      val med = lowMedian(docs, "n_chars", "med")
      val dev = docs.join(med, "lang")
        .withColumn("dev", abs(col("n_chars") - col("med")))
      dev.join(lowMedian(dev, "dev", "mad"), "lang")
        .filter(col("dev") > lit(2L) * col("mad"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("med"), col("mad"))
    },
      // low-median + MAD per lang, outliers at dev > 2·MAD
      Sql("""WITH r AS (SELECT doc_id, lang, n_chars,
        |             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS cnt
        |           FROM documents),
        |med AS (SELECT lang, min(n_chars) AS med FROM r WHERE rn = (cnt + 1) // 2 GROUP BY 1),
        |dv AS MATERIALIZED (SELECT d.doc_id, d.lang, d.n_chars, m.med,
        |             abs(d.n_chars - m.med) AS dev
        |      FROM documents d JOIN med m ON m.lang = d.lang),
        |r2 AS (SELECT lang, dev, doc_id,
        |             row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS cnt
        |       FROM dv),
        |mad AS (SELECT lang, min(dev) AS mad FROM r2 WHERE rn = (cnt + 1) // 2 GROUP BY 1)
        |SELECT dv.doc_id, dv.lang, dv.n_chars, dv.med, mad.mad
        |FROM dv JOIN mad USING (lang) WHERE dv.dev > 2 * mad.mad""".stripMargin)),

    // token-budget allocation across sources (integer water-filling,
    // budget = half the corpus chars): equal shares, short sources keep
    // what they have, the freed remainder splits among the unsatisfied
    Q("q198_token_budget", (s, d) =>
      graft.text.TrainPrep.tokenBudget(T(s, d, "documents"), "source",
        col("n_chars")),
      // integer water-filling, one redistribution round, all positive so
      // DuckDB // replays Spark div exactly
      Sql("""WITH a AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS avail
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(avail) AS BIGINT) * 1 // 2 AS budget,
        |             CAST(count(*) AS BIGINT) AS k FROM a),
        |r1 AS (SELECT a.stratum, a.avail, t.budget, t.k, t.budget // t.k AS fair,
        |              least(a.avail, t.budget // t.k) AS a1
        |       FROM a CROSS JOIN t),
        |s AS (SELECT CAST(sum(a1) AS BIGINT) AS used,
        |             CAST(sum(CASE WHEN avail > fair THEN 1 ELSE 0 END) AS BIGINT) AS unsat
        |      FROM r1),
        |f AS (SELECT r1.stratum, r1.avail,
        |             CASE WHEN r1.avail <= r1.fair THEN r1.a1
        |                  ELSE least(r1.avail, r1.fair +
        |                    CASE WHEN s.unsat > 0 THEN (r1.budget - s.used) // s.unsat ELSE 0 END)
        |             END AS alloc
        |      FROM r1 CROSS JOIN s)
        |SELECT stratum, avail, alloc, alloc * 1000000 // avail AS fill_ppm FROM f""".stripMargin)),

    // per-doc n-gram novelty: ppm share of distinct 3-shingles whose
    // global first occurrence (min doc_id) is this doc — the
    // diffuse-overlap data-valuation signal pairwise dedup cannot see
    Q("q199_novelty", (s, d) =>
      Dedup.noveltyPpm(T(s, d, "documents"), "doc_id", "text"),
      // global first-occurrence (min doc id) per shingle, then per-doc ppm
      Sql("""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
        |             FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 3) AS g FROM pos),
        |f AS (SELECT g, min(id) AS first_id FROM sh GROUP BY 1)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       (1000000 * CAST(sum(CASE WHEN id = first_id THEN 1 ELSE 0 END) AS BIGINT))
        |         // CAST(count(*) AS BIGINT) AS novel_ppm
        |FROM sh JOIN f USING (g) GROUP BY 1""".stripMargin)),

    // bigram cross-entropy in whole bits: floor-log2 surprisal via
    // binary-string length (libm-free) — the log-scale companion of
    // q102's linear ppm fluency score
    Q("q200_surprisal_bits", (s, d) =>
      graft.text.QualityRules.bigramSurprisalBits(
        T(s, d, "documents"), "doc_id", "text"),
      // q102's bigram counts; per-occurrence bits = length(bin(pc // bc)) - 1
      // (bin renders a positive bigint identically in Spark and DuckDB)
      Sql("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM tk WHERE len(t) >= 2),
        |bgs AS (SELECT doc_id,
        |               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg,
        |               t[CAST(i AS INT)] AS w1
        |        FROM pos),
        |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS bc FROM bgs GROUP BY 1),
        |pc AS (SELECT w1, CAST(count(*) AS BIGINT) AS pc FROM bgs GROUP BY 1),
        |sc AS (SELECT g.doc_id, CAST(length(bin(p.pc // b.bc)) - 1 AS BIGINT) AS bits
        |       FROM bgs g JOIN bc b USING (bg) JOIN pc p USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(bits) AS BIGINT) AS total_bits,
        |       CAST(sum(bits) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS avg_mbits
        |FROM sc GROUP BY 1""".stripMargin)),

    // decision-stump training (depth-1 CART, exact integer Gini):
    // distill the stopword-density rule the_cnt/n_tokens >= 5% into the
    // best single-feature gate — the quality-classifier root trained
    // closed-form inside the engine (a batch perceptron at these
    // magnitudes provably oscillates; see DecisionStump)
    Q("q205_stump", (s, d) => {
      val ft = T(s, d, "documents").select(
        theLabel.as("y"),
        TF.tokenCount(col("text")).as("f_ntok"),
        expr("n_chars").as("f_nchars"),
        theCnt.as("f_the"))
        .withColumn("f_meanlen", expr("f_nchars div f_ntok"))
      graft.text.DecisionStump.train(ft,
        Seq("f_ntok", "f_meanlen", "f_the", "f_nchars"))
    },
      // exact CART split search: per-(feature, value) label counts,
      // cumulative left/right tallies, floor-ppb weighted Gini
      Sql("""WITH ft AS (
        |  SELECT CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                    t -> t = 'the')) AS BIGINT) * 20
        |              >= CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |         THEN 1 ELSE 0 END AS y,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS f_ntok,
        |         n_chars // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS f_meanlen,
        |         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                  t -> t = 'the')) AS BIGINT) AS f_the,
        |         n_chars AS f_nchars
        |  FROM documents),
        |lg AS (SELECT y, feature, value FROM ft
        |       UNPIVOT (value FOR feature IN (f_ntok, f_meanlen, f_the, f_nchars))),
        |vc AS (SELECT feature, value, CAST(sum(y) AS BIGINT) AS p,
        |              CAST(count(*) - sum(y) AS BIGINT) AS q
        |       FROM lg GROUP BY 1, 2),
        |cum AS (SELECT feature, value,
        |               sum(p) OVER (PARTITION BY feature ORDER BY value) AS pl,
        |               sum(q) OVER (PARTITION BY feature ORDER BY value) AS ql,
        |               sum(p) OVER (PARTITION BY feature) AS pt,
        |               sum(q) OVER (PARTITION BY feature) AS qt
        |        FROM vc),
        |sc AS (SELECT feature, value AS threshold, pl, ql, pt - pl AS pr,
        |              qt - ql AS qr, pl + ql AS nl, pt + qt - pl - ql AS nr
        |       FROM cum WHERE pt + qt - pl - ql > 0),
        |gi AS (SELECT feature, threshold,
        |              CAST(((nl*nl - pl*pl - ql*ql) * 1000000000) // nl +
        |                   ((nr*nr - pr*pr - qr*qr) * 1000000000) // nr AS BIGINT) AS score_ppb,
        |              CAST((greatest(pl, ql) + greatest(pr, qr)) * 1000000 // (nl + nr) AS BIGINT) AS acc_ppm
        |       FROM sc)
        |SELECT feature, threshold, score_ppb, acc_ppm,
        |       CAST(row_number() OVER (ORDER BY score_ppb, feature, threshold) AS BIGINT) AS rank
        |FROM gi
        |QUALIFY row_number() OVER (PARTITION BY feature ORDER BY score_ppb, threshold) = 1""".stripMargin)),

    // source-pair phrasing overlap: word-bigram vocabulary Jaccard in
    // ppm — which sources duplicate each other's phrasing (the corpus-
    // design dual of q179's doc-level split leakage)
    Q("q206_source_overlap", (s, d) => {
      val bg = T(s, d, "documents").select(col("source"),
        explode(TF.wordNgrams(col("text"), 2)).as("b")).distinct()
      val n = bg.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      bg.as("a").join(bg.as("b"),
          col("a.b") === col("b.b") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("inter"))
        .join(n.select(col("source").as("sa"), col("nv").as("na")), "sa")
        .join(n.select(col("source").as("sb"), col("nv").as("nb")), "sb")
        .select(col("sa"), col("sb"), col("inter"),
          expr("inter * 1000000L div (na + nb - inter)").as("jaccard_ppm"))
    },
      // distinct word bigrams per source, pairwise intersection, floor-ppm
      // Jaccard
      Sql("""WITH tk AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT DISTINCT source, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS b
        |       FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM bg GROUP BY 1),
        |ov AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
        |       FROM bg a JOIN bg b ON a.b = b.b AND a.source < b.source GROUP BY 1, 2)
        |SELECT ov.sa, ov.sb, ov.inter,
        |       ov.inter * 1000000 // (x.nv + y.nv - ov.inter) AS jaccard_ppm
        |FROM ov JOIN n x ON x.source = ov.sa JOIN n y ON y.source = ov.sb""".stripMargin)),

    // hashing-trick features (Weinberger ICML'09): tokens sha-hashed
    // into 64 buckets, per-doc top-4 by count — the fixed-width sparse
    // representation in-engine classifiers (q205) consume at any
    // vocabulary size
    Q("q207_feature_hash", (s, d) => {
      val hb = T(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .withColumn("bucket", Dedup.shaTokenHash60(col("tok")) % 64L)
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("bucket"))
      hb.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 4L)
    },
      // sha60(token) % 64 buckets, per-doc top-4 by (count desc, bucket)
      Sql("""WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |hb AS (SELECT doc_id,
        |              CAST(('0x' || substr(sha256(tok), 1, 15)) AS BIGINT) % 64 AS bucket,
        |              CAST(count(*) AS BIGINT) AS cnt
        |       FROM tk GROUP BY 1, 2)
        |SELECT doc_id, bucket, cnt,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket)
        |            AS BIGINT) AS rank
        |FROM hb QUALIFY rank <= 4""".stripMargin)),

    // Gopher structural gates (Rae et al. 2021 §A1.1): word count,
    // cross-multiplied mean word length, stop-word presence, max-token
    // share — four integer predicates + the composite pass
    Q("q208_gopher", (s, d) =>
      graft.text.QualityRules.gopherGates(
        T(s, d, "documents"), "doc_id", "text"),
      // the four Gopher gates as integer predicates; mean word length by
      // cross-multiplication (40 ≤ 10·mean ≤ 48)
      Sql("""WITH ft AS (SELECT doc_id, n_chars,
        |                   regexp_split_to_array(trim(text), '\s+') AS t,
        |                   CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS nc_ns
        |            FROM documents),
        |mx AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS maxtok FROM (
        |         SELECT doc_id, count(*) AS c FROM ft, unnest(t) AS u(x)
        |         GROUP BY doc_id, x) GROUP BY 1),
        |m AS (SELECT f.doc_id, CAST(len(f.t) AS BIGINT) AS nw, f.nc_ns,
        |             CAST(len(list_filter(f.t,
        |                x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS nstop,
        |             mx.maxtok
        |      FROM ft f JOIN mx ON mx.doc_id = f.doc_id)
        |SELECT doc_id, nw,
        |       CAST(CASE WHEN nw BETWEEN 25 AND 80 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
        |       CAST(CASE WHEN 40*nw <= 10*nc_ns AND 10*nc_ns <= 48*nw THEN 1 ELSE 0 END AS BIGINT) AS r_meanlen,
        |       CAST(CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
        |       CAST(CASE WHEN maxtok * 5 <= nw THEN 1 ELSE 0 END AS BIGINT) AS r_rep,
        |       CAST(CASE WHEN nw BETWEEN 25 AND 80 AND 40*nw <= 10*nc_ns
        |                  AND 10*nc_ns <= 48*nw AND nstop >= 2
        |                  AND maxtok * 5 <= nw THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m""".stripMargin)),

    // multinomial Naive Bayes distilled from the stopword-density rule
    // (the q205 label), trained and self-evaluated in two shuffles:
    // integer floor-log2 count-ratio weights, confusion matrix out
    Q("q211_nb", (s, d) =>
      graft.text.NaiveBayes.confusion(T(s, d, "documents"), "doc_id",
        "text", theLabel),
      // NB replay: per-token class counts, floor-log2 weights via bin(),
      // token-instance score sum + prior bits, confusion matrix
      Sql(raw"""WITH $NB
        |SELECT CAST(y AS BIGINT) AS y,
        |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM sc GROUP BY 1, 2""".stripMargin)),

    // corpus-level TextRank keywords: adjacent-token graph (count-pruned),
    // 3 integer weighted-PageRank rounds in ppm, top 20
    Q("q216_textrank", (s, d) =>
      graft.text.TextRank.keywords(T(s, d, "documents"), "doc_id", "text"),
      // TextRank replay: pruned adjacent-token graph, 3 recursive ppm
      // power rounds (every vertex of the symmetric graph has in-edges,
      // so the contrib aggregation covers all of them), top 20
      Sql("""WITH RECURSIVE tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tk),
        |keep AS (SELECT tok FROM tok GROUP BY 1 HAVING count(*) >= 5),
        |kept AS (SELECT doc_id, pos, tok FROM tok JOIN keep USING (tok)),
        |pe AS (SELECT least(a.tok, b.tok) AS u, greatest(a.tok, b.tok) AS v,
        |              CAST(count(*) AS BIGINT) AS w
        |       FROM kept a JOIN kept b
        |         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.tok <> b.tok
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |se AS (SELECT u AS src, v AS dst, w FROM pe UNION ALL SELECT v, u, w FROM pe),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM se GROUP BY 1),
        |pr(it, tok, r) AS (
        |  SELECT 0, src, CAST(1000000 AS BIGINT) FROM ow
        |  UNION ALL
        |  SELECT c.it + 1, se.dst,
        |         CAST(150000 + (850000 * sum((c.r * se.w) // ow.wout)) // 1000000 AS BIGINT)
        |  FROM pr c JOIN se ON se.src = c.tok JOIN ow ON ow.src = c.tok
        |  WHERE c.it < 3
        |  GROUP BY 1, 2)
        |SELECT tok, r AS rank_ppm,
        |       CAST(row_number() OVER (ORDER BY r DESC, tok) AS BIGINT) AS rk
        |FROM pr WHERE it = 3 ORDER BY r DESC, tok LIMIT 20""".stripMargin)),

    // T5-style span corruption: sha-selected 3-token spans masked to "_",
    // (corrupted, target) seq2seq pairs as a pure function of the corpus
    Q("q217_span_corrupt", (s, d) =>
      graft.text.SpanCorrupt.pairs(T(s, d, "documents"), "doc_id", "text"),
      // span-corruption replay: sha start predicate, range-masked tokens,
      // ordered string_agg reassembly
      Sql("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
        |               CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS pos,
        |               unnest(t) AS tok
        |        FROM tk),
        |st AS (SELECT doc_id, pos AS sp FROM tok
        |       WHERE pos + 3 <= n
        |         AND CAST(('0x' || substr(sha256('sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 8),
        |mk AS (SELECT DISTINCT t2.doc_id, t2.pos FROM tok t2
        |       JOIN st ON st.doc_id = t2.doc_id
        |              AND t2.pos >= st.sp AND t2.pos < st.sp + 3),
        |tg AS (SELECT t.doc_id, t.pos, t.tok,
        |              CASE WHEN mk.pos IS NOT NULL THEN 1 ELSE 0 END AS m
        |       FROM tok t LEFT JOIN mk ON mk.doc_id = t.doc_id AND mk.pos = t.pos)
        |SELECT doc_id, CAST(max(pos) + 1 AS BIGINT) AS n_tokens,
        |       CAST(sum(m) AS BIGINT) AS n_masked,
        |       string_agg(CASE WHEN m = 1 THEN '_' ELSE tok END, ' ' ORDER BY pos) AS corrupted,
        |       coalesce(string_agg(CASE WHEN m = 1 THEN tok END, ' ' ORDER BY pos), '') AS target
        |FROM tg GROUP BY 1""".stripMargin)),

    // blocked edit-distance near-dup join: shared 8-char prefix block +
    // length +-3, levenshtein over 48-char prefixes <= 3
    Q("q219_typo_pairs", (s, d) =>
      Dedup.typoPairs(T(s, d, "documents"), "doc_id", "text"),
      // blocked levenshtein near-dup replay
      Sql("""WITH t AS (SELECT doc_id AS id,
        |                  substr(lower(trim(text)), 1, 48) AS pfx
        |           FROM documents),
        |tb AS (SELECT id, pfx, substr(pfx, 1, 8) AS blk FROM t)
        |SELECT a.id AS doc_a, b.id AS doc_b,
        |       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        |FROM tb a JOIN tb b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.pfx, b.pfx) <= 3""".stripMargin)),

    // reciprocal-rank fusion of the q189 BM25 ranking with the raw
    // term-frequency ranking for the same query, rrf k = 60, top 20
    Q("q220_rrf", (s, d) =>
      graft.text.TfIdf.rrfFusion(T(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "stream", "filter")),
      // RRF replay: the q189 BM25 ranking fused with the raw tf ranking
      Sql(raw"""WITH $BM25,
        |sc AS (SELECT doc_id,
        |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
        |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s
        |       FROM pt GROUP BY 1),
        |ra AS (SELECT dl.doc_id,
        |              CAST(row_number() OVER (ORDER BY coalesce(sc.s, 0) DESC, dl.doc_id) AS BIGINT) AS rank_bm25
        |       FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id),
        |tfs AS (SELECT dl.doc_id, coalesce(sum(tf.tf), 0) AS tfs
        |        FROM dl LEFT JOIN tf ON tf.doc_id = dl.doc_id GROUP BY 1),
        |rb AS (SELECT doc_id,
        |              CAST(row_number() OVER (ORDER BY tfs DESC, doc_id) AS BIGINT) AS rank_tf
        |       FROM tfs)
        |SELECT ra.doc_id, ra.rank_bm25, rb.rank_tf,
        |       1000000 // (60 + ra.rank_bm25) + 1000000 // (60 + rb.rank_tf) AS rrf_ppm
        |FROM ra JOIN rb USING (doc_id)
        |ORDER BY rrf_ppm DESC, ra.doc_id LIMIT 20""".stripMargin)),

    // interpolated Kneser-Ney bigram probabilities in integer milli:
    // top-20 left contexts, top-3 continuations each — the
    // continuation-count smoothing q102/q200 lack
    Q("q221_kn_bigram", (s, d) =>
      graft.text.QualityRules.knBigram(T(s, d, "documents"), "doc_id",
        "text"),
      // Kneser-Ney replay: bigram type/occurrence counts, continuation
      // counts, the milli formula, per-head rank
      Sql("""WITH tk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bgs AS (SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
        |        FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bgs GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |              CAST(count(*) AS BIGINT) AS n1plus
        |       FROM bg GROUP BY 1),
        |pre AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1pre FROM bg GROUP BY 1),
        |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bg),
        |top AS (SELECT w1, c1, n1plus FROM c1 ORDER BY c1 DESC, w1 LIMIT 20),
        |sc AS (SELECT bg.w1, bg.w2, bg.c12,
        |              (CASE WHEN bg.c12 * 1000 - 750 > 0
        |                    THEN (bg.c12 * 1000 - 750) // top.c1 ELSE 0 END)
        |              + ((750 * top.n1plus) // top.c1)
        |                * ((1000 * pre.n1pre) // bb.b) // 1000 AS pkn_milli
        |       FROM bg JOIN top USING (w1) JOIN pre USING (w2) CROSS JOIN bb)
        |SELECT w1, w2, c12, pkn_milli, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY w1
        |            ORDER BY pkn_milli DESC, w2) AS BIGINT) AS rk
        |  FROM sc)
        |WHERE rk <= 3""".stripMargin)),

    // tokenizer fertility per predicted language: BPE-ish sub-tokens per
    // whitespace word, floor ppm, one 4-group aggregation
    Q("q225_fertility", (s, d) =>
      graft.text.QualityRules.tokenizerFertility(T(s, d, "documents"),
        "text"),
      // langid vote x token counts, one group-by, floor-ppm fertility
      Sql("""WITH sc AS (SELECT
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x IN ('le','la','les','et','est','que'))) AS f,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS t
        |FROM documents),
        |lg AS (SELECT CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |                   WHEN d >= f AND d > 0 THEN 'de'
        |                   WHEN f > 0 THEN 'fr' ELSE 'und' END AS lang_pred,
        |              w, t FROM sc)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(w) AS BIGINT) AS n_words,
        |       CAST(sum(t) AS BIGINT) AS n_subtokens,
        |       CAST(sum(t) AS BIGINT) * 1000000 // CAST(sum(w) AS BIGINT) AS fertility_ppm
        |FROM lg GROUP BY 1""".stripMargin)),

    // train/val unigram drift after the sha split: top-12 tokens by ppm
    // gap + the global total-variation distance on every row
    Q("q226_split_drift", (s, d) =>
      graft.text.TrainPrep.splitDrift(T(s, d, "documents"), "doc_id",
        "text"),
      // sha-split replay, per-split unigram ppm, full-outer gap + TV
      Sql("""WITH sp AS (SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |                   ELSE 'test' END AS split, text
        |       FROM (SELECT CAST(('0x' || substr(sha256('s1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                    AS BIGINT) % 100 AS h, text FROM documents)),
        |tok AS (SELECT split, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM sp WHERE split <> 'test'),
        |cnt AS (SELECT split, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT split, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |ppm AS (SELECT cnt.split, cnt.token, cnt.c * 1000000 // tot.t AS ppm
        |        FROM cnt JOIN tot USING (split)),
        |tr AS (SELECT token, ppm AS train_ppm FROM ppm WHERE split = 'train'),
        |va AS (SELECT token, ppm AS valid_ppm FROM ppm WHERE split = 'val'),
        |j AS MATERIALIZED (SELECT coalesce(tr.token, va.token) AS token,
        |            CAST(coalesce(train_ppm, 0) AS BIGINT) AS train_ppm,
        |            CAST(coalesce(valid_ppm, 0) AS BIGINT) AS valid_ppm,
        |            CAST(abs(coalesce(train_ppm, 0) - coalesce(valid_ppm, 0)) AS BIGINT) AS delta_ppm
        |     FROM tr FULL OUTER JOIN va ON tr.token = va.token),
        |tv AS (SELECT CAST(sum(delta_ppm) AS BIGINT) // 2 AS tv_ppm FROM j)
        |SELECT token, train_ppm, valid_ppm, delta_ppm, tv.tv_ppm
        |FROM j CROSS JOIN tv
        |ORDER BY delta_ppm DESC, token LIMIT 12""".stripMargin)),

    // degenerate-generation detector: longest consecutive repeated-token
    // run per document (runs >= 3), islands trick on the doc key
    Q("q227_token_runs", (s, d) =>
      graft.text.QualityRules.maxTokenRun(T(s, d, "documents"), "doc_id",
        "text"),
      // islands trick replay: run key = position - per-(doc,token) rank
      Sql("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |            FROM documents),
        |pos AS (SELECT doc_id, a[CAST(i AS INT)] AS token, CAST(i AS BIGINT) AS p
        |        FROM tk, unnest(generate_series(1, len(a))) AS u(i)),
        |grp AS (SELECT doc_id, token,
        |               p - row_number() OVER (PARTITION BY doc_id, token ORDER BY p) AS g
        |        FROM pos),
        |runs AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS run_len
        |         FROM grp GROUP BY doc_id, token, g
        |         HAVING count(*) >= 3)
        |SELECT doc_id, token, run_len FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY run_len DESC, token) AS rk FROM runs)
        |WHERE rk = 1""".stripMargin)),

    // gains/lift ledger of the q211 NB classifier: per-score-band counts,
    // precision and cumulative positive capture — the threshold-picking
    // view (window runs over the tiny score histogram, never over docs)
    Q("q229_nb_gains", (s, d) =>
      graft.text.NaiveBayes.gains(T(s, d, "documents"), "doc_id",
        "text", theLabel),
      // q211's NB trunk + per-score-value gains windows
      Sql(raw"""WITH $NB,
        |hist AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |                CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |         FROM sc GROUP BY 1),
        |tp AS (SELECT CAST(greatest(sum(pos), 1) AS BIGINT) AS t FROM hist)
        |SELECT score, n, pos,
        |       CAST(sum(n) OVER win AS BIGINT) AS cum_n,
        |       CAST(sum(pos) OVER win AS BIGINT) AS cum_pos,
        |       pos * 1000000 // n AS rate_ppm,
        |       CAST(sum(pos) OVER win AS BIGINT) * 1000000 // tp.t AS capture_ppm
        |FROM hist CROSS JOIN tp
        |WINDOW win AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)""".stripMargin)),

    // TextTiling-style block cohesion: Jaccard ppm between adjacent
    // 20-token blocks, boundary flag under 10% — the long-doc chunker
    Q("q230_block_cohesion", (s, d) =>
      graft.text.QualityRules.blockCohesion(T(s, d, "documents"),
        "doc_id", "text"),
      // adjacent-block distinct-token Jaccard, boundary under 100000 ppm
      Sql("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |            FROM documents),
        |pos AS (SELECT DISTINCT doc_id, CAST((i - 1) // 20 AS BIGINT) AS block,
        |               a[CAST(i AS INT)] AS token
        |        FROM tk, unnest(generate_series(1, len(a))) AS u(i)),
        |sz AS (SELECT doc_id, block, CAST(count(*) AS BIGINT) AS sz
        |       FROM pos GROUP BY 1, 2),
        |ix AS (SELECT a.doc_id, a.block, CAST(count(*) AS BIGINT) AS ix
        |       FROM pos a JOIN pos b ON a.doc_id = b.doc_id
        |         AND a.block + 1 = b.block AND a.token = b.token
        |       GROUP BY 1, 2)
        |SELECT l.doc_id, l.block,
        |       coalesce(ix.ix, 0) * 1000000 // (l.sz + r.sz - coalesce(ix.ix, 0)) AS overlap_ppm,
        |       (coalesce(ix.ix, 0) * 1000000 // (l.sz + r.sz - coalesce(ix.ix, 0))) < 100000 AS is_boundary
        |FROM sz l JOIN sz r ON l.doc_id = r.doc_id AND l.block + 1 = r.block
        |LEFT JOIN ix ON ix.doc_id = l.doc_id AND ix.block = l.block""".stripMargin)),

    // exact-dedup savings ledger: duplicate-cluster size histogram with
    // copies and characters removed by keeping one doc per content hash
    Q("q233_dedup_stats", (s, d) =>
      Dedup.dedupSavings(T(s, d, "documents"), "text"),
      // content-hash cluster histogram with per-size savings
      Sql("""WITH g AS (SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS n,
        |                  CAST(max(length(text)) AS BIGINT) AS len
        |           FROM documents GROUP BY 1)
        |SELECT n AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(sum((n - 1) * len) AS BIGINT) AS chars_saved
        |FROM g GROUP BY 1""".stripMargin)),

    // Iceberg-style branch (WAP): stage the odd-length docs on branch
    // "exp"; default read stays pinned to main, the branch sees the union
    Q("q234_catalog_branch", (s, d) => {
      val root = scratchDir("graft-branch")
      val cat = new graft.catalog.LocalCatalog(root)
      val docs = T(s, d, "documents").select(col("doc_id"), col("n_chars"))
      cat.createOrReplace("corpus", docs.filter(col("n_chars") % 2 === 0))
      cat.branch("corpus", "exp")
      cat.appendTo("corpus", "exp", docs.filter(col("n_chars") % 2 =!= 0))
      def ledger(df: DataFrame, ref: String) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(ref).as("ref"), col("n_rows"), col("sum_chars"))
      ledger(cat.read(s, "corpus"), "main")
        .unionAll(ledger(cat.readRef(s, "corpus", "exp"), "exp"))
    },
      // branch isolation replay: main = even-length docs, exp = all docs
      Sql("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |                  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |           FROM documents WHERE n_chars % 2 = 0),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |      FROM documents)
        |SELECT 'main' AS ref, n_rows, sum_chars FROM m
        |UNION ALL SELECT 'exp', n_rows, sum_chars FROM x""".stripMargin)),

    // packing-efficiency audit over the q47 layout: spanners, spilled
    // tokens, fill ppm — one scalar row
    Q("q235_pack_audit", (s, d) =>
      graft.text.TrainPrep.packAudit(
        graft.text.TrainPrep.sequentialPack(s, T(s, d, "documents"),
          "doc_id", TF.tokenCount(col("text")), capacity = 512), 512),
      // q47's pack layout + the one-row efficiency reduction
      Sql("""WITH t AS (SELECT doc_id,
        |                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
        |      FROM t),
        |p AS (SELECT n AS n_tokens, CAST(floor(strt / 512.0) AS BIGINT) AS bin,
        |             strt % 512 AS bin_offset FROM c)
        |SELECT CAST(max(bin) + 1 AS BIGINT) AS n_bins,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN bin_offset + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanners,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(sum(greatest(0, bin_offset + n_tokens - 512)) AS BIGINT) AS spilled_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) * 1000000
        |         // (CAST(max(bin) + 1 AS BIGINT) * 512) AS fill_ppm
        |FROM p""".stripMargin)),

    // NB reliability ledger: implied 2^|s|/(2^|s|+1) confidence vs
    // empirical band accuracy + expected calibration error, integer ppm
    Q("q237_nb_calibration", (s, d) =>
      graft.text.NaiveBayes.calibration(T(s, d, "documents"), "doc_id",
        "text", theLabel),
      // reliability ledger over the q211 NB score histogram
      Sql(raw"""WITH $NB,
        |led AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(CASE WHEN y = CASE WHEN score > 0 THEN 1 ELSE 0 END
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |        FROM sc GROUP BY 1),
        |cal AS (SELECT score, n, n_correct,
        |               (1000000 * (CAST(1 AS BIGINT) << least(abs(score), 20)))
        |                 // ((CAST(1 AS BIGINT) << least(abs(score), 20)) + 1) AS conf_ppm,
        |               (1000000 * n_correct) // n AS acc_ppm
        |        FROM led),
        |g AS (SELECT score, n, n_correct, conf_ppm, acc_ppm,
        |             abs(conf_ppm - acc_ppm) AS gap_ppm FROM cal),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |              CAST(sum(n * gap_ppm) AS BIGINT) AS sg FROM g)
        |SELECT score, n, n_correct, conf_ppm, acc_ppm, gap_ppm,
        |       sg // nn AS ece_ppm
        |FROM g CROSS JOIN tt""".stripMargin)),

    // exact Lorenz deciles + Gini of doc-length concentration — value-
    // histogram ranks, no per-row global sort
    Q("q238_lorenz", (s, d) =>
      graft.text.TrainPrep.lorenzDeciles(T(s, d, "documents"), "n_chars"),
      // exact Lorenz deciles + Gini over the length-value histogram
      Sql("""WITH h AS (SELECT CAST(n_chars AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1),
        |cum AS (SELECT x, c, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS r1,
        |               CAST(sum(c) OVER (ORDER BY x) - c AS BIGINT) AS r0 FROM h),
        |tot AS (SELECT CAST(max(r1) AS BIGINT) AS n, CAST(sum(x * c) AS BIGINT) AS t,
        |               CAST(sum(x * (c * r0 + c * (c + 1) // 2)) AS BIGINT) AS s
        |        FROM cum),
        |gg AS (SELECT n, t, (1000000 * (2 * s - (n + 1) * t)) // (n * t) AS gini_ppm FROM tot),
        |dec AS (SELECT d.decile, cum.x,
        |               least(cum.r1, (d.decile + 1) * gg.n // 10)
        |                 - greatest(cum.r0, d.decile * gg.n // 10) AS o
        |        FROM cum CROSS JOIN gg
        |             CROSS JOIN (SELECT unnest(range(10)) AS decile) d),
        |agg AS (SELECT decile, CAST(sum(o) AS BIGINT) AS n_docs,
        |               CAST(sum(o * x) AS BIGINT) AS mass
        |        FROM dec WHERE o > 0 GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_docs, mass,
        |       (1000000 * mass) // gg.t AS mass_ppm,
        |       (1000000 * CAST(sum(mass) OVER (ORDER BY decile) AS BIGINT)) // gg.t AS cum_mass_ppm,
        |       gg.gini_ppm
        |FROM agg CROSS JOIN gg""".stripMargin)),

    // Heaps'-law vocabulary growth per 64-doc block — word-trigram
    // first-occurrence agg + a ledger-sized cumulative window
    Q("q239_heaps", (s, d) =>
      graft.text.TrainPrep.heapsLedger(T(s, d, "documents"), "doc_id",
        "text", n = 3, bucket = 64),
      // vocabulary growth by 64-doc block from trigram first occurrences
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM tok WHERE len(t) >= 3),
        |tk AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS tok FROM pos),
        |f AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fid FROM tk GROUP BY 1),
        |b AS (SELECT fid // 64 AS bucket, CAST(count(*) AS BIGINT) AS new_tokens
        |      FROM f GROUP BY 1)
        |SELECT bucket, bucket * 64 AS first_doc, bucket * 64 + 63 AS last_doc,
        |       new_tokens,
        |       CAST(sum(new_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
        |FROM b""".stripMargin)),

    // k-anonymity audit over (lang, source, length-bucket) quasi-
    // identifiers: groups under k=3 + corpus risk share
    Q("q242_kanon", (s, d) =>
      graft.text.QualityRules.kAnonymityRisk(
        T(s, d, "documents").select(col("lang"), col("source"),
          expr("n_chars div 100L").as("len_bucket")),
        Seq("lang", "source", "len_bucket"), k = 3L),
      // QI groups under k=3 + constant corpus risk share
      Sql("""WITH g AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |                  CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t,
        |             CAST(sum(CASE WHEN n_docs < 3 THEN n_docs ELSE 0 END) AS BIGINT) AS r
        |      FROM g)
        |SELECT lang, source, len_bucket, n_docs, (1000000 * r) // t AS risk_ppm
        |FROM g CROSS JOIN t WHERE n_docs < 3""".stripMargin)),

    // robust winnowing (MOSS) fingerprint selection: rightmost window
    // minimum over sha-seeded positional 5-gram hashes, w=4
    Q("q244_winnow", (s, d) =>
      Dedup.winnow(T(s, d, "documents"), "doc_id", "text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id"),
      // robust winnowing: rightmost min of each full 4-window of 5-gram
      // sha60 hashes, distinct selections
      Sql("""WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
        |             FROM documents WHERE length(text) >= 8),
        |h AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |             CAST(('0x' || substr(sha256(substr(text, CAST(i AS INT), 5)), 1, 15)) AS BIGINT) AS h
        |      FROM pos),
        |w AS (SELECT doc_id, pos, h,
        |             count(*) OVER win AS cnt,
        |             min(struct_pack(h := h, np := -pos)) OVER win AS m
        |      FROM h WINDOW win AS (PARTITION BY doc_id ORDER BY pos
        |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING))
        |SELECT DISTINCT doc_id, -struct_extract(m, 'np') AS pos,
        |       struct_extract(m, 'h') AS fp
        |FROM w WHERE cnt = 4""".stripMargin)),

    // per-32-token-segment language id: mixing ledger per document
    Q("q245_code_switch", (s, d) =>
      graft.text.QualityRules.codeSwitch(T(s, d, "documents"), "doc_id",
          "text", seg = 32)
        .withColumnRenamed("id", "doc_id"),
      // per-32-token-segment language id, mixing ledger per document
      Sql("""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |             FROM documents WHERE length(trim(text)) > 0),
        |seg AS (SELECT doc_id, array_to_string(t[i*32+1 : i*32+32], ' ') AS s
        |        FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 32)) AS i
        |              FROM tok)),
        |lid AS (SELECT doc_id,
        |          CASE WHEN e >= d AND e >= f AND e > 0 THEN 'en'
        |               WHEN d >= f AND d > 0 THEN 'de'
        |               WHEN f > 0 THEN 'fr' ELSE 'und' END AS l
        |        FROM (SELECT doc_id,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('the','a','of','and','to','in','is','it'))) AS e,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('der','die','das','und','ist','nicht'))) AS d,
        |            len(list_filter(regexp_split_to_array(trim(s), '\s+'),
        |                x -> x IN ('le','la','les','et','est','que'))) AS f
        |          FROM seg)),
        |pl AS (SELECT doc_id, l, CAST(count(*) AS BIGINT) AS c FROM lid GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments,
        |               CAST(count(*) AS BIGINT) AS n_langs,
        |               max(struct_pack(c := c, l := l)) AS m
        |        FROM pl GROUP BY 1)
        |SELECT doc_id, n_segments, n_langs,
        |       struct_extract(m, 'l') AS majority_lang,
        |       (1000000 * (n_segments - struct_extract(m, 'c'))) // n_segments AS minority_ppm
        |FROM agg""".stripMargin)),

    // C4/LDNOOBW-style wordlist gate: per-doc hit ppm + keep decision
    Q("q249_blocklist", (s, d) =>
      graft.text.QualityRules.blocklistGate(T(s, d, "documents"),
        "doc_id", "text", Seq("error", "slow", "fail"),
        thresholdPpm = 50000L),
      // per-doc blocklist hits + keep decision
      Sql("""SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |            x -> x IN ('error', 'slow', 'fail'))) AS BIGINT) AS hits,
        |       CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |            THEN (1000000 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                 x -> x IN ('error', 'slow', 'fail'))) AS BIGINT))
        |                 // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |            ELSE 0 END AS hit_ppm,
        |       CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |            THEN (1000000 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                 x -> x IN ('error', 'slow', 'fail'))) AS BIGINT))
        |                 // CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |            ELSE 0 END < 50000 AS keep
        |FROM documents""".stripMargin)),

    // NDCG@10 + MRR of the q189 BM25 ranking, relevance = matched
    // query terms; integer micro discounts shared with the oracle
    Q("q250_ndcg", (s, d) =>
      graft.text.TfIdf.ndcgAtK(
        graft.text.TfIdf.bm25OddsMicro(T(s, d, "documents"), "doc_id",
          "text", Seq("spark", "join", "stream", "filter")),
        "doc_id", "n_terms_matched", "score_micro", k = 10),
      // NDCG@10 + MRR over the q189 chain; disc table interpolated from
      // the same TfIdf.ndcgDiscMicro constants the operator uses
      Sql {
        val discVals = graft.text.TfIdf.ndcgDiscMicro(10).zipWithIndex
          .map { case (dv, i) => s"(${i + 1}, $dv)" }.mkString(", ")
        s"""WITH $BM25,
          |sc AS (SELECT doc_id,
          |              CAST(sum(idf_ppm * (tf * (1000000 + 1200000) * 1000000 //
          |                (tf * 1000000 + (1200000 * norm_ppm) // 1000000)) // 1000000) AS BIGINT) AS s,
          |              CAST(count(*) AS BIGINT) AS nm
          |       FROM pt GROUP BY 1),
          |sco AS (SELECT dl.doc_id AS doc_id, coalesce(sc.nm, 0) AS rel,
          |               coalesce(sc.s, 0) AS score
          |        FROM dl LEFT JOIN sc ON sc.doc_id = dl.doc_id),
          |disc(rnk, dv) AS (VALUES $discVals),
          |act AS (SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          |        FROM sco ORDER BY score DESC, doc_id LIMIT 10),
          |ide AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
          |        FROM sco ORDER BY rel DESC, doc_id LIMIT 10),
          |a AS (SELECT CAST(sum(rel * disc.dv) AS BIGINT) AS dcg_micro,
          |             CAST(min(CASE WHEN rel > 0 THEN act.rnk END) AS BIGINT) AS fr
          |      FROM act JOIN disc ON disc.rnk = act.rnk),
          |i AS (SELECT CAST(sum(rel * disc.dv) AS BIGINT) AS idcg_micro
          |      FROM ide JOIN disc ON disc.rnk = ide.rnk)
          |SELECT a.dcg_micro, i.idcg_micro,
          |       (1000000 * a.dcg_micro) // i.idcg_micro AS ndcg_ppm,
          |       coalesce(1000000 // a.fr, 0) AS mrr_micro
          |FROM a CROSS JOIN i WHERE i.idcg_micro > 0""".stripMargin
      }),

    // leave-one-source-out NB data valuation: per held-out source, the
    // confusion matrix of the classifier retrained WITHOUT that source
    // (additive sufficient statistics — one extra aggregation, no
    // retraining pass), evaluated on the surviving docs; same label
    // rule and integer bit arithmetic as q211
    Q("q254_loo_source_value", (s, d) =>
      graft.text.NaiveBayes.looSourceValue(T(s, d, "documents"), "doc_id",
        "text", "source", theLabel),
      // LOO NB replay: q211's pipeline with per-source totals subtracted
      // inside the bit-logs; length(bin()) differences replay Spark's
      // (length-1) bits exactly (the -1s cancel in every difference)
      Sql("""WITH tk AS (SELECT doc_id, source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |            FROM documents),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
        |                CAST(sum(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS thec
        |         FROM tk GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN thec * 20 >= ntok THEN 1 ELSE 0 END AS y FROM base),
        |ti AS (SELECT t.doc_id, t.source AS dsrc, l.y, t.tok FROM tk t JOIN lab l USING (doc_id)),
        |tot AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
        |               CAST(count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT) AS n1,
        |               CAST(count(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS BIGINT) AS n0,
        |               CAST(count(DISTINCT tok) AS BIGINT) AS v
        |        FROM ti),
        |stot AS (SELECT dsrc AS hsrc,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1s,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0s,
        |               CAST(count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS BIGINT) AS n1s,
        |               CAST(count(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS BIGINT) AS n0s
        |        FROM ti GROUP BY 1),
        |pres AS (SELECT DISTINCT tok, dsrc FROM ti),
        |excl AS (SELECT p.dsrc AS hsrc, CAST(count(*) AS BIGINT) AS vx
        |         FROM pres p JOIN (SELECT tok, count(*) AS ns FROM pres GROUP BY 1) q USING (tok)
        |         WHERE q.ns = 1 GROUP BY 1),
        |scal AS (SELECT s.hsrc, s.t1s, s.t0s, s.n1s, s.n0s,
        |                (SELECT v FROM tot) - coalesce(e.vx, 0) AS vloo
        |         FROM stot s LEFT JOIN excl e USING (hsrc)),
        |cnt AS (SELECT tok,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
        |        FROM ti GROUP BY 1),
        |cnts AS (SELECT tok, dsrc AS hsrc,
        |               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1s,
        |               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0s
        |         FROM ti GROUP BY 1, 2),
        |w AS (SELECT c.tok, s.hsrc,
        |             CAST(length(bin((c.c1 - coalesce(cs.c1s, 0) + 1) * ((SELECT t0 FROM tot) - s.t0s + s.vloo))) AS BIGINT)
        |           - CAST(length(bin((c.c0 - coalesce(cs.c0s, 0) + 1) * ((SELECT t1 FROM tot) - s.t1s + s.vloo))) AS BIGINT) AS w,
        |             CAST(length(bin((SELECT n1 FROM tot) - s.n1s + 1)) AS BIGINT)
        |           - CAST(length(bin((SELECT n0 FROM tot) - s.n0s + 1)) AS BIGINT) AS prior
        |      FROM cnt c CROSS JOIN scal s
        |      LEFT JOIN cnts cs ON cs.tok = c.tok AND cs.hsrc = s.hsrc),
        |sc AS (SELECT ti.doc_id, ti.y, w.hsrc, w.prior,
        |              CAST(sum(w.w) AS BIGINT) + w.prior AS score
        |       FROM ti JOIN w ON ti.tok = w.tok AND ti.dsrc <> w.hsrc
        |       GROUP BY 1, 2, 3, 4)
        |SELECT hsrc AS held_out, CAST(y AS BIGINT) AS y,
        |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM sc GROUP BY 1, 2, 3""".stripMargin)),

    // l-diversity audit (attribute disclosure, the q242 companion):
    // (lang, 25-char length bucket) groups whose docs span < 3 distinct
    // sources leak their source to anyone who locates the group (the
    // fine bucket keeps the audit non-vacuous at every sf)
    Q("q255_ldiversity", (s, d) =>
      graft.text.QualityRules.lDiversityRisk(
        T(s, d, "documents").select(col("lang"),
          expr("n_chars div 25L").as("len_bucket"), col("source")),
        Seq("lang", "len_bucket"), "source", l = 3L),
      // one aggregation + corpus-wide share, groups spanning < 3 sources
      Sql("""WITH g AS (SELECT lang, n_chars // 25 AS len_bucket,
        |                  CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive
        |           FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST((1000000 * sum(CASE WHEN n_sensitive < 3 THEN n_docs ELSE 0 END))
        |                    // sum(n_docs) AS BIGINT) AS risk_ppm FROM g)
        |SELECT g.lang, g.len_bucket, g.n_docs, g.n_sensitive, tot.risk_ppm
        |FROM g CROSS JOIN tot WHERE g.n_sensitive < 3""".stripMargin))
  )
}
