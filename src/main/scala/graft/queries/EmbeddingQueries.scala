package graft.queries

import graft.sim.Ann
import graft.text.Dedup
import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Queries over the `embeddings` table: similarity search, ANN and
  * vector quality checks. */
object EmbeddingQueries {
  val all: Seq[Q] = Seq(
    // -- embeddings: similarity search --
    Q("q22_embed_norm", (s, d) =>
      T(s, d, "embeddings").select(col("vec_id"),
        round(Ann.l2(col("embedding")), 4).as("l2")),
      Sql("""SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
        |FROM embeddings""".stripMargin)),
    Q("q23_ann_top1", (s, d) => {
      val emb = T(s, d, "embeddings")
      Ann.bruteTopK(emb, "vec_id", "embedding", 1)
        .join(emb.select(col("vec_id").as("nn_id"),
          col("label").as("nn_label")), "nn_id")
        .select(col("vec_id"), col("nn_id"), col("nn_label"))
    },
      Sql("""WITH p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, b.label AS lb,
        |         list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                          list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS dot
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT va, vb, lb,
        |             row_number() OVER (PARTITION BY va ORDER BY dot DESC, vb) AS rn
        |      FROM p)
        |SELECT va AS vec_id, vb AS nn_id, lb AS nn_label FROM r WHERE rn = 1""".stripMargin),
      benchGated = true),
    // embedding-cosine near-duplicate pairs (exact baseline)
    Q("q33_embed_neardup", (s, d) =>
      Ann.nearDuplicates(T(s, d, "embeddings"), "vec_id", "embedding", 0.35)
        .select(col("d1"), col("d2"), round(col("cosine"), 6).as("cosine")),
      Sql("""WITH p AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                     list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT d1, d2, round(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.35""".stripMargin),
      benchGated = true),
    Q("q28_ann_topk", (s, d) =>
      Ann.bruteTopK(T(s, d, "embeddings"), "vec_id", "embedding", 5)
        .select(col("vec_id"), col("nn_id"), col("rnk"),
          round(col("cosine"), 4).as("cosine")),
      Sql("""WITH p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                     list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT va, vb, cosine,
        |             row_number() OVER (PARTITION BY va ORDER BY cosine DESC, vb) AS rn
        |      FROM p)
        |SELECT va AS vec_id, vb AS nn_id, CAST(rn AS BIGINT) AS rnk,
        |       round(cosine, 4) AS cosine
        |FROM r WHERE rn <= 5""".stripMargin),
      benchGated = true),
    // IVF ANN (k-means-lite inverted file, learned buckets) — the
    // data-adaptive counterpart of q29. recall_at_k vs the quadratic brute
    // baseline is computed only when the recall gate is on (Verify turns
    // it on; the bench measures the scale path alone) — -1.0 = not
    // measured this run, floor asserted in TextSimSpec either way.
    Q("q40_ann_ivf", (s, d) => {
      val emb = T(s, d, "embeddings")
      withRecall(emb, Ann.ivfTopK(emb, "vec_id", "embedding", k = 5))
    },
      RowsOnly("float IVF: learned float centroids and float cosine ranks have no " +
        "exact SQL replay. Hash-matched twin: q58_ann_ivf_parity, checked by " +
        "TextSimSpec \"parity IVF ANN (q58) equals a single-threaded replay\"; " +
        "recall floor in TextSimSpec \"IVF ANN recovers exact duplicates; " +
        "recall floor on real embeddings\"")),

    // LSH ANN; recall_at_k measured behind the same gate as q40
    // (asserted >= 0.9 in TextSimSpec). 32x4 is the measured small-table
    // tuning; at corpus scale lshTopK derives bitsPerBand from n.
    Q("q29_ann_lsh", (s, d) => {
      val emb = T(s, d, "embeddings")
      withRecall(emb, Ann.lshTopK(emb, "vec_id", "embedding", k = 5,
        dim = 64, bands = 32, bitsPerBand = 4))
    },
      RowsOnly("float SRP-LSH: float random planes and float cosine ranks have no " +
        "exact SQL replay. Hash-matched twin: q57_ann_lsh_parity, checked by " +
        "TextSimSpec \"parity LSH ANN (q57) equals a single-threaded replay\"; " +
        "recall@5 >= 0.9 in TextSimSpec \"LSH ANN recall@5 >= 0.9 vs brute " +
        "force on the real embeddings table\"")),

    // oracle-parity SRP-LSH ANN (maximum-inner-product semantics):
    // integer-quantized vectors, sha-derived ±1 planes, band-bucket
    // candidates, exact integer-dot re-rank — the hash-matchable twin of
    // q29 (which stays the float fast path; round-3 promotion of the
    // LSH-ANN family to a green CORRECTNESS row)
    Q("q57_ann_lsh_parity", (s, d) =>
      Ann.lshTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, bands = 8, bitsPerBand = 8),
      // oracle-parity SRP-LSH ANN: ±1 plane component (b,j,d) = parity of
      // the first sha256 hex nibble of "b:j:d"; signatures, band buckets,
      // candidates and the integer MIPS re-rank are all exact-integer, so
      // both engines agree bit-for-bit (list_dot_product over ints stays
      // below 2^53 — exact in double, cast back to BIGINT)
      Sql(s"""WITH $SRP_CAND,
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY dot DESC, nn_id) AS BIGINT) AS rnk,
        |       dot
        |FROM pd
        |QUALIFY rnk <= 5""".stripMargin)),
    // oracle-parity IVF ANN: sha-sampled centroids, exact integer
    // distances and re-rank — the hash-matchable twin of q40
    Q("q58_ann_ivf_parity", (s, d) =>
      Ann.ivfTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4),
      // oracle-parity IVF ANN: centroids = the 16 vectors ranked first by
      // sha-hash of id; assignment/probes rank by the exact-integer
      // ||c||^2 - 2 a.c with ties to the lower centroid id; candidates =
      // vectors whose home list is probed; integer MIPS re-rank
      Sql(s"""WITH $QVH,
        |$IVF_CENT,
        |assign AS (SELECT vec_id AS nn_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |probes AS (SELECT vec_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) <= 4),
        |pd AS (SELECT p.vec_id, a.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM probes p JOIN assign a ON a.cluster = p.cluster
        |                                  AND a.nn_id <> p.vec_id
        |       JOIN qv x ON x.vec_id = p.vec_id
        |       JOIN qv y ON y.vec_id = a.nn_id)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY dot DESC, nn_id) AS BIGINT) AS rnk,
        |       dot
        |FROM pd
        |QUALIFY rnk <= 5""".stripMargin)),

    // calibrated int8 embedding compression: per-dimension min/max →
    // affine map onto [-127,127] + max reconstruction error per vector.
    // qvec is projected as a comma-joined string (sort-stable scalar):
    // the driver's pandas compare sorts every column and cannot order
    // raw arrays, so both sides emit the identical CSV rendering.
    Q("q91_quantize_int8", (s, d) =>
      Ann.calibratedInt8(T(s, d, "embeddings"), "vec_id", "embedding")
        .withColumn("qvec",
          concat_ws(",", col("qvec").cast("array<string>"))),
      // identical double op order as the Spark plan: ((x-lo)/(hi-lo))*254,
      // floor, -127; recon = lo + ((q+127)*(hi-lo))/254
      Sql("""WITH dims AS (
        |  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |stats AS (SELECT pos, min(x) AS lo, max(x) AS hi
        |          FROM dims GROUP BY 1),
        |q AS (SELECT vec_id, dims.pos, x, lo, hi,
        |        CASE WHEN hi > lo
        |             THEN CAST(floor((x - lo) / (hi - lo) * 254.0) AS BIGINT)
        |                  - 127
        |             ELSE 0 END AS qv
        |      FROM dims JOIN stats ON dims.pos = stats.pos),
        |r AS (SELECT vec_id, pos, x, qv,
        |        CASE WHEN hi > lo
        |             THEN lo + CAST(qv + 127 AS DOUBLE) * (hi - lo) / 254.0
        |             ELSE lo END AS recon
        |      FROM q)
        |SELECT vec_id AS id,
        |       array_to_string(array_agg(qv ORDER BY pos), ',') AS qvec,
        |       round(max(abs(x - recon)), 8) AS max_abs_err
        |FROM r GROUP BY 1""".stripMargin)),

    // SemDeDup embedding-space dedup (Abbas et al. 2023): IVF sha-centroid
    // clusters bound the quadratic, integer-cosine >= 0.38 within a
    // cluster drops the higher id — the semantic-level pass a pretraining
    // pipeline runs after exact (q16) and MinHash (q26/q81) dedup
    Q("q125_semdedup", (s, d) =>
      Ann.semDedup(T(s, d, "embeddings"), "vec_id", "embedding",
          nlist = 16, thresholdPpm = 380000L)
        .select(col("vec_id"), col("cluster"),
          col("keep").cast("long").as("keep"), col("kept_for")),
      // SemDeDup replay: the q58 centroid assignment verbatim, then the
      // within-cluster pairwise integer-cosine rule in HUGEINT —
      // dot > 0 AND dot^2 * 10^12 >= 380000^2 * |a|^2 * |b|^2
      Sql(s"""WITH $QVH,
        |$IVF_CENT,
        |assign AS (SELECT vec_id, cid AS cluster FROM ds
        |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |nn AS (SELECT a.vec_id, a.cluster, v.q,
        |              CAST(list_dot_product(CAST(v.q AS DOUBLE[]), CAST(v.q AS DOUBLE[])) AS BIGINT) AS n2
        |       FROM assign a JOIN qv v ON v.vec_id = a.vec_id),
        |pr AS (SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
        |              CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])) AS BIGINT) AS dot,
        |              a.n2 AS na, b.n2 AS nb
        |       FROM nn a JOIN nn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dropped AS (SELECT drop_id, min(keep_id) AS kept_for FROM pr
        |            WHERE dot > 0
        |              AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * CAST(1000000000000 AS HUGEINT)
        |                  >= CAST(380000 AS HUGEINT) * CAST(380000 AS HUGEINT)
        |                     * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
        |            GROUP BY 1)
        |SELECT a.vec_id, a.cluster,
        |       CAST(d.kept_for IS NULL AS BIGINT) AS keep, d.kept_for
        |FROM assign a LEFT JOIN dropped d ON d.drop_id = a.vec_id""".stripMargin)),

    // oracle-parity k-means (2 Lloyd rounds: integer assignment, floor
    // centroid updates, empty-cluster carry): the clustering substrate
    // under IVF (q40/q58) and SemDeDup (q125) as a first-class
    // hash-matched operator
    Q("q127_kmeans", (s, d) =>
      Ann.kmeansParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2),
      // two Lloyd rounds replayed stage-by-stage: sha codebook (the q58
      // cent), integer-rank assignment with ties to the lower cid,
      // per-dimension floor(sum/count) updates with empty-cluster carry,
      // final assignment + exact integer squared distance
      Sql(s"""WITH $QVH,
        |c0 AS (SELECT q AS cq,
        |              CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |       FROM hh
        |       QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 8),
        |d0 AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, c0 c),
        |a0 AS (SELECT vec_id, cid FROM d0
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |x0 AS (SELECT a0.cid, v.q, unnest(generate_series(1, len(v.q))) AS i
        |       FROM a0 JOIN qv v ON v.vec_id = a0.vec_id),
        |u0 AS (SELECT cid, i,
        |              CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cc
        |       FROM x0 GROUP BY 1, 2),
        |cp0 AS (SELECT cid, cq, unnest(generate_series(1, len(cq))) AS i FROM c0),
        |c1 AS (SELECT cp0.cid, list(coalesce(u0.cc, cp0.cq[cp0.i]) ORDER BY cp0.i) AS cq
        |       FROM cp0 LEFT JOIN u0 ON u0.cid = cp0.cid AND u0.i = cp0.i
        |       GROUP BY 1),
        |d1 AS (SELECT v.vec_id, c.cid,
        |              CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                 - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                   AS BIGINT) AS d2
        |       FROM qv v, c1 c),
        |a1 AS (SELECT vec_id, cid FROM d1
        |       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
        |x1 AS (SELECT a1.cid, v.q, unnest(generate_series(1, len(v.q))) AS i
        |       FROM a1 JOIN qv v ON v.vec_id = a1.vec_id),
        |u1 AS (SELECT cid, i,
        |              CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cc
        |       FROM x1 GROUP BY 1, 2),
        |cp1 AS (SELECT cid, cq, unnest(generate_series(1, len(cq))) AS i FROM c1),
        |c2 AS (SELECT cp1.cid, list(coalesce(u1.cc, cp1.cq[cp1.i]) ORDER BY cp1.i) AS cq
        |       FROM cp1 LEFT JOIN u1 ON u1.cid = cp1.cid AND u1.i = cp1.i
        |       GROUP BY 1),
        |d2f AS (SELECT v.vec_id, c.cid,
        |               CAST(list_dot_product(CAST(c.cq AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                  - 2 * list_dot_product(CAST(v.q AS DOUBLE[]), CAST(c.cq AS DOUBLE[]))
        |                    AS BIGINT) AS dr,
        |               CAST(list_dot_product(CAST(v.q AS DOUBLE[]), CAST(v.q AS DOUBLE[]))
        |                    AS BIGINT) AS n2
        |        FROM qv v, c2 c)
        |SELECT vec_id, cid AS cluster, n2 + dr AS d2 FROM d2f
        |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dr, cid) = 1""".stripMargin)),

    // kNN label-noise detection (Wilson editing): per labeled embedding,
    // the ppm of its <=5 exact-MIPS nearest q57-candidate neighbors that
    // share its label; neighborhood disagreement flags suspected noise —
    // the curation pass over labeled finetuning/eval data
    Q("q133_label_noise", (s, d) =>
      Ann.labelNoise(T(s, d, "embeddings"), "vec_id", "embedding",
        "label", k = 5, dim = 64, bands = 8, bitsPerBand = 8),
      // the q57 candidate/re-rank pipeline verbatim, folded into per-vector
      // label agreement over the top-5 neighbors
      Sql(s"""WITH $SRP_CAND,
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id),
        |nn AS (SELECT vec_id, nn_id FROM pd
        |       QUALIFY row_number() OVER (PARTITION BY vec_id
        |                                  ORDER BY dot DESC, nn_id) <= 5),
        |ag AS (SELECT nn.vec_id, CAST(la.label AS BIGINT) AS label,
        |              count(*) AS n_nbrs,
        |              CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS n_same
        |       FROM nn JOIN embeddings la ON la.vec_id = nn.vec_id
        |               JOIN embeddings lb ON lb.vec_id = nn.nn_id
        |       GROUP BY 1, 2)
        |SELECT vec_id, label, n_nbrs, n_same,
        |       (n_same * 1000000) // n_nbrs AS same_ppm,
        |       CAST((n_same * 1000000) // n_nbrs < 500000 AS BIGINT) AS suspect
        |FROM ag""".stripMargin)),

    // oracle-parity product quantization ANN (ADC): m=8 subspace
    // codebooks from the q58 sha sample, integer encode argmin, exact
    // asymmetric-distance scan for a sha-sampled query slice — the
    // codes-in-memory quantization member next to int8 (q91) and IVF
    // (q58); at 100 TB the IVF routing composes in front of the ADC scan
    Q("q154_pq_parity", (s, d) =>
      Ann.pqTopKParity(T(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ksub = 16),
      // PQ replay: codebook = subvectors of the 16 sha-ranked vectors,
      // integer encode argmin (ties low cid), exact ADC sum over stored
      // codes for the sha%1000<40 query slice, top-5 by (adc, id)
      Sql(s"""WITH $QVH,
        |samp AS (SELECT q, CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid
        |         FROM hh QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 16),
        |cb AS (SELECT (generate_subscripts(q, 1) - 1) // 8 AS s, cid,
        |              (generate_subscripts(q, 1) - 1) % 8 AS dpos, unnest(q) AS c
        |       FROM samp),
        |comp AS (SELECT vec_id, (generate_subscripts(q, 1) - 1) // 8 AS s,
        |                (generate_subscripts(q, 1) - 1) % 8 AS dpos, unnest(q) AS x
        |         FROM qv),
        |d2 AS (SELECT comp.vec_id, cb.s, cb.cid,
        |              sum((comp.x - cb.c) * (comp.x - cb.c)) AS d2
        |       FROM comp JOIN cb ON cb.s = comp.s AND cb.dpos = comp.dpos
        |       GROUP BY 1, 2, 3),
        |code AS (SELECT vec_id AS nn_id, s, cid FROM d2
        |         QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) = 1),
        |qd AS (SELECT d.* FROM d2 d JOIN hh ON hh.vec_id = d.vec_id
        |       WHERE hh.h % 1000 < 40),
        |adc AS (SELECT qd.vec_id, code.nn_id, CAST(sum(qd.d2) AS BIGINT) AS adc
        |        FROM qd JOIN code ON code.s = qd.s AND code.cid = qd.cid
        |        WHERE code.nn_id <> qd.vec_id
        |        GROUP BY 1, 2)
        |SELECT vec_id, nn_id,
        |       CAST(row_number() OVER (PARTITION BY vec_id
        |                               ORDER BY adc, nn_id) AS BIGINT) AS rnk,
        |       adc
        |FROM adc
        |QUALIFY rnk <= 5""".stripMargin)),

    // weak supervision: seed-clamped label spreading over the q57
    // parity-ANN kNN graph — a sha-chosen 20% slice carries 4-way
    // labels, 2 argmax rounds spread them; -1 = never reached
    Q("q174_label_spread", (s, d) => {
      val emb = T(s, d, "embeddings")
      val pairs = Ann.lshTopKParity(emb, "vec_id", "embedding",
          k = 5, dim = 64, bands = 8, bitsPerBand = 8)
        .select(col("vec_id").as("src"), col("nn_id").as("dst"))
      val h = Dedup.shaTokenHash60(col("vec_id").cast("string"))
      val seeds = emb.filter(pmod(h, lit(5L)) === 0L)
        .select(col("vec_id").as("vid"),
          pmod(Dedup.shaTokenHash60(
            concat(lit("L:"), col("vec_id").cast("string"))), lit(4L))
            .as("label"))
      val lab = graft.kernels.LabelSpread.run(s, pairs, seeds, rounds = 2)
      emb.select(col("vec_id"))
        .join(lab.withColumnRenamed("vid", "vec_id"),
          Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("label"), lit(-1L)).as("label"),
          coalesce(col("origin"), lit(-1L)).as("origin"))
    },
      // label-spread replay: q57's signature/candidate pipeline -> top-5
      // kNN graph, sha seeds, two clamped arg_min vote rounds
      Sql(s"""WITH $SRP_CAND,
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id),
        |knn AS MATERIALIZED (
        |  SELECT vec_id, nn_id FROM (
        |    SELECT vec_id, nn_id,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY dot DESC, nn_id) AS rnk
        |    FROM pd) WHERE rnk <= 5),
        |symg AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT vec_id AS src, nn_id AS dst FROM knn
        |    UNION ALL SELECT nn_id, vec_id FROM knn)),
        |l0 AS MATERIALIZED (
        |  SELECT vec_id AS vid,
        |         CAST(('0x' || substr(sha256('L:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS label,
        |         CAST(0 AS BIGINT) AS origin
        |  FROM embeddings
        |  WHERE CAST(('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0),
        |v1 AS (SELECT g.dst AS vid, l.label, count(*) AS cnt
        |       FROM symg g JOIN l0 l ON g.src = l.vid GROUP BY 1, 2),
        |l1 AS MATERIALIZED (
        |  SELECT * FROM l0
        |  UNION ALL
        |  SELECT vid, arg_min(label, cnt * (-1000000000) + label),
        |         CAST(1 AS BIGINT)
        |  FROM v1 WHERE vid NOT IN (SELECT vid FROM l0) GROUP BY vid),
        |v2 AS (SELECT g.dst AS vid, l.label, count(*) AS cnt
        |       FROM symg g JOIN l1 l ON g.src = l.vid GROUP BY 1, 2),
        |l2 AS (SELECT * FROM l1
        |       UNION ALL
        |       SELECT vid, arg_min(label, cnt * (-1000000000) + label),
        |              CAST(2 AS BIGINT)
        |       FROM v2 WHERE vid NOT IN (SELECT vid FROM l1) GROUP BY vid)
        |SELECT e.vec_id, COALESCE(l2.label, -1) AS label,
        |       COALESCE(l2.origin, -1) AS origin
        |FROM embeddings e LEFT JOIN l2 ON e.vec_id = l2.vid""".stripMargin)),

    // hard-negative mining over the q57 parity-LSH candidates: per
    // labeled vector the best other-label candidate (the triplet-loss
    // negative) vs the best same-label one, with the margin that flags
    // boundary examples worth oversampling
    Q("q209_hard_negatives", (s, d) =>
      Ann.hardNegatives(T(s, d, "embeddings"), "vec_id", "embedding",
        "label", dim = 64, bands = 8, bitsPerBand = 8),
      // the q57/q133 candidate pipeline, split by label agreement into
      // top-1 hard negative (inner) and top-1 hard positive (left,
      // missing encoded -1/0)
      Sql(s"""WITH $SRP_CAND,
        |pd AS (SELECT cand.vec_id, cand.nn_id,
        |              CAST(la.label AS BIGINT) AS label,
        |              CAST(lb.label AS BIGINT) AS nn_label,
        |              CAST(list_dot_product(CAST(x.q AS DOUBLE[]),
        |                                    CAST(y.q AS DOUBLE[])) AS BIGINT) AS dot
        |       FROM cand JOIN qv x ON x.vec_id = cand.vec_id
        |                 JOIN qv y ON y.vec_id = cand.nn_id
        |                 JOIN embeddings la ON la.vec_id = cand.vec_id
        |                 JOIN embeddings lb ON lb.vec_id = cand.nn_id),
        |neg AS (SELECT vec_id, label, nn_id AS hard_neg_id, dot AS neg_dot
        |        FROM pd WHERE label <> nn_label
        |        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, nn_id) = 1),
        |pos AS (SELECT vec_id, nn_id AS hard_pos_id, dot AS pos_dot
        |        FROM pd WHERE label = nn_label
        |        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, nn_id) = 1)
        |SELECT n.vec_id, n.label, n.hard_neg_id, n.neg_dot,
        |       coalesce(p.hard_pos_id, -1) AS hard_pos_id,
        |       coalesce(p.pos_dot, 0) AS pos_dot,
        |       coalesce(p.pos_dot, 0) - n.neg_dot AS margin
        |FROM neg n LEFT JOIN pos p USING (vec_id)""".stripMargin)),

    // Johnson-Lindenstrauss sign-projection calibration: 64 -> 16 dims
    // with sha-derived +-1 planes, per-pair squared-distance distortion
    // in ppm over the 40 sha-smallest vectors
    Q("q212_jl_parity", (s, d) =>
      Ann.jlDistortion(T(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, outDim = 16, sampleN = 40),
      // JL replay: sha +-1 signs, integer projection, pairwise squared
      // distances via component self-joins over the 40 sha-smallest vectors
      Sql(s"""WITH signs AS (
        |  SELECT jj.j, dd.d,
        |         CASE WHEN CAST(('0x' || substr(sha256(
        |             'jl:' || CAST(jj.j AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)), 1, 1)) AS INT) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(16)) AS j) jj,
        |       (SELECT unnest(range(64)) AS d) dd),
        |$QV,
        |sam AS (SELECT vec_id, q FROM qv
        |        ORDER BY CAST(('0x' || substr(sha256('jlp:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
        |        LIMIT 40),
        |comp AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS x
        |         FROM sam),
        |pr AS (SELECT c.vec_id, s.j, CAST(sum(c.x * s.s) AS BIGINT) AS yj
        |       FROM comp c JOIN signs s USING (d) GROUP BY 1, 2),
        |d2o AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |               CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
        |        FROM comp a JOIN comp b ON a.d = b.d AND a.vec_id < b.vec_id
        |        GROUP BY 1, 2),
        |d2p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |               CAST(sum((a.yj - b.yj) * (a.yj - b.yj)) AS BIGINT) AS d2
        |        FROM pr a JOIN pr b ON a.j = b.j AND a.vec_id < b.vec_id
        |        GROUP BY 1, 2)
        |SELECT o.id_a, o.id_b, o.d2 AS d2_orig, p.d2 AS d2_proj,
        |       CASE WHEN o.d2 = 0 THEN 1000000
        |            ELSE (p.d2 * 1000000) // (16 * o.d2) END AS distortion_ppm
        |FROM d2o o JOIN d2p p USING (id_a, id_b)""".stripMargin)),

    // per-label centroid separability: signed squared cosine (ppm)
    // between milli-unit integer class centroids — the corpus-level
    // roll-up of the q133/q209 label-geometry signals
    Q("q215_label_centroids", (s, d) =>
      Ann.labelCentroidSep(T(s, d, "embeddings"), "vec_id", "embedding",
        "label"),
      // label-centroid separability replay: milli-unit integer centroids,
      // signed squared cosine in ppm
      Sql("""WITH qc AS (
        |  SELECT CAST(label AS BIGINT) AS lbl,
        |         generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        |  FROM (SELECT label,
        |               list_transform(embedding,
        |                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |        FROM embeddings)),
        |cent AS (SELECT lbl, pos,
        |                CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
        |         FROM qc GROUP BY 1, 2),
        |pair AS (SELECT a.lbl AS la, b.lbl AS lb,
        |                CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |         FROM cent a JOIN cent b ON a.pos = b.pos AND a.lbl <= b.lbl
        |         GROUP BY 1, 2),
        |n2 AS (SELECT la AS lbl, dot AS n2 FROM pair WHERE la = lb)
        |SELECT p.la AS label_a, p.lb AS label_b,
        |       CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0
        |            ELSE (CASE WHEN p.dot >= 0 THEN 1 ELSE -1 END)
        |                 * (((p.dot * p.dot) // x.n2) * 1000000 // y.n2) END AS cos2_ppm
        |FROM pair p JOIN n2 x ON x.lbl = p.la JOIN n2 y ON y.lbl = p.lb""".stripMargin)),

    // maximal-marginal-relevance re-rank: sha-min query vector, top-32
    // integer-dot pool, greedy diversified top-8 at lambda 0.7
    Q("q218_mmr", (s, d) =>
      Ann.mmrSelect(T(s, d, "embeddings"), "vec_id", "embedding"),
      // MMR replay: top-32 pool by integer dot, recursive greedy with the
      // selected vectors carried as a list (list_max over per-selected
      // dots = the running max-sim term)
      Sql("""WITH RECURSIVE qv AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qq AS (SELECT vec_id AS qid, q AS qvec FROM qv
        |       ORDER BY CAST(('0x' || substr(sha256('q:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
        |       LIMIT 1),
        |pool AS (SELECT v.vec_id, v.q,
        |                CAST(list_dot_product(CAST(v.q AS DOUBLE[]),
        |                                      CAST(qq.qvec AS DOUBLE[])) AS BIGINT) AS rel
        |         FROM qv v, qq WHERE v.vec_id <> qq.qid
        |         ORDER BY rel DESC, v.vec_id LIMIT 32),
        |sel(rk, vid, mmr, ids, sq) AS (
        |  SELECT * FROM (
        |    SELECT 1 AS rk, vec_id AS vid, CAST(700000 * rel AS BIGINT) AS mmr,
        |           [vec_id] AS ids, [q] AS sq
        |    FROM pool ORDER BY CAST(700000 * rel AS BIGINT) DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT s.rk + 1, p.vec_id,
        |           CAST(700000 * p.rel - 300000 * list_max(list_transform(s.sq,
        |             x -> CAST(list_dot_product(CAST(p.q AS DOUBLE[]), CAST(x AS DOUBLE[])) AS BIGINT))) AS BIGINT) AS mmr,
        |           list_append(s.ids, p.vec_id), list_append(s.sq, p.q)
        |    FROM sel s JOIN pool p ON NOT list_contains(s.ids, p.vec_id)
        |    WHERE s.rk < 8
        |    ORDER BY mmr DESC, p.vec_id LIMIT 1))
        |SELECT rk, vid AS vec_id, mmr AS mmr_score FROM sel""".stripMargin))
  )
}
