package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora.
  *
  * All variants are pure builtin-function plans (no UDFs, ANSI-safe: hashing
  * uses `xxhash64(value, seed)` rather than hand-rolled long arithmetic so
  * nothing can overflow), designed so the heavy step is one shuffle:
  *  - exact: hash-groupBy on content sha256
  *  - ngramJaccard: exact all-pairs Jaccard via a shingle equi-join
  *    (quadratic in bucket size — the correctness baseline)
  *  - minHashLsh: MinHash signatures (k column-wise min-aggregations with
  *    map-side combine) + banded LSH bucketing join — the 100 TB scale path:
  *    candidate generation touches only colliding buckets
  *  - simHash: 64-bit sign-of-sum fingerprint per doc; near-dups = equal
  *    fingerprints (or small Hamming distance via multi-probe)
  */
object Dedup {

  /** Exact duplicate groups by content hash: (text_sha, n_docs, keeper). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** Exact-dedup savings ledger — the "what does dedup buy us" report a
    * curation run publishes: one row per duplicate-cluster SIZE,
    * (cluster_size, n_clusters, n_docs, chars_saved), where chars_saved
    * counts every non-keeper copy's characters (identical text → one
    * length per cluster). Two cheap aggregations: the content-hash
    * group (the same single shuffle as [[exactGroups]], map-side
    * combinable) collapses the corpus to one row per distinct text;
    * the histogram then runs over cluster rows only. */
  def dedupSavings(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(count(lit(1)).as("n"),
        max(length(col(textCol))).cast("long").as("len"))
      .groupBy(col("n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n")).as("n_docs"),
        sum((col("n") - 1L) * col("len")).as("chars_saved"))

  /** Distinct (id, shingle) relation of character k-shingles.
    * Docs shorter than k characters yield no rows. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame =
    docs.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(TextFunctions.charShingles(col(textCol), k)).as("g"))
      .distinct()

  /** Exact n-gram Jaccard similarity for all pairs with j >= threshold:
    * (d1, d2, jaccard). |A∩B| from the shingle self-join, |A∪B| by
    * inclusion-exclusion — set-at-a-time, no per-pair set objects. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingles(docs, idCol, textCol, k).persist()
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("d1"), col("b.id").as("d2"))
      .agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") / (col("x.n") + col("y.n") - col("i"))
    // eager narrow result, then drop the wide shingle cache — no shingle
    // blocks outlive the call (same lifecycle as TriangleCount's oriented
    // cache); materializing the pair table is what a pipeline does anyway
    val out = inter
      .join(sz.as("x"), col("d1") === col("x.id"))
      .join(sz.as("y"), col("d2") === col("y.id"))
      .filter(j >= threshold)
      .select(col("d1"), col("d2"), j.as("jaccard"))
      .localCheckpoint(eager = true)
    sh.unpersist()
    out
  }

  /** Seeded 60-bit sha256 shingle hash — the oracle-parity permutation
    * family for [[minHashSignatures]]: permutation i of shingle g is the
    * top 60 bits of sha256(s"$i:$g"), which DuckDB computes identically
    * (same trick as [[shaTokenHash60]]; xxhash64 has no DuckDB
    * counterpart). */
  def shaSeededHash60(g: Column, seed: Int): Column =
    conv(substring(sha2(concat(lit(s"$seed:"), g), 256), 1, 15), 16, 10)
      .cast("long")

  /** MinHash signature columns: (id, sig array<long> of length k).
    * Permutation i is `hashFn(shingle, i)` (default `xxhash64(shingle, i)`
    * — fast path; pass [[shaSeededHash60]] for DuckDB-verifiable
    * signatures); the signature is k builtin min-aggregations
    * (partial+final, map-side combined).
    *
    * The permutation hashes depend only on the SHINGLE, so they are
    * evaluated once per distinct shingle (the vocabulary — bounded by
    * charset^k for char shingles, orders of magnitude smaller than the
    * (id, shingle) stream) and broadcast-joined back. For the sha-seeded
    * oracle-parity family this cuts `numHashes` sha256+hex-conv
    * evaluations per (id,g) row to `numHashes` per distinct g, with
    * bit-identical values. Pass `broadcastVocab=false` when the
    * vocabulary is NOT driver-bounded (long token shingles over an open
    * vocabulary) — the hash table then reaches the stream through a
    * shuffled join instead of a broadcast. */
  def minHashSignatures(sh: DataFrame, numHashes: Int = 64,
                        hashFn: (Column, Int) => Column =
                          (g, i) => xxhash64(g, lit(i)),
                        broadcastVocab: Boolean = true): DataFrame = {
    val vocab = sh.select(col("g")).distinct()
      .select(col("g"), array(
        (0 until numHashes).map(i => hashFn(col("g"), i)): _*).as("hs"))
    val hashed = sh.join(
      if (broadcastVocab) broadcast(vocab) else vocab, "g")
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"m$i"))
    hashed.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash + banded LSH near-duplicate candidates, with signature-level
    * similarity estimate: (d1, d2, est_jaccard). Pairs collide if any band
    * of r signature rows matches exactly; est_jaccard = fraction of equal
    * signature components. At scale the bucket join replaces the quadratic
    * all-pairs scan; skewed buckets (boilerplate shingle sets) are bounded
    * by `maxBucket`. */
  /** Banded-LSH candidate pairs from a persisted signature table:
    * (d1, d2[, s1, s2]) for every id-ordered pair sharing a band slice.
    * The bucket key is the band slice ITSELF (array<long> equality), not
    * a hash of it: hashing the slice admits a ~2^-64 band-key collision
    * that would surface a candidate pair the exact-banding oracle (q26)
    * lacks; the r-long key costs a slightly wider bucket shuffle and
    * removes the failure mode entirely. Hot buckets (near-universal
    * boilerplate) are capped at `maxBucket` before the pair join; when
    * the cap is OFF (Int.MaxValue — the oracle-replay configuration)
    * the bucket-count pre-pass is skipped outright: singleton buckets
    * fall out of the a.id < b.id join by themselves, so the counts
    * aggregation + semi-join bought nothing (guide §2.4).
    *
    * Per-pair signature scores are computed via `extra` BEFORE the
    * cross-band (d1, d2) dedup — the dedup aggregation then shuffles a
    * few scalar columns, never 2×numHashes signature longs per
    * candidate row (project early — guide §2.3); every copy of a pair
    * computes identical values (pure functions of the two signatures),
    * so min == the old arbitrary dropDuplicates row. The pair join
    * itself stays a streaming (band, bucket)-keyed self-join — an
    * in-task collect+expand was measured 2× slower here and cannot be
    * AQE-skew-split when an uncapped boilerplate bucket lands. The
    * shared candidate pipeline of [[minHashLsh]], [[containmentLsh]]
    * and [[minHashCalibration]]. */
  private def bandedCandidates(sigs: DataFrame, bands: Int, r: Int,
                               maxBucket: Int,
                               extra: Seq[(String, (Column, Column) => Column)]
                                 = Seq.empty): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * r + 1, lit(r)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val inBucket =
      if (maxBucket == Int.MaxValue) banded
      else {
        val counts = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") > 1 && col("bn") <= maxBucket)
        banded.join(counts, Seq("band", "bucket"), "left_semi")
      }
    val scored = inBucket.as("a")
      .join(inBucket.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("d1") +: col("b.id").as("d2") +:
        extra.map { case (n, f) => f(col("a.sig"), col("b.sig")).as(n) }: _*)
    if (extra.nonEmpty)
      scored.groupBy(col("d1"), col("d2"))
        .agg(min(col(extra.head._1)).as(extra.head._1),
          extra.tail.map(e => min(col(e._1)).as(e._1)): _*)
    else scored.distinct()
  }

  /** Dictionary-encode the distinct (id, g) shingle stream to dense long
    * gids: (id, gid). row_number over the SORTED vocabulary is
    * deterministic and injective, so intersection/union SIZES — the only
    * thing the scoring consumers read — are bit-identical to operating
    * on the shingle strings; the per-pair intersect then runs the
    * codegen'd zero-allocation [[graft.functions.SortedIntersectCount]]
    * merge loop over long arrays instead of builtin `array_intersect`'s
    * per-row string hash set. The single-partition window is safe
    * because the char-shingle vocabulary is charset^k-bounded (the
    * degreeProfile histogram-window discipline); the dictionary is
    * broadcast for the same reason (the minHashSignatures vocab rule —
    * pass broadcastVocab=false there when shingling an open vocabulary,
    * and this helper would take a shuffled join the same way). */
  private def gidStream(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = sh.select(col("g")).distinct()
      .select(col("g"),
        row_number().over(Window.orderBy(col("g"))).cast("long").as("gid"))
    sh.join(broadcast(dict), "g").select(col("id"), col("gid"))
  }

  /** (id, gs: sorted gid array, n) per document — the set table the
    * per-pair intersect consumers probe. */
  private def gidSets(sh: DataFrame): DataFrame =
    gidStream(sh).groupBy(col("id"))
      .agg(sort_array(collect_list(col("gid"))).as("gs"),
        count(lit(1)).as("n"))

  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7,
                 maxBucket: Int = 1000,
                 hashFn: (Column, Int) => Column =
                   (g, i) => xxhash64(g, lit(i))): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = minHashSignatures(shingles(docs, idCol, textCol, k),
        numHashes, hashFn)
      .persist()
    // matching-component count computed inside the pair expansion (the
    // dedup shuffle carries one int, not two signatures); est is the
    // same size(filter(zip_with))/numHashes value as before, evaluated
    // on the identical signature pair
    val cands = bandedCandidates(sigs, bands, r, maxBucket,
      extra = Seq("matches" -> ((a, b) =>
        size(filter(zip_with(a, b,
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)))))
    val est = col("matches").cast("double") / numHashes
    // eager narrow result + drop the signature cache (see ngramJaccard)
    val out = cands.select(col("d1"), col("d2"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .localCheckpoint(eager = true)
    sigs.unpersist()
    out
  }

  /** Asymmetric near-duplicate detection: LSH candidate pairs scored by
    * EXACT shingle CONTAINMENT `|A∩B| div |A|` (Broder's containment,
    * the companion measure to resemblance in his 1997 sequences paper).
    * Containment catches subsumption that symmetric Jaccard misses — a
    * short document quoted whole inside a long one has low resemblance
    * but containment 1 — which is exactly the quote/boilerplate-inclusion
    * case a training-corpus dedup wants flagged. Integer ppm with
    * truncating div, so a SQL oracle replays the scores bit-for-bit.
    * Emits BOTH orientations that clear `thresholdPpm` as
    * (contained, container, containment_ppm).
    *
    * Scale shape: candidates come from the same banded minhash bucket
    * join as [[minHashLsh]] (maxBucket-guarded); the exact intersection
    * folds each document's shingle SET into one sorted array row first
    * (one aggregation — the set table is |docs| rows, not the
    * (id, shingle) stream) and scores each candidate pair with a
    * per-row sorted intersect count after two id-keyed joins. Versus the
    * explode-and-recount plan (join candidates to the shingle stream on
    * d1, semi-match d2, re-aggregate) this moves the SAME bytes in
    * |pairs| wide rows instead of |pairs|·|shingles| narrow ones and
    * deletes the 100M-row post-join hash aggregation — measured 113 →
    * ~15 s at sf0.1 (BENCH.md). Intersection runs on dictionary-encoded
    * gids; the dictionary is injective, so the counts equal the shingle-
    * string intersection and the SQL oracle's exact count is replayed
    * with no collision caveat. One caveat is honest: LSH buckets are tuned
    * for RESEMBLANCE, so high-containment pairs with low resemblance
    * (tiny A inside huge B) can be missed; production asymmetric dedup
    * re-buckets on the smaller side's signature alone, which is a
    * parameter choice (bands over a prefix of A's signature), not a
    * different plan. */
  def containmentLsh(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                     thresholdPpm: Long = 800000L,
                     maxBucket: Int = 1000,
                     hashFn: (Column, Int) => Column =
                       (g, i) => xxhash64(g, lit(i))): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sh = shingles(docs, idCol, textCol, k).persist()
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val sigs = minHashSignatures(sh, numHashes, hashFn)
    val cands = bandedCandidates(sigs, bands, r, maxBucket)
    // dictionary-encoded sorted gid sets + the codegen'd merge-loop
    // intersect count: bit-identical sizes to intersecting the shingle
    // strings (injective dictionary), ~none of array_intersect's per-row
    // string hash-set cost (see [[gidStream]])
    val sets = gidSets(sh)
    // SHUFFLE_HASH: an id equi-join gains nothing from sorting 30 MB+
    // of array rows per side (same measured choice as the superstep
    // kernels' state joins); the set table exceeds any sane broadcast
    // threshold at scale
    val inter = cands
      .join(sets.select(col("id").as("d1"), col("gs").as("g1"),
        col("n").as("n1")).hint("shuffle_hash"), "d1")
      .join(sets.select(col("id").as("d2"), col("gs").as("g2"),
        col("n").as("n2")).hint("shuffle_hash"), "d2")
      .select(col("d1"), col("d2"),
        call_function(graft.functions.GraftFunctions.Name,
          col("g1"), col("g2")).as("i"),
        col("n1"), col("n2"))
    val both = inter.select(col("d1").as("contained"),
        col("d2").as("container"),
        expr("1000000L * i div n1").as("containment_ppm"))
      .union(inter.select(col("d2"), col("d1"),
        expr("1000000L * i div n2")))
    // eager narrow result + drop the shingle cache (see ngramJaccard)
    val out = both.filter(col("containment_ppm") >= thresholdPpm)
      .localCheckpoint(eager = true)
    sh.unpersist()
    out
  }

  /** Per-document n-gram NOVELTY: the ppm share of a doc's distinct
    * k-shingles whose globally first occurrence (minimum doc id) is this
    * doc. A data-valuation signal — a doc contributing mostly
    * already-seen n-grams adds little to a training corpus even when it
    * is not a near-duplicate of any single other doc (the diffuse-overlap
    * case q26-style pairwise dedup cannot see). Integer `div` ppm, exact.
    *
    * Scale shape: one (shingle → min id) aggregation over the corpus
    * shingle stream — map-side combined, vocabulary-bounded output — and
    * one join back onto it; no pairwise anything. The min-id convention
    * makes the score deterministic under any arrival order.
    * @return (id, n_shingles, novel_ppm) for docs with >= 1 shingle */
  def noveltyPpm(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3): DataFrame = {
    val sh = shingles(docs, idCol, textCol, k).persist()
    val first = sh.groupBy(col("g")).agg(min(col("id")).as("first_id"))
    val out = sh.join(first, "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        expr("1000000L * sum(CASE WHEN id = first_id THEN 1L ELSE 0L END)" +
          " div count(1)").as("novel_ppm"))
      .localCheckpoint(eager = true)
    sh.unpersist()
    out
  }

  /** Near-duplicate canonicalization — the survivor-selection step a
    * dedup pipeline runs after candidate generation: clusters are the
    * connected components of the near-dup pair graph (hash-min CC, whose
    * converged label IS each cluster's minimum doc id), the canonical
    * survivor is that minimum, and docs in no pair are their own
    * canonical. Output (id, canonical_id, is_canonical 1/0) for EVERY
    * input doc — the rewrite table a corpus materialization joins on.
    *
    * Scale shape: CC runs over the PAIR graph only (near-dup candidates,
    * orders of magnitude smaller than the corpus); the corpus-side cost
    * is one left join on the doc id. Transitivity is deliberate — it is
    * how production dedup collapses chains A~B~C where A and C alone
    * would not collide (the standard MinHash-cluster semantics). */
  def canonicalize(spark: org.apache.spark.sql.SparkSession,
                   docs: DataFrame, idCol: String,
                   pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
    val comp = graft.kernels.ConnectedComponents
      .run(spark, graft.graph.Edges.symmetrize(edges)).components
    docs.select(col(idCol))
      .join(comp, docs(idCol) === comp("vid"), "left")
      .select(docs(idCol),
        coalesce(col("component"), docs(idCol)).as("canonical_id"))
      .withColumn("is_canonical",
        (col(idCol) === col("canonical_id")).cast("long"))
  }

  /** MinHash calibration ledger — the sketch-QA pass a production dedup
    * pipeline runs before trusting a (numHashes, bands) configuration:
    * for every LSH candidate pair, the signature-estimated Jaccard is
    * compared against the EXACT shingle Jaccard, and the absolute error
    * is aggregated per estimate decile. All-integer ppm (matches·1e6
    * div numHashes vs i·1e6 div u), so the ledger is bit-exactly
    * oracle-replayable.
    *
    * Scale shape: the exact side is computed ONLY for candidate pairs
    * (bounded by the LSH bucket join + maxBucket guard), never all
    * pairs — calibration costs one extra shingle join over the
    * candidate set, not the quadratic scan the sketch exists to avoid. */
  def minHashCalibration(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                         maxBucket: Int = 1000,
                         hashFn: (Column, Int) => Column =
                           shaSeededHash60): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sh = shingles(docs, idCol, textCol, k).persist()
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val sigs = minHashSignatures(sh, numHashes, hashFn).persist()
    val cands = bandedCandidates(sigs, bands, r, maxBucket,
        extra = Seq("matches" -> ((a, b) =>
          size(filter(zip_with(a, b,
            (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
            .cast("long"))))
      .select(col("d1"), col("d2"),
        expr(s"matches * 1000000L div $numHashes").as("est_ppm"))
      .persist()
    // exact Jaccard per CANDIDATE pair via the same set-fold +
    // per-row merge-loop intersect count as [[containmentLsh]] (one
    // sorted gid array row per doc, two SHUFFLE_HASH id-joins) —
    // zero-intersection pairs fall out as size 0, so no outer join /
    // coalesce is needed
    val sets = gidSets(sh)
    val out = cands
      .join(sets.select(col("id").as("d1"), col("gs").as("g1"),
        col("n").as("na")).hint("shuffle_hash"), "d1")
      .join(sets.select(col("id").as("d2"), col("gs").as("g2"),
        col("n").as("nb")).hint("shuffle_hash"), "d2")
      .withColumn("i",
        call_function(graft.functions.GraftFunctions.Name,
          col("g1"), col("g2")))
      .withColumn("jacc_ppm", expr("i * 1000000L div (na + nb - i)"))
      .withColumn("err", abs(col("est_ppm") - col("jacc_ppm")))
      .groupBy(expr("est_ppm div 100000L").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err")).as("se"),
        max(col("err")).as("max_err_ppm"))
      .select(col("bucket"), col("n_pairs"),
        expr("se div n_pairs").as("mean_abs_err_ppm"), col("max_err_ppm"))
      .localCheckpoint(eager = true)
    sh.unpersist(); sigs.unpersist(); cands.unpersist()
    out
  }

  /** Token hash for oracle-parity SimHash: the top 60 bits of sha256,
    * parsed from the first 15 hex chars — the one 64-bit-ish hash both
    * Spark and DuckDB compute identically (`xxhash64` has no DuckDB
    * counterpart, so fingerprints built on it are unverifiable). */
  def shaTokenHash60(t: Column): Column =
    conv(substring(sha2(t, 256), 1, 15), 16, 10).cast("long")

  /** ROBUST WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS scheme): hash every positional character
    * k-gram, slide a window of `w` consecutive hashes, and in each full
    * window select the minimum (rightmost on ties); the distinct
    * selected (position, hash) pairs are the document's fingerprints.
    * Guarantees at least one shared fingerprint for any match of length
    * ≥ w + k − 1 while storing ~2/(w+1) of the hashes — the
    * position-aware sampling that [[exactGroups]]' whole-doc sha and
    * q21's normalized sha cannot give, and the deterministic competitor
    * of the "0 mod p" sampling the same paper shows is gap-unbounded.
    *
    * Scale shape: per-document windows only (partitioned by doc id,
    * per-doc cardinality bounded by doc length — the q227/q53 window
    * discipline), rightmost-argmin as ONE `min(struct(hash, −pos))`
    * frame aggregation, then a distinct. Sha-seeded 60-bit hashes so
    * the oracle replays selections bit-for-bit.
    * @return (id, pos, fp) distinct selected fingerprints, for docs
    *         with at least one full window (length ≥ k + w − 1). */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.charShingles(col(textCol), k)))
      .select(col("id"), col("pos").cast("long").as("pos"),
        shaTokenHash60(col("col")).as("h"))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    sh.withColumn("cnt", count(lit(1)).over(win))
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np"))).over(win))
      .filter(col("cnt") === w) // full windows only
      .select(col("id"), (-col("m.np")).as("pos"), col("m.h").as("fp"))
      .distinct()
  }

  /** SimHash fingerprint per document over whitespace tokens:
    * bit j = sign of Σ_tokens (2·bit_j(hash(token)) − 1), for j < `bits`
    * (1 to 64). One `graft_simhash` aggregate per document: its buffer
    * holds the `bits` per-bit sums, combined map-side before the
    * shuffle. A document with null text has no tokens and no row.
    * Default hash is xxhash64/64-bit (fast path); pass
    * ([[shaTokenHash60]], 60) for DuckDB-verifiable fingerprints. */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 64,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("id"))
      .agg(call_function(graft.functions.GraftFunctions.SimHashName,
        tokenHash(col("t")), lit(bits)).as("simhash"))
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ `maxHamming`, via
    * banded multi-probe: the fingerprint splits into `maxHamming + 1`
    * bands, and by pigeonhole two fingerprints within the bound agree on
    * at least one whole band — so the banded bucket join has PERFECT
    * recall while touching only colliding buckets (never all pairs);
    * candidates are then verified with an exact `bit_count(xor)` filter
    * (zero false positives). Fingerprints are 8-byte longs, so unlike the
    * ANN vector case they ride through the pair join for free.
    *
    * `maxBucket` trades exactness for hot-bucket safety: a (band, bucket)
    * group larger than it is SKIPPED, dropping every pair whose lowest
    * shared band falls in it (the guard against a boilerplate
    * fingerprint shared by millions of docs turning the bucket join
    * quadratic). Pass `Int.MaxValue` for the strictly pigeonhole-exact
    * result (the q54 oracle runs that way); it also skips the bucket
    * count.
    * Returns one (d1, d2, hamming) row per pair, with d1 < d2. */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bits: Int = 64,
                     tokenHash: Column => Column = xxhash64(_),
                     maxBucket: Int = 100000): DataFrame = {
    val bands = maxHamming + 1
    val fp = simHash(docs, idCol, textCol, bits, tokenHash)
    // band j covers fingerprint bits [cuts(j), cuts(j+1)) — integer-spread
    // so any bits/bands combination works
    val cuts = (0 to bands).map(j => j * bits / bands)
    def bandKey(h: Column, j: Int): Column = {
      val width = cuts(j + 1) - cuts(j)
      // Java shifts are mod 64: (1L << 64) - 1 would be 0, not all-ones
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(h, cuts(j)).bitwiseAND(lit(mask))
    }
    val banded = fp.select(col("id"), col("simhash"),
        posexplode(array((0 until bands).map(bandKey(col("simhash"), _)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // hot-bucket cap (all-identical boilerplate shards) — same guard as
    // the MinHash-LSH path; a singleton bucket joins to nothing anyway
    val inBucket =
      if (maxBucket == Int.MaxValue) banded
      else {
        val ok = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") > 1 && col("bn") <= maxBucket)
        banded.join(ok, Seq("band", "bucket"), "left_semi")
      }
    // a pair meets once per band it shares: keep only the meeting on its
    // lowest shared band (the first band whose xor key is 0), so each
    // pair is one row without a dedup aggregation
    val xor = col("a.simhash").bitwiseXOR(col("b.simhash"))
    val lowestShared = (0 until bands).foldRight(lit(bands)) { (j, later) =>
      when(bandKey(xor, j) === 0L, lit(j)).otherwise(later)
    }
    inBucket.as("a")
      .join(inBucket.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id") && col("a.band") === lowestShared)
      .select(col("a.id").as("d1"), col("b.id").as("d2"),
        bit_count(xor).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Span-level (CCNet-style line-level) dedup: docs are cut into
    * consecutive `spanWords`-word spans, a span whose EXACT text occurs in
    * more than `maxDf` distinct docs is corpus boilerplate and is removed,
    * and each doc is reassembled from its surviving spans in order.
    * Returns (id, n_spans, kept_spans, kept_text) — one row per input doc,
    * `kept_text` empty when every span was boilerplate.
    *
    * Unlike [[graft.text.QualityRules.frequentPhraseStats]] (which only
    * SCORES docs by frequent-phrase share) this REWRITES the corpus, the
    * way CCNet drops duplicated lines before quality filtering. Two
    * shuffles at any scale: span-hash df aggregation, then the per-doc
    * reassembly groupBy; the df side could be broadcast when the
    * over-threshold span set is small. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanWords: Int = 3, maxDf: Long = 2): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("t"))
    // span i = words [i*spanWords, (i+1)*spanWords); the tail span may be
    // shorter — identical slice semantics in DuckDB's t[a:b]
    val spans = toks.select(col("id"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("t")).cast("double") / spanWords).cast("long") - 1),
          i => array_join(
            slice(col("t"), (i * spanWords + 1).cast("int"),
              lit(spanWords)),
            " "))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "span")
    val df = spans.groupBy(col("span"))
      .agg(countDistinct(col("id")).as("ndocs"))
    val kept = spans.join(df.filter(col("ndocs") <= maxDf),
      Seq("span"), "left_semi")
    val reassembled = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("kept_spans"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("span")))),
          s => s("span")), " ").as("kept_text"))
    // anchor on the INPUT docs, not the span stream: a NULL-text doc
    // yields zero span rows and must still appear as (id, 0, 0, "")
    docs.select(col(idCol).as("id"))
      .join(spans.groupBy(col("id")).agg(count(lit(1)).as("n_spans")),
        Seq("id"), "left_outer")
      .join(reassembled, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("kept_spans"), lit(0L)).as("kept_spans"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Blocked edit-distance near-dup join — the typo/OCR-noise dedup
    * MinHash misses (a 1-char edit barely moves a char-shingle set, but
    * a Jaccard threshold tuned for paraphrase dedup won't fire on short
    * docs): candidate pairs share a `blockLen`-char lowercased prefix;
    * survivors have levenshtein(prefix `cmpLen`) <= maxDist. The prefix
    * block is the standard lossy-but-documented blocking key (an edit
    * inside the first `blockLen` chars escapes the block — by design: at
    * corpus scale the unblocked join is quadratic).
    *
    * Scale shape: one hash shuffle on the block key; the DP runs only
    * inside blocks, on `cmpLen`-bounded prefixes (O(cmpLen²) per pair,
    * constant). Pure builtins — levenshtein codegens.
    *
    * @return (doc_a, doc_b, dist) with doc_a < doc_b */
  def typoPairs(docs: DataFrame, idCol: String, textCol: String,
                blockLen: Int = 8, cmpLen: Int = 48,
                maxDist: Int = 3): DataFrame = {
    val t = docs.select(col(idCol).as("id"),
        substring(lower(trim(col(textCol))), 1, cmpLen).as("pfx"))
      .withColumn("blk", substring(col("pfx"), 1, blockLen))
    t.as("a").join(t.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        levenshtein(col("a.pfx"), col("b.pfx")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
