package graft.queries

import graft.queries.Common._
import org.apache.spark.sql.functions._

/** Queries over the TPC-H tables alone. */
object TableQueries {
  val all: Seq[Q] = Seq(
    // shuffle-skew advisor over the derivation's join key (l_partkey):
    // the top-10 heaviest keys with corpus share and vs-average ratio —
    // the report that decides salting before the co-occurrence self-join
    Q("q180_skew_advisor", (s, d) => {
      val cnt = T(s, d, "lineitem")
        .groupBy(col("l_partkey").as("key"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"))
      cnt.orderBy(col("n").desc, col("key")).limit(10)
        .crossJoin(broadcast(tot))
        .select(col("key"), col("n"),
          expr("n * 1000000L div total").as("share_ppm"),
          expr("n * n_keys * 1000000L div total").as("vs_avg_ppm"))
    },
      // skew replay: top-10 keys by (count desc, key), integral shares
      Sql("""WITH cnt AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
        |             FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS n_keys FROM cnt)
        |SELECT key, n,
        |       CAST(n * 1000000 // (SELECT total FROM tot) AS BIGINT) AS share_ppm,
        |       CAST(n * (SELECT n_keys FROM tot) * 1000000 // (SELECT total FROM tot) AS BIGINT) AS vs_avg_ppm
        |FROM cnt ORDER BY n DESC, key LIMIT 10""".stripMargin)),

    // optimizer-statistics QA: CMS inner-product estimate of the
    // l_partkey SELF-join size (the cooc derivation's pre-cap pair
    // count) vs the exact sum-of-squares — the cardinality statistic a
    // cost-based planner consults, with its measured overestimate
    Q("q184_cms_join_size", (s, d) => {
      val keys = T(s, d, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = true)
      val sk = graft.text.Sketches.countMin(keys, "k", "cnt")
      val est = graft.text.Sketches.cmJoinSize(sk, sk)
      val exact = keys.agg(sum(col("cnt") * col("cnt")).as("exact_pairs"))
      exact.crossJoin(est)
        .select(col("exact_pairs"), col("join_size_est"),
          expr("(join_size_est - exact_pairs) * 1000000L div exact_pairs")
            .as("over_ppm"))
    },
      // CMS join-size replay: sha-bucketed counters, min-of-row dots
      Sql("""WITH keys AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
        |              FROM lineitem GROUP BY 1),
        |cms AS MATERIALIZED (
        |  SELECT r.i AS row,
        |         CAST(('0x' || substr(sha256(CAST(k AS VARCHAR) || '#' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
        |         CAST(sum(cnt) AS BIGINT) AS c
        |  FROM keys, (SELECT unnest(range(4)) AS i) r GROUP BY 1, 2),
        |dots AS (SELECT a.row, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |         FROM cms a JOIN cms b ON a.row = b.row AND a.bucket = b.bucket
        |         GROUP BY 1),
        |ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_pairs FROM keys)
        |SELECT ex.exact_pairs,
        |       (SELECT min(dot) FROM dots) AS join_size_est,
        |       CAST(((SELECT min(dot) FROM dots) - ex.exact_pairs) * 1000000 // ex.exact_pairs AS BIGINT) AS over_ppm
        |FROM ex""".stripMargin))
  )
}
