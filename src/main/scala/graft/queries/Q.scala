package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One checked query: its Spark body, run over the parquet tables of an
  * sf directory, beside the check its output must pass.
  *
  * `benchGated` marks the quadratic-by-design exactness baselines retired
  * from the bench path (VERDICT r4 #7): each is the all-pairs ground-truth
  * twin of a benched bucketed scale path (q23/q28 → q57/q58 parity ANN +
  * q29/q40 fast paths; q33 → q125 SemDeDup / q26 LSH). Verify still runs
  * and hash-checks them every round — they are correctness evidence,
  * wrong thing to time, exactly like the recall baselines behind
  * `Common.recallGate`. Bench skips them and records the count. */
final case class Q(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    benchGated: Boolean = false)

/** How a query's output is checked. */
sealed trait Oracle

/** DuckDB SQL over the same tables; the output must hash-match it. */
final case class Sql(text: String) extends Oracle

/** No SQL oracle: the output is only checked to be non-empty. `reason`
  * says why, and which query and spec check the operator exactly. */
final case class RowsOnly(reason: String) extends Oracle
