package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Manual skew mitigation for shuffle joins — the explicit form of what
 * AQE's skew-join handling does adaptively. When one join key carries a
 * disproportionate share of the big side (a hot document source, a
 * null-ish default key), hash partitioning sends it all to one task;
 * salting splits the hot key's rows across `factor` sub-keys and
 * replicates the matching small-side rows once per sub-key, restoring
 * parallelism at the cost of a `factor`× copy of the SMALL side only.
 *
 * Result-equivalent to a plain inner equi-join (spec'd; the skew_join
 * entry oracles it row-for-row against DuckDB).
 *
 * When to reach for it (measured at r8 by the removed ScaleProbe `skew`
 * mode, `git show e105133:src/main/scala/graft/ScaleProbe.scala`: 4M
 * rows with a 30%-hot key, small side beyond broadcast reach: plain SMJ
 * 2.3s, salted 1.7s, AQE skew-split 0.9s):
 *  - if the small side BROADCASTS, the big side never shuffles and
 *    skew cannot hurt — don't salt (PlanShapeSpec pins that salting
 *    keeps the broadcast);
 *  - if AQE's skew split applies (sort-merge/shuffled-hash joins on a
 *    modern cluster), prefer it — it splits only the oversized
 *    partitions, adaptively, and beat manual salting on the probe;
 *  - salt when neither does: pre-AQE clusters, plans AQE's split
 *    doesn't cover (e.g. skewed AGGREGATIONS via a two-phase
 *    salt-then-merge), or when the skew is known up front and you
 *    want it handled deterministically in the plan.
 */
object Skew {

  /** Inner equi-join of a skewed big side against a small side on
    * `key`, salted `factor` ways. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, factor: Int): DataFrame = {
    require(factor > 1, "salting needs factor > 1")
    // rand() is fine here: the salt only routes rows, results don't
    // depend on which sub-key a row lands on
    val saltedBig = big.withColumn("__salt", (rand(42) * factor).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }
}
