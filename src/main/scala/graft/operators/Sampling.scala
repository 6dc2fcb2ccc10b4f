package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing.
  *
  * Content-hash (not RNG) sampling: a row is kept iff
  * `hash % denom < rate(stratum)`. This is the property a 100 TB
  * mixing pipeline needs — decisions are reproducible across runs and
  * engines, independent of partitioning (no per-partition RNG seed
  * coupling, unlike `df.sample`), and stable under re-sharding: the
  * same document always lands on the same side of the cut, so a rerun
  * or an incremental top-up selects a superset/subset by just moving
  * the rate. Rates are exact integer numerators out of `denom`
  * (cross-engine float-free).
  */
object Sampling {

  /** Per-stratum keep rates: `rates(stratum)` out of `denom`, falling
    * back to `defaultRate` for strata not in the map. `hashCol` must be
    * a non-negative integer column (e.g. a content fingerprint). */
  def stratifiedSample(df: DataFrame, stratumCol: Column, hashCol: Column,
      rates: Map[String, Int], defaultRate: Int,
      denom: Int = 1000): DataFrame = {
    require(denom > 0 && (defaultRate +: rates.values.toSeq)
      .forall(r => r >= 0 && r <= denom),
      s"rates must lie in [0, $denom]")
    val rateCol = rates.foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(stratumCol === lit(k), lit(v)).otherwise(acc)
    }
    df.filter(pmod(hashCol, lit(denom)) < rateCol)
  }

  /** Deterministic weighted sample WITHOUT replacement — sequential
    * Poisson sampling (Ohlsson 1998; the order-sampling family behind
    * priority sampling): each row gets priority u(id)/weight for a
    * fixed pseudo-uniform u, and the n SMALLEST priorities win, so
    * inclusion probability grows ∝ weight while the draw stays
    * reproducible across runs, engines and partitionings.
    *
    * u comes from the repo's deterministic affine hash family
    * (h = (a·id + b) mod p, p = 1e9+7 — the BottomKSketch constants),
    * and the division is QUANTIZED to integer micro-units
    * (h·10⁶ div w) with id as tiebreak, so ordering is exact integer
    * comparison — no float formatting or cross-engine pow/log drift
    * anywhere. Rows with null or non-positive weight never qualify.
    *
    * Scale shape: priorities are computed row-local; the top-n is
    * `orderBy(...).limit(n)` which Spark executes as
    * TakeOrderedAndProject — per-partition heaps + one n-row driver
    * merge, never a global sort. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val P = 1000000007L
    val A = 2654435761L % P
    val B = 40503L * 69069L % P
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__h",
        pmod(lit(A) * pmod(col(idCol).cast("long"), lit(P)) + lit(B),
          lit(P)))
      .withColumn("sample_priority",
        expr(s"(__h * CAST(1000000 AS BIGINT)) div $weightCol"))
      .drop("__h")
      .orderBy(col("sample_priority"), col(idCol))
      .limit(n)
  }
}
