package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities (SURVEY §6).  AQE's skew-join split
  * (enabled in GraftSession) handles most cases at runtime; these are
  * the explicit tools for the pathological hot-key cases AQE can't
  * rebalance — e.g. one contig holding half the reads of a 100 TB
  * scan, joined against per-contig annotation.
  *
  * Salts are derived deterministically from a caller-supplied column
  * (not rand()) so results stay reproducible run-to-run.
  */
object Skew {

  /** Join `big` to `small` on `key`, spreading each hot key over
    * `nSalts` partitions: the big side salts by hashing `saltFrom`
    * (any well-distributed column), the small side is replicated once
    * per salt.  Result equals the plain equi-join, but no single task
    * owns a whole hot key. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFrom: Column, nSalts: Int): DataFrame = {
    val bigS = big.withColumn("__salt", pmod(hash(saltFrom), lit(nSalts)))
    val smallS = small
      .withColumn("__salt", explode(expr(s"sequence(0, ${nSalts - 1})")))
      .withColumn("__salt", col("__salt").cast("int"))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** [[saltedJoin]] for INTEGRAL keys, joining on ONE packed long
    * (`key * nSalts + salt`) instead of the (key, salt) pair.  Same
    * result, measurably faster: the sort-merge join sorts hot
    * partitions whose rows all TIE on the key — with a pair key the
    * 8-byte radix prefix covers only `key`, so every comparison falls
    * back to the record comparator for the salt; the packed single
    * column radix-sorts through (SKEWPROBE_r12.json at sf1, 50% hot:
    * slowest task 2.19s pair vs 0.99s packed on identical balance).
    * Exact whenever `key * nSalts + salt` doesn't wrap, i.e. |key| <
    * 2⁶³/nSalts — every realistic ID domain; use [[saltedJoin]] for
    * adversarial key ranges. */
  def saltedJoinPacked(big: DataFrame, small: DataFrame, key: String,
                       saltFrom: Column, nSalts: Int): DataFrame = {
    val sk = "__salted_key"
    val bigS = big.withColumn(sk,
      col(key).cast("long") * nSalts + pmod(hash(saltFrom), lit(nSalts)))
    val smallS = small
      .withColumn("__salt", explode(expr(s"sequence(0, ${nSalts - 1})")))
      .withColumn(sk, col(key).cast("long") * nSalts + col("__salt"))
      .drop("__salt", key)
    bigS.join(smallS, Seq(sk)).drop(sk)
  }

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (key, salt), then final-aggregate on key.  `aggs` must be
    * algebraic (sum/count/min/max) — expressed as (partial, final)
    * column pairs over the partial column name. */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
                saltFrom: Column, nSalts: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(saltFrom), lit(nSalts)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__partial"), count(lit(1)).as("__n"))
      .groupBy(col(key))
      .agg(sum("__partial").as(s"sum_$valueCol"), sum("__n").as("n"))
}
