package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{exp, lit, round}

/** Shared oracle-hash normalization and the shared normal tail. */
private[operators] object Norm {

  /** Round to 4 decimals AND normalize negative zero: a tiny negative
    * value (|v| < 5e-5, e.g. a near-null slope or z-score) rounds to
    * -0.0 in DuckDB but +0.0 in Spark (whose Round goes through
    * BigDecimal, which has no signed zero). The two compare equal yet
    * hash differently byte-wise — `+ 0.0` collapses both sides to
    * +0.0 (IEEE: -0.0 + 0.0 = +0.0; every other value, NaN included,
    * is unchanged). Oracle SQL mirrors this by appending `+ 0`. */
  def r4(c: Column): Column = round(c, 4) + lit(0.0)

  /** The Zelen–Severo normal tail (A&S 26.2.17, |ε| < 7.5e-8) at
    * x ≥ 0: 2·(1 − Φ(x)) = 2·e^(−x²/2)·0.3989422804014327·poly(t),
    * t = 1/(1 + 0.2316419·x), poly in Horner form. Every oracle SQL
    * copy replays this operand order; callers round. */
  def zsTail(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) + t * lit(1.330274429)))))
    lit(2.0) * exp(lit(-0.5) * x * x) * lit(0.3989422804014327) * poly
  }
}
