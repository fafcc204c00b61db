package graft.codec

/** Numeric conversions with exact parity to the reference's semantics. */
object Amounts {
  val StroopsPerLumen = 10000000L

  /** stroops → XLM as float64 via exact rational→double rounding
    * (`/root/reference/internal/utils/main.go:84-87` uses big.Rat → Float64,
    * which is correctly rounded; `v.toDouble/1e7` can differ in the last ulp).
    * BigDecimal division with enough digits then toDouble reproduces the
    * correctly-rounded result. */
  def stroopsToXlm(stroops: Long): Double =
    new java.math.BigDecimal(stroops)
      .divide(new java.math.BigDecimal(StroopsPerLumen))
      .doubleValue()

  /** i128 (hi, lo) → decimal string, per contract balance amounts
    * (`/root/reference/internal/transform/contract_data.go:373-378`). */
  def int128String(hi: Long, lo: Long): String = {
    val loUnsigned = BigInt(lo) & ((BigInt(1) << 64) - 1)
    ((BigInt(hi) << 64) + loUnsigned).toString
  }

  /** Price ratio n/d as float64, matching Go float64(n)/float64(d). */
  def priceRatio(n: Int, d: Int): Double = n.toDouble / d.toDouble
}
