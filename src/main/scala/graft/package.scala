/** Helpers shared across the engine's packages. */
package object graft {

  /** `x` rounded half-up to 6 decimals through `BigDecimal(x)` (the
    * shortest decimal that reads back as `x`) — the rounding of every
    * driver-computed statistic the engine reports, and the one Spark's
    * SQL `round(x, 6)` applies to a double. */
  private[graft] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
