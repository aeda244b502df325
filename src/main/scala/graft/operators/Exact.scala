package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The operators' exact-arithmetic conventions, spelled once so engine
  * and oracle text cannot drift apart between query families.
  *
  * The cross-engine rules every query module follows:
  *   - money is cents-exact (`cents`); time is epoch-µs int64 with
  *     floordiv-by-construction day math (`epochDay`);
  *   - counts and moment products accumulate in decimal(38,0) /
  *     HUGEINT (`dec`) until the one final division;
  *   - an order-dependent float sum first quantizes each term to a
  *     fixed-point grid (1e-9), because integer sums are
  *     merge-order-free;
  *   - the final IEEE expression is written in the same operation
  *     order in engine and oracle and floored onto the 1e-6 grid
  *     (`q6`);
  *   - irrational constants are shared literals, never cross-engine
  *     libm calls;
  *   - `div`/`//` only on non-negative dividends: Spark's `div`
  *     truncates toward zero, DuckDB's `//` floors;
  *   - every fractional SQL literal carries an explicit DOUBLE cast
  *     (DuckDB parses bare decimals as DECIMAL). */
private[operators] object Exact {

  /** decimal(38,0) (DuckDB: HUGEINT): order-independent exact sums. */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** The 1e-6 report grid. */
  def q6(c: Column): Column =
    floor(c * 1000000L + 0.5) / 1000000L

  /** The q201 cents-grid convention for events.value. */
  val cents: Column = floor(col("value") * 100 + 0.5).cast("long").as("v")

  /** Sign-safe epoch-µs → epoch-day floordiv, THE shared day-math
    * primitive (q143 convention): the oracle's `//` floors while
    * Spark's `div` truncates toward zero — subtracting the pmod first
    * makes the dividend an exact multiple, so truncation == floor for
    * all epochs including pre-1970. Built with Column operators (not a
    * toString-interpolated expr), so aliased/qualified/backtick-needing
    * input columns compose safely; `div` is the builtin IntegralDivide
    * reached via call_function. */
  def epochDay(tsMicros: Column): Column =
    call_function("div", tsMicros - pmod(tsMicros, lit(86400000000L)),
      lit(86400000000L))

  /** Abramowitz-Stegun 7.1.26 erfc constants — the SAME literals in
    * engine and oracle (never libm); |error| ≤ 1.5e-7, far above the
    * 1e-9 report grid's needs and identical in both engines by
    * construction. */
  val ErfT = 0.3275911
  val ErfA1 = 0.254829592
  val ErfA2 = -0.284496736
  val ErfA3 = 1.421413741
  val ErfA4 = -1.453152027
  val ErfA5 = 1.061405429
  val Sqrt2 = 1.4142135623730951
}
