package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-function library (pure `Column => Column`), covering the scalar
  * expression surface of the reference (SURVEY §2.7, E1-E11) plus
  * oracle-parity aggregation helpers.
  *
  * Oracle parity note: the driver's correctness gate hash-compares Spark
  * results against DuckDB. A plain `sum(double)` is order-dependent
  * (floating-point addition is not associative), so a 32-partition Spark sum
  * and a DuckDB single-threaded sum can differ in the last bits. We therefore
  * sum through exact decimal arithmetic (`CAST(x AS DECIMAL)` per row, exact
  * decimal sum, final cast back to double) — deterministic, order-independent,
  * and bit-identical between engines. The per-row double→decimal cast is
  * round-to-nearest in both. This also holds at 100 TB: decimal sums are
  * codegen'd and partial-aggregated map-side just like double sums.
  */
object Exprs {

  /** Order-independent (exact decimal) sum of a double column, as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** DuckDB-side SQL equivalent of [[dsum]]. */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)"

  /** Order-independent mean: exact decimal sum cast to double / count. */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  def davgSql(expr: String, scale: Int = 4): String =
    s"${dsumSql(expr, scale)}/COUNT($expr)"

  /** Long-speed twin of [[dsum]] — bit-identical result, no per-row
    * BigDecimal in the aggregation. [[dsum]]'s decimal(30,·) buffer
    * leaves the compact (long-backed) Decimal range, so Spark runs a
    * BigDecimal add + overflow check per row per column; for
    * magnitude-BOUNDED inputs (|v|·10^scale inside a compact
    * decimal(18,·) — quantities, prices, event values) the same exact
    * value comes from: round each element once to its decimal contract
    * (codegen'd cast), rip out the unscaled long (Spark's own
    * UnscaledValue), and aggregate plain long sums, split hi/lo at 2^30
    * (arithmetic shift floors negatives, so hi·2^30 + lo == u exactly
    * for any sign). The per-GROUP reassembly is decimal-exact and goes
    * through the identical BigDecimal→double rounding, so hashes match
    * [[dsum]] bit-for-bit (q28-proven against the unchanged oracle;
    * measured 2× end-to-end on wide-decimal aggregation queries).
    *
    * Exactness bound: the lo sum overflows long after ~8.6e9 rows PER
    * GROUP (2^63 / 2^30); ANSI mode makes that loud, not silent — shard
    * the group key or fall back to [[dsum]] beyond. Scale ≤ 6 keeps the
    * final division exact (the divide's result scale is 6). */
  def lsum(c: Column, scale: Int = 2): Column = {
    require(scale >= 0 && scale <= 6, s"lsum scale 0..6, got $scale")
    import org.apache.spark.sql.{GraftBridge => GB}
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    val u = GB.column(UnscaledValue(GB.expression(
      c.cast(DecimalType(18, scale)))))
    val hi = sum(shiftright(u, 30)).cast(DecimalType(38, 0))
    val lo = sum(u.bitwiseAND(lit((1L << 30) - 1))).cast(DecimalType(38, 0))
    ((hi * lit(1L << 30) + lo).cast(DecimalType(38, 0)) /
      lit(math.pow(10, scale).toLong).cast(DecimalType(10, 0)))
      .cast("double")
  }

  /** Long-speed twin of [[davg]] (same bounds caveat as [[lsum]]). */
  def lavg(c: Column, scale: Int = 4): Column =
    lsum(c, scale) / count(c)

  /** Z-address (Morton interleave) of the low `bits` bits of each key, as
    * a long: bit i of key j lands at i·n + (n-1-j), so key 0 takes the
    * most significant bit of each n-bit group. The space-filling curve
    * behind multi-dimensional clustering (Delta/Iceberg OPTIMIZE ZORDER):
    * sorting by it makes every size-2^k-aligned box of key space a
    * CONTIGUOUS z range, so a file holding a z slab has tight min/max
    * statistics on every key at once. Pure shift/and/or Column
    * arithmetic: whole-stage-codegen'd, no UDF. */
  def zAddress(keys: Seq[Column], bits: Int): Column = {
    val n = keys.length
    require(n >= 1 && bits >= 1 && n * bits <= 63,
      s"zAddress: $n keys × $bits bits must fit in 63")
    (for {
      i <- 0 until bits
      (k, j) <- keys.zipWithIndex
    } yield shiftleft(shiftright(k.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + (n - 1 - j))).reduce(_ bitwiseOR _)
  }

  // --- Reference scalar expressions (file:line cites → /root/reference) ---

  /** E2: last-N-characters slice (`main.py:95`, `main.py:102`). */
  def lastChars(c: Column, n: Int): Column = substring(c, -n, n)

  /** E3: literal replace (`main.py:100` strips underscores). */
  def stripUnderscores(c: Column): Column = regexp_replace(c, "_", "")

  /** E6: the reference's odd key date format ddHHyyyyMM (`main.py:102`) —
    * field order (day, hour, year, month) is part of key identity. */
  def keyDateFormat(c: Column): Column = date_format(c, "ddHHyyyyMM")

  /** E5+E6+E2: surrogate key `last7(title_id) ++ ddHHyyyyMM(first_played)`
    * (`main.py:102`). Generic over any (id, timestamp) pair. */
  def deriveId(idCol: Column, tsCol: Column): Column =
    concat(lastChars(stripUnderscores(idCol), 7), keyDateFormat(tsCol))

  /** E8: ISO-8601 duration string (PT…H…M…S) → total seconds, as the
    * reference normalizes timedelta → seconds (`main.py:114-115`).
    * Composed from built-ins (regexp_extract) — stays inside codegen. */
  def isoDurationSeconds(c: Column): Column = {
    def part(p: String) = {
      // regexp_extract yields '' on no match; ANSI cast('' AS DOUBLE) throws,
      // so route the empty string to 0 explicitly.
      val m = regexp_extract(c, s"(\\d+(?:\\.\\d+)?)$p", 1)
      when(m === "", lit(0.0)).otherwise(m.cast("double"))
    }
    (part("H") * 3600 + part("M") * 60 + part("S")).cast("double")
  }

  /** E9: today-midnight stamp (`main.py:203`). */
  def todayMidnight(): Column = date_trunc("day", current_timestamp())
}
