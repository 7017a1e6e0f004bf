package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function library — the engine's equivalents of the reference's
  * SQL built-in usage (SURVEY.md §2.9, reference `/root/reference/`):
  * European decimal parsing (`transaction.py:77`), NULL-skipping name
  * concat (`report.py:23`), null-safe change detection
  * (`terminals.py:128-131`), interval arithmetic as epoch math
  * (`report.py:99,112`), plus portable 64-bit hashing used by the
  * dedup/similarity extensions.
  *
  * Everything here stays inside Catalyst built-ins (codegen'd,
  * whole-stage-friendly) — no Scala UDFs, so plans remain optimizable
  * and predicates remain pushable at 100 TB scale.
  */
object Functions {

  /** SCD2 "open version" sentinel (reference `main.ddl:88-89`,
    * `to_date('9999-12-31','YYYY-MM-DD')`). */
  val InfinityTs: Column = to_timestamp(lit("9999-12-31 00:00:00"))

  /** Parse a European-format decimal string "1.234,56" → 1234.56
    * (reference `transaction.py:77`:
    * `cast(replace(replace(amount,'.',''),',','.') as DECIMAL(15,2))`).
    * One `translate` pass ('.' deleted, ',' → '.') — character-wise
    * identical to the reference's two global replaces, without the two
    * regex engines per row the naive spelling costs on the fact scan. */
  def parseEuroDecimal(c: Column): Column =
    translate(c, ",.", ".").cast(DecimalType(15, 2))

  /** Render a decimal as a European-format string (inverse of
    * [[parseEuroDecimal]], used to build test fixtures). */
  def toEuroString(c: Column): Column =
    translate(c.cast(StringType), ".", ",")

  /** Postgres-`concat` semantics: NULL args are skipped, not
    * NULL-propagated (reference `report.py:23` builds `fio` this way).
    * Spark's `concat` would return NULL — `concat_ws` matches PG. */
  def fio(parts: Column*): Column = concat_ws(" ", parts: _*)

  /** Null-safe "attribute changed" predicate: the reference's 3-term
    * OR-chain per tracked column (`terminals.py:128-131`) collapses to
    * a single negated null-safe equality. */
  def changed(a: Column, b: Column): Column = !(a <=> b)

  /** OR-fold of [[changed]] across tracked column pairs — the SCD2
    * "any tracked attribute differs" predicate (`clients.py:156-163`). */
  def anyChanged(pairs: Seq[(Column, Column)]): Column =
    pairs.map { case (a, b) => changed(a, b) }.reduce(_ || _)

  /** Epoch seconds (truncated). Portable: DuckDB `epoch(ts)`. */
  def epochSec(c: Column): Column = c.cast(LongType)

  /** Epoch microseconds. Portable: DuckDB `epoch_us(ts)`. */
  def epochUs(c: Column): Column = unix_micros(c)

  /** `a - b <= n seconds` with both operands timestamps — the
    * reference's interval comparisons (`report.py:99,112`) expressed as
    * epoch arithmetic so the same predicate runs on any engine. */
  def withinSeconds(a: Column, b: Column, seconds: Long): Column =
    epochUs(a) - epochUs(b) <= seconds * 1000000L

  /** `ts - INTERVAL '1 second'` — SCD2 version-closing timestamp
    * (reference `terminals.py:134`, `cards.py:126`). */
  def minusOneSecond(c: Column): Column = c - expr("INTERVAL 1 SECOND")

  /** Fast exact equivalent of `round(x)` (scale 0, HALF_UP) for
    * doubles with |x| < 2^51, returned as BIGINT.
    *
    * Spark's `Round` on DoubleType allocates a `java.math.BigDecimal`
    * per row (≈2× the cost of the whole projection in the money-cents
    * hot paths). For |x| < 2^51, `x + 0.5` is exact in IEEE double
    * (ulp ≤ 0.5, so the sum is representable), hence
    * `sign(x) * floor(|x| + 0.5)` reproduces BigDecimal HALF_UP
    * (round half away from zero) bit-for-bit — including exact .5
    * ties and negative values. Money-to-cents values are far below
    * 2^51, so every cents conversion in the engine uses this; the
    * DuckDB oracles keep their `round()` spelling (same semantics).
    *
    * One boundary needs an explicit guard: for |x| just below 0.5
    * (e.g. 0.49999999999999994), x sits in a finer binade than
    * x + 0.5, the sum misrounds up to exactly 1.0, and floor would
    * round to 1 where HALF_UP gives 0. At every other integer
    * boundary x and x + 0.5 share a binade (ulp ≤ 0.5 there), the sum
    * is exact, and no misround can occur — pinned adversarially in
    * FunctionsSpec. Fractional-scale rounding (`round(x, 6)`) is NOT
    * covered — multiplying by 10^s first would change which ties
    * exist. */
  def roundToLong(x: Column): Column =
    when(abs(x) < 0.5d, lit(0L))
      .otherwise(when(x >= 0, floor(x + 0.5d)).otherwise(-floor(-x + 0.5d)))

  /** Money-to-integer-cents: the engine's hash-stable money
    * representation (exact bigint, no decimal/double drift). */
  def cents(x: Column): Column = roundToLong(x * 100)

  /** Fractional rounding computed EXACTLY the way DuckDB rounds
    * doubles (`std::round(x * 10^s) / 10^s` — half away from zero on
    * the scaled product): [[roundToLong]] on `x · 10^s`, divided back.
    * For oracle-compared similarity scores this is strictly better
    * than Spark's `round(x, s)` (BigDecimal HALF_UP on the exact
    * binary expansion): the oracle agreement becomes identical float
    * ops on both engines instead of an empirical match, and the pair
    * loop drops the per-comparison BigDecimal allocation. Valid for
    * |x·10^s| < 2^51. */
  def roundFrac(x: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    // NaN/±Inf propagate unchanged — matching Spark's and DuckDB's
    // round(). Without the guard, floor's long cast maps NaN to 0
    // (abs(NaN) < 0.5 is false; NaN >= 0 is true under Spark's
    // NaN-greatest ordering), which would silently flip threshold
    // filters and DESC ordering for e.g. a zero-norm embedding's
    // cosine instead of surfacing the non-finite score.
    when(isnan(x) || abs(x) === Double.PositiveInfinity, x)
      .otherwise(roundToLong(x * p) / p)
  }

  /** Deterministic, engine-portable 64-bit (60-bit) hash of a string:
    * first 15 hex chars of md5 as an unsigned int. Identical in DuckDB
    * as `('0x' || substr(md5(s), 1, 15))::BIGINT`. Used by MinHash /
    * SimHash / fingerprint extensions where the oracle must agree
    * bit-for-bit; stock `xxhash64`/`hash` are engine-specific. */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Family of portable hash functions for MinHash: h_i(x) =
    * (a_i * h(x) + b_i) mod p, with p = 2^31-1 (Mersenne prime) and
    * (a_i, b_i) derived deterministically from the seed index. */
  def minhashFn(base: Column, i: Int): Column = {
    val p = 2147483647L // 2^31 - 1
    val a = 1103515245L * (i + 1) % p
    val b = 12345L * (i * i + 1) % p
    pmod(lit(a) * pmod(base, lit(p)) + lit(b), lit(p))
  }

  /** Dot product of two equal-length numeric arrays, deterministic
    * left-to-right fold (portable to DuckDB `list_reduce(list_zip …)`
    * or a generated expression). Inputs cast to double first. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, v) => acc + v)

  /** L2 norm of a numeric array (deterministic fold + sqrt). */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast(DoubleType) * v.cast(DoubleType)))

  /** Cosine similarity of two embedding arrays. */
  def cosineSim(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Morton (Z-order) key: interleave the low `bits` bits of each
    * column, most-significant bit first, into one non-negative BIGINT.
    * Rows sorted by this key cluster on EVERY input dimension at once —
    * a range of z-values maps to a hyper-rectangle neighborhood — which
    * is what makes multi-column min/max file skipping work: a linear
    * sort clusters only its leading column; z-order gives every listed
    * column tight per-file bounds.
    *
    * Inputs must already be non-negative and < 2^bits (scale first).
    * The expression is a static tree of `bits × n` shift/and/or terms —
    * pure Catalyst built-ins, whole-stage-codegen'd, no UDF. Total
    * output width `bits × n` must fit a signed long (≤ 62 bits).
    * [[zorderKeySql]] emits the identical computation as ANSI/DuckDB
    * SQL from the same bit enumeration, so oracle agreement is by
    * construction, not coincidence. */
  def zorderKey(bits: Int, cols: Column*): Column = {
    val n = cols.length
    require(n >= 1 && bits >= 1 && bits * n <= 62,
      s"zorderKey: bits*cols must be in [1, 62], got $bits*$n")
    val terms = for (b <- (bits - 1) to 0 by -1; i <- cols.indices) yield
      shiftleft(shiftright(cols(i).cast(LongType), b).bitwiseAND(lit(1L)),
        b * n + (n - 1 - i))
    terms.reduce(_ bitwiseOR _)
  }

  /** [[zorderKey]] as a SQL expression string over the given column
    * (or expression) spellings — same term enumeration, DuckDB/ANSI
    * bitwise operators. */
  def zorderKeySql(bits: Int, cols: Seq[String]): String = {
    val n = cols.length
    require(n >= 1 && bits >= 1 && bits * n <= 62,
      s"zorderKeySql: bits*cols must be in [1, 62], got $bits*$n")
    val terms = for (b <- (bits - 1) to 0 by -1; i <- cols.indices) yield
      s"(((CAST(${cols(i)} AS BIGINT) >> $b) & 1) << ${b * n + (n - 1 - i)})"
    terms.mkString("(", " | ", ")")
  }
}
