package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's complete scalar-function surface, re-expressed as
  * compositions of Spark built-ins (`Column => Column`), so every use keeps
  * whole-stage codegen and Catalyst optimization — no UDFs.
  *
  * Semantics mirror `/root/reference/src/animals_etl/utils.py:14-54`:
  *  - splitFriends:      utils.py:14-18
  *  - normalizeEpoch:    utils.py:20-48 (unit auto-detect by magnitude),
  *                       as epochToMicros then normalizeMicros
  *  - isValidIsoUtc:     utils.py:7,50-54
  */
object FaunaFunctions {

  /** ISO-8601 UTC `Z` validation regex (utils.py:7). */
  val IsoUtcZRegex: String = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(?:\\.\\d+)?Z$"

  /** Max epoch seconds Python's datetime can represent (year 9999);
    * larger values overflow to None in the reference (utils.py:42-45). */
  val MaxEpochSeconds: Long = 253402300799L

  /** Split a comma-delimited string into a trimmed array, dropping empty /
    * whitespace-only pieces; null/empty input yields an empty array
    * (utils.py:14-18). Pure built-ins: split → transform(trim) → filter.
    */
  def splitFriends(c: Column): Column =
    filter(
      transform(split(coalesce(c, lit("")), ","), x => trim(x)),
      x => x =!= ""
    )

  /** Exact integer division on longs (SQL `div`) — `/` on Column is double
    * division, which silently loses precision above 2^53 (ns-scale epochs
    * reach ~1.6e18, so float division would corrupt microseconds).
    */
  private def longDiv(c: Column, d: Long): Column =
    call_function("div", c, lit(d))

  /** Epoch (any of s/ms/µs/ns, auto-detected by magnitude as in
    * utils.py:33-41) → microseconds-since-epoch as LONG. Null/negative → null
    * (utils.py:27-28). Exact integer arithmetic throughout.
    */
  def epochToMicros(e: Column): Column = {
    val eL = e.cast(LongType)
    val micros = when(eL >= lit(1000000000000000000L), longDiv(eL, 1000L)) // ns
      .when(eL >= lit(1000000000000000L), eL)                              // µs
      .when(eL >= lit(1000000000000L), eL * lit(1000L))                    // ms
      .otherwise(eL * lit(1000000L))                                       // s
    when(eL.isNull || eL < 0, lit(null).cast(LongType)).otherwise(micros.cast(LongType))
  }

  /** Normalize an epoch column to a TIMESTAMP, rejecting (→ null) negative,
    * unrepresentable (year > 9999, utils.py:42-45), and future-relative-to-
    * `asOf` values (utils.py:48). `asOf` is an explicit parameter — the
    * reference uses wall-clock `now`, which would break oracle
    * reproducibility (SURVEY.md §7.4).
    */
  def normalizeEpoch(e: Column, asOf: Column): Column = normalizeMicros(epochToMicros(e), asOf)

  /** [[normalizeEpoch]]'s checks on microseconds already converted by
    * [[epochToMicros]]. `micros` appears four times in the result, so pass
    * a column reference, not the conversion itself, where that matters.
    */
  def normalizeMicros(micros: Column, asOf: Column): Column = {
    val ts = timestamp_micros(micros)
    when(micros.isNull || micros > lit(MaxEpochSeconds * 1000000L), lit(null).cast(TimestampType))
      .when(ts > asOf, lit(null).cast(TimestampType))
      .otherwise(ts)
  }

  /** Render a timestamp as the reference's ISO-8601 UTC string: fraction
    * omitted when zero, else exactly 6 digits, `Z` suffix — Python
    * `datetime.isoformat().replace("+00:00", "Z")` (utils.py:48).
    * Requires session time zone UTC.
    */
  def formatIsoUtc(ts: Column): Column = {
    val frac = date_format(ts, "SSSSSS")
    when(ts.isNull, lit(null).cast(StringType)).otherwise(
      concat(
        date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        when(frac =!= "000000", concat(lit("."), frac)).otherwise(lit("")),
        lit("Z")
      )
    )
  }

  /** Full reference conversion: epoch → ISO-8601 UTC `Z` string or null. */
  def epochToIso8601Utc(e: Column, asOf: Column): Column =
    formatIsoUtc(normalizeEpoch(e, asOf))

  /** True iff null or a valid ISO-8601 UTC `Z` string (utils.py:50-54). */
  def isValidIsoUtc(c: Column): Column =
    c.isNull || c.rlike(IsoUtcZRegex)
}
