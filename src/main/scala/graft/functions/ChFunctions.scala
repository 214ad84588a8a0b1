package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ClickHouse-compatible scalar functions, built from codegen'd Spark
  * built-ins (no UDFs anywhere — every helper below stays inside
  * whole-stage codegen).
  *
  * ClickHouse returns *type defaults* (`''` for String, `0` for numbers)
  * where Spark returns NULL; every extraction is wrapped to reproduce that,
  * because the reference's analytics MV depends on it
  * (`clickhouse-config/init/init.sql:109-120`).
  */
object ChFunctions {

  private val Dot = "\\."

  /** `splitByChar('.', subject)[n]` with ClickHouse semantics: 1-indexed,
    * out-of-range yields `''` (reference `init.sql:113-120`).
    * ANSI-safe: `try_element_at` → NULL out of range → coalesced to ''. */
  def subjectSegment(subject: Column, n: Int): Column =
    coalesce(try_element_at(split(subject, Dot), lit(n)), lit(""))

  /** The Go service's `chat_id`: 0-indexed `parts[3]` = 4th dot-segment,
    * `''` when the subject has fewer than 4 segments
    * (reference `main.go:174-183`). Coincides with the MV's `session_id`
    * (1-indexed `[4]`), NOT `user_id` — see SURVEY.md §2.5 quirk note. */
  def chatId(subject: Column): Column = subjectSegment(subject, 4)

  /** `JSONExtractString(data, key)`'s default (reference
    * `init.sql:109-111`) applied to an ALREADY-extracted nullable value
    * (a `json_tuple` output): missing key, malformed JSON or mistyped
    * value → null → `''`. The single home of the ClickHouse
    * string-default semantics. */
  def chString(extracted: Column): Column = coalesce(extracted, lit(""))

  /** The `JSONExtractUInt`→`DateTime` default applied to an
    * already-extracted nullable value: non-numeric/missing → 0 → epoch
    * 1970-01-01 (reference `init.sql:112`, `init.sql:84`). */
  def chEpochTimestamp(extracted: Column): Column =
    timestamp_seconds(coalesce(extracted.try_cast("long"), lit(0L)))

  /** The `JSONExtractUInt` numeric default for an already-extracted
    * nullable value: non-numeric/missing → 0. */
  def chUInt(extracted: Column): Column =
    coalesce(extracted.try_cast("long"), lit(0L))

  /** ClickHouse `DateTime` is second-precision; truncate at the ingest
    * boundary (reference `init.sql:10`). */
  def toSecond(ts: Column): Column = date_trunc("second", ts)

  /** `toYYYYMM(timestamp)` — the partition key of every reference table
    * (`init.sql:18,31,45,95`). */
  def toYYYYMM(ts: Column): Column = date_format(ts, "yyyyMM")

  /** Exact-decimal sum of a double column, returned as double.
    *
    * Double summation is order-dependent and Spark's partial aggregation
    * order is nondeterministic across partitionings; aggregating in
    * DECIMAL is exact and associative, so the result is bit-identical on
    * any cluster size (and to any other exact engine). The cast back to
    * double keeps the public schema. Decimal sums stay inside hash-agg
    * codegen, so the overhead is a constant factor, not a new pass. */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(25,6)")).cast("double")

  /** Deterministic average: exact-decimal sum cast to double, then a single
    * IEEE double division (decimal÷integer division would round at an
    * engine-specific scale; double÷double is bit-deterministic). */
  def davg(c: Column): Column =
    dsum(c) / count(c).cast("double")
}
