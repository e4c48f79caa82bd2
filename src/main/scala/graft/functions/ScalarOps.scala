package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar column functions (SURVEY.md §2.7). Pure `Column` algebra — no
  * UDFs — so everything stays inside whole-stage codegen and the parquet
  * scan keeps pushdown/pruning.
  *
  * Rounding: the reference uses C# `Math.Round` (half-to-even,
  * `Services/OpcSubscribeService.cs:570-575`); Spark's `bround` is
  * half-to-even, matching. The DuckDB oracles use `round_even`.
  */
object ScalarOps {

  /** C1 — slope/intercept auto-scaling:
    * `round(v*slope + offset, 3)` per `Services/OpcSubscribeService.cs:570-572`.
    * Defaults slope=1, offset=0 (`Models/OpcTemplates.cs:42-45`).
    */
  def scaleSlopeIntercept(v: Column, slope: Column, offset: Column): Column =
    bround(v * slope + offset, 3)

  def scaleSlopeIntercept(v: Column, slope: Double, offset: Double): Column =
    scaleSlopeIntercept(v, lit(slope), lit(offset))

  /** C2 — point-slope (range remap) auto-scaling:
    * `round((tmax-tmin)/(vmax-vmin)*(v-vmin)+tmin, 3)` per
    * `Services/OpcSubscribeService.cs:573-575`.
    */
  def scalePointSlope(v: Column, vmin: Double, vmax: Double, tmin: Double, tmax: Double): Column =
    bround(lit((tmax - tmin) / (vmax - vmin)) * (v - lit(vmin)) + lit(tmin), 3)

  /** Column-parameter form (bounds from a config dim row): same ratio-
    * first association as the literal form and the reference.
    */
  def scalePointSlope(v: Column, vmin: Column, vmax: Column,
                      tmin: Column, tmax: Column): Column =
    bround((tmax - tmin) / (vmax - vmin) * (v - vmin) + tmin, 3)

  /** Per-point auto-scaling dispatched on the template's scale_mode
    * (reference `Services/OpcSubscribeService.cs:565-576`: SlopeIntercept
    * or PointSlope per monitored point). Rows carry the mode and its
    * parameters from the config dim; unknown/missing mode falls back to
    * the identity (slope 1, offset 0), like the reference defaults.
    *
    * A point_slope row with a degenerate range (value_max = value_min,
    * incl. both NULL/missing coalesced to 0 by ConfigFiles) would divide
    * by zero and write NaN/Infinity into the current-values table — such
    * malformed config rows fall back to the identity path instead.
    */
  def scaleByMode(v: Column, mode: Column, slope: Column, offset: Column,
                  vmin: Column, vmax: Column, tmin: Column, tmax: Column): Column =
    when(mode === "point_slope" && vmax =!= vmin,
      scalePointSlope(v, vmin, vmax, tmin, tmax))
      .otherwise(scaleSlopeIntercept(v,
        coalesce(slope, lit(1.0)), coalesce(offset, lit(0.0))))

  /** C4 — the reference's `last_updated` text format
    * `yyyy-MM-ddTHH:mm:ss.ffffff` UTC (`Services/OpcSubscribeService.cs:555`).
    * Session TZ must be UTC (pinned in build.sbt / Verify).
    */
  def lastUpdatedString(ts: Column): Column = date_format(ts, C4Pattern)

  /** Driver-side twin of [[lastUpdatedString]] for the control-plane
    * statements (K3 reset, K4 heartbeat): the same text, formatted in UTC.
    */
  def lastUpdatedString(ts: java.time.Instant): String = C4Format.format(ts)

  private final val C4Pattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
  private val C4Format = java.time.format.DateTimeFormatter
    .ofPattern(C4Pattern).withZone(java.time.ZoneOffset.UTC)

  /** Plain timestamp rendering used for oracle-compared outputs (avoids
    * parquet timestamp-encoding mismatches between engines).
    */
  def tsString(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  def dateString(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** C5 — microsecond |delta| between two timestamps
    * (`Services/OpcSubscribeService.cs:559` uses ms; µs here for exactness).
    */
  def absDeltaMicros(a: Column, b: Column): Column =
    abs(unix_micros(a) - unix_micros(b))

  /** A 32-bit deterministic hash shared bit-for-bit with the DuckDB oracle:
    * first 8 hex chars of md5, read as an integer. Both engines md5 the
    * UTF-8 bytes, so values agree exactly.
    * Oracle form: `('0x' || substr(md5(x), 1, 8))::BIGINT`.
    */
  def md5Hash32(c: Column): Column =
    NativeTextOps.md5Hash32(c.cast(StringType))

  /** Declarative twin of [[md5Hash32]] — TextKernelSpec's reference. */
  def md5Hash32Ref(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 8), 16, 10).cast(LongType)

  /** Exact decimal sum rendered as double — the only way to make a
    * floating aggregate hash-match across engines (summation order differs
    * between Spark partial aggregation and DuckDB's sequential scan, so
    * double sums are NOT reproducible; decimal sums are exact and
    * associative). `scale` must cover the per-row expression's precision.
    */
  def exactSum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact mean: decimal sum / count, divided in double (identical IEEE
    * division in both engines).
    */
  def exactAvg(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType) / count(lit(1))
}
