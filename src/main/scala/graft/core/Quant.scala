package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * u16 elevation quantization, replicating the reference's rule
 * (pubgeo `src/common/orthoimage.h:373-378`):
 *
 *   offset = zMin - 1
 *   scale  = (zMax + 1 - (zMin - 1)) / 65535
 *   raw    = trunc((z - offset) / scale)        // C cast semantics
 *
 * Zero is the universal void sentinel (`orthoimage.h:430-431`), which the
 * `-1` offset reserves. The engine's geocoded z lives in [0, 20), so the
 * standard grid uses the fixed constants zMin=0, zMax=20 =>
 * offset = -1, scale = 22/65535. All values are positive, so
 * floor == trunc and the same formula is expressible in ANSI SQL.
 */
object Quant {
  final val ZMin = 0.0
  final val ZMax = 20.0
  final val Offset: Double = ZMin - 1.0
  final val Scale: Double = (ZMax + 1.0 - (ZMin - 1.0)) / 65535.0

  /** Quantize meters -> u16 raw (as Long column). */
  def q(z: Column): Column = floor((z - lit(Offset)) / lit(Scale)).cast("long")

  /** Dequantize raw -> meters (pubgeo `src/common/orthoimage.h:333`). */
  def deq(v: Column): Column = v.cast("double") * lit(Scale) + lit(Offset)

  def q(z: Double): Long = math.floor((z - Offset) / Scale).toLong
  def deq(v: Long): Double = v.toDouble * Scale + Offset

  /** DuckDB dual of [[q]]: `(z - (-1.0)) / (22.0/65535.0)` floored. */
  def qSql(z: String): String =
    s"CAST(floor((($z) - (-1.0)) / (22.0 / 65535.0)) AS BIGINT)"

  // ---- data-derived quantization (A5) --------------------------------

  /** A fitted quantization: offset = zMin - 1,
    * scale = (zMax + 1 - offset) / 65535 (orthoimage.h:373-378). */
  final case class Fit(offset: Double, scale: Double)

  /** Fit the quantization to the DATA bounds — the reference computes
    * these from the point set before rasterizing; the fixed world
    * constants above are only valid for the geocoded doc cloud. One
    * bounds aggregate (driver-held two doubles). */
  def fit(df: org.apache.spark.sql.DataFrame, zCol: String): Fit = {
    val row = df.agg(min(col(zCol)), max(col(zCol))).head()
    val zMin = row.getDouble(0); val zMax = row.getDouble(1)
    val offset = zMin - 1.0
    Fit(offset, (zMax + 1.0 - offset) / 65535.0)
  }

  def q(z: Column, f: Fit): Column =
    floor((z - lit(f.offset)) / lit(f.scale)).cast("long")

  def deq(v: Column, f: Fit): Column =
    v.cast("double") * lit(f.scale) + lit(f.offset)

  /** The reference's scale reconciliation for mixing two grids
    * (`shr3d.cpp:213-217`, setDTM0): common offset = min of the two,
    * common scale spans the larger max representable z. */
  def reconcile(a: Fit, b: Fit): Fit = {
    val offset = math.min(a.offset, b.offset)
    val maxz = math.max(a.offset + 65535.0 * a.scale, b.offset + 65535.0 * b.scale)
    Fit(offset, (maxz - offset) / 65535.0)
  }

  /** adjust_scale (`shr3d.cpp:166-178`): re-quantize raw values from
    * `from` to `to`, preserving voids (0). C unsigned short assignment
    * truncates; all values here are non-negative so floor == trunc. */
  def adjustScale(v: Column, from: Fit, to: Fit): Column =
    when(v === 0, lit(0L)).otherwise(
      floor((v.cast("double") * lit(from.scale) + lit(from.offset) - lit(to.offset))
        / lit(to.scale)).cast("long"))

  /** DuckDB duals, with the fit parameters inlined as SQL expressions so
    * both engines execute the same IEEE double ops. */
  def adjustScaleSql(v: String, fromOff: String, fromScale: String,
                     toOff: String, toScale: String): String =
    s"CASE WHEN ($v) = 0 THEN 0 ELSE CAST(floor(((($v) * ($fromScale) + ($fromOff)) - ($toOff)) / ($toScale)) AS BIGINT) END"
}
