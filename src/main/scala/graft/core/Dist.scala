package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distance + kernel functions. Planar euclidean is the default; arc
  * (great-circle) distance with mile/km units mirrors the reference's
  * `is_arc`/`is_mile` flags (`postgeoda/src/weights_knn.c:108-142`).
  * Kernel names per `postgeoda/src/weights.h:322-340`.
  */
object Dist {
  val EarthMiles = 3959.0
  val EarthKm = 6371.0

  @inline def euclidean(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x1 - x2; val dy = y1 - y2
    math.sqrt(dx * dx + dy * dy)
  }

  /** Great-circle (haversine); inputs in degrees lon/lat. */
  def arc(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
          mile: Boolean): Double = {
    val r = if (mile) EarthMiles else EarthKm
    val la1 = math.toRadians(lat1); val la2 = math.toRadians(lat2)
    val dLa = la2 - la1
    val dLo = math.toRadians(lon2 - lon1)
    val a = math.sin(dLa / 2) * math.sin(dLa / 2) +
      math.cos(la1) * math.cos(la2) * math.sin(dLo / 2) * math.sin(dLo / 2)
    2.0 * r * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Kernel functions over u = d/bandwidth, names per weights.h:322-340.
    * `useDiagonal` carries the reference's use_kernel_diagonals semantics
    * for the d == 0 (self) entry: false → flat 1.0, true → kernel(0)
    * (`proxy.cpp:156-161`); the DataFrame builders apply the same rule.
    */
  def kernel(name: String, d: Double, bandwidth: Double,
             useDiagonal: Boolean): Double = {
    if (d == 0.0 && !useDiagonal) return 1.0
    val u = if (bandwidth == 0.0) 0.0 else d / bandwidth
    name match {
      case "triangular"   => if (u >= 1) 0.0 else 1.0 - u
      case "uniform"      => if (u >= 1) 0.0 else 0.5
      case "epanechnikov" => if (u >= 1) 0.0 else 0.75 * (1.0 - u * u)
      case "quartic"      => if (u >= 1) 0.0 else (15.0 / 16.0) * math.pow(1.0 - u * u, 2)
      case "gaussian"     => math.exp(-0.5 * u * u) / math.sqrt(2.0 * math.Pi)
      case other => throw unknownKernel(other)
    }
  }

  /** `kernel` as a Column function of u = d/bandwidth, for the weight
    * builders (the self entry's weight is the caller's). An unknown
    * name fails at this call.
    */
  def kernelCol(name: String): Column => Column = name match {
    case "triangular"   => u => when(u >= 1, 0.0).otherwise(lit(1.0) - u)
    case "uniform"      => u => when(u >= 1, 0.0).otherwise(lit(0.5))
    case "epanechnikov" => u => when(u >= 1, 0.0).otherwise(lit(0.75) * (lit(1.0) - u * u))
    case "quartic"      => u => when(u >= 1, 0.0).otherwise(lit(15.0 / 16.0) * pow(lit(1.0) - u * u, 2))
    case "gaussian"     => u => exp(lit(-0.5) * u * u) / math.sqrt(2.0 * math.Pi)
    case other => throw unknownKernel(other)
  }

  /** Distance weighting d^power, inverted (0 at d == 0) with
    * `is_inverse` — knn/distance weights' `power`, `is_inverse`
    * (weights_knn.c:108-142).
    */
  def powCol(d: Column, power: Double, inverse: Boolean): Column = {
    val p = if (power == 1.0) d else pow(d, power)
    if (inverse) when(p === 0.0, 0.0).otherwise(lit(1.0) / p) else p
  }

  private def unknownKernel(name: String) =
    new IllegalArgumentException(s"unknown kernel '$name' (weights.h:322-340)")
}
