package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Geodesic point buffer (SURVEY.md §2.3 G3; the reference's proprietary
  * "BufferCreator" tool declares `Method: Geodesic`,
  * StreamWithStates.scala:226-239): an N-gon whose vertices sit exactly
  * `radiusMeters` along the WGS84 ellipsoid geodesic from the center, one
  * per evenly-spaced azimuth — computed with Vincenty's DIRECT solution
  * (public formulae, Vincenty 1975). GeoSpec validates each vertex with
  * the independent INVERSE solution and against the classic Flinders
  * Peak -> Buninyong test line.
  *
  * A native codegen expression like every other custom function here
  * (the static-kernel pattern of WordHashes): the generated code calls
  * `GeodesicBuffer.computeNgon` directly, so even this cold-path op
  * stays inside whole-stage codegen instead of paying the UDF
  * encode/decode boundary — it was the repo's last remaining UDF.
  */
case class GeodesicNgon(first: Expression, second: Expression,
                        third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == DoubleType && second.dataType == DoubleType &&
      third.dataType == DoubleType && fourth.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"geodesic_ngon needs (double, double, double, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, ${fourth.dataType})")

  override protected def nullSafeEval(lon: Any, lat: Any, r: Any, n: Any): Any =
    GeodesicBuffer.computeNgon(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      r.asInstanceOf[Double], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, r, n) =>
      s"${ev.value} = graft.functions.GeodesicBuffer.computeNgon($lon, $lat, $r, $n);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): GeodesicNgon =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object GeodesicBuffer {
  // WGS84 ellipsoid
  private val A = 6378137.0
  private val F = 1.0 / 298.257223563
  private val B = A * (1.0 - F)

  private val EarthR = 6371008.8 // mean earth radius (haversine reference)

  case class Pt(x: Double, y: Double)

  /** Vincenty direct: destination (lonDeg, latDeg) after traveling
    * `s` meters from (lon, lat) on initial azimuth `azDeg` (clockwise
    * from north). Converges in ~4 iterations for any s < ~19,000 km. */
  def direct(lon: Double, lat: Double, azDeg: Double, s: Double): Pt = {
    val alpha1 = math.toRadians(azDeg)
    val sinA1 = math.sin(alpha1); val cosA1 = math.cos(alpha1)
    val tanU1 = (1.0 - F) * math.tan(math.toRadians(lat))
    val cosU1 = 1.0 / math.sqrt(1.0 + tanU1 * tanU1)
    val sinU1 = tanU1 * cosU1
    val sigma1 = math.atan2(tanU1, cosA1)
    val sinAlpha = cosU1 * sinA1
    val cos2Alpha = 1.0 - sinAlpha * sinAlpha
    val u2 = cos2Alpha * (A * A - B * B) / (B * B)
    val bigA = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    val bigB = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))

    var sigma = s / (B * bigA)
    var cos2SigmaM = 0.0; var sinSigma = 0.0; var cosSigma = 0.0
    var iter = 0
    var delta = 1.0
    while (math.abs(delta) > 1e-13 && iter < 16) {
      cos2SigmaM = math.cos(2.0 * sigma1 + sigma)
      sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
      val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
        (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
          bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
            (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
      val next = s / (B * bigA) + dSigma
      delta = next - sigma
      sigma = next
      iter += 1
    }
    cos2SigmaM = math.cos(2.0 * sigma1 + sigma)
    sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
    val tmp = sinU1 * sinSigma - cosU1 * cosSigma * cosA1
    val lat2 = math.atan2(
      sinU1 * cosSigma + cosU1 * sinSigma * cosA1,
      (1.0 - F) * math.sqrt(sinAlpha * sinAlpha + tmp * tmp))
    val lambda = math.atan2(
      sinSigma * sinA1,
      cosU1 * cosSigma - sinU1 * sinSigma * cosA1)
    val c = F / 16.0 * cos2Alpha * (4.0 + F * (4.0 - 3.0 * cos2Alpha))
    val bigL = lambda - (1.0 - c) * F * sinAlpha *
      (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma *
        (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
    Pt(math.toDegrees(math.toRadians(lon) + bigL), math.toDegrees(lat2))
  }

  /** Vincenty inverse: geodesic distance in meters between two WGS84
    * points — the independent check for `direct` (tests/validation). */
  def inverse(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val bigL = math.toRadians(lon2 - lon1)
    val tanU1 = (1.0 - F) * math.tan(math.toRadians(lat1))
    val cosU1 = 1.0 / math.sqrt(1.0 + tanU1 * tanU1); val sinU1 = tanU1 * cosU1
    val tanU2 = (1.0 - F) * math.tan(math.toRadians(lat2))
    val cosU2 = 1.0 / math.sqrt(1.0 + tanU2 * tanU2); val sinU2 = tanU2 * cosU2

    var lambda = bigL
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cos2Alpha = 0.0; var cos2SigmaM = 0.0
    var iter = 0; var delta = 1.0
    while (math.abs(delta) > 1e-13 && iter < 200) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return 0.0 // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cos2Alpha = 1.0 - sinAlpha * sinAlpha
      cos2SigmaM = if (cos2Alpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2.0 * sinU1 * sinU2 / cos2Alpha
      val c = F / 16.0 * cos2Alpha * (4.0 + F * (4.0 - 3.0 * cos2Alpha))
      val next = bigL + (1.0 - c) * F * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma *
          (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      delta = next - lambda
      lambda = next
      iter += 1
    }
    // fail LOUDLY on non-convergence (known Vincenty failure mode for
    // nearly-antipodal points): callers are tests/validation, and a
    // silently inaccurate last iterate would mask a direct/inverse
    // mismatch instead of flagging it
    require(math.abs(delta) <= 1e-13,
      s"Vincenty inverse did not converge for ($lon1,$lat1)-($lon2,$lat2): " +
        s"|delta|=${math.abs(delta)} after $iter iterations (nearly-antipodal?)")
    val u2 = cos2Alpha * (A * A - B * B) / (B * B)
    val bigA = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    val bigB = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
      (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
        bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    B * bigA * (sigma - dSigma)
  }

  /** N-gon of geodesic-equidistant vertices around a center point. */
  def ngon(lon: Double, lat: Double, radiusMeters: Double, n: Int): Seq[Pt] =
    (0 until n).map(i => direct(lon, lat, 360.0 * i / n, radiusMeters))

  /** Haversine great-circle distance in meters (spherical reference;
    * differs from the ellipsoidal geodesic by up to ~0.5%). */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * EarthR * math.asin(math.sqrt(a))
  }

  /** Static kernel shared by interpreted eval and generated code:
    * the n-gon as Catalyst array-of-struct data. */
  def computeNgon(lon: Double, lat: Double, radius: Double, n: Int): ArrayData = {
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val p = direct(lon, lat, 360.0 * i / n, radius)
      out(i) = new GenericInternalRow(Array[Any](p.x, p.y)): InternalRow
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Callers must `graft.functions.register(spark)` on the analyzing
    * session first. */
  def buffer(lon: Column, lat: Column, radius: Column, n: Column): Column =
    call_function("geodesic_ngon", lon, lat, radius, n)
}
