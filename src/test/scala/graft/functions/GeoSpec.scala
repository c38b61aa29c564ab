package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Geometry function tests: projection known values + round-trip,
  * geodesic buffer radius accuracy. */
class GeoSpec extends SparkSpec {
  import spark.implicits._

  test("WebMercator: known values and codegen/interpreted parity") {
    graft.functions.register(spark)
    val df = Seq((0.0, 0.0), (180.0, 0.0), (-79.5857, 34.2655)).toDF("lon", "lat")
      .withColumn("m", expr("web_mercator(lon, lat)"))
      .select($"lon", $"lat", $"m.x", $"m.y")
    val rows = df.as[(Double, Double, Double, Double)].collect()
    val origin = rows.find(_._1 == 0.0).get
    assert(origin._3 == 0.0 && math.abs(origin._4) < 1e-9)
    val antimeridian = rows.find(_._1 == 180.0).get
    assert(math.abs(antimeridian._3 - 2.0037508342789244e7) < 1e-6)
    // interpreted eval must equal the codegen'd pipeline result
    val flight = rows.find(_._1 == -79.5857).get
    val expectX = WebMercator.R * -79.5857 * math.Pi / 180.0
    val expectY = WebMercator.R * math.log(math.tan(math.Pi / 4 + 34.2655 * math.Pi / 360.0))
    assert(flight._3 == expectX && flight._4 == expectY)
  }

  test("WebMercator inverse round-trip") {
    // inverse: lon = x/R * 180/pi ; lat = (2*atan(exp(y/R)) - pi/2) * 180/pi
    val lon = -79.5857; val lat = 34.2655
    val x = WebMercator.R * lon * math.Pi / 180.0
    val y = WebMercator.R * math.log(math.tan(math.Pi / 4 + lat * math.Pi / 360.0))
    val lonBack = x / WebMercator.R * 180.0 / math.Pi
    val latBack = (2 * math.atan(math.exp(y / WebMercator.R)) - math.Pi / 2) * 180.0 / math.Pi
    assert(math.abs(lonBack - lon) < 1e-12 && math.abs(latBack - lat) < 1e-12)
  }

  test("geodesic buffer: every vertex exactly radius away (Vincenty inverse)") {
    // direct and inverse are independent formula paths; closing the loop
    // to < 0.1 mm validates both
    val poly = GeodesicBuffer.ngon(-79.5857, 34.2655, 100.0, 32)
    assert(poly.size == 32)
    poly.foreach { p =>
      val d = GeodesicBuffer.inverse(-79.5857, 34.2655, p.x, p.y)
      assert(math.abs(d - 100.0) < 1e-4, s"vertex at $d m")
    }
    // the spherical (haversine) distance must AGREE only to ~0.5% — if it
    // matched to mm the buffer would still be the spherical approximation
    val hav = GeodesicBuffer.haversine(-79.5857, 34.2655, poly.head.x, poly.head.y)
    assert(math.abs(hav - 100.0) < 1.0)
  }

  test("GeodesicNgon: codegen'd pipeline == driver-side ngon kernel") {
    graft.functions.register(spark)
    val (lon, lat) = (144.42486788888888, -37.95103341666667)
    val viaPipeline = Seq((lon, lat)).toDF("lon", "lat")
      .select(GeodesicBuffer.buffer($"lon", $"lat", lit(250.0), lit(8)))
      .as[Seq[(Double, Double)]].head()
    val direct = GeodesicBuffer.ngon(lon, lat, 250.0, 8).map(p => (p.x, p.y))
    assert(viaPipeline == direct)
  }

  test("Vincenty direct: Flinders Peak -> Buninyong known line") {
    // classic WGS84(-ish) test line: from Flinders Peak on azimuth
    // 306°52'05.37" for 54972.271 m lands on Buninyong (public Vincenty
    // test data; sub-meter agreement expected on WGS84 vs GDA ellipsoid)
    val lat1 = -(37.0 + 57.0 / 60 + 3.72030 / 3600)
    val lon1 = 144.0 + 25.0 / 60 + 29.52440 / 3600
    val az = 306.0 + 52.0 / 60 + 5.37 / 3600
    val p = GeodesicBuffer.direct(lon1, lat1, az, 54972.271)
    val lat2 = -(37.0 + 39.0 / 60 + 10.15610 / 3600)
    val lon2 = 143.0 + 55.0 / 60 + 35.38390 / 3600
    assert(math.abs(p.y - lat2) < 1e-5, s"lat ${p.y} vs $lat2")
    assert(math.abs(p.x - lon2) < 1e-5, s"lon ${p.x} vs $lon2")
    // inverse on the same pair recovers the distance
    val d = GeodesicBuffer.inverse(lon1, lat1, lon2, lat2)
    assert(math.abs(d - 54972.271) < 0.01, s"inverse distance $d")
  }
}
