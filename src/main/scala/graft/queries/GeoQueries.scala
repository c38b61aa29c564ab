package graft.queries

import graft.{QueryPack, Tables}
import graft.functions.GeodesicBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geometry scalar functions (SURVEY.md §2.3). The testdata has no
  * lon/lat columns, so coordinates are derived deterministically from
  * `events.value` (fmod is IEEE-exact, so both engines derive identical
  * doubles); the projection itself is the operator under test.
  */
object GeoQueries extends QueryPack {

  /** The fixed geofence for q_geo_in_polygon: a non-convex pentagon in
    * (lon, lat), integer vertices so the oracle states them exactly. */
  private[queries] val Fence: Seq[(Double, Double)] =
    Seq((-60.0, -40.0), (80.0, -50.0), (100.0, 30.0), (0.0, 70.0), (-90.0, 20.0))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- G2: WebMercator projection as a codegen'd native expression ----
    "q_geo_project" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      Tables.events(s, d)
        .select(
          $"event_id",
          ($"value" % 360.0 - 180.0).as("lon"),
          ($"value" % 170.0 - 85.0).as("lat"))
        .withColumn("m", expr("web_mercator(lon, lat)"))
        // + 0.0 normalizes IEEE negative zero: at lat = 0 one engine's
        // tan(pi/4) is 1.0 (y = +0.0) and the other's is 1 - ulp
        // (y rounds to -0.0) — equal values, different reprs under the
        // driver's exact compare (caught by the sf0.1 sweep)
        .select($"event_id", $"lon", $"lat",
                (round($"m.x", 6) + 0.0).as("mx"),
                (round($"m.y", 6) + 0.0).as("my"))
        .orderBy($"event_id")
    },

    // ---- per-track great-circle distance (the track-length analytic) ----
    // The flight-domain question the reference's tracks exist to answer:
    // how far has each track traveled? Consecutive positions per track
    // (user_id as the track key, event-time order) pair up via lag — ONE
    // shuffle on the track key — and each hop is the closed-form
    // haversine on the mean sphere, summed per track. Haversine (unlike
    // Vincenty's iterative inverse) replays directly in SQL; per-hop
    // distances round to 6 dp into exact DECIMAL before the sum so the
    // per-track total is merge-order-insensitive, then the total rounds
    // to 3 dp (mm) absorbing sin/asin libm ulps.
    "q_geo_track_dist" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pts = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id",
          radians($"value" % 360.0 - 180.0).as("lon"),
          radians($"value" % 170.0 - 85.0).as("lat"))
      val R = 6371008.8 // IUGG mean Earth radius
      val hops = pts
        .withColumn("plon", lag($"lon", 1).over(w))
        .withColumn("plat", lag($"lat", 1).over(w))
        .filter($"plon".isNotNull)
        .withColumn("a",
          pow(sin(($"lat" - $"plat") / 2), 2) +
            cos($"plat") * cos($"lat") * pow(sin(($"lon" - $"plon") / 2), 2))
        .withColumn("hop",
          round(lit(2 * R) * asin(sqrt($"a")), 6).cast("decimal(18,6)"))
      hops.groupBy($"user_id")
        .agg(asLong(count(lit(1))).as("n_hops"),
          round(sum($"hop").cast("double"), 3).as("track_m"))
        .orderBy($"user_id")
    },

    // ---- point-in-polygon (ray casting, fixed fence) ----
    // The geofencing primitive: which events fall inside a polygon?
    // Crossing-number ray cast against a fixed 5-vertex fence, unrolled
    // edge by edge — pure IEEE compares and one division per crossing
    // edge, identical in both engines (boundary hits are measure-zero
    // for this synthetic coordinate rule). A narrow per-row map: at
    // 100 TB the fence (or fence SET) broadcasts and the corpus never
    // shuffles; output is the inside flag + the per-fence hit count.
    "q_geo_in_polygon" -> { (s, d) =>
      import s.implicits._
      val pts = Tables.events(s, d)
        .select($"event_id",
          ($"value" % 360.0 - 180.0).as("px"),
          ($"value" % 170.0 - 85.0).as("py"))
      val inside = GeoQueries.Fence.indices.map { i =>
        val (x1, y1) = GeoQueries.Fence(i)
        val (x2, y2) = GeoQueries.Fence((i + 1) % GeoQueries.Fence.length)
        val slope = (x2 - x1) / (y2 - y1) // Scala-side constant; the
        // generated oracle embeds the SAME double, so both engines
        // evaluate an identical expression tree per edge
        when(((lit(y1) > $"py") =!= (lit(y2) > $"py")) &&
          ($"px" < ($"py" - y1) * slope + x1), 1)
          .otherwise(0)
      }.reduce(_ + _) % 2 === 1
      pts.select($"event_id", $"px", $"py", inside.as("inside"))
        .orderBy($"event_id")
    },

    // ---- spatial grid density (geohash-style cell aggregation) ----
    // The heatmap/density op: bin events into 5-degree grid cells and
    // count per cell — two-stage aggregation on a narrow integer cell
    // key (floor is IEEE-exact), the spatial analogue of every other
    // two-stage count here. At scale the cell key doubles as a
    // partition/bucket key for spatial locality.
    "q_geo_grid_density" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(
          floor(($"value" % 360.0 - 180.0) / 5.0).cast("long").as("cell_x"),
          floor(($"value" % 170.0 - 85.0) / 5.0).cast("long").as("cell_y"))
        .groupBy($"cell_x", $"cell_y")
        .agg(asLong(count(lit(1))).as("n"))
        .orderBy($"cell_x", $"cell_y")
    },

    // ---- spatial k-nearest-neighbor (broadcast queries x corpus scan) ----
    // The "closest facilities" op: for each of 50 query points, the 3
    // nearest corpus points by great-circle distance. Same scan shape as
    // cosine top-k — the small query block broadcasts onto one corpus
    // pass, per-partition partial top-k under the rank window, no corpus
    // self-shuffle. Per-pair distance is the same haversine as
    // q_geo_track_dist, rounded to 6 dp (libm ulps) with event_id
    // breaking ties deterministically.
    "q_geo_knn" -> { (s, d) =>
      import s.implicits._
      // repartition BEFORE the x50 pair fan-out: the sf file is one scan
      // split, and the expensive stage (pairs x trig + the partial
      // top-k's per-partition sort) inherits the scan's partitioning —
      // unsplit, one task does all the work. The shuffle moves only the
      // skinny base points; on a cluster the scan arrives pre-split and
      // the same repartition just rebalances.
      val pts = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"event_id",
          radians($"value" % 360.0 - 180.0).as("lon"),
          radians($"value" % 170.0 - 85.0).as("lat"))
      val queries = pts.filter($"event_id" < 50)
        .select($"event_id".as("q_id"), $"lon".as("qlon"), $"lat".as("qlat"))
      val R = 6371008.8
      val w = Window.partitionBy($"q_id").orderBy($"dist_m".asc, $"event_id")
      pts.join(broadcast(queries), $"q_id" =!= $"event_id")
        .withColumn("a",
          pow(sin(($"lat" - $"qlat") / 2), 2) +
            cos($"qlat") * cos($"lat") * pow(sin(($"lon" - $"qlon") / 2), 2))
        .withColumn("dist_m", round(lit(2 * R) * asin(sqrt($"a")), 6))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"q_id", asLong($"rk").as("rk"), $"event_id", $"dist_m")
        .orderBy($"q_id", $"rk")
    },

    // ---- G3: geodesic buffer polygon (UDF; validated in GeoSpec) ----
    "q_geo_buffer" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      Tables.events(s, d)
        .filter($"event_id" < 100)
        .select(
          $"event_id",
          ($"value" % 360.0 - 180.0).as("lon"),
          ($"value" % 170.0 - 85.0).as("lat"))
        .withColumn("poly", GeodesicBuffer.buffer($"lon", $"lat", lit(100.0), lit(16)))
        .select($"event_id",
                asLong(size($"poly")).as("n_vertices"),
                round(element_at($"poly", 1).getField("y"), 6).as("north_lat"))
        .orderBy($"event_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    // generated: each fence edge's crossing test with the SAME
    // precomputed slope double Spark uses (shortest-repr round-trips)
    "q_geo_in_polygon" -> {
      val edges = Fence.indices.map { i =>
        val (x1, y1) = Fence(i)
        val (x2, y2) = Fence((i + 1) % Fence.length)
        val slope = (x2 - x1) / (y2 - y1)
        s"""(CASE WHEN (($y1 > py) != ($y2 > py))
           |       AND (px < (py - $y1) * ($slope) + $x1) THEN 1 ELSE 0 END)""".stripMargin
      }.mkString("\n      + ")
      s"""WITH pts AS (
         |  SELECT event_id,
         |    fmod(value, 360.0) - 180.0 AS px,
         |    fmod(value, 170.0) - 85.0 AS py
         |  FROM events)
         |SELECT event_id, px, py,
         |  ($edges) % 2 = 1 AS inside
         |FROM pts
         |ORDER BY event_id""".stripMargin
    },

    "q_geo_grid_density" ->
      """SELECT CAST(floor((fmod(value, 360.0) - 180.0) / 5.0) AS BIGINT) AS cell_x,
        |       CAST(floor((fmod(value, 170.0) - 85.0) / 5.0) AS BIGINT) AS cell_y,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY cell_x, cell_y""".stripMargin,

    // the same haversine + rank replay, query block restricted in SQL
    "q_geo_knn" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    radians(fmod(value, 360.0) - 180.0) AS lon,
        |    radians(fmod(value, 170.0) - 85.0) AS lat
        |  FROM events),
        |pairs AS (
        |  SELECT q.event_id AS q_id, b.event_id,
        |    round(2 * 6371008.8 * asin(sqrt(
        |      pow(sin((b.lat - q.lat) / 2), 2)
        |      + cos(q.lat) * cos(b.lat) * pow(sin((b.lon - q.lon) / 2), 2))), 6) AS dist_m
        |  FROM pts q JOIN pts b ON q.event_id < 50 AND b.event_id != q.event_id)
        |SELECT q_id, rk, event_id, dist_m FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |              ORDER BY dist_m ASC, event_id) AS BIGINT) AS rk
        |  FROM pairs) t
        |WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,

    // haversine replayed hop by hop: same radian conversion, same
    // formula, per-hop round(6) into DECIMAL, per-track round(3)
    "q_geo_track_dist" ->
      """WITH pts AS (
        |  SELECT user_id, ts, event_id,
        |    radians(fmod(value, 360.0) - 180.0) AS lon,
        |    radians(fmod(value, 170.0) - 85.0) AS lat
        |  FROM events),
        |hops AS (
        |  SELECT user_id,
        |    lag(lon) OVER w AS plon, lag(lat) OVER w AS plat, lon, lat
        |  FROM pts
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |d AS (
        |  SELECT user_id,
        |    CAST(round(2 * 6371008.8 * asin(sqrt(
        |      pow(sin((lat - plat) / 2), 2)
        |      + cos(plat) * cos(lat) * pow(sin((lon - plon) / 2), 2))), 6)
        |      AS DECIMAL(18,6)) AS hop
        |  FROM hops WHERE plon IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_hops,
        |       round(CAST(sum(hop) AS DOUBLE), 3) AS track_m
        |FROM d
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // same public formula inline; ln/tan differ by <= a few ulp across
    // libms -> round(6) (micrometers) absorbs it
    "q_geo_project" ->
      """SELECT event_id,
        |  fmod(value, 360.0) - 180.0 AS lon,
        |  fmod(value, 170.0) - 85.0 AS lat,
        |  round(6378137.0 * (fmod(value, 360.0) - 180.0) * pi() / 180.0, 6) + 0.0 AS mx,
        |  round(6378137.0 * ln(tan(pi() / 4.0 + (fmod(value, 170.0) - 85.0) * pi() / 360.0)), 6) + 0.0 AS my
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // generated: the buffer's first vertex is the DUE-NORTH geodesic, so
    // Vincenty's direct solution specializes to a meridian arc whose
    // fixed-point iteration unrolls to 4 closed-form steps (converged to
    // < 1e-12 deg for s = 100 m — round(6) absorbs the remaining libm
    // ulps, same convention as q_geo_project). n_vertices is the constant
    // 16. This hash-verifies the ellipsoidal geodesic math end to end.
    "q_geo_buffer" -> {
      val A = 6378137.0; val F = 1.0 / 298.257223563; val B = A * (1.0 - F)
      val s = 100.0
      val u2 = (A * A - B * B) / (B * B) // cos²α = 1 on a meridian
      val bigA = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
      val bigB = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
      val sigma0 = s / (B * bigA)
      def dsig(sg: String): String =
        s"$bigB*sin($sg)*(cos(2*sigma1 + $sg) + $bigB/4.0*" +
          s"(cos($sg)*(-1.0 + 2.0*cos(2*sigma1 + $sg)*cos(2*sigma1 + $sg)) - " +
          s"$bigB/6.0*cos(2*sigma1 + $sg)*(-3.0 + 4.0*sin($sg)*sin($sg))*" +
          s"(-3.0 + 4.0*cos(2*sigma1 + $sg)*cos(2*sigma1 + $sg))))"
      s"""WITH base AS (
         |  SELECT event_id, radians(fmod(value, 170.0) - 85.0) AS latr
         |  FROM events WHERE event_id < 100),
         |u AS (SELECT event_id, (1.0 - $F) * tan(latr) AS tanU1 FROM base),
         |u2t AS (
         |  SELECT event_id, tanU1,
         |    1.0/sqrt(1.0 + tanU1*tanU1) AS cosU1,
         |    tanU1/sqrt(1.0 + tanU1*tanU1) AS sinU1,
         |    atan2(tanU1, 1.0) AS sigma1
         |  FROM u),
         |i1 AS (SELECT *, $sigma0 + ${dsig(sigma0.toString)} AS sg FROM u2t),
         |i2 AS (SELECT * EXCLUDE (sg), $sigma0 + ${dsig("sg")} AS sg FROM i1),
         |i3 AS (SELECT * EXCLUDE (sg), $sigma0 + ${dsig("sg")} AS sg FROM i2),
         |i4 AS (SELECT * EXCLUDE (sg), $sigma0 + ${dsig("sg")} AS sg FROM i3)
         |SELECT event_id, CAST(16 AS BIGINT) AS n_vertices,
         |  round(degrees(atan2(sinU1*cos(sg) + cosU1*sin(sg),
         |        (1.0 - $F)*abs(sinU1*sin(sg) - cosU1*cos(sg)))), 6) AS north_lat
         |FROM i4
         |ORDER BY event_id""".stripMargin
    }
  )
}
