package graft.spatial

/** Closed-form SWEREF99 TM (EPSG:3006) <-> WGS84 transform.
  *
  * Replaces the reference's `g_to_wgs84` / PROJ4-string macros
  * (`sql/migrations/003_db_makros.sql:12-22`): exactly two CRS are
  * involved (SWEREF99 TM = transverse Mercator on GRS80, central
  * meridian 15E, k0=0.9996, FE=500000, FN=0; datum-identical to WGS84
  * with towgs84=0), so the Krueger n-series expansion (order n^4,
  * sub-mm over Sweden) removes the PROJ dependency entirely.
  *
  * Pure math, allocation-free — safe to call per row inside codegen'd
  * expressions at 100 TB scale.
  */
object Crs {
  // GRS80 ellipsoid
  private val A = 6378137.0
  private val F = 1.0 / 298.257222101

  // SWEREF99 TM projection parameters
  val CentralMeridianDeg = 15.0
  private val K0 = 0.9996
  private val FalseEasting = 500000.0
  private val FalseNorthing = 0.0

  // Krueger series coefficients in the third flattening n
  private val n = F / (2.0 - F)
  private val n2 = n * n
  private val n3 = n2 * n
  private val n4 = n2 * n2
  private val Ahat = A / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0)

  private val a1 = n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0
  private val a2 = 13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0
  private val a3 = 61.0 * n3 / 240.0 - 103.0 * n4 / 140.0
  private val a4 = 49561.0 * n4 / 161280.0

  private val b1 = n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0
  private val b2 = n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0
  private val b3 = 17.0 * n3 / 480.0 - 37.0 * n4 / 840.0
  private val b4 = 4397.0 * n4 / 161280.0

  private val d1 = 2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3 + 116.0 * n4 / 45.0
  private val d2 = 7.0 * n2 / 3.0 - 8.0 * n3 / 5.0 - 227.0 * n4 / 45.0
  private val d3 = 56.0 * n3 / 15.0 - 136.0 * n4 / 35.0
  private val d4 = 4279.0 * n4 / 630.0

  private val twoSqrtN = 2.0 * math.sqrt(n) / (1.0 + n)

  /** WGS84 (latDeg, lngDeg) -> SWEREF99 TM (easting, northing) meters. */
  def wgs84ToSweref(latDeg: Double, lngDeg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val dLng = math.toRadians(lngDeg - CentralMeridianDeg)
    val sinPhi = math.sin(phi)
    // conformal latitude
    val t = math.sinh(atanh(sinPhi) - twoSqrtN * atanh(twoSqrtN * sinPhi))
    val xiP = math.atan2(t, math.cos(dLng))
    val etaP = atanh(math.sin(dLng) / math.sqrt(1.0 + t * t))
    var xi = xiP
    var eta = etaP
    var j = 1
    val as = Array(a1, a2, a3, a4)
    while (j <= 4) {
      xi += as(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
      eta += as(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
      j += 1
    }
    (FalseEasting + K0 * Ahat * eta, FalseNorthing + K0 * Ahat * xi)
  }

  /** SWEREF99 TM (easting, northing) -> WGS84 (latDeg, lngDeg). */
  def swerefToWgs84(easting: Double, northing: Double): (Double, Double) = {
    val xi = (northing - FalseNorthing) / (K0 * Ahat)
    val eta = (easting - FalseEasting) / (K0 * Ahat)
    var xiP = xi
    var etaP = eta
    var j = 1
    val bs = Array(b1, b2, b3, b4)
    while (j <= 4) {
      xiP -= bs(j - 1) * math.sin(2.0 * j * xi) * math.cosh(2.0 * j * eta)
      etaP -= bs(j - 1) * math.cos(2.0 * j * xi) * math.sinh(2.0 * j * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP)) // conformal latitude
    var phi = chi
    val ds = Array(d1, d2, d3, d4)
    j = 1
    while (j <= 4) {
      phi += ds(j - 1) * math.sin(2.0 * j * chi)
      j += 1
    }
    val dLng = math.atan2(math.sinh(etaP), math.cos(xiP))
    (math.toDegrees(phi), CentralMeridianDeg + math.toDegrees(dLng))
  }

  /** A SWEREF99 TM geometry in WGS84, x = lng and y = lat like the
    * reference's `ST_Transform` output (`003_db_makros.sql:22`). */
  def swerefGeomToWgs84(g: Geom): Geom =
    Geometry.mapCoords(g, p => {
      val (lat, lng) = swerefToWgs84(p.x, p.y)
      Pt(lng, lat)
    })

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
}
