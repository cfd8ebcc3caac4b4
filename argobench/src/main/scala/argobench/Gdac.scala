package argobench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.argo.{ArgoSchemas, Bathy}
import graft.sources.Nc3

/** A seeded GDAC tree, `<dac>/<wmo>/<wmo>_prof.nc`, written with the
  * program's own NetCDF-3 writer. Same seed, same bytes.
  *
  * Shaped like the real archive: fill-padded profiles of varying length,
  * floats that are either delayed-mode (raw values biased, `*_ADJUSTED`
  * twins carrying the truth; every profile 'D') or real-time (adjusted
  * twins all fill), and
  * planted invalid profiles whose count is known by construction. In-situ
  * temperature and practical salinity come from an analytic field of
  * (pressure, latitude, longitude) plus a per-profile offset, so the
  * interpolated output can be checked against the truth at any level.
  */
object Gdac {

  /** Shape of one tree: `files` floats of `profiles` (min, max) profiles
    * of `levels` (min, max) levels. `region` is (lon1, lon2, lat1, lat2)
    * of the float positions. */
  final case class Spec(files: Int, profiles: (Int, Int), levels: (Int, Int),
                        region: (Double, Double, Double, Double),
                        oceanOnly: Boolean = false)

  /** What a tree holds, known by construction. `flagged` profiles have
    * FLAG == 1 (good position and date); `rejected` of those are planted
    * invalid and must interpolate to NVALUES == 0. */
  final case class Truth(files: Int, profiles: Int, flagged: Int,
                         rejected: Int, bytes: Long)

  // planted profile kinds
  val Good = 0
  val QcBad = 1        // every TEMP_QC is '4'
  val FewGood = 2      // only 8 levels with good QC
  val NanPres = 3      // one good-QC level with a NaN pressure
  val NonMonotonic = 4 // the surface sample recorded last
  val BadPosition = 5  // POSITION_QC '4', so FLAG != 1

  val Fill = 99999f
  /** Raw minus adjusted values on delayed-mode floats. */
  val TempBias = 0.05
  val PsalBias = -0.02

  def wmo(file: Int): Int = 1900000 + file
  def dac(file: Int): String = ArgoSchemas.Dacs(file % ArgoSchemas.Dacs.size)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, a), b))

  /** Analytic in-situ temperature (°C). */
  def temp(p: Double, lat: Double, lon: Double): Double =
    2.0 + (8.0 + 14.0 * math.cos(math.toRadians(lat))) * math.exp(-p / 600.0) +
      0.5 * math.sin(math.toRadians(lon)) * math.exp(-p / 1500.0)

  /** Analytic practical salinity. */
  def psal(p: Double, lat: Double, lon: Double): Double =
    34.7 + 0.6 * math.exp(-p / 400.0) * math.cos(math.toRadians(2 * lat)) +
      0.1 * math.cos(math.toRadians(lon))

  /** Per-profile (temperature, salinity) offset. */
  def offset(seed: Long, wmo: Int, iprof: Int): (Double, Double) = {
    val r = rng(seed, wmo, 1000000L + iprof)
    (r.nextDouble(-0.5, 0.5), r.nextDouble(-0.05, 0.05))
  }

  /** The true (TEMP, PSAL) of profile (wmo, iprof) at pressure `p`. */
  def truth(seed: Long, wmo: Int, iprof: Int, p: Double,
            lat: Double, lon: Double): (Double, Double) = {
    val (dt, ds) = offset(seed, wmo, iprof)
    (temp(p, lat, lon) + dt, psal(p, lat, lon) + ds)
  }

  /** Planted kind of profile (wmo, iprof): ~1% bad position, ~5% invalid. */
  def kind(seed: Long, wmo: Int, iprof: Int): Int = {
    val r = rng(seed, wmo, 2000000L + iprof)
    val u = r.nextDouble()
    if (u < 0.01) BadPosition
    else if (u < 0.06) 1 + r.nextInt(4)
    else Good
  }

  private def shuffled(a: Array[Int], seed: Long, salt: Long): Array[Int] = {
    val r = new SplittableRandom(mix(seed, salt))
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Delayed-mode float: 7 in every 10, spread evenly over the float
    * grid, so the atlas (which averages delayed-mode profiles only) gets
    * the same coverage whatever the seed. */
  def delayed(file: Int): Boolean = file % 10 < 7

  /** Write the tree under `root` (which must not exist yet). Per-file
    * profile counts are spread evenly over `spec.profiles` and shuffled by
    * the seed: the total, and so the work, does not change with the seed. */
  def write(root: Path, spec: Spec, seed: Long): Truth = {
    val (lo, hi) = spec.profiles
    val counts = shuffled(Array.tabulate(spec.files)(f =>
      if (spec.files == 1) lo else lo + ((hi - lo).toLong * f / (spec.files - 1)).toInt), seed, 17L)
    val mask = if (spec.oceanOnly) Some(Bathy.default) else None
    val parts = java.util.stream.IntStream.range(0, spec.files).parallel()
      .mapToObj[Truth] { f =>
        val dir = root.resolve(dac(f)).resolve(wmo(f).toString)
        Files.createDirectories(dir)
        val (bytes, t) = file(spec, seed, f, counts(f), mask)
        Files.write(dir.resolve(s"${wmo(f)}_prof.nc"), bytes)
        t
      }.toArray(n => new Array[Truth](n))
    parts.foldLeft(Truth(0, 0, 0, 0, 0L)) { (a, b) =>
      Truth(a.files + b.files, a.profiles + b.profiles, a.flagged + b.flagged,
        a.rejected + b.rejected, a.bytes + b.bytes)
    }
  }

  /** One float's `_prof.nc` and its share of the truth. */
  private def file(spec: Spec, seed: Long, f: Int, nProf: Int,
                   mask: Option[graft.argo.BathyMask]): (Array[Byte], Truth) = {
    val w = wmo(f)
    val r = rng(seed, w, 0L)
    val (lon1, lon2, lat1, lat2) = spec.region
    val global = lon2 - lon1 >= 360.0
    def wet(lon: Double, lat: Double) = mask.forall(!_.isLand(lon, lat))
    // floats start near the middle of their own cell of a grid over the
    // region, so coverage (and with it the atlas's work) does not swing
    // from seed to seed; on land, anywhere in the cell, then anywhere
    val cols = math.ceil(math.sqrt(spec.files * (lon2 - lon1) / (lat2 - lat1))).toInt
    val rows = (spec.files + cols - 1) / cols
    val (cw, ch) = ((lon2 - lon1) / cols, (lat2 - lat1) / rows)
    var lon = 0.0
    var lat = 0.0
    var tries = 0
    do {
      val spread = if (tries == 0) 0.5 else 1.0
      val inCell = tries < 100
      lon = if (inCell) lon1 + (f % cols + 0.5 + spread * r.nextDouble(-0.5, 0.5)) * cw else r.nextDouble(lon1, lon2)
      lat = if (inCell) lat1 + (f / cols + 0.5 + spread * r.nextDouble(-0.5, 0.5)) * ch else r.nextDouble(lat1, lat2)
      tries += 1
    } while (!wet(lon, lat) && tries < 1000)

    val nLevels = Array.fill(nProf)(r.nextInt(spec.levels._1, spec.levels._2 + 1))
    val nLev = nLevels.max
    val lons = new Array[Double](nProf)
    val lats = new Array[Double](nProf)
    val juld = new Array[Double](nProf)
    val posQc = Array.fill(nProf)('1'.toByte)
    val isD = delayed(f)
    val grid = nProf * nLev
    val pres, temp, psal, presA, tempA, psalA = Array.fill(grid)(Fill)
    val presQc, tempQc, psalQc, presAQc, tempAQc, psalAQc = Array.fill(grid)(' '.toByte)
    var flagged, rejected = 0

    var i = 0
    while (i < nProf) {
      // drift: a random walk that stays in the region (and off land)
      val nl = lon + r.nextDouble(-0.3, 0.3)
      val nt = math.max(lat1, math.min(lat2, lat + r.nextDouble(-0.2, 0.2)))
      val wl = if (global) ((nl + 540.0) % 360.0) - 180.0 else math.max(lon1, math.min(lon2, nl))
      if (wet(wl, nt)) { lon = wl; lat = nt }
      lons(i) = lon; lats(i) = lat
      juld(i) = 20000.0 + f * 0.37 + i * 10.0
      val k = kind(seed, w, i)
      if (k == BadPosition) posQc(i) = '4'.toByte
      else { flagged += 1; if (k != Good) rejected += 1 }

      val n = nLevels(i)
      val p0 = r.nextDouble(3.0, 8.0)
      val pMax = r.nextDouble(1600.0, 2000.0)
      val ps = Array.tabulate(n)(j => p0 + (pMax - p0) * math.pow(j.toDouble / (n - 1), 1.6))
      // sample order as recorded: the non-monotonic plant records the
      // surface sample last
      val order = if (k == NonMonotonic) (1 until n) :+ 0 else 0 until n
      var j = 0
      while (j < n) {
        val src = order(j)
        val p = ps(src)
        val (t, s) = truth(seed, w, i, p, lat, lon)
        val o = i * nLev + j
        val pv = if (k == NanPres && j == n / 2) Float.NaN else p.toFloat
        val good = k match {
          case QcBad => false
          case FewGood => j < 8
          case _ => true
        }
        val q = if (good) '1'.toByte else '4'.toByte
        pres(o) = pv; presQc(o) = '1'.toByte; psalQc(o) = '1'.toByte; tempQc(o) = q
        if (isD) {
          temp(o) = (t + TempBias).toFloat; psal(o) = (s + PsalBias).toFloat
          presA(o) = pv; tempA(o) = t.toFloat; psalA(o) = s.toFloat
          presAQc(o) = '1'.toByte; psalAQc(o) = '1'.toByte; tempAQc(o) = q
        } else {
          temp(o) = t.toFloat; psal(o) = s.toFloat
        }
        j += 1
      }
      i += 1
    }

    val platforms = ArgoSchemas.Platforms
    val platform = platforms(1 + f % (platforms.size - 1))
    def chars(name: String, data: Array[Byte]) =
      Nc3.VarSpec(name, Seq("N_PROF"), Nil, Nc3.NcChar, data)
    def doubles(name: String, data: Array[Double]) =
      Nc3.VarSpec(name, Seq("N_PROF"), Nil, Nc3.NcDouble, data)
    def floats2(name: String, data: Array[Float]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"),
        Seq(Nc3.Att("_FillValue", Nc3.NcFloat, Array(Fill))), Nc3.NcFloat, data)
    def chars2(name: String, data: Array[Byte]) =
      Nc3.VarSpec(name, Seq("N_PROF", "N_LEVELS"), Nil, Nc3.NcChar, data)
    val bytes = Nc3.write(
      dims = Seq(Nc3.Dim("N_PROF", nProf), Nc3.Dim("N_LEVELS", nLev),
        Nc3.Dim("STRING32", 32)),
      gatts = Seq(Nc3.Att("title", Nc3.NcChar, "Argo float vertical profile"),
        Nc3.Att("format_version", Nc3.NcChar, "3.1")),
      vars = Seq(
        doubles("JULD", juld), chars("JULD_QC", Array.fill(nProf)('1'.toByte)),
        doubles("LATITUDE", lats), doubles("LONGITUDE", lons),
        chars("POSITION_QC", posQc),
        chars("DATA_MODE", Array.fill(nProf)((if (isD) 'D' else 'R').toByte)),
        Nc3.VarSpec("PLATFORM_TYPE", Seq("N_PROF", "STRING32"), Nil, Nc3.NcChar,
          Array.fill(nProf)(platform.padTo(32, ' ')).mkString
            .getBytes(StandardCharsets.US_ASCII)),
        floats2("PRES", pres), chars2("PRES_QC", presQc),
        floats2("TEMP", temp), chars2("TEMP_QC", tempQc),
        floats2("PSAL", psal), chars2("PSAL_QC", psalQc),
        floats2("PRES_ADJUSTED", presA), chars2("PRES_ADJUSTED_QC", presAQc),
        floats2("TEMP_ADJUSTED", tempA), chars2("TEMP_ADJUSTED_QC", tempAQc),
        floats2("PSAL_ADJUSTED", psalA), chars2("PSAL_ADJUSTED_QC", psalAQc)))
    (bytes, Truth(1, nProf, flagged, rejected, bytes.length.toLong))
  }
}
