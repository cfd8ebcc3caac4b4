package argobench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.argo.{ArgoSchemas, Atlas}
import graft.functions.{Seawater, Teos10}
import graft.sources.Nc3

/** What one pipeline pass produced. `summary` is absent when the pass
  * started from an existing store. `eape`/`eapeNc` go together. */
final case class Outputs(summary: Option[DataFrame], store: DataFrame,
                         ts: DataFrame, tsNc: String,
                         eape: Option[DataFrame], eapeNc: Option[String])

/** The correctness gate run after every pass. Returns the failures; a
  * pass is correct when there are none. */
object Gate {
  import ArgoSchemas.{NLevels, Pref}

  /** Interpolated CT (°C) and SR (g/kg) against the analytic truth: the
    * spline error on these smooth fields plus f32 rounding and the
    * extrapolation the program allows above the shallowest sample. */
  val InterpTol = 2e-3
  /** Atlas cell means against the double-precision reference: the
    * program sums 1e-9 fixed-point contributions and outputs f32. */
  val AtlasTol = 1e-4
  /** Floats whose every profile is checked against the truth. */
  val SampleFloats = 3
  /** Grid cells checked against the reference mean and the NetCDF file. */
  val SampleCells = 8

  def check(spark: SparkSession, seed: Long, truth: Gdac.Truth, atlas: Atlas,
            out: Outputs): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) errs += msg

    out.summary.foreach { s =>
      val n = s.count()
      expect(n == truth.profiles, s"summary rows $n != ${truth.profiles}")
    }
    val counts = out.store.agg(count(lit(1)),
      sum(when(col("NVALUES") === 0, 1).otherwise(0))).head()
    expect(counts.getLong(0) == truth.flagged,
      s"store rows ${counts.getLong(0)} != ${truth.flagged}")
    expect(counts.getLong(1) == truth.rejected,
      s"NVALUES == 0 rows ${counts.getLong(1)} != ${truth.rejected}")

    checkInterp(seed, truth, out.store, expect)
    checkAtlas(spark, seed, atlas, out, expect)
    errs.result()
  }

  private type Expect = (Boolean, => String) => Unit

  /** Every stored profile of a few seeded floats: planted rejects carry
    * no values, the others match the truth at every interpolated level. */
  private def checkInterp(seed: Long, truth: Gdac.Truth, store: DataFrame,
                          expect: Expect): Unit = {
    val r = new java.util.SplittableRandom(seed ^ 0x5EEDL)
    val wmos = Seq.fill(SampleFloats)(Gdac.wmo(r.nextInt(truth.files))).distinct
    val rows = store.filter(col("WMO").isin(wmos: _*))
      .select("WMO", "IPROF", "LATITUDE", "LONGITUDE", "NVALUES", "CT", "SR", "IDX")
      .collect()
    expect(rows.nonEmpty, s"no stored profiles for floats ${wmos.mkString(",")}")
    rows.foreach { row =>
      val (wmo, iprof) = (row.getInt(0), row.getShort(1).toInt)
      val (lat, lon) = (row.getFloat(2).toDouble, row.getFloat(3).toDouble)
      val nvalues = row.getInt(4)
      val ct = row.getSeq[Float](5)
      val sr = row.getSeq[Float](6)
      val idx = row.getSeq[Byte](7)
      if (Gdac.kind(seed, wmo, iprof) != Gdac.Good)
        expect(nvalues == 0, s"planted reject $wmo/$iprof has NVALUES $nvalues")
      else {
        expect(nvalues >= 10 && idx.count(_ == 1) == nvalues,
          s"profile $wmo/$iprof: NVALUES $nvalues, IDX ${idx.count(_ == 1)}")
        (0 until NLevels).filter(k => idx(k) == 1).foreach { k =>
          val p = Pref(k)
          val (t, s) = Gdac.truth(seed, wmo, iprof, p, lat, lon)
          val srT = Seawater.srFromSp(s)
          val ctT = Teos10.ctFromT(srT, t, p)
          expect(math.abs(ct(k) - ctT) <= InterpTol && math.abs(sr(k) - srT) <= InterpTol,
            f"profile $wmo/$iprof at $p%.0f dbar: CT ${ct(k)}%.5f vs $ctT%.5f, SR ${sr(k)}%.5f vs $srT%.5f")
        }
      }
    }
  }

  /** Seeded grid cells: the TS frame against a single-threaded
    * double-precision Gaussian-weighted mean over the saved store, and
    * both NetCDF files against their frames. */
  private def checkAtlas(spark: SparkSession, seed: Long, atlas: Atlas,
                         out: Outputs, expect: Expect): Unit = {
    val cells = sampleCells(seed, atlas)
    val profiles = out.store.filter(col("FLAG") === 1 && col("DATA_MODE") === 1)
      .select("LONGITUDE", "LATITUDE", "CT", "SR", "IDX").collect()
    val ref = cells.map(c => c -> reference(atlas, profiles, c._1, c._2)).toMap

    val tsRows = rowsAt(out.ts, atlas, cells, Seq("CT", "SR"))
    cells.foreach { c =>
      (ref(c), tsRows.get(c)) match {
        case (None, None) =>
        case (Some(_), None) => expect(false, s"cell $c has profiles in range but no TS values")
        case (None, Some(_)) => expect(false, s"cell $c has TS values but no profile in range")
        case (Some((ctR, srR)), Some(v)) =>
          (0 until NLevels).foreach { k =>
            expect(math.abs(v(0)(k) - ctR(k)) <= AtlasTol && math.abs(v(1)(k) - srR(k)) <= AtlasTol,
              f"cell $c level $k: CT ${v(0)(k)}%.6f vs ${ctR(k)}%.6f, SR ${v(1)(k)}%.6f vs ${srR(k)}%.6f")
          }
      }
    }
    checkNetcdf(out.tsNc, atlas, tsRows, Seq("CT", "SR"), expect)
    for (e <- out.eape; nc <- out.eapeNc)
      checkNetcdf(nc, atlas, rowsAt(e, atlas, cells, Seq("EAPE", "SIGSTAR")),
        Seq("EAPE", "SIGSTAR"), expect)
  }

  /** The seeded grid cells (gi, gj) the gate checks, all off land. */
  private[argobench] def sampleCells(seed: Long, atlas: Atlas): Seq[(Int, Int)] = {
    val r = new java.util.SplittableRandom(seed ^ 0xCE11L)
    val (lon1, _, lat1, _) = atlas.box
    Iterator.continually((r.nextInt(atlas.nLon), r.nextInt(atlas.nLat)))
      .filter { case (gi, gj) => !atlas.landMask(lon1 + gi * atlas.reso, lat1 + gj * atlas.reso) }
      .take(SampleCells).toSeq
  }

  /** The cell mean the atlas defines, computed the plain way: every stored
    * profile within the cutoff, weight exp(−haversine arg), per level over
    * the profiles whose IDX is set (a level with no weight reads 0). None
    * when no profile is in range. */
  private[argobench] def reference(atlas: Atlas, profiles: Array[Row], gi: Int, gj: Int)
      : Option[(Array[Double], Array[Double])] = {
    val (lon1, _, lat1, _) = atlas.box
    val glon = lon1 + gi * atlas.reso
    val glat = lat1 + gj * atlas.reso
    val ctS, srS, wS = new Array[Double](NLevels)
    var any = false
    profiles.foreach { p =>
      val plon = p.getFloat(0).toDouble
      val plat = p.getFloat(1).toDouble
      val sdlat = math.sin(math.toRadians(glat - plat) / 2)
      val sdlon = math.sin(math.toRadians(glon - plon) / 2)
      val arg = sdlat * sdlat + math.cos(math.toRadians(plat)) * math.cos(math.toRadians(glat)) * sdlon * sdlon
      if (arg < atlas.dCritical) {
        any = true
        val w = math.exp(-arg)
        val ct = p.getSeq[Float](2)
        val sr = p.getSeq[Float](3)
        val idx = p.getSeq[Byte](4)
        var k = 0
        while (k < NLevels) {
          if (idx(k) == 1) { ctS(k) += w * ct(k); srS(k) += w * sr(k); wS(k) += w }
          k += 1
        }
      }
    }
    if (!any) None
    else Some((Array.tabulate(NLevels)(k => if (wS(k) > 0) ctS(k) / wS(k) else 0.0),
      Array.tabulate(NLevels)(k => if (wS(k) > 0) srS(k) / wS(k) else 0.0)))
  }

  /** Long-format atlas rows of the given cells: cell → variable → level. */
  private def rowsAt(df: DataFrame, atlas: Atlas, cells: Seq[(Int, Int)],
                     vars: Seq[String]): Map[(Int, Int), Seq[Array[Float]]] = {
    val (lon1, _, lat1, _) = atlas.box
    def lonOf(gi: Int) = (lon1 + gi * atlas.reso).toFloat
    def latOf(gj: Int) = (lat1 + gj * atlas.reso).toFloat
    val pick = cells.map { case (gi, gj) =>
      col("lon") === lonOf(gi) && col("lat") === latOf(gj)
    }.reduce(_ || _)
    val level = Pref.map(_.toFloat).zipWithIndex.toMap
    val rows = df.filter(pick).select((Seq("lon", "lat", "pres") ++ vars).map(col): _*).collect()
    cells.flatMap { case c @ (gi, gj) =>
      val mine = rows.filter(r => r.getFloat(0) == lonOf(gi) && r.getFloat(1) == latOf(gj))
      if (mine.isEmpty) None
      else {
        val vals = vars.map(_ => new Array[Float](NLevels))
        mine.foreach { r =>
          val k = level(r.getFloat(2))
          vars.indices.foreach(v => vals(v)(k) = r.getFloat(3 + v))
        }
        Some(c -> vals)
      }
    }.toMap
  }

  /** The exported file has the atlas's dims, and its values at the given
    * cells equal the frame's. */
  private def checkNetcdf(path: String, atlas: Atlas,
                          rows: Map[(Int, Int), Seq[Array[Float]]],
                          vars: Seq[String], expect: Expect): Unit = {
    val nc = new Nc3.NcFile(Files.readAllBytes(Paths.get(path)))
    val dims = nc.dims.map(d => d.name -> d.length).toMap
    val want = Map("lon" -> atlas.nLon, "lat" -> atlas.nLat, "pres" -> NLevels)
    expect(want.forall { case (n, l) => dims.get(n).contains(l) },
      s"$path dims $dims, expected $want")
    if (want.forall { case (n, l) => dims.get(n).contains(l) })
      vars.zipWithIndex.foreach { case (v, vi) =>
        expect(nc.has(v), s"$path has no variable $v")
        if (nc.has(v)) {
          val data = nc.readDoubles(v)
          rows.foreach { case ((gi, gj), vals) =>
            (0 until NLevels).foreach { k =>
              val got = data((k * atlas.nLat + gj) * atlas.nLon + gi).toFloat
              expect(got == vals(vi)(k) || (got.isNaN && vals(vi)(k).isNaN),
                s"$path $v at ($gi, $gj, $k): $got != ${vals(vi)(k)}")
            }
          }
        }
      }
  }
}
