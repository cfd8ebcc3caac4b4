package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.argo.{ArgoSchemas, Atlas, Interpolator, SummaryBuilder}

/** End-to-end pipeline test on FIXTURES.md-shaped synthetic data: smooth
  * analytic T/S fields sampled at irregular depths → summary → interpolated
  * profiles → atlas climatology. Because every profile samples the SAME
  * smooth field, the atlas weighted means must reproduce the field at every
  * well-sampled cell — a strong oracle with no reference binaries needed.
  */
class ArgoPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def tTrue(z: Double): Double = 2.0 + 18.0 * math.exp(-z / 500.0)
  private def sTrue(z: Double): Double = 35.0 + 0.6 * math.exp(-z / 300.0)
  /** The pipeline converts raw in-situ T to conservative temperature
    * (reference interpolation.py:207-208), so the oracle field must be
    * mapped through the same public TEOS-10 conversion. */
  private def ctTrue(z: Double): Double =
    graft.functions.Teos10.ctFromT(sTrue(z), tTrue(z), z)

  private val rng = new scala.util.Random(42)

  /** nFloats floats × nProf profiles each, clustered near (lon0, lat0). */
  private def makeRaw(nFloats: Int, nProf: Int): (DataFrame, DataFrame) = {
    val floats = (0 until nFloats).map { f =>
      val wmo = 2900000 + f
      val dac = ArgoSchemas.Dacs(f % ArgoSchemas.Dacs.length)
      val lon0 = 10.0 + (f % 5) * 2.0
      val lat0 = -40.0 + (f / 5) * 2.0
      (wmo, dac, lon0, lat0)
    }
    val summaryRows = for {
      (wmo, dac, lon0, lat0) <- floats
      ip <- 0 until nProf
    } yield (dac, wmo,
      new Timestamp(1577836800000L + (wmo % 100) * 86400000L + ip * 864000000L),
      (lon0 + ip * 0.01).toFloat, (lat0 + ip * 0.01).toFloat,
      120, "D", "1", 1, 1)
    val raw = summaryRows.toDF("dac", "WMO", "JULD", "LONGITUDE", "LATITUDE",
      "N_LEVELS", "data_mode", "platform_type", "position_qc", "juld_qc")

    val sampleRows = for {
      (wmo, _, _, _) <- floats
      ip <- 0 until nProf
    } yield {
      // irregular but sorted depths 0..2000, ~120 samples
      val depths = (0 until 120).map(k => k * 17.0 + (k % 3) * 1.5).toArray
      val qc = depths.map(_ => 1.0)
      (wmo, ip, depths.toSeq, depths.map(tTrue).toSeq,
        depths.map(z => sTrue(z) / graft.functions.Seawater.UPS).toSeq, qc.toSeq, 1)
    }
    val samples = sampleRows.toDF(
      "WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    (raw, samples)
  }

  private lazy val (raw, samples) = makeRaw(nFloats = 10, nProf = 3)
  private lazy val summary = SummaryBuilder.build(spark, raw)
  private lazy val profiles = Interpolator.interpolate(samples, summary)

  test("summary: schema, IPROF ordinal, FLAG product") {
    val s = summary.cache()
    assert(s.schema.fieldNames.toSeq == ArgoSchemas.summary.fieldNames.toSeq)
    assert(s.count() === 30)
    val iprofs = s.filter($"WMO" === 2900000).select($"IPROF").as[Short]
      .collect().sorted.toSeq
    assert(iprofs == Seq(0, 1, 2))
    assert(s.filter($"FLAG" =!= 1).count() === 0)
  }

  test("interpolation reproduces the smooth generating field at the reference levels") {
    val rows = profiles.select($"WMO", $"IPROF", $"NVALUES", $"CT", $"SR", $"IDX")
      .as[(Int, Short, Int, Seq[Float], Seq[Float], Seq[Byte])].collect()
    assert(rows.length === 30)
    rows.foreach { case (wmo, ip, nv, ct, sr, idx) =>
      assert(nv > 50, s"wmo=$wmo ip=$ip expected most levels covered, got $nv")
      ArgoSchemas.Pref.indices.foreach { k =>
        if (idx(k) == 1) {
          val z = ArgoSchemas.Pref(k)
          assert(math.abs(ct(k) - ctTrue(z)) < 0.05,
            s"CT at level $z: ${ct(k)} vs ${ctTrue(z)}")
          assert(math.abs(sr(k) - sTrue(z)) < 0.05,
            s"SR at level $z: ${sr(k)} vs ${sTrue(z)}")
        }
      }
    }
  }

  test("interpolation gate rejects short and bad-QC profiles") {
    val bad = Seq(
      // 4 samples only → rejected by the ≥5 gate
      (1, 0, Seq(0.0, 10, 20, 30), Seq(5.0, 5, 5, 5), Seq(35.0, 35, 35, 35),
        Seq(1.0, 1, 1, 1), 1),
      // all bad QC → rejected by F6
      (1, 1, (0 until 50).map(_ * 40.0), (0 until 50).map(_ => 5.0),
        (0 until 50).map(_ => 35.0), (0 until 50).map(_ => 0.0), 1))
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val hdr = Seq((1, 0.toShort), (1, 1.toShort)).toDF("WMO", "IPROF")
      .withColumn("DAC", lit(0.toByte)).withColumn("JULD", current_timestamp())
      .withColumn("LATITUDE", lit(0.0f)).withColumn("LONGITUDE", lit(0.0f))
      .withColumn("DATA_MODE", lit(1.toByte)).withColumn("FLAG", lit(1.toByte))
    val out = Interpolator.interpolate(bad, hdr)
      .select($"NVALUES").as[Int].collect()
    assert(out.forall(_ === 0))
  }

  test("atlas climTS reproduces the field at sampled cells") {
    val atlas = new Atlas(box = (0.0, 30.0, -50.0, -30.0), reso = 2.0)
    val out = atlas.climTS(spark, profiles)
      .filter($"CT" =!= 0.0f) // cells with data
      .select($"pres", $"CT", $"SR").as[(Float, Float, Float)].collect()
    assert(out.nonEmpty, "no atlas cells with data")
    out.foreach { case (pres, ct, sr) =>
      // every profile carries the same field → weighted mean == field value
      assert(math.abs(ct - ctTrue(pres)) < 0.05, s"atlas CT at $pres: $ct")
      assert(math.abs(sr - sTrue(pres)) < 0.05, s"atlas SR at $pres: $sr")
    }
  }

  test("non-monotone PRES: trailing duplicate dedups to the first occurrence; shuffled/reversed rejected") {
    // The kernel's unique-PRES pass has a strictly-increasing fast path;
    // these inputs pin the general (sort + first-occurrence) path to the
    // reference's np.unique semantics (interpolation.py:234-249): the
    // contiguity test on the value-ordered first-occurrence indices admits
    // only profiles whose distinct values already sit in ascending order —
    // in practice, sorted profiles with trailing repeats.
    val n = 40
    val pSorted = (0 until n).map(_ * 40.0)
    val tOf = (p: Double) => 2.0 + 10.0 * math.exp(-p / 500.0)
    val sOf = (p: Double) => 34.5 + 0.5 * math.exp(-p / 300.0)
    def row(ip: Int, ps: Seq[Double]) =
      (1, ip, ps, ps.map(tOf), ps.map(sOf), ps.map(_ => 1.0), 1)
    val dup = pSorted.init :+ pSorted(n - 2) // trailing duplicate value
    val shuffledP = { val r = new scala.util.Random(7); r.shuffle(pSorted) }
    val df = Seq(
      row(0, pSorted),            // fast path
      row(1, dup),                // general path, accepted
      row(2, shuffledP),          // non-contiguous → rejected
      row(3, pSorted.reverse))    // reversed → rejected
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val hdr = (0 to 3).map(ip => (1, ip.toShort)).toDF("WMO", "IPROF")
      .withColumn("DAC", lit(0.toByte)).withColumn("JULD", current_timestamp())
      .withColumn("LATITUDE", lit(0.0f)).withColumn("LONGITUDE", lit(0.0f))
      .withColumn("DATA_MODE", lit(1.toByte)).withColumn("FLAG", lit(1.toByte))
    val out = Interpolator.interpolate(df, hdr)
      .select($"IPROF", $"NVALUES", $"CT", $"SR")
      .as[(Short, Int, Seq[Float], Seq[Float])].collect().sortBy(_._1)
    assert(out(2)._2 === 0, "shuffled PRES must be rejected by the contiguity gate")
    assert(out(3)._2 === 0, "reversed PRES must be rejected by the contiguity gate")
    assert(out(1)._2 > 10, "trailing-duplicate profile must pass the gate")
    // the duplicated sample carries identical (T, S), so dedup-to-first
    // must reproduce the dedupped profile's interpolation exactly
    val dedupped = Seq(row(9, pSorted.init))
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val hdr9 = Seq((1, 9.toShort)).toDF("WMO", "IPROF")
      .withColumn("DAC", lit(0.toByte)).withColumn("JULD", current_timestamp())
      .withColumn("LATITUDE", lit(0.0f)).withColumn("LONGITUDE", lit(0.0f))
      .withColumn("DATA_MODE", lit(1.toByte)).withColumn("FLAG", lit(1.toByte))
    val ref = Interpolator.interpolate(dedupped, hdr9)
      .select($"NVALUES", $"CT", $"SR")
      .as[(Int, Seq[Float], Seq[Float])].collect().head
    assert((out(1)._2, out(1)._3, out(1)._4) === ref,
      "trailing duplicate must interpolate exactly like the dedupped profile")
  }

  test("NaN PRES among kept samples rejects the profile (NVALUES = 0)") {
    // A mis-flagged fill value must drop the profile, not poison the
    // spline into all-NaN output carrying IDX = 1 (which the fixed-point
    // atlas sums would silently count as zeros, biasing cell means).
    val n = 40
    val ps: Seq[Double] = (0 until n).map(_ * 40.0)
    val tOf = (p: Double) => 2.0 + 10.0 * math.exp(-p / 500.0)
    val withNaN = ps.updated(17, Double.NaN)
    val badQcNaN = ps.updated(17, Double.NaN) // NaN sample flagged bad below
    val df = Seq(
      (1, 0, withNaN, withNaN.map(tOf), withNaN.map(_ => 35.0),
        ps.map(_ => 1.0), 1),
      // same NaN but QC-rejected at that index → profile must still pass
      (1, 1, badQcNaN, badQcNaN.map(tOf), badQcNaN.map(_ => 35.0),
        ps.indices.map(i => if (i == 17) 0.0 else 1.0), 1))
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val hdr = Seq((1, 0.toShort), (1, 1.toShort)).toDF("WMO", "IPROF")
      .withColumn("DAC", lit(0.toByte)).withColumn("JULD", current_timestamp())
      .withColumn("LATITUDE", lit(0.0f)).withColumn("LONGITUDE", lit(0.0f))
      .withColumn("DATA_MODE", lit(1.toByte)).withColumn("FLAG", lit(1.toByte))
    val out = Interpolator.interpolate(df, hdr)
      .select($"IPROF", $"NVALUES", $"CT")
      .as[(Short, Int, Seq[Float])].collect().sortBy(_._1)
    assert(out(0)._2 === 0, "NaN PRES must reject the profile")
    assert(out(1)._2 > 10, "QC-masked NaN must not reject the profile")
    assert(out(1)._3.forall(v => !v.isNaN), "no NaN may reach the output arrays")
  }

  test("interpolation method is pluggable: PCHIP (METHODS[1]) also reproduces the field") {
    val rows = Interpolator.interpolate(samples, summary, algo = 1)
      .select($"NVALUES", $"CT", $"SR", $"IDX")
      .as[(Int, Seq[Float], Seq[Float], Seq[Byte])].collect()
    assert(rows.length === 30)
    rows.foreach { case (nv, ct, sr, idx) =>
      assert(nv > 50)
      ArgoSchemas.Pref.indices.foreach { k =>
        if (idx(k) == 1) {
          val z = ArgoSchemas.Pref(k)
          assert(math.abs(ct(k) - ctTrue(z)) < 0.05, s"PCHIP CT at $z: ${ct(k)}")
          assert(math.abs(sr(k) - sTrue(z)) < 0.05, s"PCHIP SR at $z: ${sr(k)}")
        }
      }
    }
  }

  test("interpolation method is pluggable: joint MR-PCHIP (METHODS[2]) also reproduces the field") {
    val rows = Interpolator.interpolate(samples, summary, algo = Interpolator.MrPchip)
      .select($"NVALUES", $"CT", $"SR", $"IDX")
      .as[(Int, Seq[Float], Seq[Float], Seq[Byte])].collect()
    assert(rows.length === 30)
    rows.foreach { case (nv, ct, sr, idx) =>
      assert(nv > 50)
      ArgoSchemas.Pref.indices.foreach { k =>
        if (idx(k) == 1) {
          val z = ArgoSchemas.Pref(k)
          assert(math.abs(ct(k) - ctTrue(z)) < 0.05, s"MR-PCHIP CT at $z: ${ct(k)}")
          assert(math.abs(sr(k) - sTrue(z)) < 0.05, s"MR-PCHIP SR at $z: ${sr(k)}")
        }
      }
    }
  }

  test("polar crop: longitude margin widens as 1/cos(lat)") {
    // A profile 33.5° of longitude west of the box at 77°N is only
    // ~4.6e-3 haversine-arg from the (0°E, 76°N) cell — inside the 8°-arc
    // search radius, because meridians converge — yet a fixed 4·m = 32°
    // longitude margin would crop it before the join could see it.
    val raw = Seq((ArgoSchemas.Dacs(0), 2900999,
      new Timestamp(1577836800000L), -33.5f, 77.0f, 120, "D", "1", 1, 1))
      .toDF("dac", "WMO", "JULD", "LONGITUDE", "LATITUDE", "N_LEVELS",
        "data_mode", "platform_type", "position_qc", "juld_qc")
    val depths = (0 until 120).map(k => k * 17.0 + (k % 3) * 1.5).toArray
    val polarSamples = Seq((2900999, 0, depths.toSeq, depths.map(tTrue).toSeq,
      depths.map(z => sTrue(z) / graft.functions.Seawater.UPS).toSeq,
      depths.map(_ => 1.0).toSeq, 1))
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val prof = Interpolator.interpolate(polarSamples, SummaryBuilder.build(spark, raw))
    val atlas = new Atlas(box = (0.0, 4.0, 76.0, 80.0), reso = 2.0)
    val n = atlas.climTS(spark, prof).filter($"CT" =!= 0.0f).count()
    assert(n > 0, "high-latitude profile was cropped before the join")
  }

  test("a profile at exactly +180° joins through the wrapped bin") {
    // floor((180+180)/binW) is one PAST the last longitude bin; without a
    // pmod on the profile side that phantom bin matches no grid neighbor
    // bin (the grid side wraps) and the profile silently contributes to
    // no cell — the worst kind of dateline bug, invisible in the output.
    val raw = Seq((ArgoSchemas.Dacs(0), 2900998,
      new Timestamp(1577836800000L), 180.0f, -41.0f, 120, "D", "1", 1, 1))
      .toDF("dac", "WMO", "JULD", "LONGITUDE", "LATITUDE", "N_LEVELS",
        "data_mode", "platform_type", "position_qc", "juld_qc")
    val depths = (0 until 120).map(k => k * 17.0 + (k % 3) * 1.5).toArray
    val dlSamples = Seq((2900998, 0, depths.toSeq, depths.map(tTrue).toSeq,
      depths.map(z => sTrue(z) / graft.functions.Seawater.UPS).toSeq,
      depths.map(_ => 1.0).toSeq, 1))
      .toDF("WMO", "IPROF", "PRES", "TEMP", "PSAL", "QC", "DATA_MODE")
    val prof = Interpolator.interpolate(dlSamples, SummaryBuilder.build(spark, raw))
    val atlas = new Atlas(box = (172.0, 180.0, -45.0, -37.0), reso = 2.0)
    val n = atlas.climTS(spark, prof).filter($"CT" =!= 0.0f).count()
    assert(n > 0, "the +180° profile fell into an unjoinable phantom bin")
  }

  /** Profiles at `pos` (LONGITUDE, LATITUDE), all passing crop's QC gate,
    * with a profile id in PID and distinct level arrays. */
  private def positioned(pos: Seq[(Float, Float)]): DataFrame =
    pos.zipWithIndex.map { case ((lon, lat), i) =>
      (i, lon, lat, 1.toByte, 1.toByte,
        (0 until 64).map(k => 2.0f + (i % 17) + 0.01f * k),
        (0 until 64).map(k => 35.0f + 0.001f * ((i + k) % 11)),
        (0 until 64).map(k => if (k < 40 || i % 2 == 0) 1.toByte else 0.toByte))
    }.toDF("PID", "LONGITUDE", "LATITUDE", "FLAG", "DATA_MODE", "CT", "SR", "IDX")

  test("pairs equals the brute-force crop × grid cross join, bit for bit") {
    // The candidate generator may list extra cells (the haversine cutoff
    // drops them) but must never miss one: against a cross join of the
    // cropped profiles with EVERY grid cell, filtered on the same cutoff,
    // the (profile, cell) set and each weight must match exactly.
    val land = (lon: Double, lat: Double) =>
      math.floorMod(math.floor(lon / 7.0).toInt * 3 + math.floor(lat / 5.0).toInt, 4) == 0
    val atlases = Seq(
      // global, 360/7 not whole, 28° radius: polar rows take whole rings
      new Atlas(box = (-180.0, 180.0, -90.0, 90.0), reso = 7.0),
      // a box across the dateline
      new Atlas(box = (160.0, 200.0, -30.0, 30.0), reso = 2.5),
      // land-masked, reaching the pole
      new Atlas(box = (-40.0, 40.0, 60.0, 90.0), reso = 3.0, landMask = land),
      // fine and not whole: 20/0.3, 10/0.3
      new Atlas(box = (-10.0, 10.0, -5.0, 5.0), reso = 0.3, smoothingFactor = 3.0))
    val rng = new scala.util.Random(7)
    atlases.foreach { atlas =>
      val (lon1, lon2, lat1, lat2) = atlas.box
      val m = atlas.radiusDeg
      val edges = for {
        lon <- Seq(lon1, lon2, 180.0, -180.0, lon1 - m / 2, lon2 + m / 2)
        lat <- Seq(lat1, lat2, 85.0, -85.0, 89.5, -90.0, lat1 - m / 2, lat2 + m / 2)
      } yield (lon.toFloat, lat.toFloat)
      val random = Seq.fill(150)(((lon1 - m) + rng.nextDouble() * (lon2 - lon1 + 2 * m),
        (lat1 - m) + rng.nextDouble() * (lat2 - lat1 + 2 * m)))
        .map { case (lon, lat) =>
          // back into the [-180, 180] × [-90, 90] a position can report
          ((((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0).toFloat,
            math.max(-90.0, math.min(90.0, lat)).toFloat)
        }
      val profs = positioned(edges ++ random)
      def rows(df: DataFrame) = df
        .select($"aux", $"gi", $"gj", $"glon", $"glat", $"w")
        .as[(Int, Int, Int, Double, Double, Double)].collect()
      val got = rows(atlas.pairs(spark, profs, aux = Some($"PID")))
      val want = rows(atlas.crop(profs)
        .select($"PID".as("aux"), $"LONGITUDE".as("plon"), $"LATITUDE".as("plat"))
        .crossJoin(atlas.grid(spark))
        .withColumn("arg", graft.functions.Geo.haversineArg(
          $"plon", $"plat", $"glon", $"glat"))
        .filter($"arg" < atlas.dCritical)
        .withColumn("w", exp(-$"arg")))
      assert(want.length > 100, s"degenerate case ${atlas.box}: ${want.length} pairs")
      assert(got.length == got.distinct.length, s"a cell listed twice for ${atlas.box}")
      val (missing, extra) = (want.toSet -- got, got.toSet -- want)
      assert(missing.isEmpty && extra.isEmpty, s"pairs differ for ${atlas.box} " +
        s"reso ${atlas.reso}: missing ${missing.take(5)}, extra ${extra.take(5)}")
    }
  }

  test("pairs is a narrow map: no join, no exchange; climTS has one exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val atlas = new Atlas(box = (0.0, 30.0, -50.0, -30.0), reso = 2.0)
    val profs = positioned(profiles.select($"LONGITUDE", $"LATITUDE")
      .as[(Float, Float)].collect().toSeq)
    def executed(df: DataFrame) = { df.collect(); df.queryExecution.executedPlan }
    val pp = executed(atlas.pairs(spark, profs))
    assert(Aqe.collect(pp) { case j: BaseJoinExec => j }.isEmpty, s"pairs joins:\n$pp")
    assert(Aqe.collect(pp) { case e: Exchange => e }.isEmpty, s"pairs exchanges:\n$pp")
    val tp = executed(atlas.climTS(spark, profs))
    val nEx = Aqe.collect(tp) { case e: Exchange => e }.length
    assert(nEx == 1, s"climTS must exchange only the partial aggregate, found $nEx:\n$tp")
    assert(tp.toString.contains("partial_"), s"no map-side partial aggregation:\n$tp")
  }

  test("atlas climEAPE R14: near-zero for a homogeneous ocean, SIGSTAR plausible") {
    val atlas = new Atlas(box = (8.0, 22.0, -42.0, -34.0), reso = 2.0)
    val out = atlas.climEAPE(spark, profiles, algo = "R14")
      .filter($"SIGSTAR" =!= 0.0f)
      .select($"pres", $"EAPE", $"SIGSTAR").as[(Float, Float, Float)].collect()
    assert(out.nonEmpty)
    out.foreach { case (pres, eape, sig) =>
      // all parcels identical ⇒ no displacement ⇒ EAPE ≈ 0
      assert(math.abs(eape) < 1.0, s"EAPE at $pres: $eape")
      assert(sig > 20 && sig < 35, s"SIGSTAR at $pres: $sig")
    }
  }

  test("atlas climEAPE T25 runs and produces finite GAMMAT") {
    val atlas = new Atlas(box = (8.0, 14.0, -42.0, -38.0), reso = 2.0)
    val out = atlas.climEAPE(spark, profiles, algo = "T25")
      .filter($"SIGSTAR" =!= 0.0f)
      .select($"EAPE", $"SIGSTAR").as[(Float, Float)].collect()
    assert(out.nonEmpty)
    out.foreach { case (eape, g) =>
      assert(!eape.isNaN && !g.isNaN)
      assert(g > 15 && g < 40, s"GAMMAT $g out of plausible range")
    }
  }
}
