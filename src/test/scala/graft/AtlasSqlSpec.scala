package graft

import org.apache.spark.sql.functions._

/** The SQL-only atlas path (VERDICT r13 task 7): `haversine_arg` + the
  * spatial rewrite already made the (cell, profile) pair join reachable
  * from plain SQL; the session-registered `profile_mean_packed` UDAF now
  * lets a SQL user AGGREGATE the packed profiles too — the full q71
  * weighted climatology with no Column API anywhere in the query.
  */
class AtlasSqlSpec extends SparkSuite {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("SQL-only q71 equivalent: theta-join + profile_mean_packed ≡ climTS") {
    GraftSession.registerUdafs(spark)
    val atlas = graft.queries.ArgoQueries.ExportAtlas
    val profiles = graft.queries.ArgoQueries.profilesProbe(spark, d)
    // the packed at-rest shape a SQL user scans;
    // the SEMANTIC row filters ride in the SQL below — the geometric
    // crop is deliberately absent, because the join's exact
    // haversine_arg < dcritical re-check makes any crop a pure
    // performance superset (same rows out)
    profiles.select(
        col("LONGITUDE").as("plon"), col("LATITUDE").as("plat"),
        col("FLAG"), col("DATA_MODE"),
        graft.argo.Atlas.pack3(col("CT"), col("SR"), col("IDX")).as("prof"))
      .createOrReplaceTempView("atlas_prof")
    atlas.grid(spark).createOrReplaceTempView("atlas_grid")
    val prefLit = graft.argo.ArgoSchemas.Pref
      .map(p => s"CAST($p AS FLOAT)").mkString("array(", ",", ")")
    val sql = spark.sql(s"""
      SELECT CAST(glon AS FLOAT) AS lon, CAST(glat AS FLOAT) AS lat,
        element_at($prefLit, lev + 1) AS pres,
        element_at(ts._1, lev + 1) AS CT,
        element_at(ts._2, lev + 1) AS SR
      FROM (
        SELECT g.gi, g.gj, g.glon, g.glat,
          profile_mean_packed(
            exp(-haversine_arg(p.plon, p.plat, g.glon, g.glat)), p.prof) AS ts
        FROM atlas_prof p JOIN atlas_grid g
          ON haversine_arg(p.plon, p.plat, g.glon, g.glat) < ${atlas.dCritical}
        WHERE p.FLAG = 1 AND p.DATA_MODE = 1
        GROUP BY g.gi, g.gj, g.glon, g.glat)
      LATERAL VIEW explode(sequence(0, ${graft.argo.ArgoSchemas.NLevels - 1})) t AS lev
    """)
    // the rewrite must bin the SQL theta-join — a SQL atlas that
    // cartesians profiles × cells would be unusable at any real scale
    // (a tiny BroadcastNestedLoopJoin exists INSIDE the cached profile
    // pipeline's lineage — a constant Range dimension — so the pin is
    // the rewrite's OWN bin keys plus no cartesian, not a blanket scan)
    val plan = sql.queryExecution.executedPlan.toString
    assert(plan.contains("__hav_bi") && !plan.contains("CartesianProduct"),
      s"SQL atlas join was not rewritten:\n$plan")
    val got = sql.as[(Float, Float, Float, Float, Float)]
      .collect().toSeq.sorted
    val want = atlas.climTS(spark, profiles)
      .select($"lon", $"lat", $"pres", $"CT", $"SR")
      .as[(Float, Float, Float, Float, Float)].collect().toSeq.sorted
    // bit-identical, not approximately equal: same fixed-point
    // aggregator, same codegen'd haversine (HaversineArgExpr mirrors
    // Geo.haversineArg op for op), any merge order
    assert(got == want && got.nonEmpty)
  }

  test("eape_mean_packed_r14 is registered and callable from SQL") {
    GraftSession.registerUdafs(spark)
    // a smoke row: zero weights and empty masks yield the zero ladder —
    // the full EAPE numerics are pinned by ArgoPipelineSpec; this pins
    // the SQL registration + signature
    val prof = new Array[Byte](9 * graft.argo.ArgoSchemas.NLevels)
    val aux = new Array[Byte](4 * graft.argo.ArgoSchemas.NLevels)
    val cell = new Array[Byte](16 * graft.argo.ArgoSchemas.NLevels)
    Seq((1.0, prof, aux, cell)).toDF("w", "p", "a", "c")
      .createOrReplaceTempView("eape_in")
    val out = spark.sql(
      "SELECT eape_mean_packed_r14(w, p, a, c) AS e FROM eape_in")
      .select(size($"e")).as[Int].head()
    assert(out == graft.argo.ArgoSchemas.NLevels)
  }
}
