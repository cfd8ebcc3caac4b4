package argobench

/** One benchmark input: a GDAC shape and the atlas computed from it.
  * @param ingest the pass starts from the NetCDF files; otherwise it
  *               starts from a store the program built before timing
  * @param eape   EAPE algorithm computed after TS, if any
  * @param warmups untimed passes after the cold one: how many it takes
  *                the pass time to level off */
final case class Workload(name: String, spec: Gdac.Spec,
                          box: (Double, Double, Double, Double), reso: Double,
                          maskLand: Boolean, eape: Option[String], ingest: Boolean,
                          warmups: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    // The paper's whole job on a GDAC shaped like the real one: every
    // layer works, the ½° regional atlas takes the broadcast join path.
    Workload("paper-e2e",
      Gdac.Spec(files = 12, profiles = (100, 150), levels = (60, 120),
        region = (-43.0, -27.0, 27.0, 43.0)),
      box = (-40.0, -30.0, 30.0, 40.0), reso = 0.5, maskLand = false,
      eape = Some("R14"), ingest = true, warmups = 2),
    // Deep high-resolution profiles into a coarse TS-only atlas: the NC3
    // range reads, the sample-array exchange and the spline/TEOS-10
    // kernel dominate; atlas and sink do almost nothing.
    Workload("deep-ingest",
      Gdac.Spec(files = 14, profiles = (100, 150), levels = (800, 1000),
        region = (-50.0, -10.0, 10.0, 50.0)),
      box = (-32.0, -28.0, 28.0, 32.0), reso = 2.0, maskLand = false,
      eape = None, ingest = true, warmups = 3),
    // Interpolate once, many atlases: a global 1° land-masked grid over a
    // prebuilt store, past the broadcast cap onto the shuffle-hash join,
    // TS and EAPE T25 exported as two full-grid files. Scan and
    // interpolation do no work in the timed passes.
    Workload("global-atlas",
      Gdac.Spec(files = 20, profiles = (60, 90), levels = (30, 50),
        region = (-180.0, 180.0, -45.0, 45.0), oceanOnly = true),
      box = (-180.0, 180.0, -40.0, 40.0), reso = 1.0, maskLand = true,
      eape = Some("T25"), ingest = false, warmups = 2))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}
