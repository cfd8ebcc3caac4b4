package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Interp, Seawater, SimplifiedEos, TextFns}

/** ScalaCheck properties for the numeric kernels (SURVEY.md §5): invariants
  * that must hold for ALL inputs, not just fixtures — interpolation
  * reproduces its nodes, means stay inside their bounds, the hash stays in
  * range, the packed merge-walk agrees with set algebra.
  */
class KernelPropertySpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private val grid: Gen[(Array[Double], Array[Double])] = for {
    n <- Gen.choose(4, 60)
    steps <- Gen.listOfN(n, Gen.choose(0.1, 50.0))
    ys <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield (steps.scanLeft(0.0)(_ + _).tail.toArray.take(n), ys.toArray)

  test("cubic spline reproduces node values on arbitrary monotone grids") {
    check(Prop.forAll(grid) { case (xs, ys) =>
      val out = Interp.cubicOnto(xs, ys, xs)
      xs.indices.forall(i => math.abs(out(i) - ys(i)) <= 1e-7 * (1 + math.abs(ys(i))))
    })
  }

  test("linear interp stays within neighbor bounds in range and clamps outside") {
    check(Prop.forAll(grid, Gen.choose(-10.0, 1500.0)) { case ((xs, ys), t) =>
      val v = Interp.linear(xs, ys, t)
      if (t <= xs.head) v == ys.head
      else if (t >= xs.last) v == ys.last
      else {
        val i = xs.lastIndexWhere(_ <= t)
        val (lo, hi) = (math.min(ys(i), ys(i + 1)), math.max(ys(i), ys(i + 1)))
        v >= lo - 1e-12 && v <= hi + 1e-12
      }
    })
  }

  test("char hash stays in [0, HashMod) and is deterministic") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val h = TextFns.charHashJvm(s)
      h >= 0 && h < TextFns.HashMod && h == TextFns.charHashJvm(s)
    })
  }

  test("gammat is finite with in-bracket reference pressure on ocean ranges") {
    val sr = Gen.choose(30.0, 40.0)
    val ct = Gen.choose(-2.0, 35.0)
    check(Prop.forAll(sr, ct) { (s, t) =>
      val (g, _, p, _) = Seawater.gammatAnalytic(s, t, SimplifiedEos)
      java.lang.Double.isFinite(g) && java.lang.Double.isFinite(p)
    })
  }

  test("rho increases with salinity and decreases with temperature") {
    val p = Gen.choose(0.0, 2000.0)
    check(Prop.forAll(Gen.choose(30.0, 40.0), Gen.choose(0.0, 30.0), p) { (s, t, pr) =>
      SimplifiedEos.rho(s + 0.5, t, pr) > SimplifiedEos.rho(s, t, pr) &&
        SimplifiedEos.rho(s, t + 0.5, pr) < SimplifiedEos.rho(s, t, pr)
    })
  }

  test("sortDedup output is strictly increasing and a subset of the input") {
    check(Prop.forAll(grid) { case (xs, ys) =>
      // introduce duplicates and shuffle deterministically
      val dupXs = xs ++ xs.take(xs.length / 2)
      val dupYs = ys ++ ys.take(xs.length / 2)
      val perm = dupXs.indices.sortBy(i => (dupXs(i) * 31 + i) % 7)
      val (sx, _) = Interp.sortDedup(perm.map(dupXs).toArray, perm.map(dupYs).toArray)
      sx.sliding(2).forall(w => w.length < 2 || w(0) < w(1)) &&
        sx.forall(dupXs.contains)
    })
  }

  test("atlas candidate cells list every in-radius cell exactly once") {
    // candidateCells may over-list (the haversine cutoff drops extras) but
    // must never miss a cell the cutoff keeps, on any box, resolution or
    // position — HaversineArgExpr.hav is the cutoff's arithmetic, op for op
    val atlas = for {
      lon1 <- Gen.oneOf(Gen.choose(-200.0, 170.0), Gen.const(-180.0), Gen.const(170.0))
      width <- Gen.choose(1.0, 360.0)
      lat1 <- Gen.oneOf(Gen.choose(-90.0, 80.0), Gen.const(-90.0))
      height <- Gen.choose(1.0, 90.0 - lat1)
      reso <- Gen.choose(math.sqrt(width * height / 20000), 8.0)
      sf <- Gen.choose(1.0, 5.0)
    } yield new graft.argo.Atlas((lon1, lon1 + width, lat1, lat1 + height), reso, sf)
    val pos = for {
      lon <- Gen.oneOf(Gen.choose(-180.0, 180.0), Gen.oneOf(-180.0, 180.0, 0.0),
        Gen.choose(-1000.0, 1000.0))
      lat <- Gen.oneOf(Gen.choose(-90.0, 90.0), Gen.oneOf(-90.0, 90.0, 85.0, -89.9))
    } yield (lon, lat)
    check(Prop.forAll(atlas, pos) { (a, p) =>
      val (lon1, _, lat1, _) = a.box
      val got = a.candidateCells(p._1, p._2)
      val want = for {
        gj <- 0 until a.nLat; gi <- 0 until a.nLon
        if graft.functions.HaversineArgExpr.hav(p._1, p._2,
          lon1 + gi * a.reso, lat1 + gj * a.reso) < a.dCritical
      } yield gj.toLong * a.nLon + gi
      got.distinct.length == got.length && want.forall(got.toSet)
    })
  }
}
