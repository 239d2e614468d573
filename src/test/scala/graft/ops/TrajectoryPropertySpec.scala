package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Geo
import graft.ops.TrajectoryDistance.P

/** Seeded-random property tests for the scalar geo/trajectory math
  * (SURVEY.md §5's rebuild test strategy). Plain seeded sampling — the
  * same style as DbscanSpec's brute-force invariant check. */
class TrajectoryPropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private def lat() = rnd.nextDouble() * 170.0 - 85.0
  private def lng() = rnd.nextDouble() * 358.0 - 179.0
  private def point() = (lat(), lng())

  test("haversine: symmetry, identity, non-negativity, upper bound (500 samples)") {
    (1 to 500).foreach { _ =>
      val (p, q) = (point(), point())
      val d = Geo.haversineM(p._1, p._2, q._1, q._2)
      val d2 = Geo.haversineM(q._1, q._2, p._1, p._2)
      assert(d >= 0.0)
      assert(math.abs(d - d2) < 1e-7, s"asymmetric at $p $q")
      assert(d <= math.Pi * Geo.EarthRadiusM + 1e-6)
      assert(Geo.haversineM(p._1, p._2, p._1, p._2) == 0.0)
    }
  }

  test("haversine: triangle inequality within fp slack (500 samples)") {
    (1 to 500).foreach { _ =>
      val (a, b, c) = (point(), point(), point())
      val ab = Geo.haversineM(a._1, a._2, b._1, b._2)
      val bc = Geo.haversineM(b._1, b._2, c._1, c._2)
      val ac = Geo.haversineM(a._1, a._2, c._1, c._2)
      assert(ac <= ab + bc + 1e-6, s"triangle violated at $a $b $c")
    }
  }

  private def cityTraj(): IndexedSeq[P] = {
    val n = 2 + rnd.nextInt(6)
    IndexedSeq.fill(n)(P(113.8 + rnd.nextDouble() * 0.6, 22.4 + rnd.nextDouble() * 0.4))
  }

  test("trajectory distance: non-negative; ~0 against itself (200 samples)") {
    (1 to 200).foreach { _ =>
      val (t1, t2) = (cityTraj(), cityTraj())
      val d = TrajectoryDistance.total(t1, t2)
      assert(d >= 0.0, s"negative distance $d")
      assert(TrajectoryDistance.total(t1, t1) < 1e-5, // < 1 cm of fp residue
        "self-distance must vanish (projection hits the point, angle 0)")
    }
  }

  test("trajectory distance grows with separation, shrinks to near zero when overlaid") {
    val base = IndexedSeq(P(114.0, 22.5), P(114.1, 22.5), P(114.2, 22.5))
    val same = base.map(p => P(p.lng, p.lat + 1e-7))
    val far = base.map(p => P(p.lng, p.lat + 0.1)) // ~11 km north
    assert(TrajectoryDistance.total(base, same) < 0.1)
    assert(TrajectoryDistance.total(base, far) > 10.0)
  }
}
