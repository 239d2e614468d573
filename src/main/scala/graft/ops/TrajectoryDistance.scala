package graft.ops

/** TRACLUS-style trajectory distance — scalar math for the clustering
  * stage, ported from `Standalone/Trajectory Clustering.py:58–141` (the
  * reference's only genuinely custom algorithmic code, reachable there
  * only through Python UDFs; native Scala here removes every JVM↔Python
  * crossing).
  *
  * Semantics preserved exactly, including two quirks worth knowing:
  *  - `horizontal_distance` and `vertical_distance` in the reference are
  *    the *identical* computation (TC-S:90–107), so the total is
  *    2 × (mean endpoint→chord-projection distance) + angular term
  *    (TC-S:135–141);
  *  - the chord projection does its dot products on raw lng/lat degrees
  *    (a flat-earth approximation), while the resulting point distances
  *    are great-circle km — both kept.
  *
  * Great-circle radius is geopy's `great_circle` mean earth radius
  * (6371.009 km), which the reference used via `geopy.distance`
  * (TC-S:58–61); distances are in km.
  */
object TrajectoryDistance {

  /** geopy `EARTH_RADIUS` (km). */
  val EarthRadiusKm = 6371.009

  /** A GPS point as (lng, lat) degrees — the reference's tuple order. */
  final case class P(lng: Double, lat: Double)

  /** Great-circle distance in km (TC-S:58–61). */
  def greatCircleKm(a: P, b: P): Double = greatCircleKm(a.lng, a.lat, b.lng, b.lat)

  /** [[greatCircleKm]] on raw coordinates — the one copy of the formula. */
  def greatCircleKm(alng: Double, alat: Double, blng: Double, blat: Double): Double = {
    val dLat = math.toRadians(blat - alat)
    val dLng = math.toRadians(blng - alng)
    val h = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(alat)) * math.cos(math.toRadians(blat)) *
        math.pow(math.sin(dLng / 2), 2)
    2 * EarthRadiusKm * math.asin(math.min(1.0, math.sqrt(h)))
  }

  /** Project `p` onto segment `s→e` in raw-degree space, clamped to the
    * endpoints (TC-S:64–87). The P form of the projection inside
    * [[totalKm]], kept as the reference `TrajectoryDistanceSpec` checks
    * that kernel against. */
  def projectOnSegment(p: P, s: P, e: P): P = {
    if (s == e) return s
    val (vx, vy) = (e.lng - s.lng, e.lat - s.lat)
    val (ux, uy) = (p.lng - s.lng, p.lat - s.lat)
    val t = (ux * vx + uy * vy) / (vx * vx + vy * vy)
    if (t < 0) s
    else if (t > 1) e
    else P(s.lng + t * vx, s.lat + t * vy)
  }

  /** Great-circle km from p to [[projectOnSegment]]`(p, s, e)`, on raw
    * coordinates: the same comparisons and arithmetic, no allocation. */
  private def toChordKm(plng: Double, plat: Double, slng: Double, slat: Double,
                        elng: Double, elat: Double): Double = {
    if (slng == elng && slat == elat) return greatCircleKm(plng, plat, slng, slat)
    val vx = elng - slng; val vy = elat - slat
    val t = ((plng - slng) * vx + (plat - slat) * vy) / (vx * vx + vy * vy)
    if (t < 0) greatCircleKm(plng, plat, slng, slat)
    else if (t > 1) greatCircleKm(plng, plat, elng, elat)
    else greatCircleKm(plng, plat, slng + t * vx, slat + t * vy)
  }

  /** Polyline length in km: consecutive-pair distances summed left to
    * right from 0.0 (an iterator's `sum` is that fold); 0.0 for fewer
    * than two points, where `sliding(2)` would yield a one-point window. */
  def lengthKm(tr: IndexedSeq[P]): Double =
    if (tr.length < 2) 0.0
    else tr.sliding(2).map { case Seq(a, b) => greatCircleKm(a, b) }.sum

  /** Angular component (TC-S:110–132): angle between the two chords in
    * raw-degree space; degenerate chords count as 90°. */
  def angularKm(tr1: IndexedSeq[P], tr2: IndexedSeq[P]): Double =
    angularKm(tr1.head.lng, tr1.head.lat, tr1.last.lng, tr1.last.lat, lengthKm(tr1),
      tr2.head.lng, tr2.head.lat, tr2.last.lng, tr2.last.lat, lengthKm(tr2))

  private def angularKm(
      h1lng: Double, h1lat: Double, l1lng: Double, l1lat: Double, len1: Double,
      h2lng: Double, h2lat: Double, l2lng: Double, l2lat: Double,
      len2: Double): Double = {
    val v1x = l1lng - h1lng; val v1y = l1lat - h1lat
    val v2x = l2lng - h2lng; val v2y = l2lat - h2lat
    val n1 = math.sqrt(v1x * v1x + v1y * v1y)
    val n2 = math.sqrt(v2x * v2x + v2y * v2y)
    val thetaDeg =
      if (n1 == 0.0 || n2 == 0.0) 90.0
      else {
        val cos = math.max(-1.0, math.min(1.0, (v1x * v2x + v1y * v2y) / (n1 * n2)))
        math.toDegrees(math.acos(cos))
      }
    if (thetaDeg > 0 && thetaDeg <= 90)
      math.min(len1, len2) * math.sin(math.toRadians(thetaDeg))
    else if (thetaDeg > 90 && thetaDeg <= 180)
      math.max(len1, len2)
    else 0.0
  }

  /** Total trajectory distance in km (TC-S:135–141): the duplicated
    * horizontal/vertical term counted twice, plus the angular term. */
  def total(tr1: IndexedSeq[P], tr2: IndexedSeq[P]): Double =
    totalWithLengths(tr1, tr2, lengthKm(tr1), lengthKm(tr2))

  /** [[total]] with caller-precomputed polyline lengths — inside an O(T²)
    * pair loop this turns the distance from O(points-per-trajectory) to
    * O(1) per pair. */
  def totalWithLengths(
      tr1: IndexedSeq[P], tr2: IndexedSeq[P],
      len1: Double, len2: Double): Double =
    totalKm(tr1.head.lng, tr1.head.lat, tr1.last.lng, tr1.last.lat, len1,
      tr2.head.lng, tr2.head.lat, tr2.last.lng, tr2.last.lat, len2)

  /** [[totalWithLengths]] on primitive chord summaries (head, last,
    * polyline length) — the pair kernel's form and the one copy of the
    * arithmetic: the total reads nothing of a trajectory but its chord
    * endpoints and its length, so every caller reduces to this. */
  def totalKm(
      h1lng: Double, h1lat: Double, l1lng: Double, l1lat: Double, len1: Double,
      h2lng: Double, h2lat: Double, l2lng: Double, l2lat: Double,
      len2: Double): Double =
    // mean distance of tr1's endpoints to their projections on tr2's
    // chord, counted twice: the reference's horizontal ≡ vertical term
    // (TC-S:90–107)
    2.0 * ((toChordKm(h1lng, h1lat, h2lng, h2lat, l2lng, l2lat) +
      toChordKm(l1lng, l1lat, h2lng, h2lat, l2lng, l2lat)) / 2.0) +
      angularKm(h1lng, h1lat, l1lng, l1lat, len1, h2lng, h2lat, l2lng, l2lat, len2)

  /** PROVABLE cheap lower bound on [[totalWithLengths]] — the trig-free
    * prune gate of the O(T²) pair scan. Soundness chain, every step an
    * exact inequality of the haversine formula (no small-angle
    * approximations that could over-prune):
    *
    *  - `total = d1 + d2 + angular ≥ d1 + d2` (angular ≥ 0: both its
    *    branches are products of non-negative terms);
    *  - each `dᵢ = gc(pᵢ, proj)` where proj is a CLAMPED convex
    *    combination of chord2's endpoints, so proj.lat/lng lie inside
    *    chord2's bounding box — `|Δφ| ≥ latGap(pᵢ, box)` and
    *    `|Δλ| ≥ lngGap(pᵢ, box)`;
    *  - `gc ≥ R·|Δφ|`: haversine `h ≥ sin²(Δφ/2)` ⟹ `asin(√h) ≥ |Δφ|/2`;
    *  - `gc ≥ (2/π)·R·cfloor·|Δλ|` for `|Δλ| ≤ π`: `h ≥ cosφ₁cosφ₂·
    *    sin²(Δλ/2)`, `cosφ ≥ cos(maxAbsLat) ≥ 1 − maxAbsLat²/2 = cfloor`
    *    (Taylor bound, exact direction), `asin x ≥ x`, `sin x ≥ (2/π)x`
    *    on [0, π/2].
    *
    * NaN coordinates poison the bound to NaN, and `NaN > eps` is false —
    * such a pair is never pruned (its clamp-rule handling is downstream).
    * The bound never reads the polyline lengths, so a NaN interior point
    * leaves it finite: a caller that prunes on it checks the lengths.
    * Cost: ~15 flops, zero trig/alloc. */
  def lowerBoundKm(
      h1lng: Double, h1lat: Double, l1lng: Double, l1lat: Double,
      s2lng: Double, s2lat: Double, e2lng: Double, e2lat: Double): Double = {
    // ANY non-finite coordinate → NaN (never prune): a partially-NaN
    // pair could still yield a finite lat-gap bound here while the true
    // distance evaluates NaN and must reach the clamp rule downstream
    if (!java.lang.Double.isFinite(h1lng + h1lat + l1lng + l1lat +
        s2lng + s2lat + e2lng + e2lat)) return Double.NaN
    val latLo = math.min(s2lat, e2lat); val latHi = math.max(s2lat, e2lat)
    val lngLo = math.min(s2lng, e2lng); val lngHi = math.max(s2lng, e2lng)
    val maxAbsLat = math.toRadians(math.max(
      math.max(math.abs(h1lat), math.abs(l1lat)),
      math.max(math.abs(latLo), math.abs(latHi))))
    val cfloor = 1.0 - maxAbsLat * maxAbsLat / 2.0
    // sin(x/2) monotonicity needs the ACTUAL |Δλ| ≤ π, and proj can sit
    // anywhere inside chord2's bbox, so |Δλ| ≤ gLng + bbox width — gate
    // the via-longitude branch on that SUM, not on gLng alone (ADVICE
    // r9: an antimeridian-wrapping bbox could otherwise push the
    // "provable" bound past the true distance and over-prune)
    val widthLng = math.toRadians(lngHi - lngLo)
    def one(plng: Double, plat: Double): Double = {
      val gLat = math.toRadians(
        math.max(0.0, math.max(latLo - plat, plat - latHi)))
      val gLng = math.toRadians(
        math.max(0.0, math.max(lngLo - plng, plng - lngHi)))
      val viaLat = EarthRadiusKm * gLat
      val viaLng =
        if (gLng + widthLng <= math.Pi && cfloor > 0.0)
          (2.0 / math.Pi) * EarthRadiusKm * cfloor * gLng
        else 0.0
      math.max(viaLat, viaLng)
    }
    one(h1lng, h1lat) + one(l1lng, l1lat)
  }
}
