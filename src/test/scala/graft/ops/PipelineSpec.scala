package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end: stage 1 → 2 → 3 on a synthetic two-line fleet. */
class PipelineSpec extends SparkSpec {
  import sqlImplicits._

  // 4 vehicles × 2 lines; each runs terminus→terminus with two genuine
  // signal-loss gaps (600s holes jumping ~8.2 km — beyond the stopped-bus
  // guard), producing 3 patterns per vehicle whose trajectories are
  // near-identical within a line → DBSCAN clusters them. Gap diffs
  // [0,30×18,630,630] put the p95 threshold at 630.
  private def fleet = {
    val rows = for {
      line <- Seq("L1", "L2")
      v <- 1 to 4
      n <- 0 to 20
    } yield {
      val id = s"$line-V$v"
      val latBase = if (line == "L1") 22.50 else 22.60
      val lng = 114.0 + n * 0.004 +
        (if (n >= 10) 0.08 else 0.0) + (if (n >= 16) 0.08 else 0.0)
      val sec = n * 30 +
        (if (n >= 10) 600 else 0) + (if (n >= 16) 600 else 0)
      val t = f"19-02-01 08:${sec / 60}%02d:${sec % 60}%02d"
      (id, line, lng, latBase + (v - 1) * 1e-5, t)
    }
    rows.toDF("id", "linenumber", "lng", "lat", "t")
  }

  private val endLng = 114.0 + 20 * 0.004 + 0.16

  private def termini = Seq(
    ("L1", 1, 1, 22.50, 114.0), ("L1", 2, 1, 22.50, endLng),
    ("L2", 1, 1, 22.60, 114.0), ("L2", 2, 1, 22.60, endLng)
  ).toDF("existLine_id", "direction", "position", "x", "y")

  // (linenumber, id, patternID, cluster) rows of a clustering, sorted
  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getInt(3))).sortBy(t => (t._1, t._2, t._3)).toSeq

  /** Stage 2 as a dense distance matrix, the reference that never
    * prunes: every pair scored with [[TrajectoryDistance.totalKm]]
    * over [[TrajectoryClustering.lineRows]], non-finite distances clamped
    * to 2× the true max finite one, [[Dbscan.fit]], all-zeros on a throw.
    * Sorted like [[sortedRows]]. */
  private def denseReference(pats: org.apache.spark.sql.DataFrame,
      prm: Map[String, TrajectoryClustering.Params]) =
    TrajectoryClustering.lineRows(pats, spark.sparkContext.broadcast(prm), numParts = 4)
      .collect().toSeq.flatMap { case (line, ids, pids, s) =>
        val p = prm(line)
        val n = ids.length
        val dist = Array.ofDim[Double](n, n)
        var maxFinite = 0.0
        for (i <- 0 until n; j <- i + 1 until n) {
          val (a, b) = (5 * i, 5 * j)
          val d = TrajectoryDistance.totalKm(s(a), s(a + 1), s(a + 2), s(a + 3),
            s(a + 4), s(b), s(b + 1), s(b + 2), s(b + 3), s(b + 4))
          val dd = if (java.lang.Double.isFinite(d)) d else Double.NaN
          dist(i)(j) = dd; dist(j)(i) = dd
          if (!dd.isNaN && dd > maxFinite) maxFinite = dd
        }
        for (i <- 0 until n; j <- 0 until n if dist(i)(j).isNaN) dist(i)(j) = 2 * maxFinite
        val labels =
          try Dbscan.fit(dist, p.eps, p.minSamples)
          catch { case _: Exception => Array.fill(n)(0) }
        (0 until n).map(t => (line, ids(t), pids(t), labels(t)))
      }
      .sortBy(t => (t._1, t._2, t._3))

  /** Both branches of [[TrajectoryClustering.cluster]] (the default and
    * the distributed one forced by `maxLocalPairs = 0`) against
    * [[denseReference]]; returns the labels. */
  private def bothBranchesMatchReference(pats: org.apache.spark.sql.DataFrame,
      prm: Map[String, TrajectoryClustering.Params]) = {
    val want = denseReference(pats, prm)
    val local = sortedRows(TrajectoryClustering.cluster(pats, prm))
    assert(TrajectoryClustering.lastStats.isEmpty, "small input took the distributed branch")
    val dist = sortedRows(TrajectoryClustering.cluster(pats, prm, maxLocalPairs = 0))
    assert(TrajectoryClustering.lastStats.isDefined)
    assert(local == want, "small-input branch differs from the dense reference")
    assert(dist == want, "distributed branch differs from the dense reference")
    want
  }

  private val params = Map(
    "L1" -> TrajectoryClustering.Params(eps = 2.0, minSamples = 2),
    "L2" -> TrajectoryClustering.Params(eps = 2.0, minSamples = 2))

  test("stage 1: every vehicle qualifies and splits into 3 patterns") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    assert(pats.select($"id").distinct().count() == 8)
    val perVehicle = pats.groupBy($"id").agg(countDistinct($"patternID").as("n"))
      .select($"n").as[Long].collect()
    assert(perVehicle.forall(_ == 3), s"patterns per vehicle: ${perVehicle.toSeq}")
  }

  test("stage 2: similar trajectories cluster; clusters attach to points") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    val clustered = TrajectoryClustering.run(pats, params)
    assert(clustered.columns.contains("cluster"))
    // near-identical trajectories per line → everything clustered, no noise
    val labels = clustered.select($"cluster").distinct().as[Int].collect()
    assert(labels.nonEmpty && !labels.contains(-1), s"labels=${labels.toSeq}")
  }

  test("stage 2: line without params is skipped (null cluster)") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    val onlyL1 = Map("L1" -> TrajectoryClustering.Params(2.0, 2))
    val clustered = TrajectoryClustering.run(pats, onlyL1)
    assert(clustered.filter($"linenumber" === "L2" && $"cluster".isNotNull).count() == 0)
    assert(clustered.filter($"linenumber" === "L1" && $"cluster".isNull).count() == 0)
  }

  test("stage 2: single-trajectory line is noise under minSamples=2, not a crash") {
    // n=1 per line: the pair stage produces zero triples; the DBSCAN side
    // must still build a 1×1 matrix and label the lone trajectory noise
    val lone = Seq(
      ("V1", "L9", 114.00, 22.50, "19-02-01 08:00:00"),
      ("V1", "L9", 114.01, 22.50, "19-02-01 08:01:00"))
      .toDF("id", "linenumber", "lng", "lat", "t")
      .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
      .withColumn("patternID", lit(1L))
    val out = TrajectoryClustering.cluster(lone,
      Map("L9" -> TrajectoryClustering.Params(5.0, 2)))
    assert(out.select($"cluster").as[Int].collect().toSeq == Seq(-1))
  }

  test("stage 2: empty params map yields an empty, well-formed result") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    val out = TrajectoryClustering.cluster(pats, Map.empty)
    assert(out.columns.toSeq ==
      Seq("linenumber", "id", "patternID", "cluster"))
    assert(out.count() == 0)
  }

  test("stage 2: binned-cogroup path equals the local path on a 10x-skewed fleet") {
    // LH carries 10× LS's trajectories (40 vs 4) → its T² cost is an
    // outlier and Balance gives it a dedicated bin; forcing
    // maxLocalPairs = 0 runs the salted cell scan + binned DBSCAN, which
    // must produce bit-identical labels to the small-input path
    val rows = for {
      (line, nv) <- Seq(("LH", 20), ("LS", 2))
      v <- 1 to nv
      p <- 1 to 2
      n <- 0 to 2
    } yield (s"$line-V$v%02d".format(v), line,
      114.0 + n * 0.01 + v * 1e-5,
      if (line == "LH") 22.5 else 22.6,
      f"19-02-01 08:0$p:${n * 10}%02d", p.toLong)
    val pats = rows.toDF("id", "linenumber", "lng", "lat", "t", "patternID")
      .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
    val prm = Map(
      "LH" -> TrajectoryClustering.Params(5.0, 2),
      "LS" -> TrajectoryClustering.Params(5.0, 2))
    assert(bothBranchesMatchReference(pats, prm).nonEmpty)
    // and the hot line's cost really is bin-isolated in the plan
    val plan = Balance.plan(Seq("LH" -> 1600.0, "LS" -> 16.0), targetBins = 2)
    assert(plan("LH") != plan("LS"))
  }

  test("stage 2: pair-prune path (far-apart groups) equals the local path exactly") {
    // two vehicle groups on ONE line ~0.1 deg (~10 km) apart: cross-group
    // pairs have lower bound > eps=5 and take the r9 prune path, while
    // within-group pairs evaluate fully — labels must still be
    // bit-identical to the dense reference (which never prunes)
    val rows = for {
      (grp, base) <- Seq(("A", 114.00), ("B", 114.10))
      v <- 1 to 6
      n <- 0 to 2
    } yield (s"$grp-V$v", "LP", base + n * 0.001 + v * 1e-5, 22.5,
      f"19-02-01 08:00:${n * 10}%02d", 1L)
    val pats = rows.toDF("id", "linenumber", "lng", "lat", "t", "patternID")
      .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
    val prm = Map("LP" -> TrajectoryClustering.Params(5.0, 2))
    // sanity: the cross-group bound really is above eps (prune active)
    assert(TrajectoryDistance.lowerBoundKm(
      114.0, 22.5, 114.003, 22.5, 114.1, 22.5, 114.103, 22.5) > 5.0)
    val local = bothBranchesMatchReference(pats, prm)
    assert(local.nonEmpty)
    // both groups cluster internally (distinct clusters), so the pruned
    // relation still carried every within-group edge
    assert(local.map(_._4).toSet.size >= 2)
  }

  test("stage 2: single-trajectory line survives the distributed path too") {
    val lone = Seq(
      ("V1", "L9", 114.00, 22.50, "19-02-01 08:00:00"),
      ("V1", "L9", 114.01, 22.50, "19-02-01 08:01:00"))
      .toDF("id", "linenumber", "lng", "lat", "t")
      .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
      .withColumn("patternID", lit(1L))
    val out = TrajectoryClustering.cluster(lone,
      Map("L9" -> TrajectoryClustering.Params(5.0, 2)), maxLocalPairs = 0)
    assert(out.select($"cluster").as[Int].collect().toSeq == Seq(-1))
  }

  test("stage 2: a one-point trajectory clusters, same labels on both paths") {
    // a vehicle's last ping after a signal-loss episode starts a pattern
    // of its own: one point, polyline length 0
    val rows = (for {
      v <- 1 to 4
      n <- 0 to 2
    } yield (s"V$v", "L1", 114.0 + n * 0.001 + v * 1e-5, 22.5,
      f"19-02-01 08:00:${n * 10}%02d", 1L)) :+
      (("V1", "L1", 114.05, 22.5, "19-02-01 08:30:00", 2L))
    val pats = rows.toDF("id", "linenumber", "lng", "lat", "t", "patternID")
      .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
    val prm = Map("L1" -> TrajectoryClustering.Params(5.0, 2))
    assert(bothBranchesMatchReference(pats, prm).length == 5)
  }

  test("stage 2: a NaN-coordinate trajectory is clamped alike on both branches") {
    // V0's first point has a NaN latitude, so its pairs are NaN (never
    // pruned) and reach the clamp rule: with every finite distance ≤ eps/2
    // they become edges; with a far group on the line the bound prunes the
    // cross-group pairs and its witness (> eps) turns the clamp off
    def group(from: Int, lng0: Double) = for {
      v <- from until from + 4
      n <- 0 to 2
    } yield (s"V$v", lng0 + n * 0.001 + v * 1e-5, 22.5)
    def pats(rows: Seq[(String, Double, Double)]) =
      rows.zipWithIndex
        .map { case ((id, lng, lat), k) =>
          (id, "LN", lng, lat, f"19-02-01 08:00:$k%02d", 1L) }
        .toDF("id", "linenumber", "lng", "lat", "t", "patternID")
        .withColumn("t", to_timestamp($"t", "yy-MM-dd HH:mm:ss"))
    val nanHead = Seq(("V0", 114.0, Double.NaN), ("V0", 114.001, 22.5), ("V0", 114.002, 22.5))
    val prm = Map("LN" -> TrajectoryClustering.Params(5.0, 2))
    assert(TrajectoryDistance.lowerBoundKm(
      114.0, 22.5, 114.003, 22.5, 114.1, 22.5, 114.103, 22.5) > 5.0)
    def labelOf(rows: Seq[(String, String, String, Int)]) =
      rows.map(r => r._2 -> r._4).toMap
    val joined = labelOf(bothBranchesMatchReference(pats(group(1, 114.0) ++ nanHead), prm))
    assert(joined("V0") != -1 && joined("V0") == joined("V1"),
      s"NaN pairs under eps/2 should be edges: $joined")
    val pruned = labelOf(bothBranchesMatchReference(
      pats(group(1, 114.0) ++ group(5, 114.10) ++ nanHead), prm))
    assert(pruned("V0") == -1, s"NaN pairs past the witness should be no edges: $pruned")
    assert(pruned.values.toSet == Set(-1, 0, 1), s"two clusters plus noise: $pruned")
    // V9 is ~10 km from the group with finite, slanted-chord endpoints and
    // a NaN interior point: its bound clears eps but its length is NaN, so
    // its pairs are NaN, not pruned, and every finite distance ≤ eps/2
    // makes them edges
    val farNaN = Seq(("V9", 114.10, 22.5), ("V9", 114.101, Double.NaN), ("V9", 114.102, 22.501))
    assert(TrajectoryDistance.lowerBoundKm(
      114.0, 22.5, 114.003, 22.5, 114.1, 22.5, 114.102, 22.501) > 5.0)
    val interior = labelOf(bothBranchesMatchReference(pats(group(1, 114.0) ++ farNaN), prm))
    assert(interior("V9") != -1 && interior("V9") == interior("V1"),
      s"NaN-length pairs under eps/2 should be edges: $interior")
  }

  test("paramsFrom: reference param-table shapes load; null rows dropped") {
    val refShape = Seq(("00001", Some(0.5), Some(2)), ("00002", Some(0.3), Some(2)),
        ("00003", None: Option[Double], Some(2)))
      .toDF("new_linenumber", "eps", "min_samples")
    val m = TrajectoryClustering.paramsFrom(refShape)
    assert(m == Map(
      "00001" -> TrajectoryClustering.Params(0.5, 2),
      "00002" -> TrajectoryClustering.Params(0.3, 2)))
    // load-site column name works too
    val alt = Seq(("L1", 1.5, 3)).toDF("linenumber", "eps", "min_samples")
    assert(TrajectoryClustering.paramsFrom(alt) ==
      Map("L1" -> TrajectoryClustering.Params(1.5, 3)))
  }

  test("stage 3: blind zones graded on clustered output") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    val clustered = TrajectoryClustering.run(pats, params)
    val out = BlindZone.run(clustered)
    assert(out.count() > 0)
    val signals = out.filter($"signal".isNotNull).select($"signal")
      .as[Double].collect().toSet
    assert(signals.subsetOf(Set(0.5, 0.75, 1.0)), s"signals=$signals")
  }

  test("cost-balanced repartition keeps all rows") {
    val pats = PatternExtraction.run(fleet, Some(termini))
    val costs = pats.groupBy($"linenumber")
      .agg((countDistinct($"id") * countDistinct($"patternID")).cast("double").as("cost"))
    val before = pats.count()
    val binned = Balance.costBalancedRepartition(pats, "linenumber", costs, targetBins = 2)
    assert(binned.count() == before)
    assert(binned.columns.contains("_bin"))
  }

  test("stage 2: sorted-shuffle line rows equal the typed assembly's on the sf0.01 fleet") {
    // the collect_list assembly and typed Dataset line rows that stage 2
    // used before its sorted line shuffle: roster order and summaries
    // must be bit-identical
    val pats = PatternExtraction.run(
      graft.queries.Pipeline.syntheticFleet(spark, sf001), busLine = None,
      cfg = PatternExtraction.Config(qualify = false))
    val lines = (0 until 8).map(i => s"L$i").toSet
    val reference = pats
      .groupBy($"linenumber", $"id", $"patternID".cast("string").as("patternID"))
      .agg(array_sort(collect_list(struct($"t", $"lng", $"lat"))).as("_tpts"))
      .select($"linenumber".cast("string"), $"id".cast("string"), $"patternID",
        transform($"_tpts", p => p.getField("lng").cast("double")),
        transform($"_tpts", p => p.getField("lat").cast("double")))
      .as[(String, String, String, Array[Double], Array[Double])]
      .filter(r => lines.contains(r._1))
      .map { case (line, id, pid, lngs, lats) =>
        val pts = lngs.indices.map(k => TrajectoryDistance.P(lngs(k), lats(k)))
        (line, id, pid, Array(pts.head.lng, pts.head.lat,
          pts.last.lng, pts.last.lat, TrajectoryDistance.lengthKm(pts)))
      }
      .groupByKey(_._1)
      .mapGroups { (line, it) =>
        import org.apache.spark.unsafe.types.UTF8String
        def utf8(x: String, y: String): Int =
          if (x == null || y == null) java.lang.Boolean.compare(x != null, y != null)
          else UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
        val rows = it.toArray.sortWith { (a, b) =>
          val c = utf8(a._2, b._2)
          (if (c != 0) c else utf8(a._3, b._3)) < 0
        }
        (line, rows.map(_._2), rows.map(_._3), rows.flatMap(_._4))
      }
      .collect().sortBy(_._1)
    val params = lines.map(_ -> TrajectoryClustering.Params(5.0, 2)).toMap
    val rows = TrajectoryClustering
      .lineRows(pats, spark.sparkContext.broadcast(params), numParts = 4)
      .collect().sortBy(_._1)
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(rows.map(_._1).toSeq == reference.map(_._1).toSeq && rows.length == 8)
    rows.zip(reference).foreach { case (r, ref) =>
      assert(r._2.toSeq == ref._2.toSeq && r._3.toSeq == ref._3.toSeq,
        s"${r._1}: roster order differs")
      assert(bits(r._4) == bits(ref._4), s"${r._1}: summaries differ")
    }
  }
}
