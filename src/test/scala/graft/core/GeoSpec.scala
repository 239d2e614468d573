package graft.core

import scala.util.Random

import graft.SparkSpec

class GeoSpec extends SparkSpec {

  // seeded property-style sampling (scalatestplus bridge not available in
  // the offline cache, so plain deterministic loops)
  private val rnd = new Random(42)
  private def lat() = rnd.nextDouble() * 178 - 89
  private def lng() = rnd.nextDouble() * 358 - 179

  test("zero distance to self") {
    (1 to 200).foreach { _ =>
      val (a, b) = (lat(), lng())
      assert(Geo.haversineM(a, b, a, b) == 0.0)
    }
  }

  test("symmetry") {
    (1 to 200).foreach { _ =>
      val (a, b, c, d) = (lat(), lng(), lat(), lng())
      assert(math.abs(Geo.haversineM(a, b, c, d) - Geo.haversineM(c, d, a, b)) < 1e-6)
    }
  }

  test("non-negative and bounded by half circumference") {
    (1 to 200).foreach { _ =>
      val m = Geo.haversineM(lat(), lng(), lat(), lng())
      assert(m >= 0.0 && m <= math.Pi * Geo.EarthRadiusM + 1e-6)
    }
  }

  test("known distance: 1 degree of latitude ≈ 111.19 km") {
    val m = Geo.haversineM(22.0, 114.0, 23.0, 114.0)
    assert(math.abs(m - 111194.9) < 100)
  }

  test("column form agrees with scalar form") {
    import sqlImplicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq((22.54, 114.05, 22.60, 114.10), (0.0, 0.0, 1.0, 1.0),
      (-45.0, -170.0, 45.0, 170.0))
    val df = rows.toDF("lat1", "lng1", "lat2", "lng2")
      .withColumn("d", Geo.haversineMeters(col("lat1"), col("lng1"), col("lat2"), col("lng2")))
    val got = df.collect().map(_.getDouble(4))
    rows.zip(got).foreach { case ((a, b, c, d), g) =>
      assert(math.abs(Geo.haversineM(a, b, c, d) - g) < 1e-6)
    }
  }
}
