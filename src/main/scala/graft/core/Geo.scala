package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial scalar math.
  *
  * The reference ships three divergent haversine copies
  * (`Parallel/Pattern Extraction.scala:56`, `Standalone/Blind Zone
  * Detection.scala:33`, `Standalone/Trajectory Clustering.py:58`) — all as
  * UDFs, which are opaque to Catalyst codegen. Here haversine has two
  * forms, one formula:
  *  - [[haversineMeters]], a Column composition of built-in functions, for
  *    DataFrame plans: it inlines into whole-stage codegen with no boxing
  *    and no serialization, where a UDF would do both per row;
  *  - [[haversineM]], plain Scala on doubles, for the row-at-a-time paths
  *    (trajectory distance, DBSCAN neighbourhoods) and as the scalar
  *    reference the tests hold the Column form to.
  *
  * Plans call the Column form directly; nothing is registered for SQL
  * text.
  */
object Geo {

  /** Mean Earth radius in meters (reference uses 6371000 / 6371e3). */
  val EarthRadiusM: Double = 6371000.0

  /** Great-circle distance in meters, as a codegen-friendly Column. */
  def haversineMeters(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLng = radians(lng2 - lng1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLng / 2), 2)
    // clamp: fp rounding can push a slightly above 1
    lit(2 * EarthRadiusM) * asin(least(lit(1.0), sqrt(a)))
  }

  /** Scalar twin of [[haversineMeters]] for per-row Scala code paths
    * (trajectory distance, DBSCAN neighborhoods). */
  def haversineM(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLng = math.toRadians(lng2 - lng1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLng / 2), 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
