package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Tables.tsMicros]] — the event-time loader must yield the SAME exact
  * integer microseconds whichever physical type a corpus generation
  * stored: TIMESTAMP(µs)/NTZ (current testdata) or raw nanosecond BIGINT
  * (TIMESTAMP(NANOS) sources surfaced as LongType; `Cli scaleup`-derived
  * probe corpora of that era). The BIGINT branch has no live corpus in
  * this container anymore, so this spec keeps it honest. */
class TablesSpec extends SparkSpec {
  import sqlImplicits._

  test("BIGINT-nanos branch equals the timestamp branch, truncation exact") {
    val dir = java.nio.file.Files.createTempDirectory("tablesspec").toString
    val us = Seq(0L, 1L, 999999L, 1549008000000000L, 1549008000123456L)
    // nanos with sub-µs residue 0..999 — `div 1000` must truncate it away
    us.zipWithIndex.map { case (u, i) => (i.toLong, u * 1000 + (i * 250) % 1000) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.eventsTsUs(spark, dir)
      .orderBy($"event_id").select($"ts_us").as[Long].collect().toSeq
    assert(got == us, s"nanos branch: $got")

    val dir2 = java.nio.file.Files.createTempDirectory("tablesspec2").toString
    us.zipWithIndex.map { case (u, i) => (i.toLong, new java.sql.Timestamp(0)) }
      .toDF("event_id", "ts0")
      .withColumn("ts", timestamp_micros(typedLit(us).getItem($"event_id".cast("int"))))
      .select($"event_id", $"ts")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val got2 = Tables.eventsTsUs(spark, dir2)
      .orderBy($"event_id").select($"ts_us").as[Long].collect().toSeq
    assert(got2 == us, s"timestamp branch: $got2")
  }

  test("unsupported event-time type is rejected loudly") {
    val dir = java.nio.file.Files.createTempDirectory("tablesspec3").toString
    Seq((1L, "not-a-time")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.eventsTsUs(spark, dir))
    assert(e.getMessage.contains("unsupported event-time type"))
  }
}
