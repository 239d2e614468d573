package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("a query that throws is returned as failed; every other dump is written") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok_before" -> ((s, _) => s.range(3).toDF("x")),
      "throws" -> ((_, _) => throw new IllegalStateException("broken query")),
      "ok_after" -> ((s, _) => s.range(5).toDF("x")))
    val failed = Verify.dumpAll(spark, sf0001, out,
      Seq("ok_before", "throws", "ok_after", "not_registered"), queries)
    assert(failed == Seq("throws", "not_registered"))
    assert(spark.read.parquet(s"$out/ok_before").count() == 3)
    assert(spark.read.parquet(s"$out/ok_after").count() == 5)
    assert(!Files.exists(Paths.get(out, "throws")))
  }
}
