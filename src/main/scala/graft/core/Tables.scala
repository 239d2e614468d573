package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md). */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** [[load]] plus a SCALE-ADAPTIVE SPREAD for CPU-heavy scan-side work
    * (optimization guide §2.2/§6.1): parquet splits are byte-ranged, so a
    * table whose files total less than cores × maxPartitionBytes scans as
    * fewer tasks than cores — at bench scale documents.parquet is ONE
    * small file, ONE task, and every scan-fused heavy loop (codec
    * synth/decode, tokenize+shingle, BPE encode) ran serially: measured
    * wall ≈ process-CPU on mm_audio_* (30 s at 10×), text_bpe_apply_trained,
    * dedup_ngram_hashed. When (and only when) the planned scan parallelism
    * falls below the session's default parallelism, round-robin
    * repartition to exactly default parallelism — the shuffle moves the
    * compact pre-decode rows (ids + text, KBs here), never synthesized
    * payloads or decoded samples. At production scale the same input is
    * thousands of splits, the condition is false, and the plan is
    * UNCHANGED — no repartition constant is tuned to either environment
    * (both sides of the comparison come from the session conf). Row
    * content is untouched; every consumer is aggregation- or
    * per-row-deterministic downstream (the partition-id two-phase ranks
    * all re-repartitionByRange explicitly first). */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    // listed fresh per call, NOT memoized (r12 ADVICE: a JVM-lifetime
    // byte cache keyed on path silently reused a stale size when a
    // corpus was regenerated in-place within one JVM); the listing is
    // one FS metadata call, the same work the scan's FileIndex performs
    val hp = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hp).getLength
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val scanTasks = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    val want = spark.sparkContext.defaultParallelism
    if (scanTasks < want) df.repartition(want) else df
  }

  /** Exact integer-microsecond view of an event-time column, adaptive to
    * how the source stored it — the corpus generations differ:
    *  - TIMESTAMP_NTZ / TIMESTAMP(µs) parquet (current testdata):
    *    `unix_micros` after an NTZ→TS cast, exact because the session
    *    timezone is pinned to UTC ([[Sessions.local]]), matching DuckDB's
    *    `epoch_us(ts)` on the same naive value;
    *  - raw nanosecond BIGINT (TIMESTAMP(NANOS) sources Spark surfaces as
    *    LongType, and the `graft.Cli scaleup` probe corpora): `div 1000`
    *    truncates ns→µs exactly as DuckDB's `epoch_us` does.
    * Every µs is representable in both paths, so the two generations hash
    * identically through the oracle gate. */
  def tsMicros(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case LongType          => expr(s"$c div 1000")
    case TimestampNTZType  => unix_micros(col(c).cast(TimestampType))
    case TimestampType     => unix_micros(col(c))
    case other => throw new IllegalArgumentException(
      s"unsupported event-time type for column $c: $other")
  }

  /** `events` with `ts_us` = exact integer microseconds (see [[tsMicros]]). */
  def eventsTsUs(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.withColumn("ts_us", tsMicros(raw, "ts"))
  }
}
