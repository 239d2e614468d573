package graft.queries

import graft.SparkSpec
import graft.core.PhaseLog

/** Spark keeps generated classes in one JVM-wide LRU cache. An entry is
  * hit only if fewer than `maxEntries` other classes are touched between
  * two uses of it, so a repeated query set larger than the cache (the
  * default holds 100) recompiles every class on every run. The test
  * session takes the entrypoints' settings (`Sessions.codegenReuse`),
  * so the second run of a set of more than 100 classes must compile
  * nothing. The streaming sinks are left out: a few of their classes are
  * new on every run (NOTES.md). */
class CodegenCacheSpec extends SparkSpec {

  private val names = Seq("pipeline_blindzone", "q1_agg", "agg_rollup",
    "agg_cube", "agg_pivot", "agg_percentile", "win_lag_lead",
    "win_rank_ntile", "win_sessionize", "win_change_points", "q5_multi_join",
    "join_left_outer", "join_theta_pairs", "set_ops", "sql_text_rollup",
    "fn_datetime", "fn_json")

  private def runAll(): Long = {
    val k0 = PhaseLog.codegenCompiles()
    names.foreach(n => graft.SparkEntry.queries(n)(spark, sf0001)
      .write.format("noop").mode("overwrite").save())
    PhaseLog.codegenCompiles() - k0
  }

  test("a repeated query set of more than 100 classes compiles nothing the second time") {
    val first = runAll()
    val second = runAll()
    // in a fresh JVM the first run compiles the whole set; earlier specs
    // sharing the JVM may have compiled part of it already
    info(s"compiles: first run $first, second run $second")
    assert(second == 0L, s"the second run recompiled $second classes")
  }
}
