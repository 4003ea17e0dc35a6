package graft

import org.apache.spark.sql.SparkSession

/** The session the graded mains ([[Verify]], [[Bench]]) and the test
  * suite share: `local[cpus]` with one shuffle partition per core and
  * the engine's native SQL functions installed.
  */
object Session {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // UTC is load-bearing, not cosmetic: Tables.normalizeTs's
      // NTZ→TIMESTAMP cast is instant-preserving only under a UTC session
      // zone, so a non-UTC host would run temporal keys over shifted
      // instants — different rows than the oracle expects (ADVICE r8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // if events.ts ever ships as TIMESTAMP(NANOS) again (it did before
      // round 7), read it as int64 ns instead of erroring;
      // Tables.normalizeTs handles that shape alongside NTZ/TIMESTAMP
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's native SQL functions (dot_product)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
