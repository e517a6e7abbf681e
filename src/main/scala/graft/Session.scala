package graft

import org.apache.spark.sql.SparkSession

/** The confs every graft session is deployed with. `Bench`, `Verify`,
  * `PlanAudit`, `Smoke`, the test suite and `PerfProbe` all build their
  * session from here.
  */
object Session {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // legacy nanos-era fixture support; Tables.load adapts per era
      .config("spark.ui.enabled", "false")
      // Codegen class cache sized to the registry (round 17). The default
      // `spark.sql.codegen.cache.maxEntries` is 100, and this registry
      // generates ~4.5k unique codegen units per full pass — the cache
      // thrashed, so EVERY pass re-ran Janino on ~2.8k units (~40 s of
      // serial driver-side compile per pass, measured via
      // CodegenMetrics.METRIC_COMPILATION_TIME in `PerfProbe passes`:
      // pass 1 = 4493 compiles, passes 2-4 = 2778/2777/2778 at cache=100)
      // AND every pass's generated classes were fresh to the JIT, which is
      // why sessions kept "warming" for 5+ full passes and defeated every
      // pass-level A/B. The test suite, which runs thousands of codegen
      // units in one shared session, measured the same thrash (suite wall
      // 1258 → 956 s in round 18). With the cache sized above the working
      // set, warm passes compile ~nothing and reuse JIT-hot classes. This
      // is an honest fixed-capacity sizing (a production session running
      // a 245-query workload would be configured the same way); it is a
      // STATIC conf, so it must be set here at session build.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
}
