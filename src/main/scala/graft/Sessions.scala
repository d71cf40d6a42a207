package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration of the mains (Bench, Verify, Smoke,
  * TimeQ, PlanDump, ScaleStress) and of `slicer`, so the served session is
  * the benchmarked one. A caller adds its own extras before `getOrCreate`. */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // pinned: without it a session outside sbt would bucket calendar
      // extractions in the host time zone, unlike the verified workload
      .config("spark.sql.session.timeZone", "UTC")
      // r13: route small-R no-map-side-agg shuffles through
      // the sort writer (ONE output file per map task) instead of the
      // bypass-merge writer (R files per map task + an NIO concat). On
      // containerized/overlay filesystems file creation is expensive and
      // thread dumps showed executor workers pinned in FileChannel
      // map/transferTo; measured 3-5× task-time drop on join-heavy
      // queries (q374 213→51 CPU-s, q330 37→11, q369 51→10). Scale-
      // neutral: production shuffles have R > 200 and never took the
      // bypass path anyway. Env-overridable for A/B.
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "1"))
      // r13: the JVM-wide whole-stage-codegen class cache defaults to 100
      // entries — a 387-query catalog (and per-round literal variants in
      // the iterative ops) thrashes it, so executor tasks re-run Janino
      // per stage (thread dumps showed workers pinned in
      // UnitCompiler.compile; q359 task time 58→17 s with the raise).
      // ~10k entries covers the catalog across bench passes; class
      // metadata cost is ~100-250 MB, fine for any long-lived executor.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")

  /** `local[cpus]` with one shuffle partition per core. */
  def local(cpus: String): SparkSession.Builder = builder(s"local[$cpus]", cpus)
}
