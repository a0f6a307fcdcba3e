package graft
import org.apache.spark.sql.SparkSession

/** The one local session every main runs under (Bench, JobProfile,
  * Verify, Plans, Audit, Probe), so plan evidence is captured under the
  * same config the board times: `local[SPARK_GRAFT_CPUS]` (default
  * min(32, cores)), as many shuffle partitions as cores, UTC, the graft
  * SQL extensions, no UI.
  */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // ContextCleaner frees broadcasts/localCheckpoint blocks only when
      // the JVM GCs, and a 128 GiB heap almost never does on its own —
      // Spark's own escape hatch is this periodic forced GC (default
      // 30 min: ONE tick in a 44-min board). 3 min keeps the cleaner
      // draining, so late-board rows don't pay earlier rows' block/
      // broadcast debt (measured r13: dedup_incremental_minhash_build
      // 28.6 s at board position ~40 vs 3.8 s targeted, quiet host both).
      .config("spark.cleaner.periodicGC.interval", "3min")
      .getOrCreate()
  }
}
