package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sbt forks a single
  * test JVM; Spark startup is ~5 s, paid once).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** The bucket a bigint record key `k` hashes into under snapshot
    * `s`'s layout — the writers' own `pmod(xxhash64(k), n)` expression,
    * evaluated on the driver.
    */
  def bucketOf(s: graft.sources.GraftTable.Snapshot, k: Long): Int =
    org.apache.spark.sql.graftshim.Bridge.bucketExprEval(
      Seq(org.apache.spark.sql.types.LongType), s.nbuckets)(
      org.apache.spark.sql.catalyst.InternalRow(k))
}
