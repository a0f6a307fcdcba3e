package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraftTable
import java.nio.file.Files

/** The filtered-search leg picked from commit-time row counts must be
  * the leg the exact count picks, for every predicate: many seeded
  * predicates (=, IN, <, <=, >, >=, BETWEEN, AND) over int, long,
  * double (NaN, ±0.0), date, timestamp and string columns with nulls go
  * through [[GraftTable.metadataMatchCount]] and through the counted
  * path, and every recorded bound must hold: lo ≤ exact count ≤ hi.
  */
class MatchBoundsSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType), StructField("g", IntegerType),
    StructField("l", LongType), StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("s", StringType),
    StructField("v", ArrayType(FloatType))))

  private val days = Seq("2024-01-01", "2024-01-02", "2024-02-29", "2023-12-31", "1999-06-15")
    .map(java.sql.Date.valueOf)
  private val words = Seq("alpha", "beta", "gamma", "delta", "", "épée", "zeta")

  /** Row `k` of revision `rev`: low-cardinality columns (listed per
    * file), a Zipf-like hot column `g` past the list cap (mode only),
    * wide numerics (bins), nulls in every column, NaN and ±0.0 in `d`.
    */
  private def row(k: Long, rev: Int): Row = {
    val r = new scala.util.Random(k * 31 + rev)
    def maybe[T](p: Double)(t: => T): Any = if (r.nextDouble() < p) null else t
    Row(k,
      maybe(0.1)(r.nextInt(9) - 3),
      maybe(0.05)(math.min(199, (math.abs(r.nextGaussian()) * 40).toInt)),
      maybe(0.05)(k * 1000003L - 500000000L + rev),
      maybe(0.1)(r.nextInt(12) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 => 1.5
        case _ => r.nextGaussian() * 100
      }),
      maybe(0.1)(if (r.nextBoolean()) days(r.nextInt(days.size))
                 else java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(r.nextInt(2000)))),
      maybe(0.1)(new java.sql.Timestamp(1600000000000L + r.nextInt(400) * 3600000L)),
      maybe(0.1)(if (rev > 0 && r.nextInt(5) == 0) s"w${r.nextInt(400)}" else words(r.nextInt(words.size))),
      // null vectors only in the rewrite's files: the create's files
      // prove zero null vectors, so they feed the lower bounds too
      if (rev == 1 && k % 7 == 0) null else Seq(r.nextFloat(), r.nextFloat()))
  }

  private def frame(keys: Seq[Long], rev: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(keys.map(row(_, rev)), 4), schema)

  /** Seeded predicates over the table's columns, with values drawn from
    * the data and from outside it.
    */
  private def preds(seed: Long, n: Int, extra: Boolean): Seq[(String, Column)] = {
    val r = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def value(c: String): Any = c match {
      case "i" => r.nextInt(11) - 4
      case "g" => pick(Seq(0, 1, 2, 5, 17, 40, 80, 150, 199, 250))
      case "l" => r.nextInt(800).toLong * 1000003L - 500000000L + pick(Seq(0L, 1L, -1L))
      case "d" => pick(Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, 50.0, -120.25, 1e300,
        Double.PositiveInfinity, r.nextGaussian() * 100))
      case "dt" => pick(days :+ java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(r.nextInt(2100) - 50)))
      case "ts" => new java.sql.Timestamp(1600000000000L + (r.nextInt(420) - 10) * 3600000L)
      case "s" => pick(words ++ Seq("omega", "w7", "w399", "beta2"))
      case "extra" => r.nextInt(30) - 5
    }
    def one(): (String, Column) = {
      val c = pick(Seq("i", "g", "l", "d", "dt", "ts", "s") ++ (if (extra) Seq("extra") else Nil))
      val a = value(c)
      pick(Seq("=", "in", "<", "<=", ">", ">=", "between")) match {
        case "=" => (s"$c = $a", col(c) === lit(a))
        case "in" =>
          val vs = Seq(a, value(c), value(c))
          (s"$c in ${vs.mkString(",")}", col(c).isin(vs: _*))
        case "<" => (s"$c < $a", col(c) < lit(a))
        case "<=" => (s"$c <= $a", col(c) <= lit(a))
        case ">" => (s"$c > $a", col(c) > lit(a))
        case ">=" => (s"$c >= $a", col(c) >= lit(a))
        case _ =>
          val b = value(c)
          (s"$c between $a and $b", col(c).between(lit(a), lit(b)))
      }
    }
    Seq.fill(n) {
      if (r.nextInt(4) == 0) { val (x, p) = one(); val (y, q) = one(); (s"$x AND $y", p && q) }
      else one()
    }
  }

  private def legOf(n: Long, brute: Long, accept: Long): String =
    if (n <= brute) "brute" else if (n <= accept) "walk" else "post"

  /** Drives every pred through both paths at version `v`; returns how
    * many (pred, caps) cases the metadata decided without the count.
    */
  private def check(path: String, ps: Seq[(String, Column)], expectBounds: Boolean): Int = {
    val v = GraftTable.latestVersion(path)
    val table = GraftTable.read(spark, path, v).filter(col("v").isNotNull)
    // every exact count in ONE job
    val exact = table.agg(count(lit(1)), ps.map { case (_, p) =>
        sum(when(p, 1L).otherwise(0L)) }: _*)
      .head().toSeq.map(x => if (x == null) 0L else x.asInstanceOf[Long])
    val rows = exact.head
    val sc = GraftTable.snapshot(path, v).schema.get
    var decided = 0
    ps.zip(exact.tail).foreach { case ((what, p), n) =>
      val (filters, complete) = org.apache.spark.sql.graftshim.Bridge
        .translateFiltersWithCompleteness(
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sc), p)
      val (lo, hi) = GraftTable.matchBounds(GraftTable.snapshot(path, v), filters, complete, Seq("v"))
      withClue(s"[$what] exact $n, bounds ($lo, $hi): ") {
        // a pred the optimizer folds away leaves no filter to bound
        if (expectBounds && filters.nonEmpty) hi should not be empty
        hi.foreach(h => n should be <= h)
        lo.foreach(l => l should be <= n)
      }
      val caps = Seq((n - 1, n - 1), (n, n), (n, n + 1), (n - 1, n), (n + 1, n + 1),
        (n / 2, n * 2 + 1), (0L, rows), (rows, rows))
        .map { case (b, a) => (math.max(0L, b), math.max(math.max(0L, b), a)) }
      caps.foreach { case (brute, accept) =>
        var counted = false
        val got = GraftTable.metadataMatchCount(spark, GraftTable.snapshot(path, v), p, Seq("v"),
          brute, accept) { counted = true; n }
        if (!counted) decided += 1
        withClue(s"[$what] caps ($brute, $accept), exact $n, metadata said $got: ") {
          legOf(got, brute, accept) shouldBe legOf(n, brute, accept)
        }
      }
    }
    decided
  }

  private def table(): String = {
    val path = Files.createTempDirectory("graft_bounds").toString + "/t"
    GraftTable.create(frame(0L until 800L, 0), path, Seq("k"), nbuckets = 4)
    // a partial rewrite: small files with few distinct values beside the
    // carried ones
    GraftTable.upsert(spark, path, frame((0L until 800L by 37) ++ (800L until 840L), 1))
    path
  }

  test("metadata legs == counted legs on a COW table, with lo <= count <= hi") {
    val path = table()
    val stats = GraftTable.snapshot(path, GraftTable.latestVersion(path)).fileStats
    // the counts are recorded: listed columns, and bins for the numerics
    stats.values.forall(_.cols("i").counts.exists(_.list.isDefined)) shouldBe true
    stats.values.exists(_.cols("l").counts.exists(_.bins.isDefined)) shouldBe true
    val decided = check(path, preds(7L, 240, extra = false), expectBounds = true)
    // the metadata decides most cases outright
    decided should be > 300
  }

  test("metadata legs == counted legs when the stats pass splits each file across tasks") {
    // many small row groups per file, and one scan split per row group:
    // every file's counts are merged from several partial aggregates
    val tiny = Seq("parquet.block.size" -> "1024", "parquet.block.size.row.check.min" -> "20",
      "parquet.block.size.row.check.max" -> "20", "spark.sql.files.maxPartitionBytes" -> "1024")
    tiny.foreach { case (k, x) => spark.conf.set(k, x) }
    val path =
      try table()
      finally tiny.foreach { case (k, _) => spark.conf.unset(k) }
    val files = GraftTable.snapshot(path, GraftTable.latestVersion(path)).fileStats.keys
    val groups = files.map { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/$rel"), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRowGroups.size finally reader.close()
    }
    groups.max should be > 1
    check(path, preds(17L, 160, extra = false), expectBounds = true)
  }

  test("metadata legs == counted legs after additive schema evolution") {
    val path = table()
    GraftTable.addColumns(spark, path, Seq(StructField("extra", IntegerType)))
    GraftTable.upsert(spark, path, frame(900L until 960L, 2)
      .withColumn("extra", (col("k") % 17).cast("int")))
    check(path, preds(11L, 160, extra = true), expectBounds = true)
  }

  test("MOR deltas and deletion vectors fall back to the count") {
    val path = table()
    GraftTable.upsertMor(spark, path, frame(Seq(3L, 5L, 2000L), 3))
    GraftTable.deleteMor(spark, path, spark.range(10, 14).toDF("k"))
    val ps = preds(13L, 40, extra = false)
    check(path, ps, expectBounds = false) shouldBe 0
  }
}
