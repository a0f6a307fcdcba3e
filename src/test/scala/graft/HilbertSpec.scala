package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThan
import graft.functions.Hilbert
import graft.sources.GraftTable
import java.nio.file.Files

/** Hilbert-curve clustering: the encode must BE a Hilbert curve (a
  * Hamiltonian path on the grid whose consecutive cells are unit
  * neighbors — checked exhaustively, not trusted), the expression must
  * refuse bad inputs loudly, and the end-to-end layout must beat
  * z-order's rollover-polluted file spans on the same data.
  */
class HilbertSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  /** all coordinate tuples of an n-dim grid with 2^bits per side */
  private def grid(n: Int, bits: Int): Seq[Array[Long]] = {
    val side = 1L << bits
    (0 until n).foldLeft(Seq(Array.empty[Long])) { (acc, _) =>
      acc.flatMap(prefix => (0L until side).map(v => prefix :+ v))
    }
  }

  test("encode is a Hamiltonian unit-step path on the full grid (exhaustive, 2D and 3D)") {
    for ((n, bits) <- Seq((2, 3), (3, 2), (2, 4))) {
      val cells = grid(n, bits)
      val indexed = cells.map(c => (Hilbert.encode(c.clone(), bits), c))
      // bijective onto [0, 2^(n*bits))
      indexed.map(_._1).sorted shouldBe (0L until (1L << (n * bits)))
      // CONTINUOUS: consecutive cells along the curve differ by exactly
      // one step in exactly one dimension — the property the z-curve
      // lacks at rollovers, and the whole reason hilbert files don't
      // inherit smeared min/max spans
      val path = indexed.sortBy(_._1).map(_._2)
      path.sliding(2).foreach { case Seq(a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.sum shouldBe 1L
      }
    }
  }

  test("the expression equals the direct encode through codegen, and refuses bad input") {
    val rows = (0L until 512L).map { i =>
      (i, Seq(i % 8, (i / 8) % 8, (i / 64) % 8))
    }
    val got = rows.toDF("i", "coords")
      .select(col("i"), org.apache.spark.sql.graftshim.Bridge.column(
        graft.functions.HilbertIndex(
          org.apache.spark.sql.graftshim.Bridge.expression(col("coords")), 3)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (i, c) =>
      got(i) shouldBe Hilbert.encode(c.toArray, 3)
    }
    // out-of-range coordinate: loud, never a silently-masked wrong cell
    val e = intercept[Exception] {
      Seq(Seq(9L, 0L)).toDF("coords")
        .select(org.apache.spark.sql.graftshim.Bridge.column(
          graft.functions.HilbertIndex(
            org.apache.spark.sql.graftshim.Bridge.expression(col("coords")), 3)))
        .collect()
    }
    e.getMessage should include("outside")
  }

  test("hilbert-clustered compaction prunes on every dimension with TIGHTER file spans than z-order") {
    def mk(curve: String): String = {
      val path = Files.createTempDirectory(s"graft_h_$curve").toString + "/t"
      val df = spark.range(0, 8192).toDF("k")
        .withColumn("x", pmod(col("k") * 2654435761L, lit(1024)))
        .withColumn("y", pmod(col("k") * 40503L, lit(1024)))
        .withColumn("z", pmod(col("k") * 97L, lit(1024)))
      GraftTable.create(df, path, Seq("k"), nbuckets = 2)
      GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y", "z")),
        targetFilesPerBucket = 64, curve = curve)
      path
    }
    def spanStats(path: String, c: String): Seq[Long] = {
      val v = GraftTable.latestVersion(path)
      GraftTable.snapshot(path, v).fileStats.values.toSeq
        .flatMap(st => st.cols.get(c))
        .map(p => p.max.get.toLong - p.min.get.toLong).sorted
    }
    val hp = mk("hilbert"); val zp = mk("zorder")
    // both layouts prune all three dims
    Seq(hp, zp).foreach { p =>
      val v = GraftTable.latestVersion(p)
      Seq("x", "y", "z").foreach { c =>
        val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(p, v), Seq(LessThan(c, 64)))
        withClue(s"$p $c: $kept/$total") { kept should be < total }
      }
      // pruned read == full read
      val pruned = GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(p, v), Seq(LessThan("x", 64))).get
      pruned.filter(col("x") < 64).agg(sum("k")).collect() shouldBe
        GraftTable.read(spark, p, v).filter(col("x") < 64).agg(sum("k")).collect()
    }
    // the headline: z's rollover pollution lives in the TAIL — files
    // straddling a high rollover smear toward full-range spans, which
    // hilbert's continuity rules out by construction. Medians can tie
    // (both curves quarter each dim when aligned), so the assertion is
    // the aggregate tail: summed over the three dims, hilbert's p90
    // and total span mass must be strictly below z-order's.
    def agg(path: String)(pick: Seq[Long] => Long): Long =
      Seq("x", "y", "z").map(c => pick(spanStats(path, c))).sum
    val (h90, z90) = (agg(hp)(s => s((s.size * 9) / 10)), agg(zp)(s => s((s.size * 9) / 10)))
    val (hSum, zSum) = (agg(hp)(_.sum), agg(zp)(_.sum))
    withClue(s"p90 sums: hilbert $h90 vs zorder $z90; span mass $hSum vs $zSum") {
      h90 should be < z90
      hSum should be < zSum
    }
  }
}
