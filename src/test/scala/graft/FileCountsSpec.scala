package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.FileCounts

/** The per-file counts aggregate must not depend on how a file's rows
  * were split into partial aggregates (a file read by several scan
  * tasks, or a sort-based aggregate fallback): partial buffers, each
  * round-tripped through the wire format or not, merged in any order,
  * render exactly what one pass over all the rows renders — and that
  * rendering holds the true counts.
  */
class FileCountsSpec extends AnyFunSuite with Matchers {

  private def buf(xs: Seq[Double]): FileCounts.Buf = {
    val b = new FileCounts.Buf
    xs.foreach(x => b.add(UTF8String.fromString(x.toString), x))
    b
  }

  /** Values split into `parts` random partials, some shipped through the
    * wire format, merged pairwise in a random order.
    */
  private def merged(xs: Seq[Double], parts: Int, r: scala.util.Random): FileCounts.Buf = {
    val groups = xs.groupBy(_ => r.nextInt(parts)).values.toSeq
    var bufs = (groups ++ Seq.fill(r.nextInt(2))(Nil)).map { g =>
      val b = buf(r.shuffle(g))
      if (r.nextBoolean()) FileCounts.readBuf(b.bytes) else b
    }.toVector
    while (bufs.size > 1) {
      val i = r.nextInt(bufs.size)
      val a = bufs(i)
      val rest = bufs.patch(i, Nil, 1)
      val j = r.nextInt(rest.size)
      bufs = rest.updated(j, if (r.nextBoolean()) a.merge(rest(j)) else rest(j).merge(a))
    }
    bufs.head
  }

  private def values(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    val n = 20 + r.nextInt(400)
    val shape = seed % 6
    Seq.fill(n) {
      shape match {
        case 0 => (r.nextGaussian() * 1e12).floor // wide, both signs
        case 1 => r.nextInt(40) - 20.0 // few small integers
        case 2 => Double.MinPositiveValue * (r.nextInt(2000) - 1000) // subnormals
        case 3 => 1e6 + r.nextDouble() // narrow and fractional
        case 4 => r.nextInt(4) match { // zeros beside far values
          case 0 => -0.0
          case 1 => 0.0
          case 2 => -3e15 + r.nextInt(100)
          case _ => r.nextDouble() * 1e-3
        }
        case _ => (r.nextLong() >> r.nextInt(63)).toDouble // every magnitude
      }
    }
  }

  test("partial buffers merge to the single-pass counts in any order") {
    (0 until 120).foreach { seed =>
      val xs = values(seed)
      val r = new scala.util.Random(seed * 7919L)
      val once = buf(xs).render
      val Array(vs, bs) = once.split("\t")
      val c = FileCounts.parse(vs, bs).get
      // the bins hold every value's row at ⌊x / 2^e⌋
      val b = c.bins.get
      val want = xs.groupBy(FileCounts.binOf(_, b.e) - b.base).map { case (i, g) => i -> g.size.toLong }
      want.keys.foreach(i => (i >= 0 && i < FileCounts.NBins) shouldBe true)
      b.counts.zipWithIndex.foreach { case (n, i) => n shouldBe want.getOrElse(i.toLong, 0L) }
      // and the mode bounds every value's rows
      val trueMax = xs.groupBy(_.toString).values.map(_.size.toLong).max
      c.mode should be >= trueMax
      (1 to 4).foreach { _ =>
        withClue(s"seed $seed: ") { merged(xs, 2 + r.nextInt(6), r).render shouldBe once }
      }
    }
  }

  test("past the tracked distinct values the mode still bounds every value's rows") {
    val r = new scala.util.Random(5)
    // 331 distinct values; 0.5 is the hot one
    val distinct = (0 until 330).map(_ + 0.25)
    val hot = Seq.fill(60)(0.5)
    val xs = r.shuffle(distinct ++ hot)
    val counts = xs.groupBy(identity).values.map(_.size.toLong)
    def mode(b: FileCounts.Buf): Long = {
      val Array(vs, bs) = b.render.split("\t")
      FileCounts.parse(vs, bs).get.mode
    }
    // 301 distinct values and 31
    val (over, under) = (distinct.take(300) ++ hot.take(30), distinct.drop(300) ++ hot.drop(30))
    val cases = Seq(
      "one pass" -> buf(xs),
      "over + under" -> buf(over).merge(buf(under)),
      "under + over" -> buf(under).merge(FileCounts.readBuf(buf(over).bytes)),
      // two partials under the tracked values, their union over
      "under + under" -> buf(distinct.take(200) ++ hot.take(30)).merge(buf(distinct.drop(200) ++ hot.drop(30))),
      "random" -> merged(xs, 5, r))
    cases.foreach { case (what, b) =>
      withClue(s"$what: ") {
        counts.foreach(n => mode(b) should be >= n)
        mode(b) shouldBe xs.size.toLong // no bound past the tracked values but the rows
      }
    }
    // at or under the tracked values the mode is exact, however merged
    val few = r.shuffle((0 until 200).map(_ + 0.25) ++ Seq.fill(9)(0.5))
    mode(merged(few, 4, r)) shouldBe 9L
  }
}
