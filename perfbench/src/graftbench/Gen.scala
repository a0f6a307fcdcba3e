package graftbench

import java.util.SplittableRandom

/** One job posting: the reference notebook's table row (cell 5). */
final case class Job(id: Long, company: String, title: String, day: Int,
                     desc: String, rev: Int) {
  /** Logical size of the row as a user counts it: the key, the text
    * columns' UTF-8 bytes, the two ints and the 384-float embedding.
    */
  def userBytes(dim: Int): Long =
    8L + company.length + title.length + 4 + desc.length + 4 + 4L * dim
}

/** A hybrid-search predicate, as SQL text for the TVF and as a Scala
  * test the harness applies to every returned row.
  */
final case class Pred(sql: String, test: Job => Boolean)

/** Seeded input generator. Everything the benchmark feeds the program
  * (rows, update batches, query texts, predicates) comes from here, so
  * one seed gives the same inputs on every run and every commit.
  */
final class Gen(seed: Long) {
  private def stream(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  val titles: Array[String] = Array(
    "data engineer", "ml engineer", "backend developer", "frontend developer",
    "site reliability engineer", "data scientist", "product manager",
    "security analyst", "database administrator", "mobile developer",
    "qa engineer", "devops engineer", "research scientist", "solutions architect",
    "technical writer", "support engineer", "analytics engineer",
    "platform engineer", "embedded engineer", "network engineer",
    "game developer", "ux designer", "sales engineer", "compiler engineer")

  val companies: Array[String] = Array.tabulate(200)(i => f"company_$i%03d")

  private val vocabRnd = stream(1)
  private val syll = Array("ka", "lo", "mi", "tra", "ven", "sol", "dex", "qui",
    "ra", "bor", "zen", "pha", "tur", "mo", "lin", "gra", "sie", "ux", "nor", "pel")
  private def word(r: SplittableRandom): String =
    Array.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.length))).mkString

  /** Shared words every description draws from, then 40 words per title. */
  private val common: Array[String] = Array.fill(150)(word(vocabRnd))
  private val vocab: Array[Array[String]] =
    titles.map(_ => Array.fill(40)(word(vocabRnd)))

  /** Zipf(1.1) over the companies: a few hot ones, a long tail. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(companies.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private def company(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    companies(math.min(companies.length - 1, if (i >= 0) i else -i - 1))
  }

  private def words(r: SplittableRandom, t: Int, n: Int): Seq[String] =
    Seq.fill(n)(if (r.nextInt(4) == 0) common(r.nextInt(common.length))
                else vocab(t)(r.nextInt(vocab(t).length)))

  /** A posting. The `ref` token makes every (id, rev) text unique, so a
    * just-written row is its own exact nearest neighbour.
    */
  def job(r: SplittableRandom, id: Long, rev: Int): Job = {
    val t = r.nextInt(titles.length)
    val desc = (words(r, t, 12 + r.nextInt(9)) :+ s"ref${id}x$rev").mkString(" ")
    Job(id, company(r), titles(t), r.nextInt(365), desc, rev)
  }

  def corpus(n: Int): Array[Job] = {
    val r = stream(2)
    Array.tabulate(n)(i => job(r, i.toLong, 0))
  }

  /** Query texts: a few words from one title's vocabulary. */
  def queries(n: Int): Array[String] = {
    val r = stream(3)
    Array.fill(n) { val t = r.nextInt(titles.length); words(r, t, 6 + r.nextInt(5)).mkString(" ") }
  }

  /** Selective hybrid predicates: one company, <= 10 000 matches, so
    * the index probe takes its exact brute-force leg.
    */
  def selective(n: Int): Array[Pred] = {
    val r = stream(4)
    Array.fill(n) { val c = companies(r.nextInt(40)); Pred(s"company = '$c'", _.company == c) }
  }

  /** Broad hybrid predicates: a posting-day range covering at least
    * 11 000 rows when the table has more, so the filter is pushed into
    * the cell scan.
    */
  def ranges(n: Int, rows: Int): Array[Pred] = {
    val r = stream(6)
    val maxDay = math.max(0, (365 * (1.0 - 11000.0 / rows)).toInt)
    Array.fill(n) { val d = r.nextInt(maxDay + 1); Pred(s"posted_day >= $d", _.day >= d) }
  }

  /** Ingest batches: half updates of distinct corpus keys (ids below
    * `firstNewId`; a new revision with new text), half brand-new keys.
    */
  final class Batches(firstNewId: Long, batch: Int) {
    private val r = stream(5)
    private var next = firstNewId
    private var rev = 0
    def apply(): Array[Job] = {
      rev += 1
      val upd = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (upd.size < batch / 2) upd += r.nextLong(firstNewId)
      val fresh = (0 until batch - batch / 2).map(i => next + i)
      next += fresh.size
      (upd.toSeq ++ fresh).map(id => job(r, id, rev)).toArray
    }
  }
}
