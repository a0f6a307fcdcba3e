package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-file, per-column ROW COUNTS recorded at commit time beside the
  * min/max/null stats — what lets [[GraftTable.matchBounds]] bound the
  * rows that MATCH a filter in a file, not just the rows of files that
  * may match. Three pieces per (file, column), all over non-null values:
  *
  *  - the mode's count: the largest single-value row count. Exact while
  *    the file holds at most [[Tracked]] distinct values (counted by
  *    64-bit hash of the value's text — a collision can only merge two
  *    values, i.e. over-count); past that, the file's non-null rows.
  *  - the exact value list: every distinct value with its row count,
  *    when the file holds at most [[MaxListed]] of them and none is
  *    longer than [[MaxValueChars]] characters.
  *  - bins (numeric, date and timestamp columns): exact row counts over
  *    at most [[NBins]] equal-width bins aligned to multiples of a
  *    power of two, 2^e, the finest such grid that covers the file's
  *    [min, max]. A value x lives in bin ⌊x / 2^e⌋ — exact integer
  *    arithmetic on the double's bits, so the reader places a filter
  *    value with the very function the writer used, and the map is
  *    monotone: every bin above v's bin holds only values > v, every
  *    bin below only values < v. Aligned power-of-two bins nest, so
  *    partial aggregates merge exactly in any order: the merged grid is
  *    the one a single pass over all the values ends on. A file holding
  *    NaN or ±Infinity records no bins.
  *
  * Collected by [[agg]] inside the existing per-file stats aggregate
  * (no extra job), serialized into two extra tab-separated fields of
  * the column's `#stat=` line (no extra line: the ~100-character file
  * path is not repeated).
  */
private[graft] object FileCounts {
  val MaxListed = 32
  val MaxValueChars = 120
  val NBins = 32
  val Tracked = 256

  /** Bins: `counts(i)` rows live in bin `base + i` of width 2^e. */
  final case class Bins(e: Int, base: Long, counts: Vector[Long])

  /** The recorded counts of one (file, column). `list` = the exact
    * (serialized value, rows) pairs when recorded; `mode` = an upper
    * bound on any single value's rows (exact when listed).
    */
  final case class Counts(list: Option[Vector[(String, Long)]], mode: Long, bins: Option[Bins])

  /** The aggregate over a column's serialized value (`value`, string;
    * null = null row) and its bin key (`key`, double; null = no bins).
    * Evaluates to the two `#stat=` fields "<values>\t<bins>".
    */
  def agg(value: Column, key: Column): Column =
    Bridge.column(CountsAgg(Bridge.expression(value), Bridge.expression(key))
      .toAggregateExpression())

  // ---- bin arithmetic (shared by writer and reader) ----

  /** ⌊x / 2^e⌋ for finite x, exact; saturates far outside a long. */
  def binOf(x: Double, e: Int): Long =
    if (x == 0.0) 0L
    else {
      val bits = java.lang.Double.doubleToRawLongBits(x)
      val exp = ((bits >>> 52) & 0x7ffL).toInt
      val frac = bits & ((1L << 52) - 1)
      val m = if (exp == 0) frac else frac | (1L << 52) // |x| = m · 2^q
      val q = if (exp == 0) -1074 else exp - 1075
      val signed = if (bits < 0) -m else m
      val shift = e.toLong - q
      if (shift >= 63) { if (signed < 0) -1L else 0L }
      else if (shift >= 0) signed >> shift // arithmetic shift = floor
      else if (shift >= -9) signed << -shift
      else if (signed < 0) -(1L << 62) else 1L << 62
    }

  /** The exponent at which a single finite x sits exactly (shift 0). */
  private def exactExp(x: Double): Int =
    if (x == 0.0) -1074
    else {
      val exp = ((java.lang.Double.doubleToRawLongBits(x) >>> 52) & 0x7ffL).toInt
      if (exp == 0) -1074 else exp - 1075
    }

  /** ⌊i / 2^k⌋ for any k ≥ 0 (a JVM shift counts k mod 64). */
  private def shr(i: Long, k: Int): Long = if (k >= 63) { if (i < 0) -1L else 0L } else i >> k

  /** Smallest k ≥ 0 with the index range [lo, hi] inside NBins bins at
    * 2^k-coarser resolution.
    */
  private def widen(lo: Long, hi: Long): Int = {
    var k = 0
    while (shr(hi, k) - shr(lo, k) >= NBins) k += 1
    k
  }

  /** Mutable aggregation state of one (file, column). */
  final class Buf {
    var rows = 0L // non-null rows
    // mode: exact counts by value hash while ≤ Tracked distinct values;
    // past that none are kept and the mode is bounded by `rows`
    var modeOk = true
    val hashes = new scala.collection.mutable.LongMap[Long]()
    // value list while ≤ MaxListed short values
    var listOk = true
    val list = scala.collection.mutable.HashMap.empty[String, Long]
    // bins: 0 = no value yet, 1 = valid, 2 = invalid (non-finite value)
    var binState = 0
    var e = 0
    var base = 0L
    var bins = new Array[Long](NBins)

    /** One non-null row: its serialized value and its bin key (a
      * Double, or null = the column has no bins).
      */
    def add(value: UTF8String, key: Any): Unit = {
      rows += 1
      addHash(XXH64.hashUnsafeBytes(value.getBaseObject, value.getBaseOffset, value.numBytes, 42L), 1L)
      if (listOk) addValue(value.toString, 1L)
      if (key != null) addKey(key.asInstanceOf[Double], 1L)
    }

    private def addHash(h: Long, n: Long): Unit = if (modeOk) {
      hashes.update(h, hashes.getOrElse(h, 0L) + n)
      if (hashes.size > Tracked) { modeOk = false; hashes.clear() }
    }

    private def addValue(s: String, n: Long): Unit = if (listOk) {
      if (s.length > MaxValueChars) { listOk = false; list.clear() }
      else {
        list.update(s, list.getOrElse(s, 0L) + n)
        if (list.size > MaxListed) { listOk = false; list.clear() }
      }
    }

    private def lastBin: Int = { var i = NBins - 1; while (i > 0 && bins(i) == 0L) i -= 1; i }

    /** Coarsen the grid by 2^k, rebased at the first occupied bin. */
    private def coarsen(k: Int): Unit = if (k > 0) {
      val old = bins
      val oldBase = base
      bins = new Array[Long](NBins)
      e += k
      base = shr(oldBase, k)
      var i = 0
      while (i < NBins) {
        if (old(i) != 0L) { val j = shr(oldBase + i, k) - base; bins(j.toInt) += old(i) }
        i += 1
      }
    }

    /** Add n rows at bin index `at` of the current grid, coarsening
      * until the occupied range fits NBins bins.
      */
    private def place(at: Long, n: Long): Unit = {
      val lo = math.min(base, at)
      val hi = math.max(base + lastBin, at)
      val k = widen(lo, hi)
      coarsen(k)
      val idx = shr(at, k)
      if (idx < base) { // rebase down: shift occupied bins up
        val d = (base - idx).toInt
        val old = bins
        bins = new Array[Long](NBins)
        var i = 0
        while (i + d < NBins) { bins(i + d) = old(i); i += 1 }
        base = idx
      }
      bins((idx - base).toInt) += n
    }

    private def addKey(x: Double, n: Long): Unit =
      if (binState != 2) {
        if (x.isNaN || x.isInfinite) { binState = 2; bins = new Array[Long](NBins) }
        else if (binState == 0) {
          binState = 1; e = exactExp(x); base = binOf(x, e); bins(0) = n
        } else {
          // never index below the value's own exactness: keeps ⌊x / 2^e⌋
          // inside a long for every value placed
          if (exactExp(x) > e) coarsen(exactExp(x) - e)
          place(binOf(x, e), n)
        }
      }

    /** Both grids are brought to the finest common one that covers
      * both occupied ranges (each grid is the finest for its own values,
      * so no finer grid covers their union), then added bin by bin.
      */
    private def mergeBins(o: Buf): Unit = {
      val other = new Buf
      other.e = o.e; other.base = o.base; other.bins = o.bins.clone()
      val common = math.max(e, o.e)
      coarsen(common - e)
      other.coarsen(common - other.e)
      val k = widen(math.min(base, other.base), math.max(base + lastBin, other.base + other.lastBin))
      coarsen(k)
      other.coarsen(k)
      val lo = math.min(base, other.base)
      val merged = new Array[Long](NBins)
      for (b <- Seq(this, other); i <- 0 until NBins if b.bins(i) != 0L)
        merged((b.base + i - lo).toInt) += b.bins(i)
      bins = merged
      base = lo
    }

    def merge(o: Buf): Buf = {
      rows += o.rows
      if (!o.modeOk) { modeOk = false; hashes.clear() }
      else o.hashes.foreach { case (h, n) => addHash(h, n) }
      if (!o.listOk) { listOk = false; list.clear() }
      else o.list.foreach { case (s, n) => addValue(s, n) }
      if (o.binState == 2) { binState = 2; bins = new Array[Long](NBins) }
      else if (o.binState == 1 && binState == 0) {
        binState = 1; e = o.e; base = o.base; bins = o.bins.clone()
      } else if (o.binState == 1 && binState == 1) mergeBins(o)
      this
    }

    def mode: Long = if (!modeOk) rows else if (hashes.isEmpty) 0L else hashes.valuesIterator.max

    /** "<values>\t<bins>": values = "l" + enc(v)=n,… (the exact list,
      * sorted) or "m" + the mode bound; bins = "e:base:n0,n1,…" (trailing
      * zero bins trimmed), or "-" when there are none.
      */
    def render: String = {
      val values =
        if (listOk) "l" + list.toSeq.sortBy(_._1).map { case (s, n) => s"${enc(s)}=$n" }.mkString(",")
        else s"m$mode"
      val b = if (binState != 1) "-" else s"$e:$base:" + bins.take(lastBin + 1).mkString(",")
      s"$values\t$b"
    }

    def bytes: Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bo)
      out.writeLong(rows)
      out.writeBoolean(modeOk)
      out.writeInt(hashes.size)
      hashes.foreach { case (h, n) => out.writeLong(h); out.writeLong(n) }
      out.writeBoolean(listOk)
      out.writeInt(list.size)
      list.foreach { case (s, n) => out.writeUTF(s); out.writeLong(n) }
      out.writeInt(binState); out.writeInt(e); out.writeLong(base)
      bins.foreach(out.writeLong)
      out.flush()
      bo.toByteArray
    }
  }

  def readBuf(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = new Buf
    b.rows = in.readLong()
    b.modeOk = in.readBoolean()
    (0 until in.readInt()).foreach(_ => b.hashes.update(in.readLong(), in.readLong()))
    b.listOk = in.readBoolean()
    (0 until in.readInt()).foreach(_ => b.list.update(in.readUTF(), in.readLong()))
    b.binState = in.readInt(); b.e = in.readInt(); b.base = in.readLong()
    b.bins = Array.fill(NBins)(in.readLong())
    b
  }

  // ---- the reader's view of a filter value (same conventions as the writer) ----

  /** Epoch micros of a timestamp filter value: Timestamp/Instant as
    * instants, NTZ LocalDateTime as-if-UTC (the convention the writer
    * records NTZ columns under — it records none from a non-UTC session).
    */
  def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos.toLong / 1000)
    case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano.toLong / 1000)
    case d: java.time.LocalDateTime =>
      Some(d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano.toLong / 1000)
    case _ => None
  }

  /** Days since the epoch of a date filter value (the date's own fields). */
  def epochDay(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def integral(v: Any): Option[Long] = v match {
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      Some(n.asInstanceOf[java.lang.Number].longValue)
    case _ => None
  }

  /** Whether recorded value `s` equals filter value `v` under Spark's
    * equality for a column of type `dt` (NaN = NaN, -0.0 = 0.0, the
    * writer records both zeros as 0.0); None = not decidable here.
    */
  def listedEq(dt: DataType, s: String, v: Any): Option[Boolean] = scala.util.Try {
    import org.apache.spark.sql.types._
    def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    def double(x: Any) = x match {
      case d: java.lang.Double => Some(d.doubleValue)
      case f: java.lang.Float => Some(f.toDouble)
      case _ => None
    }
    dt match {
      case FloatType => double(v).map(same(s.toFloat.toDouble, _))
      case DoubleType => double(v).map(same(s.toDouble, _))
      case ByteType | ShortType | IntegerType | LongType => integral(v).map(_ == s.toLong)
      case _: DecimalType => v match {
        case n: java.math.BigDecimal => Some(BigDecimal(s).compare(BigDecimal(n)) == 0)
        case n: BigDecimal => Some(BigDecimal(s).compare(n) == 0)
        case _ => integral(v).map(n => BigDecimal(s).compare(BigDecimal(n)) == 0)
      }
      case StringType => v match {
        case t: String => Some(s == t)
        case _ => None
      }
      case DateType => epochDay(v).map(_ == java.time.LocalDate.parse(s).toEpochDay)
      case TimestampType | TimestampNTZType => tsMicros(v).map(_ == s.toLong)
      case _ => None
    }
  }.toOption.flatten

  /** The bin key of a filter value for a column of type `dt` — the
    * double the writer bins that column's values by; None when the
    * value has no finite key.
    */
  def keyOf(dt: DataType, v: Any): Option[Double] = {
    import org.apache.spark.sql.types._
    val k = dt match {
      case ByteType | ShortType | IntegerType | LongType => integral(v).map(_.toDouble)
      case FloatType | DoubleType => v match {
        case d: java.lang.Double => Some(d.doubleValue)
        case f: java.lang.Float => Some(f.toDouble)
        case _ => None
      }
      case DateType => epochDay(v).map(_.toDouble)
      case TimestampType | TimestampNTZType => tsMicros(v).map(_.toDouble)
      case _ => None
    }
    k.filter(x => !x.isNaN && !x.isInfinite)
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Parse the two `#stat=` fields written by [[Buf.render]]; None for
    * anything malformed (the reader then falls back to min/max bounds).
    */
  def parse(values: String, bins: String): Option[Counts] = scala.util.Try {
    val list =
      if (values.startsWith("l"))
        Some(values.substring(1).split(",").toVector.filter(_.nonEmpty).map { kv =>
          val at = kv.lastIndexOf('=')
          dec(kv.substring(0, at)) -> kv.substring(at + 1).toLong
        })
      else { require(values.startsWith("m")); None }
    val mode = list.fold(values.substring(1).toLong)(l => (0L +: l.map(_._2)).max)
    val b =
      if (bins == "-") None
      else {
        val Array(e, base, cs) = bins.split(":", 3)
        val counts = cs.split(",").toVector.map(_.toLong)
        require(counts.nonEmpty && counts.length <= NBins)
        Some(Bins(e.toInt, base.toLong, counts))
      }
    Counts(list, mode, b)
  }.toOption
}

/** The per-(file, column) counts aggregate of [[FileCounts.agg]]. */
private[graft] case class CountsAgg(value: Expression, key: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FileCounts.Buf] {

  override def prettyName: String = "graft_file_counts"
  override def children: Seq[Expression] = Seq(value, key)
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def createAggregationBuffer(): FileCounts.Buf = new FileCounts.Buf

  override def update(buf: FileCounts.Buf, input: InternalRow): FileCounts.Buf = {
    val v = value.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String], key.eval(input))
    buf
  }

  override def merge(a: FileCounts.Buf, b: FileCounts.Buf): FileCounts.Buf = a.merge(b)
  override def eval(buf: FileCounts.Buf): Any = UTF8String.fromString(buf.render)
  override def serialize(buf: FileCounts.Buf): Array[Byte] = buf.bytes
  override def deserialize(bytes: Array[Byte]): FileCounts.Buf = FileCounts.readBuf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), key = newChildren(1))
}
