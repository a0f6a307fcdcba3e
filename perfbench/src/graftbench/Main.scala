package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.operators.Embed
import graft.sources.{GraftIndex, GraftTable}

/** The graft benchmark driver: one closed-loop client running one
  * workload of the reference notebook's one-table flow against graft's
  * public Scala API and SQL surface, then checking every answer.
  *
  *   graftbench.Main --workload search|ingest --seed N --seconds S
  *                   --trace 0|1 --work DIR
  *
  * Prints one JSON line last: end-to-end metrics (trace 0) or per-layer
  * metrics (trace 1). See perfbench/README.md.
  */
object Main {
  val Dim = 384         // the reference model's embedding width
  val K = 10            // top-k of every vector query
  val NBuckets = 16     // GraftTable buckets (the create default)
  val NList = 32        // IVF cells
  val NProbe = 4        // cells probed per ANN query (nprobe < nlist)
  val Batch = 10        // rows per ingest upsert (half updates, half new keys)
  val IngestPasses = 3  // read passes after each `ingest` commit
  val Queries = 48

  /** Corpus rows per workload. `search` needs well over 10 000 so that
    * broad hybrid predicates take the pushed cell-scan leg.
    */
  val Rows = Map("search" -> 12000, "ingest" -> 4000)
  /** Closed-loop steps every run makes at least. `recall_at_10` (with
    * the warm-up) and the traced counters are read from exactly these
    * first steps, so they repeat run to run, however many steps fit into
    * the timed phase.
    */
  val MinSteps = Map("search" -> 3, "ingest" -> 1)
  /** Read passes before the timed phase (on `ingest` after one commit
    * cycle): latencies fall for the first passes of a fresh JVM.
    */
  val WarmPasses = Map("search" -> 4, "ingest" -> 1)
  val Reads = Seq("ann", "hybrid_sel", "hybrid_range", "flat", "analytics")
  val Ops = Reads ++ Seq("upsert", "refresh")

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath)
    require(Rows.contains(conf.workload), s"unknown workload ${conf.workload}")
    val run = new Run(conf)
    val out = try run.execute() finally run.close()
    println(out)
    sys.exit(if (run.failed == 0) 0 else 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Copies the directory tree `from` to the new directory `to`. */
  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally st.close()
  }

  def diskBytes(dir: Path, skip: String = ""): Long = {
    val st = Files.walk(dir)
    try st.iterator().asScala
      .filter(p => Files.isRegularFile(p) && (skip.isEmpty || !dir.relativize(p).startsWith(skip)))
      .map(Files.size).sum
    finally st.close()
  }
}

/** One answer kept for the untimed correctness checks, with the query
  * vector and the table state (live rows) it was asked against.
  */
final case class Answer(op: String, q: Array[Float], rows: Array[Row], state: Array[Job],
                        pred: Option[Pred] = None)

final class Run(conf: Main.Conf) {
  import Main._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val tmp = conf.work.resolve("tmp")
  Files.createDirectories(tmp)
  private val cpus = Runtime.getRuntime.availableProcessors

  // the Bench session shape: local[nproc], extensions on, no UI
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.cleaner.periodicGC.interval", "3min")
    .config("spark.local.dir", tmp.toString)
    .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  val tr = new Tracer(conf.trace)
  val probe: Option[SparkProbe] =
    if (conf.trace) { val p = new SparkProbe(spark.sparkContext); spark.sparkContext.addSparkListener(p); Some(p) }
    else None

  val gen = new Gen(conf.seed)
  var attempted = 0L
  var failed = 0L
  private def fail(msg: String): Unit = {
    failed += 1
    if (failed <= 20) System.err.println(s"perfbench: FAIL $msg")
  }

  // timed-phase latencies (ms) per op, and per-instance layer readings (traced)
  private val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[mutable.Map[String, Double]]]
  private val scalars = mutable.LinkedHashMap.empty[String, Double]
  private var recording = false

  private val schema = StructType(Seq(
    StructField("job_id", LongType, nullable = false),
    StructField("company", StringType), StructField("title", StringType),
    StructField("posted_day", IntegerType, nullable = false),
    StructField("description", StringType),
    StructField("rev", IntegerType, nullable = false)))

  private def frame(jobs: Seq[Job]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      jobs.map(j => Row(j.id, j.company, j.title, j.day, j.desc, j.rev)), cpus), schema)

  private def arr(v: Array[Float]): String = v.mkString("CAST(array(", ",", ") AS ARRAY<FLOAT>)")

  private def sample(op: String, k: String, v: Double): Unit =
    layer.getOrElseUpdate(op, ArrayBuffer.empty).lastOption.foreach(_(k) = v)

  /** One timed operation. Untraced it is only a clock read around the
    * body; traced it also drains the listener bus at both ends and
    * records the engine counters the operation caused.
    */
  private def op[T](name: String)(body: => T): T = {
    probe.foreach(_.take())
    val list0 = GraftTable.metaListCalls
    val gc0 = if (conf.trace) SparkProbe.gcMillis() else 0L
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = tr.span(name)(body)
    val wall = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    if (recording) {
      lat.getOrElseUpdate(name, ArrayBuffer.empty) += wall
      probe.foreach { p =>
        val c = p.take()
        val cov = SparkProbe.covered(c.jobIntervals.toSeq, w0, w1).toDouble
        layer.getOrElseUpdate(name, ArrayBuffer.empty) += mutable.LinkedHashMap(
          "bench.wall_ms" -> wall, "spark.jobs" -> c.jobs.toDouble,
          "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
          "spark.exec_run_ms" -> c.execRunMs.toDouble, "spark.exec_cpu_ms" -> c.execCpuNs / 1e6,
          "spark.covered_job_ms" -> cov, "spark.driver_gap_ms" -> math.max(0.0, wall - cov),
          "spark.input_bytes" -> c.inputBytes.toDouble, "spark.records_read" -> c.recordsRead.toDouble,
          "spark.shuffle_bytes" -> c.shuffleBytes.toDouble, "spark.spill_bytes" -> c.spillBytes.toDouble,
          "jvm.gc_ms" -> (SparkProbe.gcMillis() - gc0).toDouble,
          "table.meta_list_calls" -> (GraftTable.metaListCalls - list0).toDouble)
      }
    }
    out
  }

  /** A SQL operation: analysis (where the graft TVFs plan, and run the
    * index probe's own jobs) then collect.
    */
  private def sqlOp(name: String, text: String): Array[Row] = {
    var analyzeMs = 0.0
    var planJobs = 0L
    val rows = op(name) {
      val t0 = System.nanoTime()
      val df = tr.span("sql.analyze")(spark.sql(text))
      analyzeMs = (System.nanoTime() - t0) / 1e6
      probe.foreach(p => planJobs = p.jobsSoFar())
      tr.span("collect")(df.collect())
    }
    if (recording && conf.trace) {
      sample(name, "sql.analyze_ms", analyzeMs)
      sample(name, "sql.plan_jobs", planJobs.toDouble)
      sample(name, "rows_read_per_result",
        layer(name).last("spark.records_read") / math.max(1, rows.length))
    }
    rows
  }

  /** Counts the attempt; an exception is a failed operation. */
  private def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Traced runs only: time GraftTable.read's plan on its own, outside
    * any operation window.
    */
  private def readPlanProbe(path: String): Unit =
    if (recording && conf.trace) {
      val t0 = System.nanoTime()
      tr.span("GraftTable.read")(GraftTable.read(spark, path))
      layer.getOrElseUpdate("read_plan", ArrayBuffer.empty) +=
        mutable.LinkedHashMap("table.read_plan_ms" -> (System.nanoTime() - t0) / 1e6)
    }

  // ---- inputs ----------------------------------------------------------
  private val rows = Rows(conf.workload)
  private val corpus = gen.corpus(rows)
  private val texts = gen.queries(Queries)
  private val qv: Array[Array[Float]] = texts.map(Embed.encodeOne(_, Dim))
  private val selective = gen.selective(Queries)
  private val ranges = gen.ranges(Queries, rows)

  private def annSql(path: String, q: Array[Float]) =
    s"SELECT * FROM graft_index_search('$path', ${arr(q)}, $K, $NProbe)"
  private def hybridSql(path: String, q: Array[Float], p: Pred) =
    s"""SELECT * FROM graft_index_search('$path', ${arr(q)}, $K, $NProbe, 'vec', "${p.sql}")"""
  private def flatSql(path: String, q: Array[Float]) =
    s"SELECT job_id, company, title, posted_day, cosine_similarity(embedding, ${arr(q)}) AS score " +
      s"FROM graft_table('$path') ORDER BY score DESC LIMIT $K"
  private def analyticsSql(path: String) =
    s"SELECT company, title, count(*) AS n FROM graft_table('$path') " +
      "GROUP BY company, title ORDER BY n DESC LIMIT 15"

  // ---- set-up ------------------------------------------------------------
  /** Embeds the corpus, creates the table and builds its IVF index;
    * returns the table path and the seconds this took.
    */
  private def setUp(): (String, Double) = {
    val path = conf.work.resolve("table").toString
    val t0 = System.nanoTime()
    tr.span("setup") {
      val emb = tr.span("Embed.encode")(Embed.encode(frame(corpus.toSeq), "description", Dim))
      tr.span("GraftTable.create")(GraftTable.create(emb, path, Seq("job_id"), NBuckets))
      val t1 = System.nanoTime()
      tr.span("GraftIndex.create")(GraftIndex.create(spark, path, "embedding", NList))
      scalars("index.create_s") = (System.nanoTime() - t1) / 1e9
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    if (conf.trace) {
      // the corpus embedding materialized on its own
      val t1 = System.nanoTime()
      tr.span("Embed.encode")(Embed.encode(frame(corpus.toSeq), "description", Dim)
        .queryExecution.toRdd.foreach(_ => ()))
      val ms = (System.nanoTime() - t1) / 1e6
      scalars("embed.encode_ms") = ms
      scalars("embed.rows_per_s") = rows / (ms / 1e3)
    }
    (path, setupS)
  }

  // ---- timed loop ----------------------------------------------------------
  /** Runs `step` (one closed-loop iteration) until `seconds` have
    * passed, and for at least the workload's MinSteps.
    */
  private def timedLoop(step: Int => Unit): Double = {
    recording = true
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < conf.seconds || i < MinSteps(conf.workload)) {
      step(i); i += 1
      if (i == MinSteps(conf.workload)) fixedAnswers = answers.size
    }
    recording = false
    (System.nanoTime() - t0) / 1e9
  }

  def execute(): String = conf.workload match {
    case "search" => search()
    case "ingest" => ingest()
  }

  private val answers = ArrayBuffer.empty[Answer]
  /** Answers kept by the end of the first MinSteps timed steps, the
    * warm-up's included: the fixed query set of `recall_at_10`.
    */
  private var fixedAnswers = 0

  /** One read pass, the reference's read flow on one table version: IVF
    * top-k, filtered top-k (selective and range), exact top-k and the
    * cell-15 aggregate. Its wall time is a `flow` sample. `annQuery`
    * replaces the pass's ANN query vector; `afterAnn` sees the ANN answer
    * as soon as it is back.
    */
  private def reads(path: String, q: Int, state: Array[Job], annQuery: Option[Array[Float]] = None,
                    afterAnn: Array[Row] => Unit = _ => ()): Unit = {
    val t0 = System.nanoTime()
    val query = annQuery.getOrElse(qv(q))
    var rows = Array.empty[Row]
    attempt("ann") { rows = sqlOp("ann", annSql(path, query)); answers += Answer("ann", query, rows, state) }
    afterAnn(rows)
    for ((name, p) <- Seq("hybrid_sel" -> selective(q), "hybrid_range" -> ranges(q))) attempt(name) {
      answers += Answer(name, qv(q), sqlOp(name, hybridSql(path, qv(q), p)), state, Some(p))
    }
    attempt("flat") { answers += Answer("flat", qv(q), sqlOp("flat", flatSql(path, qv(q))), state) }
    attempt("analytics") { answers += Answer("analytics", Array.empty, sqlOp("analytics", analyticsSql(path)), state) }
    if (recording) lat.getOrElseUpdate("flow", ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    readPlanProbe(path)
  }

  private def search(): String = {
    val (path, setupS) = setUp()
    val w0 = System.nanoTime()
    for (p <- 1 to WarmPasses(conf.workload)) reads(path, Queries - p, corpus)
    val warmS = (System.nanoTime() - w0) / 1e9
    val warmAnswers = answers.size
    val secs = timedLoop(i => reads(path, i % Queries, corpus))
    val heap = liveHeapMb()
    val recall = checkAnswers(Seq(path -> corpus))
    finish(setupS + warmS, secs, (answers.size - warmAnswers) / secs, recall, heap,
      bytesPerUserByte(path, corpus), path)
  }

  /** Commit cycles. The warm-up cycle commits to the set-up table; every
    * timed cycle then commits to its own copy of that warmed table (a new
    * path, copied untimed). So each timed cycle meets the same table depth
    * (versions, index generations), and the metrics do not depend on how
    * many cycles fit into the timed phase.
    */
  private def ingest(): String = {
    val (base, setupS) = setUp()
    val baseLive = mutable.LinkedHashMap.empty[Long, Job] ++= corpus.map(j => j.id -> j)
    val batches = new gen.Batches(rows.toLong, Batch)
    var rowsDone = 0L
    def cycle(path: String, live: mutable.LinkedHashMap[Long, Job], i: Int, passes: Int): Unit = {
      val b = batches()
      lazy val df = frame(b.toSeq)
      val before = if (recording && conf.trace) {
        val t0 = System.nanoTime()
        tr.span("Embed.encode")(Embed.encode(df, "description", Dim).queryExecution.toRdd.foreach(_ => ()))
        val ms = (System.nanoTime() - t0) / 1e6
        layer.getOrElseUpdate("embed", ArrayBuffer.empty) += mutable.LinkedHashMap(
          "embed.encode_ms" -> ms, "embed.rows_per_s" -> b.length / (ms / 1e3))
        diskBytes(Paths.get(path), "_index")
      } else 0L
      val t0 = System.nanoTime()
      attempt("upsert") {
        op("upsert")(tr.span("GraftTable.upsert")(
          GraftTable.upsert(spark, path, tr.span("Embed.encode")(Embed.encode(df, "description", Dim)))))
        b.foreach(j => live(j.id) = j)
      }
      if (recording && conf.trace)
        sample("upsert", "table.write_amp",
          (diskBytes(Paths.get(path), "_index") - before).toDouble / b.map(_.userBytes(Dim)).sum)
      attempt("refresh") { op("refresh")(tr.span("GraftIndex.refresh")(GraftIndex.refresh(spark, path))) }
      val state = live.values.toArray
      // the first pass's ANN read searches for the batch's last row (a new
      // key): once the refresh has returned it must come back at rank 1
      val target = b.last
      reads(path, Math.floorMod(i * passes, Queries), state, Some(Embed.encodeOne(target.desc, Dim)), { rows =>
        val top = rows.headOption.map(_.getAs[Long]("job_id"))
        attempted += 1
        if (!top.contains(target.id)) fail(s"row ${target.id} not at rank 1 after its upsert+refresh (got $top)")
        else if (recording) lat.getOrElseUpdate("fresh", ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      })
      rowsDone += b.length
      for (p <- 1 until passes) reads(path, Math.floorMod(i * passes + p, Queries), state)
    }
    val w0 = System.nanoTime()
    cycle(base, baseLive, -1, 1)
    for (p <- 1 to WarmPasses(conf.workload)) reads(base, Queries - p, baseLive.values.toArray)
    val warmS = (System.nanoTime() - w0) / 1e9
    rowsDone = 0
    val tables = ArrayBuffer.empty[(String, mutable.LinkedHashMap[Long, Job])]
    var cycleS = 0.0
    val secs = timedLoop { i =>
      val path = conf.work.resolve(s"cycle$i").toString
      copyTree(Paths.get(base), Paths.get(path))
      val live = baseLive.clone()
      tables += path -> live
      val t0 = System.nanoTime()
      cycle(path, live, i, IngestPasses)
      cycleS += (System.nanoTime() - t0) / 1e9
    }
    val heap = liveHeapMb()
    // after the writes, on every cycle's table: every key once, the last
    // revision wins, the index caught up
    for ((path, live) <- tables) {
      attempted += 3
      val nRows = spark.sql(s"SELECT count(*) FROM graft_table('$path')").head().getLong(0)
      if (nRows != live.size) fail(s"$path has $nRows rows, wrote ${live.size} distinct keys")
      val updated = live.values.filter(_.rev > 0).take(50).toSeq
      val back = GraftTable.read(spark, path).filter(col("job_id").isin(updated.map(_.id): _*))
        .select("job_id", "rev", "description").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
      updated.foreach { j =>
        if (!back.get(j.id).contains((j.rev, j.desc))) fail(s"key ${j.id} reads ${back.get(j.id)}, last wrote rev ${j.rev}")
      }
      val iv = GraftIndex.meta(path).indexedVersion
      val head = GraftTable.latestVersion(path)
      if (iv != head) fail(s"index of $path reflects v$iv, table is at v$head")
    }
    val states = tables.toSeq.map { case (path, live) => path -> live.values.toArray }
    val recall = checkAnswers((base -> baseLive.values.toArray) +: states)
    // the first cycle's table: the same depth and batch whatever the cycle count
    val (first, firstLive) = states.head
    finish(setupS + warmS, secs, rowsDone / cycleS, recall, heap, bytesPerUserByte(first, firstLive), first)
  }

  // ---- checks ----------------------------------------------------------------
  /** Checks every kept answer against the table state it was asked on;
    * returns the mean recall@K of the ANN answers of the warm-up and the
    * first MinSteps timed steps. Exact scores come from the harness's own
    * cosine over the embedding of each row's text; the vectors collected
    * from each final table (path, live rows) must equal those embeddings,
    * so the same embeddings serve the earlier states.
    */
  private def checkAnswers(finals: Seq[(String, Array[Job])]): Double = {
    val vec = mutable.HashMap.empty[String, Array[Float]]
    for ((path, finalState) <- finals) {
      val stored = GraftTable.read(spark, path).select("job_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      attempted += 1
      val bad = finalState.count { j =>
        val v = vec.getOrElseUpdate(j.desc, Embed.encodeOne(j.desc, Dim))
        !stored.get(j.id).exists(java.util.Arrays.equals(_, v))
      }
      if (bad > 0) fail(s"$path: $bad stored embeddings differ from the embedding of their row's text")
    }
    val exacts = mutable.HashMap.empty[AnyRef, (Exact, Map[Long, Job])]
    def exactOf(state: Array[Job]) = exacts.getOrElseUpdate(state, (
      new Exact(state.map(_.id), state.map(j => vec.getOrElseUpdate(j.desc, Embed.encodeOne(j.desc, Dim)))),
      state.map(j => j.id -> j).toMap))
    val recalls = answers.toSeq.zipWithIndex.flatMap { case (a, i) =>
      val (exact, byId) = exactOf(a.state)
      lazy val ids = a.rows.map(_.getAs[Long]("job_id"))
      try a.op match {
        case "ann" =>
          check(a, ordered(a) ++ sized(a, K) ++ scoresMatch(a, exact))
          if (i < fixedAnswers) Some(exact.recall(a.q, ids, K)) else None
        case "hybrid_sel" | "hybrid_range" =>
          val p = a.pred.get
          val n = a.state.count(p.test)
          val off = a.rows.filterNot { r =>
            val j = byId(r.getAs[Long]("job_id"))
            p.test(j) && p.test(j.copy(company = r.getAs[String]("company"), day = r.getAs[Int]("posted_day")))
          }
          check(a, ordered(a) ++ sized(a, math.min(K, n)) ++ scoresMatch(a, exact) ++
            off.map(r => s"row ${r.getAs[Long]("job_id")} fails '${p.sql}'"))
          None
        case "flat" =>
          val r = exact.recall(a.q, ids, K)
          check(a, ordered(a) ++ sized(a, K) ++ scoresMatch(a, exact) ++
            (if (r < 1.0) Seq(s"flat top-$K is not exact (recall $r)") else Nil))
          None
        case "analytics" =>
          val counts = a.state.groupBy(j => (j.company, j.title)).view.mapValues(_.length.toLong).toMap
          val got = a.rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
          val kth = got.lastOption.map(_._2).getOrElse(0L)
          val missed = counts.filter { case (pair, n) => n > kth && !got.exists(_._1 == pair) }
          check(a, sized(a, math.min(15, counts.size)) ++
            got.collect { case (pair, n) if !counts.get(pair).contains(n) => s"count of $pair is $n, want ${counts.get(pair)}" } ++
            (if (got.map(_._2).toSeq != got.map(_._2).toSeq.sorted.reverse) Seq("counts not descending") else Nil) ++
            missed.map { case (pair, n) => s"$pair (count $n) missing from the top 15" })
          None
      } catch { case e: Exception => fail(s"${a.op}: check failed: $e"); None }
    }
    if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
  }

  private def check(a: Answer, problems: Seq[String]): Unit =
    if (problems.nonEmpty) fail(s"${a.op}: ${problems.take(3).mkString("; ")}")

  private def ordered(a: Answer): Seq[String] = {
    val s = a.rows.map(_.getAs[Double]("score"))
    if (s.toSeq.sliding(2).forall(p => p.length < 2 || p(0) >= p(1))) Nil
    else Seq(s"scores not descending: ${s.mkString(",")}")
  }

  private def sized(a: Answer, want: Int): Seq[String] =
    if (a.rows.length == want) Nil else Seq(s"${a.rows.length} rows, want $want")

  private def scoresMatch(a: Answer, exact: Exact): Seq[String] =
    a.rows.toSeq.flatMap { r =>
      val id = r.getAs[Long]("job_id")
      val want = exact.score(a.q, id)
      val got = r.getAs[Double]("score")
      if (math.abs(want - got) <= 1e-4) None else Some(s"row $id score $got, want $want")
    }

  /** Bytes on disk under the table (index and old versions included)
    * over the logical bytes of its live rows.
    */
  private def bytesPerUserByte(path: String, live: Array[Job]): Double =
    diskBytes(Paths.get(path)).toDouble / live.map(_.userBytes(Dim)).sum

  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---- report ----------------------------------------------------------------
  private def finish(setupS: Double, secs: Double, throughput: Double, recall: Double,
                     heapMb: Double, bytes: Double, path: String): String = {
    scalars("index.layout_files") = GraftIndex.manifest(path).values.map(_.size).sum.toDouble
    scalars("index.stale_generations") = GraftIndex.staleGenerations(path).toDouble
    val l = (op: String) => lat.getOrElse(op, ArrayBuffer.empty[Double]).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("setup_s", sessionS + setupS, "s"),
        ("flow_p50_ms", median(l("flow")), "ms"),
        ("throughput_per_s", throughput, "1/s"),
        ("recall_at_10", recall, "ratio"),
        ("ok_ratio", 1.0 - failed.toDouble / math.max(1, attempted), "ratio"),
        ("heap_live_mb", heapMb, "MiB"),
        ("bytes_per_user_byte", bytes, "ratio"))
      else perLayer()
    if (conf.trace)
      tr.write(conf.work.getParent.resolve("traces").resolve(s"${conf.workload}-s${conf.seed}.jsonl"))
    System.err.println(f"perfbench: ${conf.workload} seed ${conf.seed}: ${attempted} ops in $secs%.1f s, " +
      s"$failed failed; samples (ms) ${lat.map { case (k, v) => s"$k=${v.map(x => f"$x%.0f").mkString(",")}" }.mkString(" ")}")
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Per-layer readings: counters from the first instances of each op
    * (identical across runs with the same seed), times as medians over
    * every instance. An op the workload does not run reads 0.
    */
  private def perLayer(): Seq[(String, Double, String)] = {
    val counters = Set("spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes",
      "spark.records_read", "spark.shuffle_bytes", "spark.spill_bytes",
      "table.meta_list_calls", "sql.plan_jobs", "rows_read_per_result", "table.write_amp")
    def get(op: String, k: String): Double = {
      val xs = layer.getOrElse(op, ArrayBuffer.empty).flatMap(_.get(k)).toSeq
      median(if (counters(k)) xs.take(MinSteps(conf.workload)) else xs)
    }
    def unit(k: String) =
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count"
    val engine = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_ms",
      "spark.exec_cpu_ms", "spark.covered_job_ms", "spark.driver_gap_ms", "spark.input_bytes",
      "spark.records_read", "spark.shuffle_bytes", "spark.spill_bytes", "jvm.gc_ms",
      "table.meta_list_calls")
    val perOp = (for (o <- Ops; k <- engine) yield (s"$k.$o", get(o, k), unit(k))) ++
      Reads.map(o => (s"bench.wall_ms.$o", get(o, "bench.wall_ms"), "ms"))
    val sqlOps = for (o <- Reads; k <- Seq("sql.analyze_ms", "sql.plan_jobs"))
      yield (s"$k.$o", get(o, k), unit(k))
    val sc = (k: String) => scalars.getOrElse(k, 0.0)
    val embedMs = if (layer.contains("embed")) get("embed", "embed.encode_ms") else sc("embed.encode_ms")
    val embedRate = if (layer.contains("embed")) get("embed", "embed.rows_per_s") else sc("embed.rows_per_s")
    perOp ++ sqlOps ++ Seq(
      ("index.create_s", sc("index.create_s"), "s"),
      ("index.refresh_ms", get("refresh", "bench.wall_ms"), "ms"),
      ("index.layout_files", sc("index.layout_files"), "count"),
      ("index.stale_generations", sc("index.stale_generations"), "count"),
      ("index.rows_read_per_result.ann", get("ann", "rows_read_per_result"), "ratio"),
      ("index.rows_read_per_result.hybrid_sel", get("hybrid_sel", "rows_read_per_result"), "ratio"),
      ("index.rows_read_per_result.hybrid_range", get("hybrid_range", "rows_read_per_result"), "ratio"),
      ("table.upsert_ms", get("upsert", "bench.wall_ms"), "ms"),
      ("table.write_amp", get("upsert", "table.write_amp"), "ratio"),
      ("table.read_plan_ms", get("read_plan", "table.read_plan_ms"), "ms"),
      ("embed.encode_ms", embedMs, "ms"),
      ("embed.rows_per_s", embedRate, "1/s"),
      ("flat.exec_cpu_ms", get("flat", "spark.exec_cpu_ms"), "ms"),
      ("flat.rows_read_per_result", get("flat", "rows_read_per_result"), "ratio"),
      ("bench.flow_ms", median(lat.getOrElse("flow", ArrayBuffer.empty[Double]).toSeq), "ms"),
      ("bench.fresh_ms", median(lat.getOrElse("fresh", ArrayBuffer.empty[Double]).toSeq), "ms"))
  }

  def close(): Unit = spark.stop()
}

/** The harness's own exact top-k: cosine in plain Scala over one
  * table state's vectors.
  */
final class Exact(ids: Array[Long], vecs: Array[Array[Float]]) {
  private val row = ids.zipWithIndex.toMap
  private val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
  private val cache = mutable.HashMap.empty[Seq[Float], Array[Double]]

  private def cos(i: Int, q: Array[Float], qn: Double): Double = {
    val v = vecs(i)
    var d = 0.0
    var j = 0
    while (j < v.length) { d += v(j).toDouble * q(j); j += 1 }
    if (norms(i) == 0 || qn == 0) 0.0 else d / (norms(i) * qn)
  }
  private def all(q: Array[Float]): Array[Double] = cache.getOrElseUpdate(q.toSeq, {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    Array.tabulate(vecs.length)(cos(_, q, qn))
  })

  def score(q: Array[Float], id: Long): Double = row.get(id).fold(Double.NaN)(all(q)(_))

  /** Share of the k returned ids whose exact score reaches the exact
    * k-th best (ties at the boundary count as hits).
    */
  def recall(q: Array[Float], got: Array[Long], k: Int): Double = {
    val s = all(q)
    val kth = s.sorted(Ordering.Double.TotalOrdering.reverse)(math.min(k, s.length) - 1)
    got.distinct.count(id => row.get(id).exists(i => s(i) >= kth - 1e-6)).toDouble / k
  }
}
