package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry.queries entry on
  * SPARK_GRAFT_SF_DIR. Fixture-heavy lakehouse/index entries
  * (SparkEntry.benchSplit) are timed as `<name>_build` (fixture
  * construction, excluded from the total) + `<name>_serve`
  * (steady-state query, counted) instead of one conflated row; the
  * standalone ANN operators get the same treatment via the
  * ivf_/ivfpq_/lsh_ build/probe rows.
  *
  * Output: ONE JSON line on stdout AND written to the file named by
  * SPARK_GRAFT_BENCH_OUT (default ./BENCH_OUT.json) — sbt log noise
  * buries stdout, so the file is the machine-parseable channel. The
  * stdout line stays compact (failure strings capped at 80 chars,
  * per-rep spreads in the *_reps.json side file with full failure
  * text) so the driver's finite capture window always parses it.
  *
  * STEAL SENTINEL: a fixed-cost deterministic CPU loop runs between
  * every ~20 rows (SPARK_GRAFT_SENTINEL_EVERY); spans whose sentinel
  * reading inflated >1.5× over the session baseline are published as
  * `steal_windows` ("rowA..rowB" → ratio) in the main artifact, with
  * every reading in the _reps side file — a board reader annotates
  * rows inside flagged windows instead of re-running them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // Warm every query once at the tiny SF: same plan shape → janino
    // codegen-cache hits + hot JIT, so the timed runs below measure the
    // operators, not one-time compilation. A BENCH_ONLY run warms only
    // the selected queries — warming 200+ unselected ones costs ~10 min
    // AND leaves their session residue in front of the timed reps,
    // which is exactly what a targeted measurement must not include.
    // SPARK_GRAFT_BENCH_WARM=all forces the full warm even under
    // BENCH_ONLY — reproduces full-board session conditions when
    // adjudicating a single row's board reading.
    val warmOnly = if (sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("all")) None
      else sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (warmOnly.forall(_.contains(name)))
        try { fn(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count() }
        catch { case _: Throwable => }
    }
    // Quiesce before timing: terminated warm streams leave state-store
    // providers loaded (heap + a background maintenance thread) for up
    // to a maintenance interval, and warm localCheckpoints wait on GC —
    // measured 1.7× on the board's LAST row (stream_dedup, the r11
    // weak flag) before this shed.
    spark.catalog.clearCache()
    org.apache.spark.sql.graftshim.Bridge.unloadStateStores()
    System.gc()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt

    // ---- steal sentinel (r12 verdict ask #5) ----
    // A fixed-cost, deterministic, single-threaded CPU loop timed
    // between every ~20 board rows: host CPU-steal inflates the
    // sentinel exactly like it inflates real rows, so a reading >1.5×
    // the session baseline NAMES the stolen span inside the artifact
    // itself — the archaeology three rounds of boards paid (r10–r12
    // driver-board adjudications) becomes a lookup. Pure integer
    // xorshift, no allocation, no Spark state; the result feeds a
    // branch so the JIT cannot elide the loop.
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 60000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 0L) System.err.println("[bench] sentinel underflow") // unreachable
      (System.nanoTime() - t0) / 1e9
    }
    val sentinelEvery = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_EVERY", "20").toInt
    // baseline AFTER the quiesce: min of 3 — the uncontended cost
    val sentinelBase = (1 to 3).map(_ => sentinelOnce()).min
    // (last completed row, reading / baseline) — "<start>" anchors the span
    val sentinelReadings =
      scala.collection.mutable.ArrayBuffer[(String, Double)](("<start>", 1.0))
    var rowsSinceSentinel = 0

    // min over reps: steady-state per-query cost, robust to one-off
    // GC/scheduling noise in a 32-thread local JVM. A failing query must
    // NOT be recorded as its time-to-failure (an instant error would
    // read as a huge speedup): failures land in a separate map and the
    // entry is dropped from the timings.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // every rep's wall time, kept in the artifact: this VM suffers
    // random host-CPU-steal windows that can inflate BOTH reps of one
    // query, so a lone min would read as a regression with no way to
    // tell noise from real cost after the fact. With the per-rep
    // spread recorded, a wide gap between reps flags noise from the
    // JSON alone — no rerun archaeology.
    val repTimes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // ESCALATING-reps pattern (r11's quantile_view_incremental_serve:
    // 3.6→6.7→18.6 s in ONE run): monotonic ratcheting (each rep ≥ 0.95×
    // the last, >3× head-to-tail) is in-run session debt (heap/GC/
    // accumulated blocks), not a steal window — a plateau the 1.5×
    // corroboration check would eventually ACCEPT even though it
    // corroborates the debt, not the row. ONE definition shared by
    // timed()'s healer and the report block so the two cannot drift
    // (they were verbatim copies through r12).
    def isEscalating(times: Seq[Double]): Boolean = times.size >= 3 &&
      times.sliding(2).forall { case Seq(a, b) => b >= a * 0.95 } &&
      times.head > 0 && times.last / times.head > 3.0
    def timed(name: String)(body: => Unit): Option[Double] = {
      var err: Option[String] = None
      def once(): Double = {
        // cache-clean per rep: operators that persist intermediates
        // must pay that cost every time, or min-of-reps lies. State
        // stores are a cache too: every streaming rep's temp checkpoint
        // loads FRESH providers and orphans the last rep's (heap + a
        // maintenance thread snapshotting them) — unload, same rule.
        spark.catalog.clearCache()
        org.apache.spark.sql.graftshim.Bridge.unloadStateStores()
        val t0 = System.nanoTime()
        try body
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e")
          err = Some(e.toString.take(2000))
        }
        (System.nanoTime() - t0) / 1e9
      }
      var times = (1 to reps).map(_ => once()).toVector
      // Steal-window SELF-HEALING: a row whose min lacks a corroborating
      // rep within 1.5× (second-smallest / smallest > 1.5) had at least
      // one rep hit a host-CPU-steal window — re-rep it (bounded, ×3)
      // until the min is corroborated, so a contended run's board heals
      // itself instead of needing manual cross-scale adjudication
      // (three rounds of boards cost exactly that archaeology). A row
      // that never stabilizes keeps its `noisy` flag below.
      def uncorroborated: Boolean = times.size >= 2 && {
        val s = times.sorted
        s(0) > 0 && s(1) / s(0) > 1.5
      }
      // isEscalating: shed the debt (gc) before each healing rep and
      // annotate the row in the artifact so a board reader takes the
      // min, never the plateau.
      def escalatingRun: Boolean = isEscalating(times)
      var extra = 0
      while (err.isEmpty && reps >= 2 && (uncorroborated || escalatingRun) &&
          extra < 3) {
        if (escalatingRun) System.gc()
        val t = once()
        if (err.isEmpty) times :+= t
        else {
          // a DIAGNOSTIC re-rep crashed after the primary reps all
          // succeeded: keep the healthy measurements (the row stays
          // noisy-flagged) — a healing pass must never convert a
          // measured row into a failure
          System.err.println(s"[bench] $name: healing rep failed, keeping " +
            s"${times.size} primary reps (row stays noisy)")
          err = None
          extra = 3
        }
        extra += 1
      }
      val res = err match {
        case Some(msg) => failures(name) = msg; None
        case None => repTimes(name) = times; Some(times.min)
      }
      rowsSinceSentinel += 1
      if (rowsSinceSentinel >= sentinelEvery) {
        rowsSinceSentinel = 0
        // shed cross-row session debt BEFORE reading the sentinel: a gc
        // here (outside any timed region, ~14 per board) lets the
        // ContextCleaner drain broadcast/checkpoint-block backlog the
        // big heap never collects on its own, complementing the
        // periodicGC config above — so later rows measure themselves,
        // not the session's history
        System.gc()
        sentinelReadings += ((name, sentinelOnce() / sentinelBase))
      }
      res
    }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries (and skips
    // the ANN split) — the fast loop for iterating on one operator
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Entries with a build/serve split are timed in the split loop below
    // (as <name>_build + <name>_serve) instead of as one conflated row —
    // rebuilding a lakehouse + index per rep buried the ms-class serving
    // path under fixture cost and tripled the round-6 board total.
    val split = SparkEntry.benchSplit
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !split.contains(name) }
      .foreach { case (name, fn) =>
        // toRdd.count() materializes every output row (a plain count()
        // would let Catalyst prune the projections being measured).
        timed(name) { fn(spark, sfDir).queryExecution.toRdd.count() }
          .foreach(results(name) = _)
      }
    // ---- fixture-heavy entries: build and serve as separate rows ----
    // *_build rows are diagnostics excluded from the total (one-time
    // cost, amortized at scale); *_serve rows ARE the entries' steady-
    // state cost and count toward the total in the combined row's place.
    split.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, (build, serve)) =>
        var built = false
        timed(s"${name}_build") { build(spark, sfDir); built = true }
          .foreach(results(s"${name}_build") = _)
        if (built) timed(s"${name}_serve") {
          serve(spark, sfDir).queryExecution.toRdd.count()
        }.foreach(results(s"${name}_serve") = _)
      }
    if (only.isEmpty) {

    // ---- ANN build/probe split (same params as the simsearch_* entries) ----
    import graft.operators.{IvfIndex, LshIndex, PqIndex}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val tmp = sys.props("java.io.tmpdir")

    var ivfModel: IvfIndex.Model = null
    timed("ivf_build") {
      ivfModel = IvfIndex.build(emb, "embedding", nlist = 16, s"$tmp/graft_bench_ivf", "cosine")
    }.foreach(results("ivf_build") = _)
    if (ivfModel != null) timed("ivf_probe") {
      IvfIndex.probe(spark, ivfModel, "vec_id", "embedding", qv, 10, nprobe = 4)
        .queryExecution.toRdd.count()
    }.foreach(results("ivf_probe") = _)
    var pqModel: PqIndex.Model = null
    timed("ivfpq_build") {
      pqModel = PqIndex.build(emb, "vec_id", "embedding", nlist = 16, m = 8,
        s"$tmp/graft_bench_ivfpq", "cosine")
    }.foreach(results("ivfpq_build") = _)
    if (pqModel != null) timed("ivfpq_probe") {
      PqIndex.probe(spark, pqModel, "vec_id", "embedding", qv, 10, nprobe = 4)
        .queryExecution.toRdd.count()
    }.foreach(results("ivfpq_probe") = _)
    val planes = LshIndex.fitPlanes(dim = qv.length, nbits = 16)
    val lshIndexed = LshIndex.index(emb, "embedding", planes)
    timed("lsh_build") { lshIndexed.queryExecution.toRdd.count() }
      .foreach(results("lsh_build") = _)
    timed("lsh_probe") {
      LshIndex.probe(lshIndexed, "vec_id", "embedding", qv, planes, k = 10, maxHamming = 4)
        .queryExecution.toRdd.count()
    }.foreach(results("lsh_probe") = _)
    }

    spark.catalog.clearCache()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = the queries-contract entries' steady-state cost: plain
    // rows + *_serve rows. Excluded: ANN split diagnostics (their
    // simsearch_* combined rows already count) and *_build fixture
    // rows (one-time cost, reported but not totalled).
    val total = results.filterNot { case (k, _) =>
      k.matches("(ivf|ivfpq|lsh)_(build|probe)") || k.endsWith("_build")
    }.values.sum
    // The stdout failure strings are capped hard: round 6's nine
    // 200-char errors inflated the one-line channel past the driver's
    // capture window and the whole line was dropped. Full text goes to
    // the side file below.
    def failJson(cap: Int) = failures.map { case (k, v) =>
      s"\"" + k + "\":\"" + v.take(cap).replaceAll("[\"\\\\\n]", " ") + "\""
    }.mkString("{", ",", "}")
    val fails = failJson(80)
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // on a comma-decimal machine would emit 0,123 — invalid JSON.
    val repsJson = repTimes.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(t =>
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Two channels, different shapes. The FILE carries the full board
    // (every per-query time + failures) — the committed, machine-
    // parseable artifact. The STDOUT line is the driver's capture
    // channel and its tail window is finite: three rounds running, the
    // full board outgrew it (r5 per-rep arrays, r6 failure strings,
    // r7 the 165-row board itself) — so stdout now carries only a
    // compact summary (total, row count, failure count, file pointer)
    // that always fits and always parses.
    // Steal-window self-annotation: after the bounded re-reps above, a
    // row is `noisy` only if its min is STILL uncorroborated — no second
    // rep landed within 1.5× of the smallest (ratio = second-smallest /
    // smallest). Healed rows (a clean pair found on re-rep) drop the
    // flag; their full per-rep history stays in the _reps side file.
    val noisy = repTimes.flatMap { case (k, ts) =>
      val s = ts.sorted.toIndexedSeq
      if (s.size >= 2 && s(0) > 0 && s(1) / s(0) > 1.5) Some(k -> s(1) / s(0))
      else None
    }
    val noisyJson = noisy.toSeq.sortBy(-_._2).map { case (k, r) =>
      s"\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
    }.mkString("{", ",", "}")
    // rows whose reps ratcheted monotonically >3× within the run: the
    // published min is the honest number; any plateau median is the
    // session's accumulated debt, not the row (see timed()'s healer)
    val escalating = repTimes.flatMap { case (k, ts) =>
      if (isEscalating(ts)) Some(k -> ts.last / ts.head) else None
    }
    val escalatingJson = escalating.toSeq.sortBy(-_._2).map { case (k, r) =>
      s"\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
    }.mkString("{", ",", "}")
    // close the last span, then flag every span whose ENDING sentinel
    // reading inflated >1.5×: rows between the previous reading and
    // that one executed inside a suspected steal window. The map names
    // the span by its bounding rows, so any board row inside a flagged
    // window is auto-annotated by position — no rerun archaeology.
    sentinelReadings += (("<end>", sentinelOnce() / sentinelBase))
    def num(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val stealWindows = sentinelReadings.toSeq.sliding(2).collect {
      case pair if pair.length == 2 && pair(1)._2 > 1.5 =>
        s""""${pair(0)._1}..${pair(1)._1}":${num(pair(1)._2)}"""
    }.mkString("{", ",", "}")
    val sentinelJson =
      s"""{"baseline_sec":${String.format(java.util.Locale.ROOT, "%.3f",
            Double.box(sentinelBase))},"every":$sentinelEvery,"readings":""" +
        sentinelReadings.map { case (n, r) => s"\"" + n + "\":" + num(r) }
          .mkString("{", ",", "}") + "}"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$fails,"noisy":$noisyJson,"escalating":$escalatingJson,"steal_windows":$stealWindows,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), fileLine + "\n")
    val repsPath = outPath.stripSuffix(".json") + "_reps.json"
    Files.writeString(Paths.get(repsPath),
      s"""{"reps":$repsJson,"failures":${failJson(2000)},"sentinel":$sentinelJson,"sf":"$sfDir"}""" + "\n")
    val nStealWindows = sentinelReadings.toSeq.sliding(2)
      .count(p => p.length == 2 && p(1)._2 > 1.5)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
      s""""failed":${failures.size},"noisy_rows":${noisy.size},""" +
      s""""steal_windows":$nStealWindows,"file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
