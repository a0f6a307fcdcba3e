package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe main — the measured-evidence companion to [[Bench]]:
  * each subcommand exercises ONE scale question from SURVEY §6 and
  * prints compact result lines (grep `PROBE`). Not part of the bench
  * board: probes build synthetic regimes (widening distinct-name
  * corpora, storage variants) that the SF tables can't express.
  *
  *   runMain graft.Probe fuzzy 250000,1000000   — big-big fuzzy join
  *     with DISTINCT names growing per side: wall time, prefix-vs-full
  *     join input, hottest prefix posting (dfCap headroom).
  *   runMain graft.Probe hnswbytes <sfDir>      — table-attached HNSW
  *     storage variants: layout bytes, serve latency, top-10 vs the
  *     float32 layout's exact serve.
  *   runMain graft.Probe ivfbytes <sfDir>       — the IVF twin: layout
  *     bytes + partial-settings serve per storage, overlap vs float32
  *     at the SAME settings (quantization effect isolated).
  *   runMain graft.Probe curves <sfDir>         — z-order vs hilbert
  *     3-dim layouts: per-dimension files kept/skipped.
  *   runMain graft.Probe filtered [nRows]       — filtered-ANN
  *     selectivity sweep: auto/walk/post legs timed per selectivity,
  *     recall vs filtered brute force (the three-leg caps evidence).
  */
object Probe {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Deterministic synthetic entity-name corpus with n DISTINCT names:
    * two words from a 5k pool (seeded 5-8 char strings) plus a numeric
    * tail — the regime where names (and their gram postings) GROW with
    * rows instead of replicating, i.e. the hard case for the prefix
    * index (FuzzyJoinSpec's widening probe, continued to 1M+).
    */
  private def names(spark: SparkSession, n: Long, salt: Int): DataFrame = {
    val rnd = new scala.util.Random(42 + salt)
    val pool = (0 until 5000).map { _ =>
      val len = 5 + rnd.nextInt(4)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val poolLit = typedlit(pool)
    spark.range(0, n).select(
      concat(
        element_at(poolLit, (col("id") % 5000 + 1).cast("int")),
        lit(" "),
        element_at(poolLit, ((col("id") * 7919 + 13 + salt) % 5000 + 1).cast("int")),
        lit(" "),
        (col("id") / 5000).cast("string")).as("name"))
  }

  private def fuzzy(spark: SparkSession, sizes: Seq[Long]): Unit = {
    sizes.foreach { n =>
      val a = names(spark, n, salt = 0)
      val b = names(spark, n, salt = 1)
      // the diagnostic pair volumes (prefix vs full) on side A
      val (prefixIn, fullIn) =
        graft.operators.FuzzyJoin.nearDupJoinInputRows(a, "name", maxDist = 1, q = 2)
      // dfCap headroom: the hottest prefix posting across both sides
      // (recomputed the way joinNames ranks — union df order)
      val union = a.select(col("name")).unionByName(b.select(col("name")))
      val (hot, _) = {
        val ex = union.distinct()
          .withColumn("__grams", expr(
            "CASE WHEN length(name) >= 2 THEN array_distinct(transform(" +
              "sequence(1, length(name) - 1), i -> substr(name, i, 2))) " +
              "ELSE array() END"))
          .select(col("name"), explode(col("__grams")).as("__gram"))
        val df_ = ex.groupBy("__gram").agg(count(lit(1)).as("__df"))
        val prefix = ex.join(df_, "__gram")
          .withColumn("__rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("name")
              .orderBy(col("__df"), col("__gram"))))
          .filter(col("__rnk") <= 3)
        (prefix.groupBy("__gram").agg(count(lit(1)).as("pdf"))
          .agg(max("pdf")).head().getLong(0), ())
      }
      val (matches, secs) = timed {
        graft.operators.FuzzyJoin.joinNames(a, "name", b, "name", maxDist = 1, q = 2)
          .count()
      }
      println(s"PROBE fuzzy n=$n secs=${f"$secs%.1f"} matches=$matches " +
        s"prefix_join_input=$prefixIn full_join_input=$fullIn " +
        s"reduction=${f"${fullIn.toDouble / math.max(1L, prefixIn)}%.1f"}x " +
        s"max_prefix_posting=$hot dfcap_headroom=${f"${100000.0 / hot}%.1f"}x")
    }
  }

  private def hnswBytes(spark: SparkSession, sfDir: String): Unit = {
    import graft.sources.{GraftHnsw, GraftTable}
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    def layoutBytes(tbl: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(walk).sum else f.length
      val g = new java.io.File(s"$tbl/_hnswidx/hnsw/g0/layout")
      g.listFiles.filter(f => f.isDirectory && f.getName.startsWith("pid="))
        .map(walk).sum
    }
    val exact = scala.collection.mutable.Map.empty[String, Seq[Long]]
    graft.operators.Quantize.storages.foreach { st =>
      val root = s"${sys.props("java.io.tmpdir")}/graft_probe_hnsw_$st"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val tbl = s"$root/t"
      GraftTable.create(emb, tbl, Seq("vec_id"), nbuckets = 8)
      val (_, buildS) = timed {
        GraftHnsw.create(spark, tbl, "embedding", m = 8, efConstruction = 64,
          nSegments = 4, storage = st)
      }
      val serveS = (1 to 5).map { _ =>
        timed {
          GraftHnsw.probe(spark, tbl, q, 10, ef = 128, rerankFactor = 4)
            .queryExecution.toRdd.count()
        }._2
      }.min
      val top = GraftHnsw.probe(spark, tbl, q, 10, ef = 128, rerankFactor = 4)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      exact(st) = top
      val rec = exact.get("float32").fold(-1.0)(f =>
        top.toSet.intersect(f.toSet).size.toDouble / f.size)
      println(s"PROBE hnswbytes storage=$st layout_bytes=${layoutBytes(tbl)} " +
        s"build_s=${f"$buildS%.1f"} serve_s=${f"$serveS%.2f"} " +
        s"recall_vs_float=${f"$rec%.2f"}")
    }
  }

  /** The MIPS-regime HNSW walk: binary vs rabitq 1-bit storages on a
    * Gaussian-direction × log-normal-norm DOT corpus (unnormalized
    * embeddings — the regime where ⟨q, sign(v)⟩ is norm-blind), walk
    * overlap@10 vs exact brute force at identical settings. The graph
    * twin of the §15.13 IVF measurement: the number that justifies
    * rabitq storage existing in the graph family.
    */
  private def hnswMips(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    import graft.operators.{HnswIndex, VectorSearch}
    val dim = 32
    val corpus = spark.range(0, n).map { k =>
      val r = new scala.util.Random(k)
      val dir = Array.fill(dim)(r.nextGaussian())
      val nn = math.sqrt(dir.map(x => x * x).sum)
      val scale = math.exp(r.nextGaussian() * 0.7)
      (k, dir.map(x => (x / nn * scale).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val queries = (9000L until 9020L).map { k =>
      val r = new scala.util.Random(k)
      val dir = Array.fill(dim)(r.nextGaussian())
      val nn = math.sqrt(dir.map(x => x * x).sum)
      dir.map(x => (x / nn).toFloat).toSeq
    }
    val exact = queries.map { q =>
      VectorSearch.topK(corpus, "embedding", "vec_id", q, 10, "dot")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    Seq("binary", "rabitq").foreach { st =>
      val path = s"${sys.props("java.io.tmpdir")}/graft_probe_hnswmips_$st"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
      val (m, buildS) = timed {
        HnswIndex.build(corpus, "vec_id", "embedding", path, m = 8,
          efConstruction = 64, metric = "dot", nPartitions = 8, storage = st)
      }
      val (hits, serveS) = timed {
        queries.zip(exact).map { case (q, ex) =>
          HnswIndex.probe(spark, m, "vec_id", q, 10, ef = 128)
            .select("vec_id").collect().map(_.getLong(0)).toSet
            .intersect(ex).size
        }.sum
      }
      println(s"PROBE hnswmips n=$n storage=$st build_s=${f"$buildS%.1f"} " +
        s"serve20q_s=${f"$serveS%.1f"} " +
        s"overlap10=${f"${hits.toDouble / (10 * queries.size)}%.2f"}")
    }
    corpus.unpersist(blocking = false)
    ()
  }

  /** Table-attached IVF storage variants (the hnswbytes twin): layout
    * bytes, serve latency at the honest partial settings, and top-10
    * overlap vs the float32 layout's SAME-settings serve — isolating
    * the quantization effect from the nprobe effect.
    */
  private def ivfBytes(spark: SparkSession, sfDir: String): Unit = {
    import graft.sources.{GraftIndex, GraftTable}
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    // overlap averaged over 20 queries — a single query's top-10 grid
    // is too coarse (steps of 0.1) to separate the 1-bit variants
    val qs = emb.filter(col("vec_id") < 20L).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def layoutBytes(tbl: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
      walk(new java.io.File(s"$tbl/_index/vec/data"))
    }
    val tops = scala.collection.mutable.Map.empty[String, Map[Long, Set[Long]]]
    graft.operators.Quantize.storages.foreach { st =>
      val root = s"${sys.props("java.io.tmpdir")}/graft_probe_ivf_$st"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val tbl = s"$root/t"
      GraftTable.create(emb, tbl, Seq("vec_id"), nbuckets = 8)
      val (_, buildS) = timed {
        GraftIndex.create(spark, tbl, "embedding", nlist = 16, storage = st)
      }
      def serve() = GraftIndex.probe(spark, tbl, q, 10, nprobe = 8, rerankFactor = 4)
      val serveS = (1 to 5).map(_ => timed(serve().queryExecution.toRdd.count())._2).min
      tops(st) = qs.map { case (qid, qv) =>
        qid -> GraftIndex.probe(spark, tbl, qv, 10, nprobe = 8, rerankFactor = 4)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }.toMap
      val rec = tops.get("float32").fold(-1.0)(f =>
        qs.map { case (qid, _) =>
          tops(st)(qid).intersect(f(qid)).size.toDouble / f(qid).size
        }.sum / qs.size)
      println(s"PROBE ivfbytes storage=$st layout_bytes=${layoutBytes(tbl)} " +
        s"build_s=${f"$buildS%.1f"} serve_s=${f"$serveS%.2f"} " +
        s"overlap_vs_float_same_nprobe_avg20=${f"$rec%.2f"}")
    }
  }

  /** Filtered-search selectivity sweep (the §6 evidence behind the
    * three-leg strategy and its default caps): one n-row table with a
    * controllable-attr column + table-attached HNSW; for predicates
    * keeping ~0.1 % / 1 % / 10 % / 50 % of rows, serve with the AUTO
    * strategy and with each leg FORCED — wall time per leg plus
    * recall@10 vs filtered brute force. The interesting exhibits:
    * the scarce-accept walk cost the brute leg avoids (sel = 0.1 %
    * forced-walk vs auto), and the walk-vs-post crossover as the
    * filter loosens.
    */
  private def filtered(spark: SparkSession, n: Long): Unit = {
    import graft.sources.{GraftHnsw, GraftTable}
    val root = s"${sys.props("java.io.tmpdir")}/graft_probe_filtered"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tbl = s"$root/t"
    val df = spark.range(0, n).select(col("id"),
      expr("transform(sequence(0, 15), d -> cast(sin(id * 37.0 + d * 11.0) AS float))").as("vec"),
      (col("id") % 1000).cast("int").as("attr"))
    GraftTable.create(df, tbl, Seq("id"), nbuckets = 8)
    val (_, buildS) = timed {
      GraftHnsw.create(spark, tbl, "vec", m = 8, efConstruction = 64, nSegments = 8)
    }
    println(s"PROBE filtered n=$n build_s=${f"$buildS%.1f"}")
    val q = (0 until 16).map(d => math.sin(123 * 37.0 + d * 11.0).toFloat)
    def want(cut: Int): Seq[Long] = graft.operators.VectorSearch.topK(
        GraftTable.read(spark, tbl).filter(col("attr") < cut), "vec", "id",
        q, 10, "cosine")
      .select("id").collect().map(_.getLong(0)).toSeq
    Seq(1, 10, 100, 500).foreach { cut =>
      val exact = want(cut).toSet
      val matches = n * cut / 1000
      def leg(tag: String, bfc: Int, acc: Int): Unit = {
        def serve() = GraftHnsw.probe(spark, tbl, q, 10, ef = 128,
          pred = Some(col("attr") < cut), bruteForceCap = bfc, acceptCap = acc)
        val s = (1 to 3).map(_ => timed(serve().queryExecution.toRdd.count())._2).min
        val ids = serve().select("id").collect().map(_.getLong(0)).toSet
        println(s"PROBE filtered sel=${cut / 10.0}% matches=$matches leg=$tag " +
          s"serve_s=${f"$s%.2f"} recall=${f"${ids.intersect(exact).size / 10.0}%.2f"}")
      }
      leg("auto", 10000, 1000000)
      leg("walk", 0, Int.MaxValue)
      leg("post", 0, 0)
    }
  }

  /** Merge-benefit probe: the segment-count ratchet vs serve latency.
    * A CDC regime (16 upsert+refresh cycles) ratchets a 4-segment index
    * to 20; serve is timed before and after `GraftHnsw.merge` folds the
    * flush tier back (target 5 ⇒ merged tier = the 16 small flushes,
    * ~0.8 % of the corpus), and the merge cost sits next to a full
    * rebuild's — the O(merged tier) vs O(corpus) claim, measured.
    */
  private def mergeProbe(spark: SparkSession, n: Long): Unit = {
    import graft.sources.{GraftHnsw, GraftTable}
    val root = s"${sys.props("java.io.tmpdir")}/graft_probe_merge"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tbl = s"$root/t"
    def vecExpr = expr("transform(sequence(0, 15), d -> cast(sin(id * 37.0 + d * 11.0) AS float))")
    GraftTable.create(spark.range(0, n).select(col("id"), vecExpr.as("vec")),
      tbl, Seq("id"), nbuckets = 8)
    GraftHnsw.create(spark, tbl, "vec", m = 8, efConstruction = 64, nSegments = 4)
    val q = (0 until 16).map(d => math.sin(123 * 37.0 + d * 11.0).toFloat)
    def serveMin() = (1 to 5).map(_ => timed {
      GraftHnsw.probe(spark, tbl, q, 10, ef = 128).queryExecution.toRdd.count()
    }._2).min
    (0 until 16).foreach { i =>
      GraftTable.upsert(spark, tbl,
        spark.range(n + i * 100, n + i * 100 + 100).select(col("id"), vecExpr.as("vec")))
      GraftHnsw.refresh(spark, tbl)
    }
    val segsBefore = GraftHnsw.meta(tbl).segs.length
    val before = serveMin()
    val (_, mergeS) = timed(GraftHnsw.merge(spark, tbl, targetSegments = 5))
    val after = serveMin()
    println(s"PROBE merge n=$n segs_before=$segsBefore serve_before_s=${f"$before%.2f"} " +
      s"merge_s=${f"$mergeS%.1f"} segs_after=${GraftHnsw.meta(tbl).segs.length} " +
      s"serve_after_s=${f"$after%.2f"}")
    val (_, rebuildS) = timed(GraftHnsw.rebuild(spark, tbl))
    println(s"PROBE merge rebuild_s=${f"$rebuildS%.1f"} (the O(corpus) alternative)")
  }

  /** z-order vs hilbert on the 3-dim orders layout: files kept/skipped
    * per dimension (the scan's own keep rule) + per-dim file-span
    * percentiles — the §6 evidence behind the `lakehouse_*3_prune`
    * rows' curve choice.
    */
  private def curves(spark: SparkSession, sfDir: String): Unit = {
    import graft.sources.GraftTable
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, Filter}
    val orders = Tables.orders(spark, sfDir)
    val rr = orders.agg(min("o_totalprice"), max("o_totalprice"),
      min("o_custkey"), max("o_custkey")).head()
    val priceCut = rr.getDouble(0) + (rr.getDouble(1) - rr.getDouble(0)) / 20.0
    val custCut = rr.getLong(2) + (rr.getLong(3) - rr.getLong(2)) / 20
    val preds: Seq[(String, Seq[Filter])] = Seq(
      ("date2mo", Seq(
        GreaterThanOrEqual("o_orderdate", java.sql.Timestamp.valueOf("1999-06-01 00:00:00")),
        LessThan("o_orderdate", java.sql.Timestamp.valueOf("1999-08-01 00:00:00")))),
      ("price5pct", Seq(LessThan("o_totalprice", priceCut))),
      ("cust5pct", Seq(LessThan("o_custkey", custCut))))
    Seq("zorder", "hilbert").foreach { curve =>
      val root = s"${sys.props("java.io.tmpdir")}/graft_probe_curve_$curve"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val tbl = s"$root/t"
      GraftTable.create(orders, tbl, Seq("o_orderkey"), nbuckets = 2)
      val (_, secs) = timed {
        GraftTable.compact(spark, tbl,
          clusterBy = Some(Seq("o_orderdate", "o_totalprice", "o_custkey")),
          targetFilesPerBucket = 256, curve = curve)
      }
      val snap = GraftTable.snapshotAt(tbl, -1)
      val kept = preds.map { case (name, fs) =>
        val Some((_, k, t)) = GraftTable.prunedDataPaths(snap, fs)
        s"$name=$k/$t"
      }.mkString(" ")
      println(s"PROBE curves curve=$curve compact_s=${f"$secs%.1f"} kept[$kept]")
    }
  }

  /** Per-batch anatomy of the `stream_dedup` row (the r11 board's one
    * reproduced >2× mover): the exact bench body — events unioned with
    * a replay of itself, dropDuplicatesWithinWatermark, AvailableNow →
    * memory sink — with each micro-batch's duration breakdown and state
    * operator commit times printed, so a wall-clock move decomposes
    * into planning / state-store / addBatch instead of staying a single
    * opaque number.
    */
  private def streamDedup(spark: SparkSession, dir: String, reps: Int): Unit = {
    (1 to reps).foreach { i =>
      val (_, secs) = timed {
        val df = graft.streaming.EventStreams.readEventStream(spark, dir)
        val out = graft.streaming.EventStreams
          .dedupedEvents(df.unionAll(df), "event_id")
          .select(col("event_id"), col("user_id"))
        val q = out.writeStream.format("memory").queryName(s"sd_probe_$i")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress.foreach { p =>
          println(s"PROBE streamdedup rep=$i batch=${p.batchId} " +
            s"rows=${p.numInputRows} durationMs=${p.durationMs} " +
            s"state=${p.stateOperators.map(so =>
              s"commitMs=${so.commitTimeMs},rows=${so.numRowsTotal}").mkString(";")}")
        }
      }
      println(f"PROBE streamdedup rep=$i wall_s=$secs%.2f")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "fuzzy" :: rest =>
        val sizes = rest.headOption.getOrElse("250000,1000000")
          .split(",").map(_.trim.toLong).toSeq
        fuzzy(spark, sizes)
      case "hnswbytes" :: rest =>
        hnswBytes(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case "ivfbytes" :: rest =>
        ivfBytes(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case "curves" :: rest =>
        curves(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case "filtered" :: rest =>
        filtered(spark, rest.headOption.map(_.toLong).getOrElse(200000L))
      case "merge" :: rest =>
        mergeProbe(spark, rest.headOption.map(_.toLong).getOrElse(200000L))
      case "streamdedup" :: rest =>
        streamDedup(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"),
          rest.drop(1).headOption.map(_.toInt).getOrElse(3))
      case "hnswmips" :: rest =>
        hnswMips(spark, rest.headOption.map(_.toLong).getOrElse(200000L))
      case other =>
        throw new IllegalArgumentException(
          s"unknown probe ${other.mkString(" ")} (fuzzy | hnswbytes | ivfbytes | curves | filtered | merge | streamdedup | hnswmips)")
    }
    spark.stop()
  }
}
