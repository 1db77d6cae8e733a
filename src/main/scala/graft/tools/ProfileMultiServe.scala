package graft.tools

import org.apache.spark.sql.functions._

/** Q-sweep for the batched serving paths (round-15 verdict #1's
  * receipt): per-query cost of the LITERAL batched plans
  * (per-query vectors/LUTs embedded in the plan, Q-struct explode
  * per scanned row) vs the QUERY-TABLE plans (broadcast probe join,
  * O(1) plan size) at Q ∈ {5, 50, 500}. The literal path is expected
  * to win small Q (no join, static partition pruning) and degrade —
  * analysis/codegen time and row expansion are O(Q) — while the
  * query-table path should stay flat-ish per query.
  *
  * The conf override pins each path explicitly so the sweep measures
  * PLANS, not the router.
  *
  * Usage: runMain graft.tools.ProfileMultiServe [sfDir]
  */
object ProfileMultiServe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    import graft.Tables
    import graft.similarity.Similarity

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def minOf3(label: String)(f: => Long): Double = {
      var best = Double.MaxValue
      var rows = 0L
      (1 to 3).foreach { _ =>
        val (n, s) = time(f)
        rows = n; best = math.min(best, s)
      }
      println(f"[multiserve] $label%-34s rows=$rows%-6d min $best%8.3f s")
      best
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Bench's machine-speed constant, so the sweep's numbers are
    // rig-comparable across sessions
    val calibration = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once(); (1 to 5).map(_ => once()).min
    }
    println(f"[multiserve] calibration $calibration%7.3f s")
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 16)
    val cb = Similarity.pqBuild(emb, m = 8, ksub = 16, iterations = 1)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_multiserve").toString
    Similarity.writeIvfIndex(emb, cents, s"$tmp/f")
    Similarity.writePqIndex(emb, cents, cb, s"$tmp/p")
    Similarity.writeQuantizedIvfIndex(emb, cents, s"$tmp/q")
    val fIdx = spark.read.parquet(s"$tmp/f")
    val pIdx = spark.read.parquet(s"$tmp/p")
    val qIdx = spark.read.parquet(s"$tmp/q")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)

    def querySeq(q: Int): Seq[(Long, Seq[Double])] = {
      require(q <= maxId + 1, s"corpus has only ${maxId + 1} vectors")
      emb.filter(col("vec_id") < q)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
        .sortBy(_._1).toSeq
    }
    def queryFrame(q: Int) = emb.filter(col("vec_id") < q)
      .select(col("vec_id").as("query_id"), col("embedding"))

    // ---- single-serve latencies per store (the latency-book row
    // next to each batched shape; same rig, same calibration)
    val q0 = querySeq(1).head._2
    minOf3("float single") {
      Similarity.ivfTopKFromIndex(fIdx, cents, q0, 10, 2).count()
    }
    minOf3("pq single") {
      Similarity.pqTopKFromIndex(pIdx, cents, cb, q0, 10, 2).count()
    }
    minOf3("pq refined single") {
      Similarity.pqTopKRefined(pIdx, emb, cents, cb, q0, 10, 2, 40).count()
    }
    minOf3("int8 single") {
      Similarity.quantizedTopKFromIndex(qIdx, cents, q0, 10, 2).count()
    }
    minOf3("int8 batched lit Q=5") {
      Similarity.quantizedMultiTopKFromIndex(qIdx, cents, querySeq(5),
        10, 2).count()
    }
    minOf3("int8 q-table Q=50") {
      Similarity.quantizedMultiTopKFromIndexQT(qIdx, cents,
        queryFrame(50), 10, 2).count()
    }

    Seq(5, 50, 500).foreach { q =>
      // pin the LITERAL plan regardless of Q...
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "100000")
      val qs = querySeq(q)
      val lf = minOf3(s"float literal   Q=$q") {
        Similarity.ivfMultiTopKFromIndex(fIdx, cents, qs, 10, 2).count()
      }
      val lp = minOf3(s"pq literal      Q=$q") {
        Similarity.pqMultiTopKFromIndex(pIdx, cents, cb, qs, 10, 2).count()
      }
      val lr = minOf3(s"pq refined lit  Q=$q") {
        Similarity.pqMultiTopKRefined(pIdx, emb, cents, cb, qs, 10, 2,
          40).count()
      }
      // ...then the QUERY-TABLE plan
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "0")
      val tf = minOf3(s"float q-table   Q=$q") {
        Similarity.ivfMultiTopKFromIndexQT(fIdx, cents, queryFrame(q),
          10, 2).count()
      }
      val tp = minOf3(s"pq q-table      Q=$q") {
        Similarity.pqMultiTopKFromIndexQT(pIdx, cents, cb, queryFrame(q),
          10, 2).count()
      }
      val tr = minOf3(s"pq refined qt   Q=$q") {
        Similarity.pqMultiTopKRefinedQT(pIdx, emb, cents, cb,
          queryFrame(q), 10, 2, 40).count()
      }
      println(f"[multiserve] Q=$q%-4d per-query s: float lit ${lf / q}%8.5f" +
        f" qt ${tf / q}%8.5f | pq lit ${lp / q}%8.5f qt ${tp / q}%8.5f" +
        f" | refined lit ${lr / q}%8.5f qt ${tr / q}%8.5f")
      spark.conf.unset("spark.graft.batchedServeLiteralMaxQ")
    }

    // ---- the id-dense stress ceiling: EVERY corpus vector as a
    // query through the query-table path (sf0.1 ⇒ Q=2000) — the
    // plan is Q-invariant, so the only Q-proportional costs left are
    // the Q·nProbe broadcast and the (query_id, vec_id, score) rank
    // shuffle
    locally {
      val qAll = (maxId + 1).toInt
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "0")
      val t = minOf3(s"float q-table   Q=$qAll (all)") {
        Similarity.ivfMultiTopKFromIndexQT(fIdx, cents,
          queryFrame(qAll), 10, 2).count()
      }
      println(f"[multiserve] Q=$qAll stress: ${t / qAll}%8.5f s/query")
      spark.conf.unset("spark.graft.batchedServeLiteralMaxQ")
    }

    // ---- round-16 receipts --------------------------------------

    // the artifact-dedup operating point (round-16 verdict #2): the
    // int8 QT plan at nProbe=16, where the old exploded-artifact
    // broadcast computed and shipped every query's pair 16×
    locally {
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "0")
      Seq(50, 500).foreach { q =>
        minOf3(s"int8 q-table Q=$q nProbe=16") {
          Similarity.quantizedMultiTopKFromIndexQT(qIdx, cents,
            queryFrame(q), 10, 16).count()
        }
        minOf3(s"pq q-table   Q=$q nProbe=16") {
          Similarity.pqMultiTopKFromIndexQT(pIdx, cents, cb,
            queryFrame(q), 10, 16).count()
        }
      }
      spark.conf.unset("spark.graft.batchedServeLiteralMaxQ")
    }

    // bucketed vs streamed re-rank fetch (round-16 verdict #1): the
    // two-stage QT serve with the float table as a vec_id-bucketed
    // catalog table (bucket-file pruning from the bounded shortlist)
    // against the plain-parquet streamed-pass fallback
    locally {
      graft.ops.BucketedTables.writeBucketed(
        emb.select(col("vec_id"), col("embedding")),
        "profile_bktemb", "vec_id", 16)
      val bkt = graft.ops.BucketedTables.readTable(spark, "profile_bktemb")
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "0")
      Seq(5, 50, 500).foreach { q =>
        val st = minOf3(s"refined qt streamed Q=$q") {
          Similarity.pqMultiTopKRefinedQT(pIdx, emb, cents, cb,
            queryFrame(q), 10, 2, 40).count()
        }
        val bk = minOf3(s"refined qt bucketed Q=$q") {
          Similarity.pqMultiTopKRefinedQTBucketed(pIdx, bkt, cents, cb,
            queryFrame(q), 10, 2, 40).count()
        }
        println(f"[multiserve] refined Q=$q%-4d streamed $st%8.3f s" +
          f" bucketed $bk%8.3f s ratio ${st / bk}%5.2f x")
      }
      spark.conf.unset("spark.graft.batchedServeLiteralMaxQ")
    }

    // streaming-sink per-trigger latency (round-16 verdict #8): what
    // one micro-batch of Q=50 queries costs END TO END through
    // knnServingSink / quantizedServingSink — serve + localCheckpoint
    // + dynamic overwrite + checkpoint commit — vs the bare QT serve
    // the batch wraps. Three triggers each, min reported.
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val qrows = emb.filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> (r.getSeq[Double](1).toVector: Seq[Double]))
        .toSeq
      def triggerSweep(label: String,
          start: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        val mem = MemoryStream[(Long, Seq[Double])]
        val q = start(mem.toDS().toDF("query_id", "embedding"))
        try {
          var best = Double.MaxValue
          (1 to 3).foreach { _ =>
            mem.addData(qrows)
            val t0 = System.nanoTime()
            q.processAllAvailable()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"[multiserve] $label%-34s min $best%8.3f s/trigger (Q=50)")
        } finally q.stop()
      }
      triggerSweep("knn serving sink trigger", src =>
        graft.streaming.Pipelines.knnServingSink(src, cents, s"$tmp/f",
          s"$tmp/sinkout_f", s"$tmp/sinkckpt_f", 10, 2))
      triggerSweep("quantized serving sink trigger", src =>
        graft.streaming.Pipelines.quantizedServingSink(src, cents,
          s"$tmp/q", s"$tmp/sinkout_q", s"$tmp/sinkckpt_q", 10, 2))
      // the COLD tier's per-trigger price: the same wrapper around the
      // two-stage refined QT plan, so the delta over the rows above IS
      // the re-rank stage itself
      emb.write.mode("overwrite").parquet(s"$tmp/embp")
      triggerSweep("pq refined serving sink trigger", src =>
        graft.streaming.Pipelines.pqRefinedServingSink(src, cents, cb,
          s"$tmp/p", s"$tmp/embp", s"$tmp/sinkout_p",
          s"$tmp/sinkckpt_p", 10, 2, 40))
    }

    // ---- chunked budget fallback (round-16 wave 3): what chunking
    // costs when a broadcast ceiling forces it — n hash-disjoint QT
    // serves vs the one-shot plan over the same Q=500 batch
    locally {
      spark.conf.set("spark.graft.batchedServeLiteralMaxQ", "0")
      val one = minOf3("float qt one-shot Q=500") {
        Similarity.ivfMultiTopKFromIndexQT(fIdx, cents, queryFrame(500),
          10, 2).count()
      }
      Seq(2, 4).foreach { n =>
        val ch = minOf3(s"float qt chunked  Q=500 n=$n") {
          Similarity.servedInChunks(queryFrame(500), n)(qf =>
            Similarity.ivfMultiTopKFromIndexQT(fIdx, cents, qf, 10, 2))
            .count()
        }
        println(f"[multiserve] chunked Q=500 n=$n overhead ${ch / one}%5.2f x")
      }
      spark.conf.unset("spark.graft.batchedServeLiteralMaxQ")
    }

    // ---- hybrid Q-sweep (round-15 verdict #4): does the batched
    // hybrid's 2.3× at Q=3 widen with Q, PQ-style? Q single serves
    // vs one hybridMultiSearchServed batch over the same queries.
    import graft.ops.SearchOps
    val docs = Tables.documents(spark, sfDir)
    SearchOps.writeBm25Index(docs, s"$tmp/bm25")
    val pool = Seq("merge", "query", "sort", "window", "spark", "data")
    def hQueries(q: Int): Seq[(Long, Seq[String])] =
      (0 until q).map(i => (i.toLong,
        Seq(pool(i % pool.length), pool((i + 1) % pool.length))))
    Seq(3, 10, 50).foreach { q =>
      val hq = hQueries(q)
      val qvById = emb.filter(col("vec_id") < q)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
      val singles = minOf3(s"hybrid singles  Q=$q") {
        hq.map { case (vid, terms) =>
          SearchOps.hybridSearchServed(spark, s"$tmp/bm25", pIdx, emb,
            cents, cb, terms, qvById(vid), 10).count()
        }.sum
      }
      val batched = minOf3(s"hybrid batched  Q=$q") {
        SearchOps.hybridMultiSearchServed(spark, s"$tmp/bm25", pIdx,
          emb, cents, cb, hq, 10).count()
      }
      println(f"[multiserve] hybrid Q=$q%-3d singles $singles%8.3f s" +
        f" batched $batched%8.3f s speedup ${singles / batched}%5.2f x")
    }

    // ---- eval-set Q-sweep (round-16 verdict #5 / r15 missing #5):
    // the FULL hybrid eval (batched ranking + relevance evidence +
    // exact-rational metric tail) as the eval set grows — near-flat
    // total time is the claim, since every stage reads the union of
    // the batch's term buckets / probed cells once. Sweeps across
    // the literal→QT reroute (default threshold 16): Q=50 exercises
    // the query-table semantic stage with the join-based vector fetch
    Seq(3, 10, 50).foreach { q =>
      val eq = hQueries(q).map { case (vid, terms) =>
        (s"label$vid", terms, vid) }
      val t = minOf3(s"hybrid eval     Q=$q") {
        SearchOps.hybridEval(spark, s"$tmp/bm25", pIdx, emb, cents, cb,
          eq, 10).count()
      }
      println(f"[multiserve] eval Q=$q%-3d total $t%8.3f s" +
        f" per-query ${t / q}%8.5f s")
    }

    // ---- term-frame lexical fetch (round-16 wave 3): the postings
    // TERM filter as a literal In vs the broadcast term-frame join,
    // at term counts where an eval batch's union of query terms
    // outgrows a sane plan. Rows are identical (spec-gated); this
    // prices the trade (losing row-group term pushdown vs O(1) plan).
    locally {
      val vocab = spark.read.parquet(s"$tmp/bm25/postings")
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(512)
        .collect().map(_.getString(0)).toSeq
      Seq(16, 128, 512).foreach { n =>
        val ts = vocab.take(n)
        spark.conf.set("spark.graft.termLiteralMax", "100000")
        val li = minOf3(s"bm25 literal    terms=$n") {
          SearchOps.searchBm25FromIndex(spark, s"$tmp/bm25", ts, 10)
            .count()
        }
        spark.conf.set("spark.graft.termLiteralMax", "0")
        val jn = minOf3(s"bm25 term-frame terms=$n") {
          SearchOps.searchBm25FromIndex(spark, s"$tmp/bm25", ts, 10)
            .count()
        }
        println(f"[multiserve] terms=$n%-4d literal $li%8.3f s" +
          f" term-frame $jn%8.3f s ratio ${li / jn}%5.2f x")
        spark.conf.unset("spark.graft.termLiteralMax")
      }
    }
    spark.stop()
  }
}
