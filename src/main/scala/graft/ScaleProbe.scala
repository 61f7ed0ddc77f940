package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe (not part of the driver contract): clones the sf0.1 tables
  * N× into /tmp and times the heavy operators, to observe scaling behavior
  * beyond the provided SFs — events ~3M rows, documents ~100k (with 20
  * near-identical clone families each, a worst-ish case for minhash bucket
  * fan-out), embeddings ~40k.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft_sfbig"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def clone(df: DataFrame, n: Int, remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => remap(df, i)).reduce(_.unionByName(_))

    if (!new java.io.File(s"$out/events.parquet").exists()) {
      val ev = Tables.events(spark, base)
      clone(ev, 30, (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECONDS")))
        .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
      val docs = Tables.documents(spark, base)
      clone(docs, 20, (d, i) => d
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = Tables.embeddings(spark, base)
      clone(emb, 20, (d, i) => d
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
        .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    // optional args: substring filters — run only probe rows whose name
    // contains one of them (re-measure a single row without the full hour)
    def time(name: String)(f: => Long): Unit = {
      if (args.isEmpty || args.exists(name.contains)) {
        val t0 = System.nanoTime()
        val n = f
        println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    import graft.queries.Relational
    import graft.functions.{Dedup, Similarity}
    def noopCount(df: DataFrame): Long = { df.write.format("noop").mode("overwrite").save(); df.count() }
    time("d03 argmax 3M events")(noopCount(Relational.d03LastEventPerUser(spark, out)))
    time("d03 salted 3M events")(noopCount(graft.ops.CoreOps.lastValuePerKeySalted(
      Tables.events(spark, out), Seq("user_id"), "event_id")))
    time("d09 window 3M events")(noopCount(Relational.d09WindowRunning(spark, out)))
    time("x05 minhash 100k docs")(noopCount(Dedup.x05MinhashSignatures(spark, out)))
    time("x06 neardup 100k docs w/ 20-clone families")(noopCount(Dedup.x06NearDupPairs(spark, out)))
    time("x05fast minhash(xxhash64) 100k docs")(noopCount(
      Dedup.minhashSignaturesFast(Tables.documents(spark, out))))
    time("x06fast neardup(xxhash64) 100k docs")(noopCount(
      Dedup.nearDupCandidatesFast(Tables.documents(spark, out))))
    time("x08 ann 40k vecs x 20 queries")(noopCount(Similarity.x08AnnMultiQuery(spark, out)))
    time("d20 topk 40k vecs")(noopCount(Similarity.d20TopKNeighbors(spark, out)))
    time("d29 asof join 3M events")(noopCount(Relational.d29AsofJoin(spark, out)))
    time("x13 ivf assign 40k vecs (map-only)")(noopCount(graft.functions.Ivf.assignCells(
      Tables.embeddings(spark, out), graft.functions.Ivf.train(Tables.embeddings(spark, out), 8, 1))))
    time("x21 sequence pack 100k docs")(noopCount(
      graft.functions.Sampling.x21SequencePack(spark, out)))
    time("x22 decontaminate 100k docs")(noopCount(graft.functions.Sampling.x22Decontaminate(spark, out)))
    time("x27 pii redact 100k docs (map-only)")(noopCount(
      graft.functions.Privacy.x27PiiRedact(spark, out)))
    time("x28 bigram lm 100k docs")(noopCount(graft.functions.Corpus.x28BigramLm(spark, out)))
    time("x29 dup spans 100k docs w/ 20-clone families")(noopCount(
      graft.functions.Corpus.x29DupSpans(spark, out)))
    time("x30 pq encode 40k vecs (map-only)")(noopCount {
      val emb = Tables.embeddings(spark, out)
      graft.functions.Pq.encode(emb, graft.functions.Pq.train(emb, iters = 1))
    })
    time("x31 ivfadc search 40k vecs x 20 queries (nprobe 3/8 + rerank)")(noopCount {
      val emb = Tables.embeddings(spark, out)
      val model = graft.functions.Ivfadc.Model(
        graft.functions.Ivf.train(emb, 8, 1),
        graft.functions.Pq.train(emb, iters = 1))
      graft.functions.Ivfadc.searchRerank(
        emb, graft.functions.Ivfadc.encode(emb, model),
        emb.filter(col("vec_id") < 20), model, k = 3, nprobe = 3)
    })
    time("x32 bm25 100k docs (map-only + scalar stats)")(noopCount(
      graft.functions.Search.x32Bm25TopK(spark, out)))
    time("x33 inverted index 100k docs")(noopCount(
      graft.functions.Search.x33InvertedIndex(spark, out)))
    time("x35 bloom decontaminate 100k docs")(noopCount(
      graft.functions.Bloom.x35BloomDecontaminate(spark, out)))
    time("x36 least squares 3M events (one agg)")(noopCount(
      graft.functions.Stats.x36LeastSquares(spark, out)))
    time("x37 bpe merges 100k docs (8 rounds)")(noopCount(
      graft.functions.Bpe.x37BpeMerges(spark, out)))
    time("x38 cms heavy hitters 100k docs")(noopCount(
      graft.functions.Cms.x38CmsHeavyHitters(spark, out)))
    time("x39 curation pipeline 100k docs")(noopCount(
      graft.functions.Curation.x39CurationPipeline(spark, out)))
    time("x42 cdc chunking 100k docs (map-only)")(noopCount(
      graft.functions.Text.x42CdcChunks(spark, out)))
    time("x45 knn labels 40k-vec pool x 20 queries")(noopCount(
      graft.functions.Knn.x45KnnLabel(spark, out)))
    time("x47 tfidf top-3 100k docs")(noopCount(
      graft.functions.Search.x47TfidfTopK(spark, out)))
    time("x48 split leakage 100k docs w/ 20-clone families")(noopCount(
      graft.functions.Sampling.x48SplitLeakage(spark, out)))
    time("x49 ngram novelty 100k docs")(noopCount(
      graft.functions.Corpus.x49NgramNovelty(spark, out)))
    time("x51 pagerank, dup graph of 40k vecs w/ 20-clone families")(noopCount(
      graft.functions.GraphOps.x51DupPagerank(spark, out)))
    time("x54 span removal 100k docs w/ 20-clone families (worst case: ~all positions covered)")(
      noopCount(graft.functions.Corpus.x54SpanRemoval(spark, out)))
    time("x57 priority dedup 100k docs (20-clone groups: min_by over folded key)")(
      noopCount(Dedup.x57PriorityDedup(spark, out)))
    time("x58 corpus shuffle 100k docs -> 8 shards")(noopCount(
      graft.functions.Sampling.x58CorpusShuffle(spark, out)))
    time("x59 incremental dedup, src19 batch vs 95k-doc corpus index")(noopCount(
      Dedup.x59IncrementalDedup(spark, out)))
    time("x60 length outliers 100k docs, 4-language percent_rank")(noopCount(
      graft.functions.Sampling.x60LengthOutliers(spark, out)))
    time("x61 zipf fit 100k docs, top-1000 spectrum")(noopCount(
      graft.functions.Stats.x61ZipfFit(spark, out)))
    time("x62 incremental near-dup, src19 batch vs 95k-doc signature index w/ clone families")(
      noopCount(Dedup.x62IncrementalNearDup(spark, out)))
    time("x63 lm perplexity 100k docs (broadcast model)")(noopCount(
      graft.functions.Corpus.x63LmPerplexity(spark, out)))
    time("x64 source report 100k docs")(noopCount(
      graft.functions.Curation.x64SourceReport(spark, out)))
    time("x65 label centroids 800k vecs")(noopCount(
      graft.functions.Knn.x65LabelCentroids(spark, out)))
    time("x66 length histogram 100k docs")(noopCount(
      graft.functions.Sampling.x66LengthHistogram(spark, out)))
    time("x67 pmi collocations 100k docs")(noopCount(
      graft.functions.Corpus.x67PmiCollocations(spark, out)))
    time("x68 self repetition 100k docs")(noopCount(
      graft.functions.Corpus.x68SelfRepetition(spark, out)))
    time("x69 containment screen 100k docs w/ clone families")(noopCount(
      Dedup.x69ContainmentScreen(spark, out)))
    time("x70 distinctive terms 100k docs x 20 sources")(noopCount(
      graft.functions.Text.x70DistinctiveTerms(spark, out)))
    time("x71 pretrain pipeline 100k docs (gate+dedup+CC+split)")(noopCount(
      graft.functions.Curation.x71PretrainPipeline(spark, out)))
    time("x72 score calibration 100k docs")(noopCount(
      graft.functions.Curation.x72ScoreCalibration(spark, out)))
    time("d39 funnel 3M events")(noopCount(Relational.d39Funnel(spark, out)))
    time("x77 dsir selection 100k docs (hashed-ngram importance top-100)")(noopCount(
      graft.functions.Sampling.x77DsirSelect(spark, out)))
    time("x78 gopher rules 100k docs (map-only)")(noopCount(
      graft.functions.Text.x78GopherRules(spark, out)))
    time("x34 semantic dedup 800k vecs (LSH-bucketed cosine)")(noopCount(
      Dedup.x34SemanticDedup(spark, out)))
    time("x40 mixture resample 100k docs")(noopCount(
      graft.functions.Sampling.x40MixtureResample(spark, out)))
    time("x41 hybrid rrf 100k docs")(noopCount(
      graft.functions.Search.x41HybridRrf(spark, out)))
    time("x43 chunk dedup stats ~540k chunks w/ 20-clone families")(noopCount(
      graft.functions.Text.x43ChunkDedupStats(spark, out)))
    time("x44 chunk near-dups ~540k chunks w/ 20-clone families (capped C(n,2) buckets)")(
      noopCount(graft.functions.Text.x44ChunkNearDups(spark, out)))
    time("x73 hashed features 100k docs (map-only 64-dim)")(noopCount(
      graft.functions.Search.x73HashedFeatures(spark, out)))
    time("x74 negative samples 100k docs (bucket reps + vp anti-join)")(noopCount(
      graft.functions.Sampling.x74NegativeSamples(spark, out)))
    time("x75 reshard plan 100k docs (one agg)")(noopCount(
      graft.functions.Sampling.x75ReshardPlan(spark, out)))
    time("x76 minhash calibration 100k docs w/ clone families")(noopCount(
      Dedup.x76MinhashCalibration(spark, out)))
    // the x71 ordering lesson, measured in isolation: the near-dup cluster
    // chain (sig -> LSH -> verify -> CC) over the RAW clone corpus vs over
    // the exact-dedup survivor relation x71 now feeds it. Fresh cache tags
    // so neither run reads the other's signature/shingle cache.
    time("x26 cluster chain over RAW 100k clone corpus (pre-fix x71 shape)")(noopCount(
      Dedup.x26DupClustersOf(spark, Tables.documents(spark, out), s"$out|probe-raw")))
    def survivors = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      Tables.documents(spark, out)
        .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
        .withColumn("keep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep"))
        .select(col("doc_id"), col("text"))
    }
    time("x26 cluster chain over exact-dedup survivors (x71 shape after fix)")(noopCount(
      Dedup.x26DupClustersOf(spark, survivors, s"$out|probe-surv")))
    time("x69 containment screen over exact-dedup survivors (survivor-table form)")(noopCount(
      Dedup.x69ContainmentScreenOf(spark, survivors, s"$out|probe-surv69")))
    time("x16 verified near-dups over exact-dedup survivors (survivor-table form)")(noopCount(
      Dedup.x16VerifiedNearDupsOf(spark, survivors, s"$out|probe-surv16")))
    // x26 cluster step probed on synthetic edges so the minhash pipeline's
    // cost doesn't mask it: 500k 10-member clone families (diameter 1) plus
    // a 1000-node chain (forces ~9 pointer-jump rounds over the full edge set)
    time("x26 connected components, 5.5M synthetic pair edges")(noopCount {
      val fam = spark.range(5000000L).toDF("id")
        .filter(col("id") % 10 =!= 0)
        .select((col("id") - col("id") % 10).as("d1"), col("id").as("d2"))
      val chain = spark.range(5000000L, 5001000L).toDF("id")
        .select(col("id").as("d1"), (col("id") + 1).as("d2"))
      Dedup.connectedComponents(fam.unionByName(chain))
    })

    // ---- one decade up: 1M docs (explicit opt-in via an arg containing
    // "1M" — ~10 GB of generated parquet + corpus passes). 200-clone
    // families: the survivor relation stays 5,000 distinct docs while the
    // corpus grows 10×, which is exactly the claim under test — survivor-
    // form screens pay one corpus fingerprint pass plus survivor-sized
    // work, and the map-only/broadcast shapes (x77/x78) scale linearly.
    if (args.exists(a => a.contains("1M") || a.contains("maintained"))) {
      val huge = "/tmp/graft_sfhuge"
      if (!new java.io.File(s"$huge/documents.parquet").exists()) {
        val docs = Tables.documents(spark, base)
        clone(docs, 200, (d, i) => d
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
          .repartition(64).write.mode("overwrite").parquet(s"$huge/documents.parquet")
      }
      // The survivor table is a MATERIALIZED stored artifact in production
      // (x01's output, maintained incrementally by x59) — a consumer never
      // re-derives it per plan subtree. Materialize it once OUTSIDE the
      // timed screens; the one corpus-scale fingerprint pass is timed as
      // its own row.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val t0surv = System.nanoTime()
      val survivorsHuge = Tables.documents(spark, huge)
        .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
        .withColumn("keep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep"))
        .select(col("doc_id"), col("source"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSurv = survivorsHuge.count()
      println(f"x01 exact-dedup survivor table build, 1M docs (the stored-index pass): " +
        f"${(System.nanoTime() - t0surv) / 1e9}%.2f s ($nSurv rows)")
      time("x16 verified near-dups over exact-dedup survivors, 1M docs")(noopCount(
        Dedup.x16VerifiedNearDupsOf(spark, survivorsHuge.select(col("doc_id"), col("text")),
          s"$huge|probe1m-16")))
      time("x69 containment screen over exact-dedup survivors, 1M docs")(noopCount(
        Dedup.x69ContainmentScreenOf(spark, survivorsHuge.select(col("doc_id"), col("text")),
          s"$huge|probe1m-69")))
      time("x62 incremental near-dup, src19 batch vs 1M-doc corpus index")(noopCount(
        Dedup.x62IncrementalNearDup(spark, huge)))
      // the production index shape: the corpus side is the x01 survivor
      // table (a dedup pipeline indexes its DEDUPED corpus), the batch
      // arrives raw — the clone-family candidate bill exists only in the
      // raw-index control row above
      val x62SurvivorDocs = survivorsHuge.filter(!(col("source") <=> "src19"))
        .unionByName(Tables.documents(spark, huge).filter(col("source") === "src19")
          .select(col("doc_id"), col("source"), col("text")))
      time("x62 incremental near-dup, raw src19 batch vs 1M-doc SURVIVOR-indexed corpus")(
        noopCount(Dedup.x62IncrementalNearDupOf(spark, x62SurvivorDocs, s"$huge|probe1m-62surv")))
      time("x71 pretrain pipeline 1M docs (gate+dedup+CC+split)")(noopCount(
        graft.functions.Curation.x71PretrainPipeline(spark, huge)))
      time("x77b dsir selection 1M docs, xxhash64 feature bucket (production hash)")(noopCount(
        graft.functions.Sampling.x77bDsirSelectFast(spark, huge)))
      time("x77 dsir selection 1M docs (hashed-ngram importance top-100)")(noopCount(
        graft.functions.Sampling.x77DsirSelect(spark, huge)))
      time("x78 gopher rules 1M docs (map-only)")(noopCount(
        graft.functions.Text.x78GopherRules(spark, huge)))
      // clone offset must clear the sfbig id span (vec_id up to i*1e6 + base,
      // i <= 19 -> ~19,002,000): 1e8 per generation keeps every id distinct
      time("x51 pagerank quotient, 800k vecs w/ 400-clone families (1M section)")(noopCount {
        val emb = Tables.embeddings(spark, out)
        val clones = (0 until 20).map(k => emb.select(
          (col("vec_id") + lit(100000000L * k)).as("vec_id"), col("embedding")))
          .reduce(_ unionByName _)
        graft.functions.GraphOps.pageRankQuotient(clones)
      })
    }

    // maintained near-dup lifecycle at steady state: stored index = one
    // clone replica (5k docs), arriving batch = another replica (every
    // batch doc an exact clone of an indexed doc — worst-case verify
    // load). The screen's cost must be BATCH-sized against the stored
    // relations; the one-time index build is timed separately.
    // Gated like the sibling blocks: the constructions and screen calls
    // between this block's timed rows run regardless of the row filter,
    // so an unrelated targeted probe run must not pay (or crash on) them.
    if (args.isEmpty || args.exists(a =>
        a.contains("1M") || a.contains("maintained") || a.contains("x62"))) {
      val root = "/tmp/graft_mndix_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      time("x62 maintained index build (5k-doc corpus -> stored sig+tg v0)") {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val m = new graft.streaming.Pipelines.MaintainedNearDupIndex(spark, root, flushEvery = 1)
        m.initIndex(Tables.documents(spark, out)
          .filter(col("doc_id") < 1000000L).select(col("doc_id"), col("text")))
        m.currentSignatures.count()
      }
      time("x62 maintained stream screen (5k all-clone batch vs stored index, no flush)") {
        val m = new graft.streaming.Pipelines.MaintainedNearDupIndex(spark, root, flushEvery = 100)
        var n = 0L
        m.screenBatch(Tables.documents(spark, out)
          .filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
          .select(col("doc_id"), col("text")), 0)(df => n = df.count())
        n
      }
      time("x62 maintained screen+flush (5k NOVEL batch: stage + compact v1)") {
        val m = new graft.streaming.Pipelines.MaintainedNearDupIndex(spark, root, flushEvery = 1)
        var n = 0L
        // a novel batch (remapped ids, reversed text) so acceptances stage
        m.screenBatch(Tables.documents(spark, out)
          .filter(col("doc_id") < 1000000L)
          .select((col("doc_id") + 50000000L).as("doc_id"),
            reverse(col("text")).as("text")), 1)(df => n = df.count())
        n
      }
      // flush shapes in isolation, like the x59 rows: the major fold
      // rewrites BOTH corpus-scale relations (signatures + shingle sets);
      // the delta pair writes the staged window only
      def novelNd(offset: Long, sub: String) = Tables.documents(spark, out)
        .filter(col("doc_id") < 1000000L)
        .select((col("doc_id") + lit(offset)).as("doc_id"),
          translate(col("text"), "aeiou", sub).as("text"))
      val ndDelta = new graft.streaming.Pipelines.MaintainedNearDupIndex(
        spark, root, flushEvery = 100, maxDeltas = 8)
      time("x62 maintained screen+stage (5k novel batch, no flush)") {
        var n = 0L
        ndDelta.screenBatch(novelNd(70000000L, "12345"), 0)(df => n = df.count())
        n
      }
      time("x62 maintained DELTA flush alone (5k staged pair; base untouched)") {
        ndDelta.flush(); ndDelta.stats("delta_versions")
      }
      ndDelta.screenBatch(novelNd(80000000L, "67890"), 1)(_.count()) // stage, untimed
      time("x62 maintained MAJOR flush alone (fold sig+tg base + tier + staged)") {
        val m = new graft.streaming.Pipelines.MaintainedNearDupIndex(
          spark, root, flushEvery = 1)
        m.flush()
        m.stats("version")
      }
    }

    // maintained EXACT-dedup flush shapes at index scale: a major
    // compaction rewrites the full base per flush window (O(index) I/O —
    // the bill that dominates once the index is corpus-scale), the delta
    // tier writes O(staged) and amortizes the rewrite over maxDeltas
    // windows. Same finalize join in both probes; the difference is the
    // flush shape.
    if (args.isEmpty || args.exists(a =>
        a.contains("1M") || a.contains("maintained") || a.contains("x59"))) {
      val root = "/tmp/graft_mdix_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      import graft.streaming.Pipelines
      def novelBatch(offset: Long): org.apache.spark.sql.Dataset[Pipelines.DedupDecision] = {
        import spark.implicits._
        Tables.documents(spark, out)
          .filter(col("doc_id") < 5000L)
          .select((col("doc_id") + lit(offset)).as("doc_id"),
            graft.functions.Text.fingerprint(concat(lit(s"novel$offset|"), col("text"))).as("fp"),
            lit("new").as("status"),
            lit(null).cast("long").as("dup_of"))
          .as[Pipelines.DedupDecision]
      }
      time("x59 maintained base build (1M-row fp index v0)") {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val m = new Pipelines.MaintainedDedupIndex(spark, root,
          ttlMs = 60000, flushEvery = 1)
        // fingerprint salted with a unique id: the staged corpus is
        // clone-dense (its raw fp relation collapses to ~5k distinct
        // texts), but the shape under test is a mostly-unique crawl — a
        // 1M-distinct-row index, which is what the major flush must
        // rewrite and the delta flush must NOT
        val docs = Tables.documents(spark, out)
        val unique = (0 until 10).map(i => docs.select(
            (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"), col("text")))
          .reduce(_ unionByName _)
        m.initIndex(unique
          .select(graft.functions.Text.fingerprint(
            concat(col("doc_id"), lit("|"), col("text"))).as("fp"), col("doc_id"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
        m.currentIndex.count()
      }
      // stage-only finalize (flushEvery high), then time each flush shape
      // ALONE — the finalize join is the same in both modes; the flush is
      // where O(staged) and O(index) diverge
      val mDelta = new Pipelines.MaintainedDedupIndex(spark, root,
        ttlMs = 60000, flushEvery = 100, maxDeltas = 8)
      time("x59 maintained finalize+stage (5k novel batch vs 1M base, no flush)") {
        var n = 0L
        mDelta.finalizeBatch(novelBatch(2000000000L), 0)(df => n = df.count())
        n
      }
      time("x59 maintained DELTA flush alone (5k staged; base untouched)") {
        mDelta.flush(); mDelta.stats("delta_versions")
      }
      mDelta.finalizeBatch(novelBatch(3000000000L), 1)(_.count()) // stage, untimed
      time("x59 maintained MAJOR flush alone (fold 1M base + tier + 5k staged)") {
        val mMajor = new Pipelines.MaintainedDedupIndex(spark, root,
          ttlMs = 60000, flushEvery = 1)
        mMajor.flush()
        mMajor.stats("version")
      }
    }
    // composed curation service at index scale: one 5k-doc batch through
    // the full gate → exact finalize → in-batch clustering → near-dup
    // screen chain against corpus-scale stored indexes. The per-batch
    // bill must be BATCH-sized: the exact side joins a 1M-fp base, the
    // near side screens against the 5k-doc signature+shingle base, and
    // neither stored relation is rewritten until a flush boundary.
    if (args.isEmpty || args.exists(a =>
        a.contains("1M") || a.contains("maintained") || a.contains("curation"))) {
      val exactRoot = "/tmp/graft_cur_exact_probe"
      val nearRoot = "/tmp/graft_cur_near_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      import graft.streaming.CurationService
      val clone0 = Tables.documents(spark, out)
        .filter(col("doc_id") < 1000000L).select(col("doc_id"), col("text"))
      var svc: CurationService = null
      time("curation service init (exact base 1M fps + near base 5k docs)") {
        fs.delete(new org.apache.hadoop.fs.Path(exactRoot), true)
        fs.delete(new org.apache.hadoop.fs.Path(nearRoot), true)
        svc = new CurationService(spark, exactRoot, nearRoot,
          flushEvery = 100, maxDeltas = 8)
        val docs = Tables.documents(spark, out)
        val unique = (0 until 10).map(i => docs.select(
            (col("doc_id") + lit(i.toLong * 200000000L)).as("doc_id"), col("text")))
          .reduce(_ unionByName _)
        svc.exact.initIndex(unique
          .select(graft.functions.Text.fingerprint(
            concat(col("doc_id"), lit("|"), col("text"))).as("fp"), col("doc_id"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("corpus_id")))
        svc.near.initIndex(clone0)
        svc.near.currentSignatures.count()
      }
      time("curation batch (5k DUP-heavy docs: clone of the near base, no flush)") {
        require(svc != null,
          "the curation batch rows depend on 'curation service init' — run it too")
        var n = 0L
        svc.processBatch(
          Tables.documents(spark, out)
            .filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
            .select((col("doc_id") + lit(3000000000L)).as("doc_id"), col("text")),
          0)(df => n = df.count())
        n
      }
      time("curation batch (5k NOVEL docs: vowel-rotated texts, no flush)") {
        require(svc != null,
          "the curation batch rows depend on 'curation service init' — run it too")
        var n = 0L
        svc.processBatch(
          clone0.select((col("doc_id") + lit(4000000000L)).as("doc_id"),
            translate(col("text"), "aeiou", "01234").as("text")),
          1)(df => n = df.count())
        n
      }
      // svc is only constructed when this block's rows pass the arg filter
      if (svc != null) svc.close()
    }

    // maintained ANN flush shapes at index scale: ingest is map-only
    // assign+encode against the STORED model (flat in base size — the
    // corpus-scale code store is never read per batch), a delta flush
    // writes O(staged) codes, and only the major fold pays O(base) — the
    // same LSM bill-shape as the dedup indexes, on the vector pillar.
    if (args.isEmpty || args.exists(a =>
        a.contains("1M") || a.contains("maintained") || a.contains("x31"))) {
      val root = "/tmp/graft_mannx_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      import graft.streaming.MaintainedAnnIndex
      // 1M-vector base: the 40k cloned embeddings replicated with id
      // offsets (same content — the probe measures COST SHAPE, and
      // k-means/encode cost is content-independent)
      def million: DataFrame = (0 until 25).map(i =>
          Tables.embeddings(spark, out).select(
            (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
      def batchVecs(offset: Long): DataFrame = Tables.embeddings(spark, out)
        .filter(col("vec_id") < 5000L)
        .select((col("vec_id") + lit(offset)).as("vec_id"), col("embedding"))
      time("x31 maintained ANN base build (train model + encode 1M vecs; nlist 64 — sized to N)") {
        // nlist must scale with the corpus: ADC candidates per query are
        // nprobe/nlist x N, so the sf0.1 fixture's nlist=8 at 1M vectors
        // means 375k candidates PER QUERY (measured: a 2k-query screen
        // took 432 s). At nlist 64 the same screen is ~nprobe/nlist = 8x
        // cheaper per query — the knob a deployment sizes as ~sqrt(N)
        val a = {
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          new MaintainedAnnIndex(spark, root, flushEvery = 1, nlist = 64)
        }
        a.initIndex(million)
        val n = a.currentCodes.count(); a.close(); n
      }
      val aDelta = new MaintainedAnnIndex(spark, root, flushEvery = 100, maxDeltas = 8)
      time("x31 maintained ingest+encode (2k batch vs 1M base, no flush)") {
        var n = 0L
        aDelta.ingestBatch(batchVecs(9000000000L), 0)(df => n = df.count())
        n
      }
      time("x31 maintained DELTA flush alone (2k staged codes; 1M base untouched)") {
        aDelta.flush(); aDelta.stats("delta_versions")
      }
      time("x31 maintained TIERED ADC search (20 queries; live delta resolved via broadcast anti-join — 1M base never shuffled)") {
        // self-verifying: a filtered run that skipped the delta flush
        // must not silently measure an untiered serve
        require(aDelta.stats("delta_versions") >= 1L,
          "tiered-search row needs a live delta (run the DELTA flush row)")
        noopCount(aDelta.search(
          Tables.embeddings(spark, out).filter(col("vec_id") < 20),
          kTop = 3, nprobe = 3))
      }
      aDelta.ingestBatch(batchVecs(9100000000L), 1)(_.count()) // stage, untimed
      aDelta.close()
      time("x31 maintained MAJOR flush alone (fold 1M base + tier + 2k staged)") {
        val aM = new MaintainedAnnIndex(spark, root, flushEvery = 1)
        aM.flush(); val v = aM.stats("version"); aM.close(); v
      }
      time("x31 maintained ADC search (20 queries vs grown stored index)") {
        val aS = new MaintainedAnnIndex(spark, root, flushEvery = 1)
        val n = noopCount(aS.search(
          Tables.embeddings(spark, out).filter(col("vec_id") < 20),
          kTop = 3, nprobe = 3))
        aS.close(); n
      }
      time("x82 maintained semantic screen (2k batch vs 1M-vec stored index)") {
        // screen cost must be batch-sized: probed-cell ADC over map-only
        // code reads + |batch|·shortlist exact rows — the 1M base is
        // read, never shuffled, and the raw-vector side is only touched
        // through the broadcast semi-join on shortlist ids
        val aS = new MaintainedAnnIndex(spark, root, flushEvery = 1)
        // corpus must cover EVERY index member (screenSemantic's exact
        // re-rank joins it on the shortlist ids): the base is million
        // plus the two ingested batches the major flush folded in
        val members = million
          .unionByName(batchVecs(9000000000L)).unionByName(batchVecs(9100000000L))
        val n = noopCount(aS.screenSemantic(members, batchVecs(9200000000L),
          distThreshold = graft.AnnOracleSql.X82DistThreshold, nprobe = 3))
        aS.close(); n
      }
      // the retrain corpus must cover EVERY live vec_id (retrainModel's
      // contract, now enforced with a loud throw): the base holds million
      // plus the two batches the major folded in, and the mid-build
      // ingest adds a third
      def fullCorpus: DataFrame = million
        .unionByName(batchVecs(9000000000L)).unionByName(batchVecs(9100000000L))
        .unionByName(batchVecs(9300000000L))
      time("x31 maintained SHADOW RETRAIN at pinned nlist 64 (cap-bounded train + re-encode 1M vecs; root lock held only for the O(catchup) swap)") {
        val aR = new MaintainedAnnIndex(spark, root, flushEvery = 1, nlist = 64)
        // mid-build ingest+search drive the non-blocking claim at scale:
        // both run during the O(base) build phase, and their vectors are
        // re-encoded at the swap (retrain_catchup counts rows actually
        // re-encoded — the coverage check inside the swap throws if the
        // corpus misses any)
        var midSearch = -1L
        aR.retrainModel(fullCorpus, nlistOverride = Some(64), onPrepared = () => {
          aR.ingestBatch(batchVecs(9300000000L), 0)(_ => ())
          midSearch = aR.search(
            Tables.embeddings(spark, out).filter(col("vec_id") < 20),
            kTop = 3, nprobe = 3).count()
        })
        require(midSearch == 60L && aR.stats("retrain_catchup") == 2000L,
          s"mid-build serve/catch-up contract: search=$midSearch ${aR.stats}")
        val v = aR.stats("model_version"); aR.close(); v
      }
      time("x31 maintained SHADOW RETRAIN default-sized (nlist = sqrt(N) ~ 1003; train stays cap-bounded at 256 pts/centroid, encode pays the nlist factor)") {
        val aR = new MaintainedAnnIndex(spark, root, flushEvery = 1)
        aR.retrainModel(fullCorpus)
        val expected = MaintainedAnnIndex.sizedNlist(fullCorpus.count())
        require(aR.loadModel().centroids.length == expected,
          s"default retrain must size nlist to sqrt(N) = $expected: " +
            s"${aR.loadModel().centroids.length}")
        val v = aR.stats("model_version"); aR.close(); v
      }
      time("x31 maintained SHADOW MAJOR (fold 1M base + delta tier off-lock; swap is metadata-only)") {
        val aC = new MaintainedAnnIndex(spark, root, flushEvery = 100, maxDeltas = 8)
        aC.ingestBatch(batchVecs(9400000000L), 0)(_ => ())
        aC.flush() // a live delta for the fold to pick up
        // the writer-visible pause is the SWAP, not the fold: probe it by
        // ingesting a full batch at the build/swap seam and measuring
        // only the lock-holding remainder
        var swapStart = -1L
        val ok = aC.compactBase(onPrepared = () => {
          aC.ingestBatch(batchVecs(9500000000L), 1)(_ => ()) // mid-fold ingest
          swapStart = System.nanoTime()
        })
        require(ok, "shadow-major row needs a live delta to fold")
        require(swapStart != -1L, "onPrepared must have fired when compactBase returned true")
        val swapMs = (System.nanoTime() - swapStart) / 1000000L
        println(s"    [shadow major writer-visible pause: swap = $swapMs ms " +
          s"(fold ran off-lock with a mid-build ingest)]")
        val v = aC.stats("version"); aC.close(); v
      }

    }

    // ---- BULK TAKEDOWN at volume (round 15): 10^5 tombstones staged
    // against a 1M base — the GDPR-volume removal shape behind
    // Service.appendTakedownBulk. Measures the four phases a deployment
    // pays: tombstone STAGING (O(deleted) write, base untouched), the
    // minor FLUSH (tombstones become one delta version), the SERVE-TIME
    // masking while the tombstone delta rides the tier (a 10^5-row tier
    // relation is ~1.6 MB — still broadcast; an oversized one falls back
    // to the spec-tested shuffle anti-join), and the SHADOW MAJOR that
    // GCs the deleted rows physically. Self-verifying: the pre-GC
    // (masked) and post-GC (compacted) serves must return identical
    // rows. Self-contained — own root, own 1M build; arg "bulkdel".
    if (args.exists(_.contains("bulkdel"))) {
      import graft.streaming.MaintainedAnnIndex
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val broot = "/tmp/graft_mannx_bulkdel_probe"
      fs.delete(new org.apache.hadoop.fs.Path(broot), true)
      def million: DataFrame = (0 until 25).map(i =>
          Tables.embeddings(spark, out).select(
            (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
      val a = new MaintainedAnnIndex(spark, broot, flushEvery = 1000,
        nlist = 64, maxDeltas = 8)
      time("bulkdel base build (1M vecs, untimed context for the rows below)") {
        a.initIndex(million); a.currentCodes.count()
      }
      val ids = million.select(col("vec_id"))
        .filter(pmod(col("vec_id"), lit(10)) === 3) // 100k ids, 10% of the base
      time("bulkdel tombstone STAGING (100k ids vs 1M base — O(deleted), base untouched)") {
        a.deleteVectors(ids, 0); a.stats("n_deleted")
      }
      time("bulkdel minor FLUSH (100k tombstones -> one delta version)") {
        a.flush(); a.stats("delta_versions")
      }
      val queries = Tables.embeddings(spark, out).filter(col("vec_id") < 20)
      var masked: Set[(Long, Long)] = Set.empty
      time("bulkdel TIERED search (20 queries; 100k-row tombstone delta masks via tier resolution)") {
        val r = a.search(queries, kTop = 3, nprobe = 3)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(x => (x.getLong(0), x.getLong(1)))
        masked = r.toSet; r.length.toLong
      }
      time("bulkdel SHADOW MAJOR (fold 1M base minus 100k tombstones off-lock; physical GC)") {
        require(a.compactBase(), "bulkdel major needs the live tombstone tier")
        a.stats("version")
      }
      time("bulkdel post-GC search (same 20 queries vs compacted base)") {
        val r = a.search(queries, kTop = 3, nprobe = 3)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(x => (x.getLong(0), x.getLong(1)))
        require(r.toSet == masked,
          "masking and physical GC must serve identical rows")
        r.length.toLong
      }
      a.close()
    }

    // ---- READER-SERVE at scale (round 18): the lease-free read-only
    // handle against a DECADE-scale base — the one-writer-N-replicas
    // deployment measured, not just fixture-tested. Rows: (a) a reader
    // opened under the LIVE writer lease serves 20 queries off the 1M
    // base with rows IDENTICAL to the writer's serve; (b) per-read
    // snapshot resolution (the reader's only extra cost vs the writer —
    // committed-pointer walk + model/floor markers + tier listing) is
    // measured over 50 consecutive captures; (c) the writer ingests a
    // 40k window and flushes a minor delta, and the SAME reader handle's
    // next serve reflects it (per-read freshness at 1M). Self-contained;
    // arg "readerserve".
    if (args.exists(_.contains("readerserve"))) {
      import graft.streaming.MaintainedAnnIndex
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val rroot = "/tmp/graft_mannx_readerserve_probe"
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
      def shifted(i: Int): DataFrame = Tables.embeddings(spark, out).select(
        (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        col("embedding"))
      def million: DataFrame = (0 until 25).map(shifted).reduce(_ unionByName _)
      val w = new MaintainedAnnIndex(spark, rroot, flushEvery = 1,
        nlist = 64, maxDeltas = 8)
      time("readerserve base build (1M vecs; untimed context)") {
        w.initIndex(million); w.currentCodes.count()
      }
      val queries = Tables.embeddings(spark, out).filter(col("vec_id") < 20)
      def rows(df: DataFrame): Seq[(Long, Long, Int)] =
        df.select(col("query_id"), col("neighbor_id"), col("rk")).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq.sorted
      var viaWriter: Seq[(Long, Long, Int)] = Nil
      time("readerserve WRITER serve (20 queries vs 1M base — the baseline)") {
        viaWriter = rows(w.search(queries, kTop = 3, nprobe = 3,
          knownQueryCount = Some(20L)))
        viaWriter.length.toLong
      }
      val r = MaintainedAnnIndex.openReader(spark, rroot)
      time("readerserve READER serve under the LIVE lease (rows must equal the writer's)") {
        val got = rows(r.search(queries, kTop = 3, nprobe = 3,
          knownQueryCount = Some(20L)))
        require(got == viaWriter, "reader must serve the writer's exact rows")
        got.length.toLong
      }
      time("readerserve 50x snapshot capture (per-read freshness cost: pointer walk + markers + tier listing)") {
        (0 until 50).foreach(_ => r.stats("version"))
        50L
      }
      time("readerserve writer ingests 40k + minor flush; SAME reader handle sees the delta") {
        w.ingestBatch(shifted(30).filter(col("vec_id") < 30L * 100000000L + 40000L), 0)(_ => ())
        require(r.stats("delta_versions") >= 1L,
          "the reader must re-resolve into the writer's new delta")
        val got = rows(r.search(queries, kTop = 3, nprobe = 3,
          knownQueryCount = Some(20L)))
        val nowW = rows(w.search(queries, kTop = 3, nprobe = 3,
          knownQueryCount = Some(20L)))
        require(got == nowW, "post-ingest reader serve must equal the writer's")
        got.length.toLong
      }
      w.close()
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
    }

    // ---- SERVE-TIME STATS RESOLUTION at scale (round 19): BM25's
    // additive (n_docs, sum_dl) resolve delta-superseded base docs at
    // serve time (the x101 subtraction). The claimed bill: ONE
    // corpus-THIN base dl scan per TIER CHANGE (memoized), zero per
    // query. Probe at a 1M-doc base: (a) tombstoned-tier search FIRST
    // call pays the resolve; (b) the SECOND call on the same tier hits
    // the memo (must cost ~the clean-base search); (c) a second delta
    // invalidates the memo and the next search pays exactly one more
    // resolve. Self-contained; arg "statsresolve".
    if (args.exists(_.contains("statsresolve"))) {
      import graft.streaming.MaintainedTextIndex
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val rroot = "/tmp/graft_mtix_statsresolve_probe"
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
      def docsShifted(i: Int): DataFrame = Tables.documents(spark, out).select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"), col("text"))
      def millionDocs: DataFrame = (0 until 10).map(docsShifted).reduce(_ unionByName _)
      val w = new MaintainedTextIndex(spark, rroot, flushEvery = 1, maxDeltas = 8)
      time("statsresolve base build (1M docs tokenized; untimed context)") {
        w.initIndex(millionDocs); w.stats("n_docs")
      }
      val terms = graft.functions.Search.QueryTerms
      time("statsresolve clean-base search (the baseline; no tier, no resolve)") {
        w.search(terms, 20).count()
      }
      time("statsresolve delete 10k (minor flush — tombstone delta lands)") {
        w.deleteDocs(Tables.documents(spark, out).filter(col("doc_id") < 10000)
          .select(col("doc_id")), 0)
        w.stats("delta_versions")
      }
      time("statsresolve FIRST tombstoned-tier search (pays ONE thin-dl resolve)") {
        w.search(terms, 20).count()
      }
      time("statsresolve SECOND search, same tier (memo hit — must ~equal the clean baseline)") {
        w.search(terms, 20).count()
      }
      time("statsresolve 20k update ingest (second delta — memo invalidates)") {
        w.ingestBatch(docsShifted(1).filter(
          col("doc_id") < 1L * 100000000L + 20000L), 1)(_ => ())
        w.stats("delta_versions")
      }
      time("statsresolve post-invalidation search (exactly one more resolve)") {
        w.search(terms, 20).count()
      }
      time("statsresolve follow-up search (memo hit again)") {
        w.search(terms, 20).count()
      }
      w.close()
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
    }

    // ---- TAKEDOWN ID-RESOLVE at scale (round 16): the doc_id→fp SIDECAR
    // projection makes the exact-dedup id→fp resolve read O(request)
    // bytes (pushed In(doc_id) against the doc_id-clustered sidecar +
    // pushed In(fp) against the base) instead of the r15
    // shape's two full base∪tier∪staged scans per request batch. Probe:
    // the SAME 100-id takedown request against a 100k-fp and a 1M-fp
    // base — resolve cost must be ~flat in base size; the bulk 10^5-id
    // request at 1M additionally pins the semi-join fallback (ids never
    // on the driver) at one narrow scan, no index fold. Arg "idresolve".
    if (args.exists(_.contains("idresolve"))) {
      import graft.streaming.Pipelines
      val rroot = "/tmp/graft_mdix_idresolve_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
      def fpBase(n: Long): DataFrame = spark.range(n)
        .select(concat(lit("fp"), col("id")).as("fp"), col("id").as("corpus_id"))
      for ((n, tag) <- Seq((100000L, "100k"), (1000000L, "1M"))) {
        val idx = new Pipelines.MaintainedDedupIndex(spark, s"$rroot/$tag",
          ttlMs = 60000L, flushEvery = 1000000, maxDeltas = 8)
        time(s"idresolve base build $tag (untimed context for the rows below)") {
          idx.initIndex(fpBase(n)); n
        }
        time(s"idresolve 100-id takedown resolve vs $tag base (sidecar, pushed In)") {
          idx.deleteIds(spark.range(500, 600).select(col("id").as("doc_id")), 0)
          idx.stats("n_deleted")
        }
        if (tag == "1M")
          time("idresolve BULK 100k-id resolve vs 1M base (semi-join path)") {
            idx.deleteIds(spark.range(n).filter(pmod(col("id"), lit(10)) === 3)
              .select(col("id").as("doc_id")), 1)
            idx.stats("n_deleted")
          }
        if (tag == "1M")
          time("idresolve 100-id resolve vs 1M base WITHOUT sidecar (crash fallback = the r15 full-scan shape)") {
            // simulate the crash window: lose the sidecar, resolve again —
            // the cost delta IS the sidecar's value at this base size
            fs.delete(new org.apache.hadoop.fs.Path(s"$rroot/$tag/ids_v0"), true)
            idx.deleteIds(spark.range(700, 800).select(col("id").as("doc_id")), 2)
            idx.stats("n_deleted")
          }
        idx.close()
      }
    }

    // ---- NEAR-DUP TAKEDOWN at scale (round 17): the x91/x95 topology at
    // decade size — 1M docs in 200-replica near-dup families (one token
    // differs per replica, so LSH buckets run at ~200 members, just under
    // the 256 cap: the clone-family worst case). Pins the takedown cost
    // model: tombstone STAGING is O(deleted) with both corpus-scale
    // relations untouched; the minor flush folds 100k tombstone pairs
    // into ONE delta pair; the tiered screen masks deleted docs out of
    // candidates AND verify via the broadcast-guarded tombstone set; the
    // SHADOW major folds both 1M relations minus the slice off-lock (the
    // O(base) bill, paid without blocking writers); and the post-GC
    // screen must serve EXACTLY the masked rows (GC logically
    // invisible — the x95 oracle's claim, re-proved at 1M). Arg
    // "ndtakedown".
    if (args.exists(_.contains("ndtakedown"))) {
      import graft.streaming.Pipelines
      val nroot = "/tmp/graft_mndix_takedown_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(nroot), true)
      def millionDocs: DataFrame = (0 until 200).map(i =>
          Tables.documents(spark, base).select(
            (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
            concat(col("text"), lit(s" r$i")).as("text")))
        .reduce(_ unionByName _)
      val nd = new Pipelines.MaintainedNearDupIndex(spark, nroot,
        flushEvery = 1000, maxDeltas = 8)
      time("ndtakedown base build (1M docs / 200-way near-dup families; untimed context)") {
        nd.initIndex(millionDocs); nd.currentSignatures.count()
      }
      val delIds = millionDocs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(10)) === 3) // 10% of the corpus
      time("ndtakedown tombstone STAGING (100k ids vs 1M base — O(deleted), both relations untouched)") {
        nd.deleteDocs(delIds, 0); nd.stats("n_deleted")
      }
      time("ndtakedown minor FLUSH (100k tombstone pairs -> one delta pair)") {
        nd.flush(); nd.stats("delta_versions")
      }
      val batch = Tables.documents(spark, base).filter(col("doc_id") < 200)
        .select(col("doc_id"), concat(col("text"), lit(" probe")).as("text"))
      def screen(tag: String): Map[Long, (Long, Double)] = {
        val dir = s"$nroot/screen_$tag"
        nd.screenBatch(batch, 0)(o => o.write.mode("overwrite").parquet(dir))
        spark.read.parquet(dir)
          .select(col("batch_id"), col("n_matches"),
            coalesce(col("best_jaccard"), lit(0.0d)).as("bj"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      }
      var masked: Map[Long, (Long, Double)] = Map.empty
      time("ndtakedown TIERED screen (200-doc batch vs 1M base; tombstone delta masks candidates+verify)") {
        masked = screen("tiered"); masked.size.toLong
      }
      time("ndtakedown SHADOW MAJOR (fold both 1M relations minus 100k docs off-lock; physical GC)") {
        require(nd.compactBase(), "ndtakedown major needs the live tombstone tier")
        nd.stats("version")
      }
      // The tiered screen is a documented CONSERVATIVE subset of the
      // post-GC screen: deleted rows still count toward the bucket-cap
      // window until the major, so a cap-boundary bucket can stay
      // excluded pre-GC and admit post-GC (at 1M with 200-way families
      // this actually happens — exact screen equality across the GC only
      // holds when no bucket crosses the cap, which is why x91/x95
      // oracle-gate the POST-major screen). The invariant that must hold
      // at scale is the conservative direction: the GC can only WIDEN a
      // doc's verified reach, never flip an existing match away.
      time("ndtakedown post-GC screen (same batch; reach must only WIDEN vs tiered)") {
        val after = screen("postgc")
        require(after.keySet == masked.keySet, "same batch docs screened")
        val shrunk = masked.filter { case (id, (nm, bj)) =>
          after(id)._1 < nm || after(id)._2 < bj - 1e-9 }
        require(shrunk.isEmpty,
          s"physical GC must not lose matches the tombstone mask served: $shrunk")
        val widened = masked.count { case (id, (nm, _)) => after(id)._1 > nm }
        println(s"  (cap-transient size: $widened/${masked.size} batch docs " +
          "gained matches once the deleted rows stopped counting toward the cap)")
        after.size.toLong
      }
      nd.close()
    }

    // ---- SCAN-PRUNE layout A/B (round 15): the probed-cell isin filter
    // pushes to the parquet scan either way — what the cell-SORTED base
    // layout adds is row-group SKIPPING. Same 10M-row code store written
    // twice (cell-sorted vs id-shuffled), same filter, same results; the
    // wall-clock difference is pure I/O+decode, the axis the 1M fixture
    // is too small to show. Arg "scanprune".
    if (args.exists(_.contains("scanprune"))) {
      import graft.functions.Ivfadc
      val sroot = "/tmp/graft_scanprune_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sroot), true)
      def tenMillion: DataFrame = (0 until 250).map(i =>
          Tables.embeddings(spark, out).select(
            (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
      val model = Ivfadc.train(tenMillion, nlist = 100, m = 8, k = 16)
      time("scanprune encode 10M + write cell-SORTED (4 files) and id-SHUFFLED (32) twins") {
        val enc = Ivfadc.encode(tenMillion, model).persist()
        val n = enc.count()
        // sorted twin = the PRODUCT layout (within-partition cell sort +
        // Pipelines.BaseBlockBytes row groups); shuffled twin = a naive
        // store. SAME file count, so the comparison isolates layout.
        // the PRODUCT layout: hash-partitioned by cell, sorted, files
        // bounded — each cell lives in one narrow file
        enc.repartition(col("cell")).sortWithinPartitions("cell")
          .write.mode("overwrite")
          .option("maxRecordsPerFile", graft.streaming.Pipelines.BaseFileRecords)
          .parquet(s"$sroot/sorted")
        enc.repartition(32, col("vec_id"))
          .write.mode("overwrite").parquet(s"$sroot/shuffled")
        enc.unpersist(); n
      }
      val queries = Tables.embeddings(spark, out).filter(col("vec_id") < 20)
      def run(dir: String): Set[(Long, Long)] =
        Ivfadc.search(spark.read.parquet(s"$sroot/$dir"), queries, model,
          k = 3, nprobe = 3)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      var sortedHits: Set[(Long, Long)] = Set.empty
      run("sorted"); run("shuffled") // warm footers/page cache once
      time("scanprune ADC search vs cell-SORTED base") {
        sortedHits = run("sorted"); sortedHits.size.toLong
      }
      time("scanprune ADC search vs id-SHUFFLED base") {
        val r = run("shuffled")
        require(r == sortedHits, "layout must not change results")
        r.size.toLong
      }
      // FOOTER-exact skip evidence, independent of warm-cache wall time:
      // per layout, how many row groups would a ONE-query nprobe-3 probe
      // set have to decode? (cell min/max stats straight from the parquet
      // footers — the same statistics the pushed In(cell, ...) filter
      // skips by at scan time)
      for (dir <- Seq("sorted", "shuffled")) {
        import scala.jdk.CollectionConverters._
        val probed = Set(3, 41, 77) // one query's nprobe-3 probe set shape
        var groups = 0L; var survive = 0L; var rowsIn = 0L; var rowsAll = 0L
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$sroot/$dir"))
          .filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
            val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
              spark.sparkContext.hadoopConfiguration, st.getPath,
              org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
            footer.getBlocks.asScala.foreach { block =>
              groups += 1; rowsAll += block.getRowCount
              val cellCol = block.getColumns.asScala
                .find(_.getPath.toDotString == "cell").get
              val stats = cellCol.getStatistics
                .asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
              if (probed.exists(c => c >= stats.getMin && c <= stats.getMax)) {
                survive += 1; rowsIn += block.getRowCount
              }
            }
          }
        println(f"    [scanprune $dir%s footers: one 3-cell probe decodes " +
          f"$survive%d of $groups%d row groups = $rowsIn%d of $rowsAll%d rows " +
          f"(${100.0 * rowsIn / math.max(1, rowsAll)}%.1f%%)]")
      }
    }

    // ---- sized-model QUALITY (round-14 verdict #6): recall + screen
    // agreement + screen cost at the nlist the default retrain actually
    // picks. The 1M COST rows run on 25x-cloned content (cost is
    // content-independent); recall on clones is degenerate (24 exact
    // ties at distance 0), so this block jitters each clone into a
    // distinct vector with deterministic per-(id, dim) noise and
    // measures quality on the result. Self-contained (own root, own
    // 1M build) and self-timed — run with arg "recall" alone to skip
    // the cost rows, or "maintained" for the full block.
    if (args.exists(a => a.contains("recall") || a.contains("maintained"))) {
      import graft.streaming.MaintainedAnnIndex
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val rroot = "/tmp/graft_mannx_recall_probe"
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
      def distinctMillion: DataFrame = (0 until 25).map(i =>
          Tables.embeddings(spark, out).select(
            (col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
            col("embedding")))
        .reduce(_ unionByName _)
        .select(col("vec_id"),
          expr("transform(embedding, (x, i) -> x + " +
            "(cast(pmod(xxhash64(vec_id, i), 1000) as double)/1000.0 - 0.5) * 0.05)")
            .as("embedding"))
      def timed[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      // exact ground truth, 50 queries x 1M members (self excluded —
      // search's own convention); computed ONCE, shared by both builds
      val qs = distinctMillion.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")).persist()
      val d2 = aggregate(zip_with(col("embedding"), col("qe"),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, v) => acc + v)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("_d"), col("vec_id"))
      val exactTop = timed("sized-recall exact ground truth (50 x 1M brute force)") {
        distinctMillion.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), d2.as("_d"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .select(col("qid"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val queries = distinctMillion.filter(col("vec_id") < 50)
      // screen batch with BOTH verdict classes: 250 exact twins of index
      // members (id offset applied AFTER the jitter, so the embedding is
      // bit-identical — must screen dup) and 250 novel vectors (every
      // dim shifted far outside the corpus envelope — must screen
      // clean). An all-positive batch cannot detect false positives.
      val twins = distinctMillion.filter(col("vec_id") >= 50 && col("vec_id") < 300)
        .select((col("vec_id") + lit(9700000000L)).as("vec_id"), col("embedding"))
      val novels = distinctMillion.filter(col("vec_id") >= 300 && col("vec_id") < 550)
        .select((col("vec_id") + lit(9800000000L)).as("vec_id"),
          expr("transform(embedding, x -> x + 3.0)").as("embedding"))
      val batch = twins.unionByName(novels)
      val bq = batch.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val exactDup = timed("sized-recall exact screen ground truth (500 x 1M)") {
        distinctMillion.crossJoin(broadcast(bq))
          .groupBy(col("qid")).agg(min(d2).as("mind"))
          .select(col("qid"),
            (round(col("mind"), 4) <= lit(graft.AnnOracleSql.X82DistThreshold)).as("dup"))
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      }
      val trueDups = exactDup.count(_._2)
      val qVecs = queries.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / math.sqrt(na * nb)
      }
      // both operating points on the SAME corpus: the nlist the default
      // retrain picks (sqrt N) vs the round-13 fixture sizing
      for ((label, nl) <- Seq(("sized", MaintainedAnnIndex.sizedNlist(1000000L)),
                              ("fixture", 64))) {
        fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
        val aQ = new MaintainedAnnIndex(spark, rroot, flushEvery = 1, nlist = nl)
        timed(s"x31 $label-model index build (nlist $nl, 1M DISTINCT vecs)") {
          aQ.initIndex(distinctMillion); aQ.currentCodes.count()
        }
        // CELL-ROUTING recall — the axis nlist/nprobe actually control:
        // fraction of exact top-3 neighbors whose ASSIGNED cell is among
        // the query's top-nprobe probed cells (same centroid ranking as
        // Ivfadc.search: c_sim desc, cell asc). End-to-end recall@3 is
        // additionally PQ-resolution-bound on this jittered-clone bed
        // (each query's true top-3 are near-identical siblings), so the
        // routing number is the one that answers the sizing question.
        val cents = aQ.loadModel().centroids
        val nbrIds = exactTop.map(_._2).toSeq
        val cellOf = aQ.currentCodes
          .filter(col("vec_id").isin(nbrIds.map(Long.box): _*))
          .select("vec_id", "cell").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        for (np <- Seq(3, 8, 32)) {
          val probed: Map[Long, Set[Int]] = qVecs.map { case (qid, qe) =>
            qid -> cents.zipWithIndex.map { case (c, i) => (cos(qe, c), i) }
              .sortBy { case (s, i) => (-s, i) }.take(np).map(_._2).toSet
          }.toMap
          val hit = exactTop.count { case (qid, nbr) => probed(qid).contains(cellOf(nbr)) }
          println(f"    [$label%s routing recall@3 (exact nbr's cell probed), nlist $nl%d nprobe $np%d: ${hit.toDouble / exactTop.size}%.3f]")
        }
        val approx = timed(s"x31 $label-model ADC+rerank (50 queries, nlist $nl nprobe 32)") {
          aQ.searchRerank(distinctMillion, queries, kTop = 3, nprobe = 32)
            .select(col("query_id"), col("neighbor_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        println(f"    [$label%s end-to-end recall@3, nlist $nl%d nprobe 32: " +
          f"${approx.intersect(exactTop).size.toDouble / exactTop.size}%.3f (PQ-bound on this bed)]")
        // screen cost + verdict agreement: nprobe 3 is the r13 operating
        // point (candidates/query ~ nprobe/nlist·N — the sized model's
        // bill is nlist-ratio cheaper at equal nprobe); nprobe 32 shows
        // the recall-vs-cost knob at the sized point
        for (np <- if (nl == 64) Seq(3) else Seq(3, 32)) {
          val screened = timed(s"x82 $label-model semantic screen (500 batch vs 1M distinct, nlist $nl nprobe $np)") {
            aQ.screenSemantic(distinctMillion, batch,
              distThreshold = graft.AnnOracleSql.X82DistThreshold, nprobe = np)
              .select(col("vec_id"), col("is_dup")).collect()
              .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
          }
          val agree = exactDup.count { case (id, d) => screened.getOrElse(id, false) == d }
          val caught = exactDup.count { case (id, d) => d && screened.getOrElse(id, false) }
          println(f"    [$label%s screen agreement (nlist $nl%d nprobe $np%d): " +
            f"${agree.toDouble / exactDup.size}%.3f, dup recall = " +
            f"${caught.toDouble / math.max(trueDups, 1)}%.3f ($trueDups%d true dups)]")
        }
        aQ.close()
      }
      qs.unpersist()
    }

    // maintained TEXT index flush shapes: ingest tokenizes the batch only
    // (flat in base size — the corpus-scale postings are never read per
    // batch), a delta flush writes O(staged) postings, and only the major
    // fold pays O(base) — the lexical pillar on the same LSM bill-shape
    // as the dedup/ANN indexes. Search time is dominated by the
    // term-pruned postings scan, not the index size. The WHOLE block is
    // gated on its filter (its rows share one index lifecycle — base
    // build first — so they cannot run piecemeal, and an unrelated
    // filter must not pay this block's untimed construction/ingest work).
    if (args.isEmpty || args.exists("x79 maintained text index block".contains)) {
      val root = "/tmp/graft_mtix_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      import graft.streaming.MaintainedTextIndex
      def batchDocs(offset: Long): DataFrame = Tables.documents(spark, out)
        .filter(col("doc_id") < 1000L)
        .select((col("doc_id") + lit(offset)).as("doc_id"), col("text"))
      // flat-in-base contrast: the SAME 1k ingest + delta flush against a
      // 5k base and a 100k base — the pair of rows is the evidence that
      // per-batch cost does not grow with the stored index
      locally {
        val smallRoot = "/tmp/graft_mtix_probe_small"
        time("x79 maintained SMALL base build (tokenize+postings, 5k docs)") {
          fs.delete(new org.apache.hadoop.fs.Path(smallRoot), true)
          val t = new MaintainedTextIndex(spark, smallRoot, flushEvery = 1)
          t.initIndex(Tables.documents(spark, base)
            .select(col("doc_id"), col("text")))
          val n = t.stats("n_docs"); t.close(); n
        }
        val tS = new MaintainedTextIndex(spark, smallRoot, flushEvery = 100,
          maxDeltas = 8)
        time("x79 maintained ingest+tokenize (1k batch vs 5k base, no flush)") {
          var n = 0L
          tS.ingestBatch(batchDocs(8000000000L), 0)(df => n = df.count())
          n
        }
        time("x79 maintained DELTA flush alone (1k staged vs 5k base)") {
          tS.flush(); tS.stats("delta_versions")
        }
        tS.close()
      }
      time("x79 maintained text base build (tokenize+postings, 100k docs)") {
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val t = new MaintainedTextIndex(spark, root, flushEvery = 1)
        t.initIndex(Tables.documents(spark, out).select(col("doc_id"), col("text")))
        val n = t.stats("n_docs"); t.close(); n
      }
      val tD = new MaintainedTextIndex(spark, root, flushEvery = 100, maxDeltas = 8)
      time("x79 maintained ingest+tokenize (1k batch vs 100k base, no flush)") {
        var n = 0L
        tD.ingestBatch(batchDocs(9000000000L), 0)(df => n = df.count())
        n
      }
      time("x79 maintained DELTA flush alone (1k staged docs; base untouched)") {
        tD.flush(); tD.stats("delta_versions")
      }
      tD.ingestBatch(batchDocs(9100000000L), 1)(_.count()) // stage, untimed
      tD.close()
      time("x79 maintained MAJOR flush alone (fold 100k base + tier + 1k staged)") {
        val tM = new MaintainedTextIndex(spark, root, flushEvery = 1)
        tM.flush(); val v = tM.stats("version"); tM.close(); v
      }
      time("x79 maintained BM25 search (4 terms vs grown stored index)") {
        val tS = new MaintainedTextIndex(spark, root, flushEvery = 1)
        val n = noopCount(tS.search(graft.functions.Search.QueryTerms, 20))
        tS.close(); n
      }
    }

    // 17. ASSEMBLED-BOOT FAN-OUT (O9 at queue width — the reference's
    // core orchestration, jms_publisher.clj:206-218's per-queue fan-out):
    // boot the plain O19 Service.assemble with 48 queues activated by ONE
    // control batch on local[32] and measure what a wide deployment pays:
    // activation latency (control replay -> 48 supervised queries live),
    // cold drain throughput (each queue's pre-written changelog through
    // the DML transform to keyed main parquet), steady-state drain of a
    // fresh append per queue while all 48 run, and the clean
    // dependency-ordered stop. Self-contained; arg "fanout".
    if (args.exists(_.contains("fanout"))) {
      import graft.streaming.{Pipelines, Service}
      import org.apache.spark.sql.streaming.Trigger
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val rroot = "/tmp/graft_fanout_probe"
      fs.delete(new org.apache.hadoop.fs.Path(rroot), true)
      val nQueues = sys.env.get("SPARK_GRAFT_FANOUT_QUEUES")
        .flatMap(_.toIntOption).getOrElse(48)
      val recsPerQueue = 5000L
      def appendRecs(qi: Int, from: Long, n: Long): Unit =
        spark.range(from, from + n).select(col("id").as("event_id"),
          concat(lit("{\"id\":{\"k\":"), col("id") + lit(qi * 10000000L),
            lit("},\"type\":\"insert\",\"table\":\"t\",\"data\":{}}")).as("props"))
          .coalesce(1).write.mode("append").parquet(s"$rroot/data/FAN.Q$qi")
      time(s"fanout data gen ($nQueues queues x $recsPerQueue recs; untimed context)") {
        (0 until nQueues).foreach(appendRecs(_, 0L, recsPerQueue))
        nQueues.toLong
      }
      Service.appendControlBatch(spark, s"$rroot/control",
        (0 until nQueues).map(qi => Pipelines.Ccd(s"k$qi", "active", s"FAN.Q$qi", 0)))
      var system: graft.streaming.GraftSystem = null
      var control: org.apache.spark.sql.streaming.StreamingQuery = null
      def awaitFan(what: String)(done: () => Boolean): Unit = {
        val deadline = System.currentTimeMillis() + 600000
        while (!done() && System.currentTimeMillis() < deadline) Thread.sleep(200)
        require(done(), s"fanout probe timed out awaiting $what")
      }
      time(s"fanout boot -> $nQueues ACTIVE queues (one control batch; activation latency)") {
        val a = Service.assemble(spark, Service.Config(
          s"$rroot/control", s"$rroot/data", s"$rroot/out", s"$rroot/ckpt",
          controlTrigger = Trigger.ProcessingTime("200 milliseconds"),
          queueTrigger = Trigger.ProcessingTime("500 milliseconds")))
        system = a._1; control = a._2
        awaitFan(s"$nQueues active queues")(
          () => system.orchestrator.activeQueues.size == nQueues)
        system.orchestrator.activeQueues.size.toLong
      }
      def mainCount(qi: Int): Long =
        try spark.read.parquet(s"$rroot/out/FAN.Q$qi/main").count()
        catch { case scala.util.control.NonFatal(_) => 0L }
      time(s"fanout cold drain (${nQueues * recsPerQueue} recs -> keyed main, all queues)") {
        awaitFan("cold drain")(
          () => (0 until nQueues).forall(mainCount(_) >= recsPerQueue))
        (0 until nQueues).map(mainCount).sum
      }
      time(s"fanout steady drain (one fresh $recsPerQueue-rec append per RUNNING queue)") {
        (0 until nQueues).foreach(appendRecs(_, recsPerQueue, recsPerQueue))
        awaitFan("steady drain")(
          () => (0 until nQueues).forall(mainCount(_) >= 2 * recsPerQueue))
        (0 until nQueues).map(mainCount).sum
      }
      time(s"fanout clean stop ($nQueues supervised queries, dependency order)") {
        control.stop(); system.stop(); nQueues.toLong
      }
    }
    spark.stop()
  }
}
