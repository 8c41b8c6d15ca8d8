package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke-bench for the training-data extension operators: the
  * shipped documents/embeddings testdata caps at 500 rows per scale
  * factor, so this main drives the SAME operators at 1M generated
  * docs / 200k vectors (via the graft-docs DataSource V2 and a typed
  * per-partition vector generator — no data files, no driver memory)
  * and prints ONE JSON line of per-op wall seconds.
  *
  *   GRAFT_SCALE_ROWS=1000000 GRAFT_SCALE_VECS=200000 \
  *     sbt "runMain graft.ScaleBench"
  *
  * This is the local stand-in for the 100 TB posture question: every
  * op below must stay shuffle-light (bucket-first joins, map-side
  * combine) or it would not finish here either.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("GRAFT_SCALE_ROWS", "1000000").toLong
    val vecs = sys.env.getOrElse("GRAFT_SCALE_VECS", "200000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.format("graft-docs")
      .option("rows", rows).option("partitions", cpus.toInt * 2).load()

    // deterministic synthetic embeddings, generated in parallel from
    // (id) alone — same reproducibility contract as graft-docs
    val dim = 64
    val emb = spark.range(vecs).select(col("id").as("vec_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val r = new scala.util.Random(id * 0x9e3779b97f4a7c15L + 11)
          (id, Array.fill(dim)(r.nextFloat() * 2f - 1f))
        }
      }.toDF("vec_id", "embedding")
      .persist()
    emb.count() // materialize outside the timings

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // GRAFT_SCALE_ONLY=a,b limits the run to the named cases (dev
    // loop; skipped bodies never evaluate and report -1, dropped
    // from the total)
    val only = sys.env.get("GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def timed(name: String)(body: => Unit): (String, Double) = {
      if (only.exists(!_.contains(name))) return name -> -1.0
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-22s $s%8.2f s")
      name -> s
    }

    val queryIds = Seq(1L, 1000L, 54321L)
    var dupUniformSec: Option[Double] = None
    // coarse IVF model shared by the PQ serving points: trained ONCE,
    // outside any timed block, so ivf_pq_3q (and the ADC A/B) measure
    // probe + ADC + rerank, not k-means training (the r19 ivf_pq_3q
    // number was mostly training). Lazy: only pays when a PQ point
    // actually runs under GRAFT_SCALE_ONLY.
    lazy val coarse64 = graft.ops.Ivf.train(emb, k = 64)
    // Set-ups later entries read, built once the same way: the entry
    // named for each forces it (and times it, in a full run), and a
    // dependent entry run alone under GRAFT_SCALE_ONLY builds it inside
    // its own timing.
    // ivf_i8_index_build: the corpus quantized to the (id, scale, qvec)
    // artifact
    lazy val qidxDir: String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-qidx").toString
      graft.ops.Ivf.buildQuantizedIndex(emb, dir)
      dir
    }
    // ivf_pq_build: the m=8/ksub=256 product quantizer trained on the
    // bounded sample, and the corpus encoded to 8-byte codes + a norm —
    // 32x smaller than the float corpus, the index a 100 TB embedding
    // store actually serves from
    lazy val pq: (graft.ops.Ivf.PqModel, String) = {
      val model = graft.ops.Ivf.trainPq(emb, m = 8, ksub = 256)
      val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
      graft.ops.Ivf.encodePq(emb, model).write.mode("overwrite").parquet(dir)
      (model, dir)
    }
    // ivf_adc_build (IVFADC rung, q141): learned OPQ rotation + PQ over
    // coarse residuals, corpus encoded to (cell, norm, 8-byte code)
    lazy val adc: (graft.ops.Ivf.OpqModel, String) = {
      val opq = graft.ops.Ivf.trainOpqResidual(emb, coarse64, m = 8, ksub = 256)
      val dir = java.nio.file.Files.createTempDirectory("graft-adcidx").toString
      graft.ops.Ivf.encodePqResidual(emb, coarse64, opq)
        .write.mode("overwrite").parquet(dir)
      (opq, dir)
    }
    // bpe_8_merges: corpus-sized pass once; 8 rounds on the word table
    // (the floor keeps it vocabulary-sized)
    lazy val bpeMerges: Seq[(String, String)] = {
      val merges = graft.ops.TextAnalysis.bpeTrain(docs, 8, minWordCount = 5)
      require(merges.size == 8, s"expected 8 merges, got ${merges.size}")
      merges.map(m => (m._1, m._2))
    }
    // merge_file_prune: 1M rows clustered over 256 files with id stats,
    // then a 50-key correction batch in one id range; (table path, live
    // files before the merge, live files after)
    lazy val mergeScale: (String, Set[String], Set[String]) = {
      val path = s"${java.nio.file.Files.createTempDirectory("graft-scale-merge")}/t"
      val df = spark.range(rows)
        .select(col("id"), (col("id") % 97).cast("double").as("v"))
      graft.lake.SnapshotTable.appendClustered(df, path, "id", numFiles = 256)
      val v1 = graft.lake.SnapshotTable.liveFiles(spark, path).toSet
      val src = spark.range(5000, 5050)
        .select(col("id"), lit(-1.0).as("v"))
      graft.lake.SnapshotTable.merge(src, path, Seq("id"))
      (path, v1, graft.lake.SnapshotTable.liveFiles(spark, path).toSet)
    }
    // snap_bootstrap_stage: a 1M-row snapshot table in a few fat files —
    // the shape where the streaming bootstrap used to degrade to one
    // row-at-a-time task per file — and a tiny table for
    // stream_fixed_overhead (staged here so that entry times ONLY the
    // streaming machinery, not a commit); their base dir
    lazy val snapBoot: String = {
      val base = java.nio.file.Files.createTempDirectory("graft-scale-snapboot").toString
      graft.lake.SnapshotTable.append(docs.coalesce(4), s"$base/t")
      graft.lake.SnapshotTable.append(docs.limit(100).coalesce(1), s"$base/tiny")
      base
    }
    val results: Seq[(String, Double)] = Seq(
      // ---- 8-vs-32-core scaling diagnostics (r21 verdict item 5) ----
      // docs_scan_noop: the generator+scan floor every text point
      // above pays — if THIS is flat across core counts, the text
      // points' sublinearity is allocation/GC-bound generation, not
      // the engine's scheduling.
      timed("docs_scan_noop")  { noop(docs) },
      // cpu_kernel: embarrassingly parallel, zero-allocation,
      // zero-shuffle pure integer compute (256 tasks × 64M splitmix64
      // rounds, one output row per task). This is the upper bound the
      // scheduler/task machinery permits: if cpu_kernel scales ~N×
      // with cores while the text points cap lower, the gap is
      // allocation rate + shuffle IO in those operators, not Spark
      // overhead. Deterministic (seeded by task id alone).
      timed("cpu_kernel")      {
        import spark.implicits._
        val perTask = 1000000L
        val rounds = 64
        noop(spark.range(0, 256, 1, 256).as[Long].mapPartitions { it =>
          it.map { t =>
            var acc = 0L
            var i = 0L
            while (i < perTask) {
              var x = t * perTask + i
              var r = 0
              while (r < rounds) {
                // splitmix64 finalizer — pure register math
                x += 0x9e3779b97f4a7c15L
                x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
                x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
                x ^= (x >>> 31)
                r += 1
              }
              acc ^= x
              i += 1
            }
            acc
          }
        }.toDF("acc").agg(expr("bit_xor(acc)")))
      },
      timed("exact_dedup")     { noop(graft.ops.TextDedup.exactDuplicates(docs)) },
      timed("minhash_buckets") { noop(graft.ops.TextDedup.minhashBuckets(docs)) },
      timed("minhash_cands")   { noop(graft.ops.TextDedup.minhashCandidates(docs)) },
      timed("simhash")         { noop(graft.ops.TextDedup.simhashes(docs)) },
      timed("lang_id")         { noop(docs.select(col("doc_id"),
        graft.ops.TextAnalysis.predictLang(col("text")).as("lang"))) },
      timed("quality_score")   { noop(docs.select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("q"))) },
      timed("fingerprints")    { noop(docs.select(col("doc_id"),
        graft.ops.TextAnalysis.fingerprintMd5(col("text")).as("m"),
        graft.ops.TextAnalysis.rollingHash(col("text")).as("h"))) },
      timed("ann_brute_1q")    { noop(graft.ops.Similarity.bruteForceTopK(emb, 1L, 10)) },
      timed("ann_lsh_3q")      { noop(graft.ops.Similarity.lshTopK(emb, queryIds, 10)) },
      timed("ann_ivf_3q")      {
        val model = graft.ops.Ivf.train(emb, k = 64)
        noop(graft.ops.Ivf.search(emb, model, queryIds, 10))
      },
      timed("ann_brute_i8_3q") {
        // int8 path: quantize the corpus once, then 3 brute-force
        // queries over the 4x-smaller byte vectors via the codegen'd
        // integer dot product
        val q = graft.ops.Similarity.quantize(emb).persist()
        q.count()
        val queries = q.filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)
        noop(q.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            graft.ops.Similarity.quantizedCosine(col("qvec"), col("q_qvec")).as("cosine"))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") <= 10))
        q.unpersist()
        ()
      },
      timed("ivf_i8_adhoc_3q") {
        // A/B left side: the ad-hoc quantized IVF search — probe
        // cells, then quantize ONLY the candidate rows (the round-7
        // version quantized the whole corpus per search; this entry
        // exists to show that second full scan gone)
        val model = graft.ops.Ivf.train(emb, k = 64)
        noop(graft.ops.Ivf.searchQuantized(emb, model, queryIds, 10))
      },
      timed("ivf_i8_index_build") {
        // the one-time cost the index tier amortizes
        val _ = qidxDir
      },
      timed("ivf_i8_indexed_3q") {
        // A/B right side: searches against the pre-built index read
        // only the 4x-smaller quantized parquet — per-search cost
        // once the build above is paid
        val model = graft.ops.Ivf.train(emb, k = 64)
        val qcorp = graft.ops.Ivf.loadQuantizedIndex(spark, qidxDir)
        noop(graft.ops.Ivf.searchQuantizedIndexed(emb, qcorp, model, queryIds, 10))
      },
      timed("ivf_coarse_train") {
        // one-time coarse k-means the PQ/ADC serving points below
        // share — timed as its OWN point so their numbers isolate
        // serving (under GRAFT_SCALE_ONLY without this point, the
        // first PQ point pays the lazy init — full runs never do)
        val _ = coarse64
      },
      timed("ivf_pq_build") {
        // PQ ladder rung: train the quantizer, encode the corpus
        val _ = pq
      },
      timed("ivf_pq_3q") {
        // serve from codes: probe -> ADC over 8-byte codes ->
        // shortlist -> exact rerank of shortlist only (coarse model
        // pre-trained above — this point measures SERVING)
        val codes = spark.read.parquet(pq._2)
        noop(graft.ops.Ivf.searchPq(emb, codes, coarse64, pq._1,
          queryIds, k = 10, nProbe = 4, shortlist = 100))
      },
      timed("ivf_adc_build") {
        // IVFADC rung: train the residual quantizer, encode the corpus
        val _ = adc
      },
      timed("ivf_adc_3q") {
        // serve from residual codes: probe -> cell-dot + residual ADC
        // -> shortlist -> exact rerank (coarse model pre-trained)
        val codes = spark.read.parquet(adc._2)
        noop(graft.ops.Ivf.searchPqResidual(emb, codes, coarse64,
          adc._1, queryIds, k = 10, nProbe = 4, shortlist = 100))
      },
      timed("pq_adc_recall_ab") {
        // recall@10 A/B at 200k vectors (r19 verdict #3 done
        // criterion): raw-vector PQ (q138 shape) vs OPQ+residual ADC
        // (q141 shape), both vs the EXACT result under identical
        // probe/tie-break conventions (nProbe = all cells ⇒ the
        // candidate set is the whole corpus, rerank is exact cosine).
        // Reported, and pinned loosely: the residual path must not be
        // materially WORSE than raw PQ — the classic IVFADC claim.
        import spark.implicits._
        def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
          df.select("query_id", "vec_id").as[(Long, Long)].collect()
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val k = coarse64.centroids.length
        val exact = hits(graft.ops.Ivf.search(emb, coarse64, queryIds,
          10, nProbe = k))
        val pqHits = hits(graft.ops.Ivf.searchPq(emb,
          spark.read.parquet(pq._2), coarse64, pq._1,
          queryIds, k = 10, nProbe = 4, shortlist = 100))
        val adcHits = hits(graft.ops.Ivf.searchPqResidual(emb,
          spark.read.parquet(adc._2), coarse64, adc._1,
          queryIds, k = 10, nProbe = 4, shortlist = 100))
        def recall(got: Map[Long, Set[Long]]): Int =
          queryIds.map(q => (exact(q) intersect got.getOrElse(q, Set.empty)).size).sum
        val (rPq, rAdc) = (recall(pqHits), recall(adcHits))
        val n = queryIds.size * 10
        System.err.println(
          f"[scale] recall@10 x${queryIds.size} queries: pq=$rPq/$n adc=$rAdc/$n")
        require(rAdc >= rPq - 4,
          s"residual ADC recall $rAdc/$n materially below raw PQ $rPq/$n")
      },
      timed("tfidf")           { noop(graft.ops.TextAnalysis.tfidfOf(docs)) },
      timed("inverted_index")  { noop(graft.ops.TextAnalysis.invertedIndexOf(docs)) },
      timed("char_lm_score")   { noop(graft.ops.TextAnalysis.charLmScoreOf(docs)) },
      timed("word_lm_score")   {
        // vocabulary²-bounded model stays DISTRIBUTED: scoring is the
        // (w1,w2)-keyed join, the shape a real word LM needs at scale
        noop(graft.ops.TextAnalysis.wordLmScoreOf(docs))
      },
      timed("word_lm_topk")    {
        // top-64 continuation pruning A/B vs word_lm_score: the model
        // shrinks vocab² → vocab·64; on this corpus' small vocabulary
        // the delta isolates the pruning overhead (window) vs the
        // smaller join build side
        noop(graft.ops.TextAnalysis.wordLmScoreTopKOf(docs, topK = 64))
      },
      timed("filter_funnel")   {
        // model pass + ONE map-only funnel pass; ≤5-row result
        noop(graft.ops.TextAnalysis.filterFunnelOf(docs))
      },
      timed("bm25_3term")      {
        // query filter BEFORE the tf agg → query-bounded shuffle
        noop(graft.ops.TextAnalysis.bm25TopKOf(
          docs, Seq("customer", "stream", "vector"), k = 15))
      },
      timed("temp_mix")        {
        // #sources-bounded driver apportionment + prefix-count select
        noop(graft.ops.TextAnalysis.temperatureMixOf(
          docs, alpha = 0.5, budget = rows / 10))
      },
      timed("sem_dedup")       {
        // 200k vectors, k=512 → bounded Σ|cluster|² pair space
        noop(graft.ops.Similarity.semDedup(emb, k = 512, threshold = 0.99, iters = 3))
      },
      timed("bpe_8_merges")    { val _ = bpeMerges },
      timed("bpe_encode_1m")   {
        // the tokenize step AFTER training: all 8 merges applied
        // corpus-wide as a fixed chain of literal replaces — map-only,
        // whole-stage codegen'd, per-doc token counts out
        noop(docs.select(col("doc_id"), graft.ops.TextAnalysis
          .bpeTokenCount(col("text"), bpeMerges).as("n_bpe_tokens")))
      },
      timed("incr_dedup_1m")   {
        // 1M-doc batch probed against a 1M-fp history — both joins
        // fp-keyed shuffles, the shape that scales past broadcast
        val history = docs.select(md5(col("text")).as("fp"))
        noop(graft.ops.TextDedup.dedupAgainstHistory(
          docs.withColumn("doc_id", col("doc_id") + 10000000L), history))
      },
      timed("repetition_filter") { noop(graft.ops.TextAnalysis.repetitionStatsOf(docs)) },
      timed("pii_scrub")       { noop(docs.select(col("doc_id"),
        graft.ops.TextAnalysis.scrubPii(col("text")).as("scrubbed"))) },
      timed("token_prefix_sum") {
        // the two-phase prefix sum at 1M docs: no per-source window,
        // so no single-task source history no matter the cardinality
        noop(graft.ops.TextAnalysis.runningTokenTotals(docs))
      },
      timed("segment_dedup")   {
        // corpus-wide first-occurrence segment dedup at 1M docs:
        // row-local segmentation + one combinable min-keeper agg +
        // equi-join membership + ordered reassembly (three shuffles)
        noop(graft.ops.TextDedup.dedupSegments(docs))
      },
      timed("dup_substrings_1m") {
        // ExactSubstr span dedup at 1M docs: row-local L-gram shingle
        // projection, one gram-keyed window (count, grouping only),
        // one doc-keyed window+agg pair sharing an exchange,
        // row-local kept-text reconstruction
        val t0 = System.nanoTime()
        noop(graft.ops.TextDedup.duplicateSpans(docs))
        dupUniformSec = Some((System.nanoTime() - t0) / 1e9)
      },
      timed("dup_substr_skew") {
        // planted-skew watch case: ONE 8-gram in half the corpus
        // (classic boilerplate header). Measured in round 9, the
        // window formulation holds this within ~1.1x of uniform at
        // 1M docs — the hot key's rows count in one task in
        // milliseconds — while every join-back "skew-safe" rewrite
        // paid a second corpus exchange and lost 1.7-4x uniform (see
        // duplicateSpans' comment for the full A/B). This
        // entry keeps the bound pinned run-over-run so the flip
        // point (a single gram's occurrences overflowing one task)
        // is noticed if corpus scale ever reaches it.
        val skewDocs = docs.withColumn("text",
          when(col("doc_id") % 2 === 0,
            concat(lit("common header tokens repeated across half the corpus | "),
              col("text"))).otherwise(col("text")))
        val t0 = System.nanoTime()
        noop(graft.ops.TextDedup.duplicateSpans(skewDocs))
        val s = (System.nanoTime() - t0) / 1e9
        val u = dupUniformSec.getOrElse(s)
        System.err.println(f"[scale] dup skew=$s%.2fs uniform=$u%.2fs ratio=${s / u}%.2f")
        // generous bound (host variance): a regression back to a
        // single-task hot-key plan would blow far past this
        require(s < u * 4 + 2.0,
          f"planted-skew dup-span dedup straggled: $s%.2fs vs uniform $u%.2fs")
      },
      timed("boilerplate_1m")  {
        // C4-style boilerplate removal at 1M docs: document-frequency
        // count (two combinable shuffles) + left-anti removal +
        // ordered reassembly — no corpus window
        noop(graft.ops.TextDedup.removeBoilerplate(docs))
      },
      timed("hashed_feats_1m") {
        // fastText hashing trick at 1M docs: row-local unigram+bigram
        // explode + ONE combinable count shuffle into COO form
        noop(graft.ops.TextAnalysis.hashedNgramFeatures(docs))
      },
      timed("seq_packing")     {
        // global packing layout at 1M docs — one token stream cut
        // into 2048-token training sequences without a global window
        noop(graft.ops.TextAnalysis.packSequencesOf(docs, 2048))
      },
      timed("asof_native_4m")  {
        // the custom AsOfJoinExec at 4M probes / 400k quotes over
        // 100k keys: one co-partitioned sort-merge pass, no
        // union+window state. Semantic parity with the window
        // formulation is gate-checked (q59 and q10 share one DuckDB
        // ASOF oracle); this is the throughput comparison at scale.
        val trades = spark.range(4 * rows)
          .select(pmod(col("id") * 31, lit(100000)).as("k"),
            pmod(col("id") * 17, lit(10000000)).as("t"),
            col("id").as("trade_id"))
        val quotes = spark.range(rows / 4 * 2)
          .select(pmod(col("id") * 37, lit(100000)).as("qk"),
            pmod(col("id") * 53, lit(10000000)).as("qt"))
        noop(graft.plans.AsOf.join(trades, quotes, "k", "qk", "t", "qt"))
      },
      timed("asof_window_4m")  {
        // the same join as the union+window composition Spark can
        // express natively — the baseline the custom exec must beat
        val trades = spark.range(4 * rows)
          .select(pmod(col("id") * 31, lit(100000)).as("k"),
            pmod(col("id") * 17, lit(10000000)).as("t"),
            col("id").as("trade_id"), lit(1).as("is_left"),
            lit(null).cast("long").as("q_t"))
        val quotes = spark.range(rows / 4 * 2)
          .select(pmod(col("id") * 37, lit(100000)).as("k"),
            pmod(col("id") * 53, lit(10000000)).as("t"),
            lit(null).cast("long").as("trade_id"), lit(0).as("is_left"),
            pmod(col("id") * 53, lit(10000000)).as("q_t"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(col("t").asc, col("is_left").asc)
          .rowsBetween(Long.MinValue, 0)
        noop(trades.unionByName(quotes)
          .withColumn("last_q", last(col("q_t"), ignoreNulls = true).over(w))
          .filter(col("is_left") === 1)
          .select("trade_id", "k", "t", "last_q"))
      },
      timed("cc_900k_edges")   {
        // 100k chains of 10 nodes → 900k edges: above the union-find
        // threshold, so this exercises the DISTRIBUTED pointer-jumping
        // tier at 1M nodes
        val pairs = spark.range(rows)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
          .filter(pmod(col("id_a"), lit(10)) =!= 9)
        noop(graft.ops.TextDedup.connectedComponents(pairs))
      },
      timed("merge_file_prune") {
        // row-level MERGE against a MANY-file table: 1M rows clustered
        // over 256 files with id stats, then a 50-key correction batch
        // in one id range. The footer-stat pruning must rewrite only
        // the file(s) whose [min, max] can contain the keys — the
        // whole point of stats-pruned merge at 100 TB (rewriting all
        // files would be a full table rewrite per correction).
        val (_, v1, v2) = mergeScale
        val rewritten = (v1 -- v2).size
        System.err.println(s"[scale] merge rewrote $rewritten/${v1.size} files")
        require(v1.size >= 200, s"expected a many-file table, got ${v1.size}")
        require(rewritten <= 4,
          s"stats pruning failed: merge rewrote $rewritten of ${v1.size} files")
      },
      timed("cdc_after_merge") {
        // the change feed over the 256-file table's merge commit must
        // scope its IO to the rewritten file(s): 1M-row table, but the
        // feed only diffs the touched files and yields exactly the
        // 50 updated keys as CDF update pre/post image pairs (merge
        // records its keys in the manifest)
        val feed = graft.lake.SnapshotTable.changes(spark,
          mergeScale._1, 1L, 2L)
        val byType = feed.groupBy("_change_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(byType.getOrElse("update_postimage", 0L) == 50 &&
            byType.getOrElse("update_preimage", 0L) == 50,
          s"expected 50/50 update post/preimage in the merge feed, got $byType")
      },
      timed("merge_statless") {
        // merge against a table whose key has NO usable stats (round-
        // robin layout: every file spans the whole key space): the
        // stats and bloom tiers keep ALL files — a 50-row correction
        // would rewrite the entire table. Exact finding (one key-column
        // scan semi-joined with the source keys) must shrink the
        // rewrite to the files that actually hold a match.
        val base = java.nio.file.Files.createTempDirectory("graft-scale-ms")
        val path = s"$base/t"
        graft.lake.SnapshotTable.append(
          spark.range(rows)
            .select(col("id"), (col("id") % 97).cast("double").as("v"))
            .repartition(128), path)
        val v1 = graft.lake.SnapshotTable.liveFiles(spark, path).toSet
        val v = graft.lake.SnapshotTable.latestVersion(spark, path).get
        require(!graft.lake.SnapshotTable.readManifest(spark, path, v)
          .exists(_.stats.exists(_._1 == "id")),
          "fixture should defeat stats pruning: a live file records an id bound")
        val src = spark.range(5000, 5050).select(col("id"), lit(-1.0).as("v"))
        val t0 = System.nanoTime()
        graft.lake.SnapshotTable.merge(src, path, Seq("id"))
        val secs = (System.nanoTime() - t0) / 1e9
        val nExact = (v1 -- graft.lake.SnapshotTable.liveFiles(spark, path).toSet).size
        System.err.println(f"[scale] merge_statless exact=$secs%.2fs ($nExact files)")
        require(nExact <= 55,
          s"exact finding failed: rewrote $nExact files for 50 keys")
      },
      timed("merge_clauses_prune") {
        // full-clause MERGE at 1M rows: the matched/insert families
        // prune by key stats exactly like merge(), and the NOT
        // MATCHED BY SOURCE family — inherently table-wide — prunes
        // to the files its CONDITIONS could touch (exact readWhere
        // file finding). One conditional NMBS clause must not turn
        // the statement into a full-table rewrite.
        val base = java.nio.file.Files.createTempDirectory("graft-scale-mc")
        val path = s"$base/t"
        val df = spark.range(rows)
          .select(col("id"), (col("id") % 97).cast("double").as("v"))
        graft.lake.SnapshotTable.appendClustered(df, path, "id", numFiles = 256)
        val v1 = graft.lake.SnapshotTable.liveFiles(spark, path).toSet
        val src = spark.range(5000, 5050)
          .select(col("id"), lit(999.0).as("nv"))
        graft.lake.SnapshotTable.mergeClauses(src, path, Seq("id"),
          matched = Seq(
            graft.lake.MergeUpdate(Some(col("s.nv") > col("t.v")),
              Seq("v" -> col("s.nv"))),
            graft.lake.MergeDelete()),
          notMatchedBySource = Seq(
            graft.lake.MergeDelete(Some(col("t.id") >= lit(rows - 10)))))
        val v2 = graft.lake.SnapshotTable.liveFiles(spark, path).toSet
        val rewritten = (v1 -- v2).size
        System.err.println(
          s"[scale] merge_clauses rewrote $rewritten/${v1.size} files")
        require(rewritten <= 8,
          s"clause-merge pruning failed: rewrote $rewritten of ${v1.size} files")
        val cnt = graft.lake.SnapshotTable.read(spark, path).count()
        require(cnt == rows - 10,
          s"NMBS delete should drop 10 rows, table has $cnt of $rows")
      },
      timed("delete_dv_vs_rewrite") {
        // the deletion-vector fast path on the SAME 256-file table:
        // a 50-row delete as a metadata+DV commit (zero data files
        // rewritten) immediately followed by an equivalent rewriting
        // delete of 50 other rows — the pair in one timing shows the
        // shape difference; the file-set requires prove each took its
        // intended path
        val path = mergeScale._1
        val before = graft.lake.SnapshotTable.liveFiles(spark, path).toSet
        val dvLo = rows / 2
        val rwLo = rows / 4
        val tDv = System.nanoTime()
        graft.lake.SnapshotTable.deleteWithVectors(spark, path,
          col("id").between(dvLo, dvLo + 49L))
        val dvS = (System.nanoTime() - tDv) / 1e9
        require(graft.lake.SnapshotTable.liveFiles(spark, path).toSet == before,
          "DV delete must not rewrite any data file")
        val tRw = System.nanoTime()
        graft.lake.SnapshotTable.delete(spark, path,
          col("id").between(rwLo, rwLo + 49L))
        val rwS = (System.nanoTime() - tRw) / 1e9
        require(graft.lake.SnapshotTable.liveFiles(spark, path).toSet != before,
          "rewrite delete must replace the touched file")
        require(graft.lake.SnapshotTable.read(spark, path)
          .filter(col("id").between(dvLo, dvLo + 49L) ||
            col("id").between(rwLo, rwLo + 49L)).count() == 0L)
        System.err.println(f"[scale] delete dv=$dvS%.2fs rewrite=$rwS%.2fs")
      },
      timed("stream_clause_merge") {
        // The streaming CLAUSE-merge sink (txn-watermarked
        // conditional upsert) vs the replace-merge sink, as the
        // scheduled-ingest mode runs them: E AvailableNow drains of
        // one 50-row wave each into a 1M-row / 256-file clustered
        // target. Contracts: per-epoch file touches stay pruned
        // (each wave hits a narrow key range → a handful of files,
        // never the table), and per-epoch cost is FLAT across epochs
        // (the keyRewriteSet + clause rewrite must not accumulate
        // state); the twin replace-merge timing calibrates the price
        // of clause semantics + the txn watermark.
        import java.nio.file.{Files => JF, Paths => JP}
        val base = JF.createTempDirectory("graft-scale-scm")
        def target(name: String): String = {
          val p = s"$base/$name"
          graft.lake.SnapshotTable.appendClustered(
            spark.range(rows).select(col("id"),
              (col("id") % 97).cast("double").as("v"), lit(0L).as("ts")),
            p, "id", numFiles = 256)
          p
        }
        val pClause = target("clause"); val pReplace = target("replace")
        val inClause = JF.createDirectory(JP.get(s"$base/in-c")).toString
        val inReplace = JF.createDirectory(JP.get(s"$base/in-r")).toString
        val epochs = 6
        def stage(inDir: String, e: Int): Unit = {
          val lo = 4000L * e
          spark.range(lo, lo + 50)
            .select(col("id"), lit(e * 100.0).as("v"), lit(e.toLong).as("ts"))
            .coalesce(1).write.mode("overwrite").parquet(s"$base/stage")
          import scala.jdk.CollectionConverters._
          val part = JF.list(JP.get(s"$base/stage")).iterator.asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          JF.copy(part, JP.get(s"$inDir/w$e.parquet")): Unit
        }
        def src(inDir: String) = spark.readStream
          .schema("id LONG, v DOUBLE, ts LONG").parquet(inDir)
        def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
          try require(q.awaitTermination(300000), "stream drain timed out")
          finally q.stop()
        }
        val perClause = (1 to epochs).map { e =>
          stage(inClause, e)
          val v1 = graft.lake.SnapshotTable.liveFiles(spark, pClause).toSet
          val t0 = System.nanoTime()
          drain(graft.streaming.EventStreams.streamMergeClausesSnapshot(
            src(inClause), pClause, Seq("id"),
            matched = Seq(graft.lake.MergeUpdate(
              Some(col("s.ts") >= col("t.ts")),
              Seq("v" -> col("s.v"), "ts" -> col("s.ts")))),
            notMatched = Seq(graft.lake.MergeInsert(None, Nil)),
            checkpoint = s"$base/ckpt-c", appId = Some("scale-scm"),
            latestBy = Some("ts")))
          val s = (System.nanoTime() - t0) / 1e9
          val touched = (v1 --
            graft.lake.SnapshotTable.liveFiles(spark, pClause).toSet).size
          require(touched <= 8,
            s"clause-merge sink epoch $e rewrote $touched files — pruning lost")
          s
        }
        val perReplace = (1 to epochs).map { e =>
          stage(inReplace, e)
          val t0 = System.nanoTime()
          drain(graft.streaming.EventStreams.streamMergeSnapshot(
            src(inReplace), pReplace, Seq("id"), s"$base/ckpt-r"))
          (System.nanoTime() - t0) / 1e9
        }
        System.err.println(
          f"[scale] stream_clause_merge per-epoch clause=" +
            perClause.map(s => f"$s%.2f").mkString("/") +
            "s replace=" + perReplace.map(s => f"$s%.2f").mkString("/") + "s")
        // flatness: the mean of the last two epochs within 3x of the
        // first two (generous for query-lifecycle noise; superlinear
        // accumulation would blow straight past it)
        val headC = (perClause(0) + perClause(1)) / 2
        val tailC = (perClause(epochs - 2) + perClause(epochs - 1)) / 2
        require(tailC <= headC * 3 + 1.0,
          f"clause-merge sink per-epoch cost grew $headC%.2fs -> $tailC%.2fs")
        val got = graft.lake.SnapshotTable.read(spark, pClause)
          .filter(col("ts") > 0L).count()
        require(got == epochs * 50L,
          s"clause sink applied $got of ${epochs * 50} wave rows")
      },
      timed("incremental_cluster") {
        // The liquid-clustering maintenance claim, MEASURED: after a
        // full clustered rewrite of 1M rows, appending a 50k wave and
        // running OPTIMIZE INCREMENTAL must cost ~the wave, not the
        // table — A/B against a full re-optimize of the IDENTICAL
        // state. Contracts: settled files byte-identical through the
        // incremental pass, and the pass materially cheaper than the
        // full rewrite (the 100 TB case: maintenance scales with NEW
        // data).
        import java.nio.file.{Files => JF}
        import graft.lake.SnapshotTable
        val base = JF.createTempDirectory("graft-scale-incl")
        def mk(lo: Long, hi: Long) = spark.range(lo, hi)
          .select(col("id").as("a"), (col("id") % 9973).cast("double").as("b"))
        def build(name: String): String = {
          val p = s"$base/$name"
          SnapshotTable.append(mk(0, rows).repartition(64), p)
          SnapshotTable.compact(spark, p, numFiles = 32,
            zorderCols = Seq("a", "b"))
          SnapshotTable.append(mk(rows, rows + 50000).repartition(4), p)
          p
        }
        val pInc = build("inc"); val pFull = build("full")
        // live = 32 clustered + 4 wave files at this point
        val settled = SnapshotTable.liveFiles(spark, pInc).toSet
        def t(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        val tInc = t(SnapshotTable.optimizeIncremental(spark, pInc))
        val after = SnapshotTable.liveFiles(spark, pInc).toSet
        require(settled.intersect(after).size == settled.size - 4,
          s"incremental pass must keep every settled file and replace the " +
            s"4 wave files: ${settled.size} settled, " +
            s"${settled.intersect(after).size} kept")
        val tFull = t(SnapshotTable.compact(spark, pFull, numFiles = 32,
          zorderCols = Seq("a", "b")))
        require(tInc < tFull * 0.5 + 0.5,
          f"incremental clustering not materially cheaper than full: " +
            f"inc=$tInc%.2fs full=$tFull%.2fs")
        System.err.println(
          f"[scale] incremental_cluster inc=$tInc%.2fs full=$tFull%.2fs " +
            f"(${tFull / tInc}%.1fx)")
      },
      timed("manifest_commit_scaling") {
        // The incremental-log posture at 10⁶-file scale, shrunk 10×:
        // two tables whose live-file lists differ 100× (10³ vs 10⁵
        // entries — the big one synthesized as a checkpoint manifest
        // of fabricated stats-disjoint files around one real file, so
        // no actual 10⁵-file write is needed). A small append must
        // publish a DELTA whose size does not scale with the list
        // (the old full-list-per-commit log wrote ~20 MB of driver
        // text for every 1-file commit at 10⁵ entries), and
        // readWhere's stats pruning over the 10⁵ entries must still
        // plan off one (cached) parse and scan only the real file.
        import java.nio.file.{Files => JF, Paths => JP}
        val base = JF.createTempDirectory("graft-scale-manifest")
        // rid=true fabricates the ROW-TRACKING shape of the same list:
        // every entry line carries a `rid=<base>` token and the
        // manifest a `#rowIdHigh=` header — the r15 feature's
        // per-entry growth, measured against the untracked twin
        def mk(path: String, fakes: Int, rid: Boolean = false): Unit = {
          val df = spark.range(1000)
            .select(col("id"), col("id").cast("double").as("v"))
          graft.lake.SnapshotTable.appendClustered(df, path, "id", numFiles = 1)
          val v1 = new String(JF.readAllBytes(JP.get(s"$path/_graft_log/v1")), "UTF-8")
          val commitDir = v1.split("\n").filterNot(_.startsWith("#")).head.split("\t")(0)
          val sb = new StringBuilder()
          if (rid) {
            sb.append(s"#rowIdHigh=${1000L + fakes * 10L}\n")
            sb.append(v1.split("\n").map(l =>
              if (l.startsWith("#") || l.isEmpty) l else l + "\trid=0").mkString("\n"))
          } else sb.append(v1)
          var i = 0
          while (i < fakes) {
            val lo = 1000000L + i * 10L
            sb.append(s"\n$commitDir\t$commitDir/fake-$i.parquet\trows=10\tid\t$lo.0\t${lo + 9}.0")
            if (rid) sb.append(s"\trid=$lo")
            i += 1
          }
          JF.write(JP.get(s"$path/_graft_log/v2"), sb.toString.getBytes("UTF-8"))
        }
        val small = s"$base/small"; val big = s"$base/big"
        val bigRid = s"$base/bigrid"
        mk(small, 1000); mk(big, 100000); mk(bigRid, 100000, rid = true)
        def commitSec(path: String): Double = {
          val t0 = System.nanoTime()
          graft.lake.SnapshotTable.append(spark.range(10)
            .select(col("id"), col("id").cast("double").as("v")).coalesce(1), path)
          (System.nanoTime() - t0) / 1e9
        }
        val cSmall = commitSec(small)
        val cBig = commitSec(big)
        val dSmall = JF.size(JP.get(s"$small/_graft_log/v3"))
        val dBig = JF.size(JP.get(s"$big/_graft_log/v3"))
        require(dBig < 10000 && dBig < dSmall * 3,
          s"delta commit bytes scale with live-file count: small=$dSmall big=$dBig")
        def whereSec(path: String): Double = {
          val t0 = System.nanoTime()
          val n = graft.lake.SnapshotTable.readWhere(spark, path,
            col("id") < 1000L).count()
          require(n == 1010L, s"stats-pruned read over synthetic manifest got $n rows")
          (System.nanoTime() - t0) / 1e9
        }
        val wSmall = whereSec(small)
        val wBig = whereSec(big)     // same manifest, now cached
        val wBig2 = whereSec(big)
        // CDC off the delta log: the feed of the 1-file append must
        // not scale with the table's live-file count — the fast path
        // diffs the delta's own adds/removes, never the full lists
        def cdcSec(path: String): Double = {
          val t0 = System.nanoTime()
          val n = graft.lake.SnapshotTable.changes(spark, path, 2L, 3L)
            .filter(col("_change_type") === "insert").count()
          require(n == 10L, s"delta-log CDC over $path read $n rows, want 10")
          (System.nanoTime() - t0) / 1e9
        }
        val cdcSmall = cdcSec(small)
        val cdcBig = cdcSec(big)
        require(cdcBig < cdcSmall * 3 + 2.0,
          f"CDC feed scales with live-file count: small=$cdcSmall%.2fs big=$cdcBig%.2fs")
        // rid-token growth audit at 10^5 entries: parse (cold
        // readWhere) and 1-file commit on the TRACKED twin must stay
        // within noise of the untracked table — rid adds one short
        // token per line, so anything superlinear here is a parser
        // regression, not a size effect
        val cRid = commitSec(bigRid)  // CAS assigns a rid base too
        val wRid = whereSec(bigRid)   // parse incl. rid tokens
        val wRid2 = whereSec(bigRid)  // warm
        require(wRid < wBig * 3 + 2.0,
          f"tracked manifest parse off at 100k files: " +
            f"untracked=$wBig%.2fs tracked=$wRid%.2fs")
        require(cRid < cBig * 3 + 2.0,
          f"tracked 1-file commit off at 100k files: " +
            f"untracked=$cBig%.2fs tracked=$cRid%.2fs")
        System.err.println(f"[scale] manifest commit small=$cSmall%.2fs big=$cBig%.2fs " +
          f"rid=$cRid%.2fs delta_bytes=$dSmall/$dBig readWhere small=$wSmall%.2fs " +
          f"big=$wBig%.2fs warm=$wBig2%.2fs rid_cold=$wRid%.2fs rid_warm=$wRid2%.2fs " +
          f"cdc small=$cdcSmall%.2fs big=$cdcBig%.2fs")
        // commit-time cluster-policy decision at 10^5 entries: with a
        // spec recorded and AUTOCLUSTER armed above the table size
        // (never fires), every commit pays the O(entries) driver
        // decision (unmarked filter + key-region groupBy over 10^5
        // strings) — it must stay within noise of the policy-less
        // 1-file commit on the same manifest
        graft.lake.SnapshotTable.clusterBy(spark, big, Seq("id"))
        graft.lake.SnapshotTable.setAutoCluster(spark, big, 200001)
        val cPol = commitSec(big)
        require(cPol < cBig * 3 + 2.0,
          f"auto-cluster decision off at 100k files: " +
            f"plain=$cBig%.2fs policy=$cPol%.2fs")
        System.err.println(
          f"[scale] autocluster decision at 100k files: plain=$cBig%.2fs " +
            f"policy=$cPol%.2fs")
      },
      timed("manifest_scale_1m") {
        // The driver-resident manifest's scale CEILING (r18 verdict
        // #1): Manifest.entries is a driver Seq over all live files,
        // so checkpoint parse, 1-file commit, readWhere planning, and
        // the commit-time policy decision are all O(entries) driver
        // work. A real 100 TB table at 10 MB files is ~10M entries;
        // this point fabricates checkpoints at 10^5 AND 10^6 entries
        // IN THE SAME RUN and pins each operation's 100k→1M slope
        // near-linear (within-run comparison — the only weather-robust
        // contract on this host) plus the retained heap per entry.
        // The measured per-entry budgets live in the Manifest
        // scaladoc; past ~4M entries (the manifest-cache weight bound)
        // the design answer is sharded checkpoints, sketched there.
        import java.nio.file.{Files => JF, Paths => JP}
        val base = JF.createTempDirectory("graft-scale-1m")
        def mk(path: String, fakes: Int): Unit = {
          val df = spark.range(1000)
            .select(col("id"), col("id").cast("double").as("v"))
          graft.lake.SnapshotTable.appendClustered(df, path, "id", numFiles = 1)
          val v1 = new String(JF.readAllBytes(JP.get(s"$path/_graft_log/v1")), "UTF-8")
          val commitDir = v1.split("\n").filterNot(_.startsWith("#")).head.split("\t")(0)
          val sb = new StringBuilder(fakes * 90 + v1.length)
          sb.append(v1)
          var i = 0
          while (i < fakes) {
            val lo = 1000000L + i * 10L
            sb.append(s"\n$commitDir\t$commitDir/fake-$i.parquet\trows=10\tid\t$lo.0\t${lo + 9}.0")
            i += 1
          }
          JF.write(JP.get(s"$path/_graft_log/v2"), sb.toString.getBytes("UTF-8"))
        }
        val k100 = s"$base/k100"; val m1 = s"$base/m1"
        mk(k100, 100000); mk(m1, 1000000)
        def gcUsed(): Long = {
          System.gc(); System.gc()
          Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
        }
        var want100 = 1000L; var want1m = 1000L
        def whereSec(path: String, want: Long): Double = {
          val t0 = System.nanoTime()
          val n = graft.lake.SnapshotTable.readWhere(spark, path,
            col("id") < 1000L).count()
          require(n == want, s"pruned read over $path got $n rows, want $want")
          (System.nanoTime() - t0) / 1e9
        }
        def commitSec(path: String): Double = {
          val t0 = System.nanoTime()
          graft.lake.SnapshotTable.append(spark.range(10)
            .select(col("id"), col("id").cast("double").as("v")).coalesce(1), path)
          (System.nanoTime() - t0) / 1e9
        }
        // cold parse + plan, then warm plan-only, both sizes
        val w100Cold = whereSec(k100, want100)
        val w100Warm = whereSec(k100, want100)
        val h0 = gcUsed()
        val w1mCold = whereSec(m1, want1m)
        val h1 = gcUsed()
        val w1mWarm = whereSec(m1, want1m)
        val heapPerEntry = (h1 - h0).toDouble / 1000000.0
        // 1-file commits (delta publish + multiset diff over entries)
        val c100 = commitSec(k100); want100 += 10
        val c1m = commitSec(m1); want1m += 10
        // policy decision armed above table size: every commit pays
        // the O(entries) unmarked-filter + region groupBy, never fires
        graft.lake.SnapshotTable.clusterBy(spark, k100, Seq("id"))
        graft.lake.SnapshotTable.setAutoCluster(spark, k100, 2000001)
        graft.lake.SnapshotTable.clusterBy(spark, m1, Seq("id"))
        graft.lake.SnapshotTable.setAutoCluster(spark, m1, 2000001)
        val p100 = commitSec(k100); want100 += 10
        val p1m = commitSec(m1); want1m += 10
        val wWarmAfter = whereSec(m1, want1m)
        // contracts: each op ≤ 3× LINEAR in entry count (10× data →
        // ≤30× time) plus a constant floor for fixed costs
        require(w1mCold < w100Cold * 30 + 3.0,
          f"cold parse superlinear: 100k=$w100Cold%.2fs 1M=$w1mCold%.2fs")
        require(w1mWarm < w100Warm * 30 + 3.0,
          f"warm planning superlinear: 100k=$w100Warm%.2fs 1M=$w1mWarm%.2fs")
        // tightened after the append fast path (reference-equal
        // prefix scan in entryDiff + lazy full serialization): the
        // 1-file commit no longer hashes or serializes the live list,
        // so it sits near the constant data-write floor — measured
        // 0.58s at 1M (was 2.34s). The bound still leaves ~3x for
        // host weather on top of the within-run 100k comparison.
        require(c1m < c100 * 6 + 1.5,
          f"1-file commit pays O(entries) again: 100k=$c100%.2fs 1M=$c1m%.2fs")
        require(p1m < p100 * 30 + 5.0,
          f"policy decision superlinear: 100k=$p100%.2fs 1M=$p1m%.2fs")
        // retained heap: the cached 1M-entry Manifest must stay under
        // 2 KB/entry (≈2 GB at the 10M-entry extrapolation — the
        // point where sharded checkpoints become mandatory)
        require(heapPerEntry < 2048,
          f"manifest heap $heapPerEntry%.0f B/entry — driver-resident " +
            "list needs the sharded-checkpoint path")
        System.err.println(
          f"[scale] manifest_1m parse cold=$w1mCold%.2fs (100k=$w100Cold%.2fs) " +
            f"warm=$w1mWarm%.2fs/$wWarmAfter%.2fs (100k=$w100Warm%.2fs) " +
            f"commit=$c1m%.2fs (100k=$c100%.2fs) policy=$p1m%.2fs " +
            f"(100k=$p100%.2fs) heap=$heapPerEntry%.0fB/entry")
      },
      timed("autocluster_wave_cap") {
        // Bounded per-wave policy cost under skewed ingest (r18
        // verdict #2/#4 done-criterion): two identical tables carry a
        // 40-file unmarked backlog in ONE key region (the hot-region
        // shape — every ingest file lands in the same region, so the
        // region's wave would be the whole backlog). Enabling the
        // policy and committing 100 rows must pay a CAPPED wave (8
        // files) on one table vs the full-backlog wave on its
        // uncapped twin — measured in the same run so the comparison
        // is weather-proof — and the capped table must still DRAIN to
        // zero backlog across follow-up commits, each also bounded.
        val base = java.nio.file.Files
          .createTempDirectory("graft-scale-wavecap").toString
        def mk(path: String): Unit = {
          graft.lake.SnapshotTable.append(spark.range(200000)
            .select(col("id").as("a"), (col("id") * 7 % 1000).as("b")), path)
          graft.lake.SnapshotTable.compact(spark, path, numFiles = 8,
            zorderCols = Seq("a", "b"))
          var i = 0
          while (i < 40) {
            graft.lake.SnapshotTable.append(
              spark.range(1000000L + i * 20000L, 1000000L + (i + 1) * 20000L)
                .select(col("id").as("a"), (col("id") * 7 % 1000).as("b"))
                .coalesce(1), path)
            i += 1
          }
          graft.lake.SnapshotTable.setAutoCluster(spark, path, minStaleFiles = 1)
        }
        val capped = s"$base/capped"; val uncapped = s"$base/uncapped"
        mk(capped); mk(uncapped)
        def commitSec(path: String): Double = {
          val t0 = System.nanoTime()
          graft.lake.SnapshotTable.append(spark.range(100)
            .select(col("id").as("a"), (col("id") * 7 % 1000).as("b"))
            .coalesce(1), path)
          (System.nanoTime() - t0) / 1e9
        }
        val key = "spark.graft.policy.maxFilesPerWave"
        try {
          spark.conf.set(key, "8")
          val tCap = commitSec(capped)
          spark.conf.set(key, "1000000")
          val tFull = commitSec(uncapped)
          spark.conf.set(key, "8")
          val drains = scala.collection.mutable.ArrayBuffer.empty[Double]
          while (graft.lake.SnapshotTable
              .unclusteredFileCount(spark, capped) > 0 && drains.size < 20)
            drains += commitSec(capped)
          require(graft.lake.SnapshotTable
              .unclusteredFileCount(spark, capped) == 0,
            s"capped policy failed to drain the backlog in ${drains.size} commits")
          require(tCap < tFull * 0.8,
            f"capped first wave not bounded: capped=$tCap%.2fs full=$tFull%.2fs")
          require(drains.max < tFull,
            f"a drain commit (${drains.max}%.2fs) cost more than the " +
              f"full-backlog wave ($tFull%.2fs)")
          System.err.println(
            f"[scale] autocluster_wave_cap first=$tCap%.2fs full=$tFull%.2fs " +
              f"drains=${drains.size} max_drain=${drains.max}%.2fs")
        } finally spark.conf.unset(key)
      },
      timed("commit_overhead") {
        // Round-17 verdict #1: attribute the per-commit cost of the
        // writer-features gate (entry-point raw-header checks + the
        // publishManifest backstop's prev-version resolution and
        // cached manifest fetch) on the many-small-commits shape —
        // the reference's silver job is 8 actions over one tiny CSV
        // (ev_sessions_silver_etl_clean.py:57-225). The counter
        // ATTRIBUTES, it does not bypass: the gate stays inescapable,
        // and the measured window over-attributes (prev-version
        // resolution is shared with delta publishing), so a green
        // contract is an upper bound. Contract: gate ≤ 5% of commit
        // wall time, on a plain table AND a featured twin whose
        // writer set is non-empty (check constraint + clustering).
        import java.nio.file.{Files => JF}
        val base = JF.createTempDirectory("graft-scale-commitov").toString
        val plain = s"$base/plain"; val feat = s"$base/feat"
        def seed(p: String): Unit = {
          graft.lake.SnapshotTable.append(spark.range(1000)
            .select(col("id"), col("id").cast("double").as("v")).coalesce(1), p)
          ()
        }
        seed(plain); seed(feat)
        graft.lake.SnapshotTable.addCheckConstraint(spark, feat, "v_nonneg", "v >= 0")
        graft.lake.SnapshotTable.clusterBy(spark, feat, Seq("id"))
        val waves = 40
        def run(p: String): (Double, Double) = {
          val g0 = graft.lake.SnapshotTable.writerGateNanos.sum()
          val t0 = System.nanoTime()
          var i = 0
          while (i < waves) {
            graft.lake.SnapshotTable.append(spark.range(50)
              .select(col("id"), col("id").cast("double").as("v")).coalesce(1), p)
            i += 1
          }
          val total = (System.nanoTime() - t0) / 1e9
          val gate = (graft.lake.SnapshotTable.writerGateNanos.sum() - g0) / 1e9
          (total, gate)
        }
        val (tP, gP) = run(plain)
        val (tF, gF) = run(feat)
        // +10ms absolute floor: at sub-millisecond gate times the
        // ratio is numerically meaningless on a noisy host
        require(gP <= tP * 0.05 + 0.01,
          f"writer-features gate is ${100 * gP / tP}%.1f%% of plain commit cost " +
            f"(gate=$gP%.4fs of $tP%.2fs over $waves commits)")
        require(gF <= tF * 0.05 + 0.01,
          f"writer-features gate is ${100 * gF / tF}%.1f%% of featured commit cost " +
            f"(gate=$gF%.4fs of $tF%.2fs over $waves commits)")
        System.err.println(f"[scale] commit_overhead plain=$tP%.2fs gate=$gP%.4fs " +
          f"(${100 * gP / tP}%.2f%%) featured=$tF%.2fs gate=$gF%.4fs " +
          f"(${100 * gF / tF}%.2f%%) per-commit=${tP / waves}%.4fs")
      },
      timed("bloom_probe_cache") {
        // Decoded-bloom cache at 100× bloom-carrying files (100 vs
        // 10⁴ fake entries, each with a DISTINCT realistic payload):
        // the FIRST point probe pays manifest parse + every payload's
        // base64+deserialize once; warm probes must be (a) far below
        // the cold probe on the big table and (b) ~flat across the
        // 100× — the decoded filters and the parsed manifest are both
        // cached, so repeated point lookups cost no metadata-plane
        // CPU proportional to bloom bytes.
        import java.nio.file.{Files => JF, Paths => JP}
        val base = JF.createTempDirectory("graft-scale-bloomcache")
        def mkBloomTable(path: String, fakes: Int): Unit = {
          val df = spark.range(500)
            .select(col("id"), concat(lit("sid-"), col("id")).as("sid"))
          graft.lake.SnapshotTable.create(spark, path, df.schema)
          graft.lake.SnapshotTable.setBloomColumns(spark, path, Seq("sid"))
          graft.lake.SnapshotTable.append(df.coalesce(1), path)
          val vPath = JP.get(s"$path/_graft_log/v3")
          val v = new String(JF.readAllBytes(vPath), "UTF-8")
          val commitDir = v.split("\n").filterNot(_.startsWith("#"))
            .head.split("\t").drop(if (v.contains("#delta=")) 1 else 0).head
          val sb = new StringBuilder(
            v.split("\n").filter(_.startsWith("#schema=")).mkString("\n"))
          sb.append("\n").append(
            v.split("\n").filterNot(_.startsWith("#"))
              .map(_.stripPrefix("+\t")).mkString("\n"))
          // the probe key must test NEGATIVE in every fake bloom (a
          // ~1% false positive would route the scan to a parquet
          // file that does not exist) — rebuild the rare colliders
          val probeHash = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUTF8String(
              org.apache.spark.unsafe.types.UTF8String.fromString("zz-absent"), 42L)
          var i = 0
          while (i < fakes) {
            var seed = 0L
            var bf = org.apache.spark.util.sketch.BloomFilter.create(2000, 0.01)
            var ok = false
            while (!ok) {
              bf = org.apache.spark.util.sketch.BloomFilter.create(2000, 0.01)
              var j = 0
              while (j < 100) { bf.putLong(i * 100000L + seed * 7919L + j); j += 1 }
              ok = !bf.mightContainLong(probeHash)
              seed += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            val payload = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
            sb.append(s"\n$commitDir\t$commitDir/fake-$i.parquet\trows=2000\tbloom=sid#$payload")
            i += 1
          }
          JF.write(JP.get(s"$path/_graft_log/v4"), sb.toString.getBytes("UTF-8"))
        }
        val small = s"$base/small"; val big = s"$base/big"
        mkBloomTable(small, 100); mkBloomTable(big, 10000)
        def probeSec(path: String): Double = {
          val t0 = System.nanoTime()
          val n = graft.lake.SnapshotTable.readWhere(spark, path,
            col("sid") === "zz-absent").count()
          require(n == 0L, s"absent-key probe read $n rows")
          (System.nanoTime() - t0) / 1e9
        }
        val coldSmall = probeSec(small)
        val coldBig = probeSec(big)
        def warmAvg(path: String): Double =
          (1 to 5).map(_ => probeSec(path)).sum / 5
        val wSmall = warmAvg(small)
        val wBig = warmAvg(big)
        require(wBig < math.max(coldBig * 0.6, 0.4),
          f"warm probe not ≪ cold at 10⁴ blooms: cold=$coldBig%.2fs warm=$wBig%.2fs")
        require(wBig < wSmall * 5 + 0.4,
          f"warm probe scales with bloom-file count: small=$wSmall%.3fs big=$wBig%.3fs")
        System.err.println(f"[scale] bloom probe cold small=$coldSmall%.3fs " +
          f"big=$coldBig%.3fs warm small=$wSmall%.3fs big=$wBig%.3fs")
      },
      timed("widen_mixed_read") {
        // METADATA-ONLY type widening must carry NO read tax: a table
        // whose files are half INT-era, half LONG-era (64+64 files,
        // ~2M rows) scans under the wide schema through the
        // vectorized readers' in-decoder conversion — the mixed scan
        // must track an all-LONG table of identical shape, not trail
        // it (a per-row upcast shim or a fallback off the vectorized
        // path would show up here immediately)
        val base = java.nio.file.Files.createTempDirectory("graft-scale-widen")
        val n = 1000000L
        val half = spark.range(n).select(col("id"),
          (col("id") % 997).cast("int").as("k"))
        val mixed = s"$base/mixed"; val allLong = s"$base/long"
        graft.lake.SnapshotTable.append(half.repartition(64), mixed)
        graft.lake.SnapshotTable.widenColumnType(spark, mixed, "k",
          org.apache.spark.sql.types.LongType)
        graft.lake.SnapshotTable.append(half.select(col("id") + n,
          col("k").cast("long").as("k")).repartition(64), mixed)
        graft.lake.SnapshotTable.append(
          half.select(col("id"), col("k").cast("long").as("k"))
            .repartition(64), allLong)
        graft.lake.SnapshotTable.append(half.select(col("id") + n,
          col("k").cast("long").as("k")).repartition(64), allLong)
        def scanSec(path: String): Double = {
          val t0 = System.nanoTime()
          val s = graft.lake.SnapshotTable.read(spark, path)
            .agg(sum("k")).head().getLong(0)
          require(s > 0L, "widen scan produced nothing")
          (System.nanoTime() - t0) / 1e9
        }
        scanSec(mixed); scanSec(allLong) // warm both paths once
        val mixedSec = (1 to 3).map(_ => scanSec(mixed)).min
        val longSec = (1 to 3).map(_ => scanSec(allLong)).min
        require(mixedSec < longSec * 2.0 + 0.5,
          f"mixed-era widened scan trails all-long: mixed=$mixedSec%.3fs " +
            f"long=$longSec%.3fs")
        System.err.println(
          f"[scale] widen mixed=$mixedSec%.3fs allLong=$longSec%.3fs")
      },
      timed("snap_bootstrap_stage") { val _ = snapBoot },
      timed("snap_bootstrap_batch") {
        noop(graft.lake.SnapshotTable.read(spark, s"$snapBoot/t"))
      },
      timed("stream_fixed_overhead") {
        // pure streaming-query machinery on a ~100-row table: query
        // start, checkpoint IO, AvailableNow's plan+commit cycles.
        // snap_bootstrap_stream minus THIS is the data cost to
        // compare against snap_bootstrap_batch — at 100 TB the fixed
        // part amortizes to zero, so it must not be billed to the
        // reader's throughput
        val base = snapBoot
        val q = spark.readStream.format("graft-snapshot").load(s"$base/tiny")
          .writeStream.format("noop")
          .option("checkpointLocation", s"$base/tiny-ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000), "tiny drain did not finish")
      },
      timed("snap_bootstrap_stream") {
        // the whole table as one first batch: auto mode routes it
        // through the vectorized reader with byte-range splits, so
        // this should track snap_bootstrap_batch, not trail it 10x
        val base = snapBoot
        val q = spark.readStream.format("graft-snapshot").load(s"$base/t")
          .writeStream.format("noop")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000), "bootstrap drain did not finish")
      },
      timed("snap_sink_1m")    {
        // the native exactly-once sink at 1M rows: snapshot source →
        // graft-snapshot sink in one AvailableNow pass. Data flows
        // executor→parquet directly (N partition writers, zstd); the
        // driver's share is one manifest CAS carrying the epoch
        // watermark — the count proves the full row set landed once
        val base = snapBoot
        val q = spark.readStream.format("graft-snapshot").load(s"$base/t")
          .writeStream.format("graft-snapshot")
          .option("checkpointLocation", s"$base/sink-ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$base/sink")
        require(q.awaitTermination(300000), "sink drain did not finish")
        require(graft.lake.SnapshotTable.count(spark, s"$base/sink") == rows,
          "sink must land exactly the source rows")
      },
      timed("stream_drain")    {
        // Structured Streaming throughput at the same 1M rows:
        // stage the docs as parquet, then a checkpointed
        // Trigger.AvailableNow drain through the streaming engine
        val base = java.nio.file.Files.createTempDirectory("graft-scale-stream")
        docs.coalesce(16).write.parquet(s"$base/in")
        val q = spark.readStream
          .schema(graft.sources.SyntheticDocsSource.schema)
          .parquet(s"$base/in")
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000), "drain did not finish")
      },
      timed("cdf_stream_vs_batch") {
        // the streaming change feed IS the batch changes() plan per
        // version range — one AvailableNow drain of a CDC-shaped
        // history must TRACK the batch feed (engine overhead, not a
        // multiple), and the row sets must match exactly
        import graft.lake.SnapshotTable
        val base = java.nio.file.Files
          .createTempDirectory("graft-scale-cdf").toString
        val t = s"$base/t"
        (0 until 20).foreach { i =>
          SnapshotTable.append(spark.range(i * 5000L, (i + 1) * 5000L)
            .select(col("id"), (col("id") % 97).cast("double").as("v"))
            .coalesce(2), t)
        }
        SnapshotTable.merge(spark.range(0L, 2000L)
          .select(col("id"), lit(-1.0).as("v")).coalesce(2), t, Seq("id"))
        SnapshotTable.delete(spark, t, col("id") >= 98000L)
        val latest = SnapshotTable.latestVersion(spark, t).get
        val b0 = System.nanoTime()
        val nBatch = SnapshotTable.changes(spark, t, 0L, latest).count()
        val batchSec = (System.nanoTime() - b0) / 1e9
        val s0 = System.nanoTime()
        val nStream = new java.util.concurrent.atomic.AtomicLong(0L)
        val q = spark.readStream.format("graft-changes").load(t)
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (df: DataFrame, _: Long) =>
            nStream.addAndGet(df.count()); ()
          }
          .start()
        require(q.awaitTermination(300000), "cdf drain did not finish")
        val streamSec = (System.nanoTime() - s0) / 1e9
        require(nStream.get == nBatch,
          s"stream feed rows ${nStream.get} != batch $nBatch")
        require(streamSec < batchSec * 3 + 5.0,
          f"cdf stream must track batch changes: batch=$batchSec%.2fs " +
            f"stream=$streamSec%.2fs")
        println(f"[scale] cdf_stream_vs_batch rows=$nBatch " +
          f"batch=$batchSec%.2fs stream=$streamSec%.2fs")
      },
      timed("identity_ingest") {
        // The IDENTITY write path assigns values over a DF-native
        // dense ordinal (monotonically_increasing_id local ordinal +
        // broadcast per-partition offsets) — the write projection
        // never leaves whole-stage codegen. A/B in ONE run against
        // (a) a plain append and (b) the superseded zipWithIndex RDD
        // round-trip (kept measured here so the losing formulation's
        // cost stays on record: it materializes every Row twice).
        // Assigned values must be exactly 1..1M (unique, dense).
        import graft.lake.SnapshotTable
        import org.apache.spark.sql.types._
        import org.apache.spark.sql.catalyst.util.IdentityColumn
        val base = java.nio.file.Files
          .createTempDirectory("graft-scale-ident").toString
        val df = spark.range(1000000L)
          .select(col("id").as("k"), (col("id") % 97).cast("double").as("v"))
        def t(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        val plainSec = t(SnapshotTable.append(df, s"$base/plain"))
        SnapshotTable.create(spark, s"$base/ident", StructType(Seq(
          StructField("sid", LongType, nullable = true, new MetadataBuilder()
            .putLong(IdentityColumn.IDENTITY_INFO_START, 1L)
            .putLong(IdentityColumn.IDENTITY_INFO_STEP, 1L)
            .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
              false).build()),
          StructField("k", LongType), StructField("v", DoubleType))))
        val identSec = t(SnapshotTable.append(df, s"$base/ident"))
        // formulation A/B, raw transform+write (no commit machinery),
        // NARROW then WIDE — zipWithIndex materializes every Row, so
        // its cost grows with row WIDTH; the DF-native count job is
        // size-only and stays flat
        val wide = df.withColumn("pad",
          concat_ws("", (1 to 25).map(i => conv(col("k") + i, 10, 16)): _*))
        def abPair(frame: DataFrame, tag: String): (Double, Double) = {
          val dfSec = t {
            SnapshotTable.withDenseOrdinal(frame, "sid")
              .write.mode("overwrite").option("compression", "zstd")
              .parquet(s"$base/df_$tag")
          }
          val rddSec = t {
            val rdd = frame.rdd.zipWithIndex.map { case (r, i) =>
              org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
            }
            spark.createDataFrame(rdd, frame.schema.add("sid", LongType))
              .write.mode("overwrite").option("compression", "zstd")
              .parquet(s"$base/rdd_$tag")
          }
          (dfSec, rddSec)
        }
        val (dfN, rddN) = abPair(df, "narrow")
        val (dfW, rddW) = abPair(wide, "wide")
        // exchange-bearing regime: the guard routes these to the
        // zipWithIndex formulation (fixed RDD lineage — AQE cannot
        // re-coalesce between its two jobs). A/B the two CANDIDATE
        // pins explicitly: eager-localCheckpoint + DF-native (loses:
        // the cache write dominates) vs zipWithIndex (ships)
        val grouped = wide.groupBy((col("k") % 200000).as("g"))
          .agg(max(col("pad")).as("pad"), count(lit(1)).as("n"))
        val dfG = t {
          val pinned = grouped.localCheckpoint()
          SnapshotTable.withDenseOrdinalUnpinned(pinned, "sid")
            .write.mode("overwrite").option("compression", "zstd")
            .parquet(s"$base/df_grouped")
        }
        val rddG = t {
          SnapshotTable.withDenseOrdinalZip(grouped, "sid")
            .write.mode("overwrite").option("compression", "zstd")
            .parquet(s"$base/rdd_grouped")
        }
        val ids = SnapshotTable.read(spark, s"$base/ident")
          .agg(count(lit(1)), countDistinct(col("sid")),
            min(col("sid")), max(col("sid"))).head()
        require(ids.getLong(0) == 1000000L && ids.getLong(1) == 1000000L &&
          ids.getLong(2) == 1L && ids.getLong(3) == 1000000L,
          s"identity assignment broken at 1M rows: $ids")
        require(identSec < plainSec * 5 + 5.0,
          f"identity ingest overhead too high: plain=$plainSec%.2fs " +
            f"ident=$identSec%.2fs")
        println(f"[scale] identity_ingest plain=$plainSec%.2fs " +
          f"ident=$identSec%.2fs (${identSec / plainSec}%.2fx) " +
          f"ab_narrow df=$dfN%.2fs rdd=$rddN%.2fs " +
          f"ab_wide df=$dfW%.2fs rdd=$rddW%.2fs " +
          f"ab_grouped ckpt_pin=$dfG%.2fs zip=$rddG%.2fs (zip ships)")
      },
      timed("row_tracking") {
        // Row tracking's three cost claims, measured in ONE run at 1M
        // rows: (a) appends pay ~ZERO data-path cost (bases are CAS-
        // time metadata from footer counts); (b) readWithRowIds adds
        // only a broadcast base-map join over the plain read; (c) a
        // rewrite pays one extra Long column of materialization.
        // Contracts, not just timings: ids dense after append, stable
        // across the rewrite.
        import graft.lake.SnapshotTable
        import org.apache.spark.sql.types._
        val base = java.nio.file.Files
          .createTempDirectory("graft-scale-rid").toString
        val df = spark.range(1000000L)
          .select(col("id").as("k"), (col("id") % 997).cast("double").as("v"))
        def t(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        val plainAppend = t(SnapshotTable.append(df, s"$base/plain"))
        SnapshotTable.create(spark, s"$base/rid", StructType(Seq(
          StructField("k", LongType), StructField("v", DoubleType))),
          rowTracking = true)
        val ridAppend = t(SnapshotTable.append(df, s"$base/rid"))
        def noopWrite(d: org.apache.spark.sql.DataFrame): Unit =
          d.write.mode("overwrite").format("noop").save()
        // reads: min-of-3 after one warmup each — the contract is
        // steady-state read cost (tracked reads run per-batch in
        // incremental consumers), and single-shot timings at this
        // size are dominated by codegen/JIT warmup
        def bestRead(d: => org.apache.spark.sql.DataFrame): Double = {
          noopWrite(d)
          (1 to 3).map(_ => t(noopWrite(d))).min
        }
        val plainRead = bestRead(SnapshotTable.read(spark, s"$base/plain"))
        val ridRead = bestRead(SnapshotTable.readWithRowIds(spark, s"$base/rid"))
        // escaped layout: a hive partition value with a space percent-
        // encodes in the scan's file strings, which routes the read
        // through the probe fallback — after the one O(files) probe
        // job the per-row lookup is the SAME hash expression as the
        // clean path, so the tracked read must stay within noise
        SnapshotTable.create(spark, s"$base/ridesc", StructType(Seq(
          StructField("k", LongType), StructField("v", DoubleType),
          StructField("p", StringType))), rowTracking = true)
        SnapshotTable.append(df.withColumn("p", lit("a b")),
          s"$base/ridesc", Seq("p"))
        val ridEscRead = bestRead(
          SnapshotTable.readWithRowIds(spark, s"$base/ridesc"))
        val plainUpd = t(SnapshotTable.update(spark, s"$base/plain",
          Seq("v" -> (col("v") + 1.0)), col("k") % 100 === 0))
        val ridUpd = t(SnapshotTable.update(spark, s"$base/rid",
          Seq("v" -> (col("v") + 1.0)), col("k") % 100 === 0))
        val ids = SnapshotTable.readWithRowIds(spark, s"$base/rid")
          .agg(count(lit(1)), countDistinct(col(SnapshotTable.RowIdCol)),
            min(col(SnapshotTable.RowIdCol)), max(col(SnapshotTable.RowIdCol)))
          .head()
        require(ids.getLong(0) == 1000000L && ids.getLong(1) == 1000000L &&
          ids.getLong(2) == 0L && ids.getLong(3) == 999999L,
          s"row ids must stay dense+stable across the rewrite: $ids")
        require(ridAppend < plainAppend * 2 + 2.0,
          f"tracked append overhead too high: $plainAppend%.2fs vs $ridAppend%.2fs")
        // the tracked read must stay near plain-scan parity (the
        // RidBaseLookup expression, not a join); generous bound —
        // host noise at 0.1s scale swings 2x — with the honest ratio
        // printed for the record
        require(ridRead < plainRead * 2.5 + 1.0,
          f"tracked read overhead too high: $plainRead%.2fs vs $ridRead%.2fs")
        require(ridEscRead < ridRead * 2.5 + 1.0,
          f"escaped-layout tracked read overhead too high: " +
            f"clean=$ridRead%.2fs escaped=$ridEscRead%.2fs")
        println(f"[scale] row_tracking append plain=$plainAppend%.2fs " +
          f"rid=$ridAppend%.2fs read plain=$plainRead%.2fs rid=$ridRead%.2fs " +
          f"(${ridRead / plainRead}%.2fx) escaped=$ridEscRead%.2fs " +
          f"(${ridEscRead / ridRead}%.2fx of clean) " +
          f"update plain=$plainUpd%.2fs rid=$ridUpd%.2fs")
      },
      timed("vacuum_plan") {
        // The last unmeasured driver-plane walk: vacuumPlan
        // reconstructs every candidate version of the vacuumed handle
        // PLUS every version of every other ref. Synthetic log fabric
        // (the manifest_scale pattern — no 10^4 real writes): ~20k
        // live file entries, deep delta histories with a full
        // checkpoint republished every 20 versions (the writer's real
        // cadence), each delta adding one fake file and removing the
        // oldest initial fake (so expired versions strand dead files
        // and the reclaim math is exercised), plus two branches of 50
        // synthetic commits each. Contracts: (a) with branches
        // present, branch-referenced files PIN every candidate —
        // expired must be empty; (b) without branches, expired = all
        // candidates and dead = exactly the removed fakes; (c) plan
        // time scales ~linearly in history depth (4x commits may not
        // cost more than ~8x cold time), checkpoint-amortized, never
        // quadratic.
        import java.nio.file.{Files => JF, Paths => JP}
        import graft.lake.SnapshotTable
        val base = JF.createTempDirectory("graft-scale-vacplan")

        val fakes = 20000
        def mkHistory(path: String, commits: Int,
            branches: Boolean = true): Int = {
          val df = spark.range(1000)
            .select(col("id"), col("id").cast("double").as("v"))
          SnapshotTable.appendClustered(df, path, "id", numFiles = 1)
          val v1 = new String(
            JF.readAllBytes(JP.get(s"$path/_graft_log/v1")), "UTF-8")
          val headers = v1.split("\n").filter(_.startsWith("#"))
            .filterNot(_.startsWith("#delta=")).mkString("\n")
          val realLines = v1.split("\n")
            .filterNot(l => l.startsWith("#") || l.isEmpty).toSeq
          val commitDir = realLines.head.split("\t")(0)
          def fakeLine(i: Int): String = {
            val lo = 1000000L + i * 10L
            // rid tokens ride every entry (round-15 row tracking):
            // the vacuum walk re-parses each candidate version, so
            // the depth measurement now prices the tokens in
            s"$commitDir\t$commitDir/fake-$i.parquet\trows=10\tid\t$lo.0\t${lo + 9}.0\trid=$lo"
          }
          // v2: checkpoint carrying the initial fake fleet
          val live = scala.collection.mutable.ArrayBuffer[String]()
          live ++= realLines
          live ++= (0 until fakes).map(fakeLine)
          def writeCkpt(v: Long): Unit =
            JF.write(JP.get(s"$path/_graft_log/v$v"),
              (headers + "\n" + live.mkString("\n")).getBytes("UTF-8"))
          def writeDelta(v: Long, add: String, remove: String): Unit =
            JF.write(JP.get(s"$path/_graft_log/v$v"),
              (headers + s"\n#delta=${v - 1}\n+\t$add\n-\t$remove")
                .getBytes("UTF-8"))
          writeCkpt(2L)
          var removed = 0
          var next = fakes
          (3 to commits).foreach { v =>
            val add = fakeLine(next); next += 1
            val rm = live(1) // oldest surviving initial fake
            live -= rm
            live += add
            removed += 1
            if (v % 20 == 0) writeCkpt(v.toLong)
            else writeDelta(v.toLong, add, rm)
          }
          // two branches forked at head: a checkpoint of the live list
          // + 50 branch-local delta commits each
          if (branches) (1 to 2).foreach { b =>
            val bdir = s"$path/_graft_log/branch-dev$b"
            JF.createDirectories(JP.get(bdir))
            JF.write(JP.get(s"$bdir/v$commits"),
              (headers + "\n" + live.mkString("\n")).getBytes("UTF-8"))
            (1 to 50).foreach { i =>
              JF.write(JP.get(s"$bdir/v${commits + i}"),
                (headers + s"\n#delta=${commits + i - 1}\n" +
                  s"+\t${fakeLine(1000000 + b * 1000 + i)}").getBytes("UTF-8"))
            }
          }
          removed
        }

        def dryRunSec(path: String): (Double, Seq[Long], Int) = {
          val t0 = System.nanoTime()
          val (expired, dead, _) = SnapshotTable.vacuumDryRun(spark, path)
          ((System.nanoTime() - t0) / 1e9, expired, dead.size)
        }

        val small = s"$base/small"; val big = s"$base/big"
        val rmSmall = mkHistory(small, 250)
        val rmBig = mkHistory(big, 2000) // 2x the r14 depth, rid-tokened
        // (a) cold, branches present: branch-shared files pin all
        val (tS1, expS1, _) = dryRunSec(small)
        val (tB1, expB1, _) = dryRunSec(big)
        require(expS1.isEmpty && expB1.isEmpty,
          s"branch-referenced files must pin candidates: " +
            s"small=${expS1.size} big=${expB1.size} expired")
        // (b) branches dropped: full reclaim plan (warm main manifests)
        def rmBranches(path: String): Unit = (1 to 2).foreach { b =>
          val d = JP.get(s"$path/_graft_log/branch-dev$b")
          JF.list(d).forEach(p => JF.delete(p)); JF.delete(d)
        }
        rmBranches(small); rmBranches(big)
        val (tS2, expS2, deadS) = dryRunSec(small)
        val (tB2, expB2, deadB) = dryRunSec(big)
        require(expS2.size == 249 && expB2.size == 1999,
          s"unpinned dry run must expire all candidates: " +
            s"small=${expS2.size} big=${expB2.size}")
        require(deadS == rmSmall && deadB == rmBig,
          s"dead files must be exactly the removed fakes: " +
            s"small=$deadS/$rmSmall big=$deadB/$rmBig")
        // (c) flatness: 8x history may not cost more than ~16x cold
        require(tB1 < tS1 * 16 + 2.0,
          f"vacuumPlan scales superlinearly in history depth: " +
            f"small=$tS1%.2fs big=$tB1%.2fs")
        println(f"[scale] vacuum_plan cold(branches) small=$tS1%.2fs " +
          f"big=$tB1%.2fs (per-commit ${tS1 / 250}%.4f vs ${tB1 / 2000}%.4f s) " +
          f"warm(reclaim) small=$tS2%.2fs big=$tB2%.2fs dead=$deadS/$deadB")
        // (d) the 10k-commit point (5x the depth above): the
        // per-commit slope must stay SUB-linear — a cold 10k plan may
        // not cost more per commit than the cold 2000 plan (whose
        // figure includes the branch walk, giving noise headroom);
        // branch-free fabric, since the branch pin is priced in (a)
        val deep = sys.env.get("GRAFT_SCALE_VACUUM_COMMITS")
          .map(_.toInt).getOrElse(10000)
        val huge = s"$base/huge"
        val rmHuge = mkHistory(huge, deep, branches = false)
        val (tH, expH, deadH) = dryRunSec(huge)
        require(expH.size == deep - 1 && deadH == rmHuge,
          s"10k dry run must expire all candidates: " +
            s"expired=${expH.size}/${deep - 1} dead=$deadH/$rmHuge")
        require(tH / deep <= tB1 / 2000 * 1.5 + 0.005,
          f"per-commit vacuum plan cost grew with depth: " +
            f"${tB1 / 2000}%.4fs at 2000 -> ${tH / deep}%.4fs at $deep")
        println(f"[scale] vacuum_plan ${deep}-commit ${tH}%.2fs " +
          f"(per-commit ${tH / deep}%.4fs vs ${tB1 / 2000}%.4fs at 2000)")
      })

    // Locale.ROOT: a comma-decimal default locale would break the JSON
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val ran = results.filter(_._2 >= 0.0) // drop GRAFT_SCALE_ONLY skips
    val qs = ran.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = r3(ran.map(_._2).sum)
    println(s"""{"metric":"scale_total","value":$total,"unit":"sec","rows":$rows,"vecs":$vecs,"ops":$qs}""")
    spark.stop()
  }
}
