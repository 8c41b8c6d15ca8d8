package graft.ops

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Deduplication operators for training-data pipelines, each built as
  * a scalable Spark plan:
  *
  *  - exact dedup: hash-groupBy on a content fingerprint (one
  *    shuffle, map-side combinable);
  *  - n-gram Jaccard: exact token-set similarity for candidate pairs;
  *  - MinHash + LSH banding: shingle → k-permutation minhash
  *    signature (pure Column expressions, codegen'd) → band buckets →
  *    shuffle join on (band, bucket-hash). The join formulation (not
  *    collect_list) keeps hot buckets from materializing on one task;
  *    candidate pairs are then verified with exact Jaccard — only on
  *    candidates, never all-pairs;
  *  - SimHash: 64-bit sign-aggregated token hashes via a typed
  *    Dataset map (per-partition, no shuffle), Hamming-distance
  *    comparable with bit_count(a ^ b).
  *
  * At 100 TB the all-pairs comparison is O(n²) and impossible; every
  * near-dup path here is bucket-first so the shuffle volume is
  * O(n · bands) and comparisons are bucket-local.
  */
object TextDedup {

  // ---- exact dedup --------------------------------------------------

  /** One row per distinct content hash: the kept (minimum) id and the
    * number of copies. */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- token / shingle machinery ------------------------------------

  def tokensOf(text: Column): Column = split(lower(text), " ")

  // ---- MinHash + LSH ------------------------------------------------

  /** Mersenne prime modulus keeps (a·x + b) in long range. */
  private val M = 2147483647L // 2^31 - 1
  val numHashes = 32
  val numBands = 8
  private val rowsPerBand = numHashes / numBands

  /** Deterministic permutation coefficients (fixed seed). */
  private val (hashA, hashB): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(42)
    (Array.fill(numHashes)(1L + rng.nextInt(Int.MaxValue - 1).toLong),
      Array.fill(numHashes)(rng.nextInt(Int.MaxValue).toLong))
  }

  /** Distinct hashed n-word shingles of a document. */
  def shingleHashSetOf(text: String, n: Int = 3): Set[Long] = {
    val toks = text.split(" ")
    val it =
      if (toks.length >= n) (0 to toks.length - n).iterator.map(i => toks.slice(i, i + n).mkString(" "))
      else Iterator(toks.mkString(" "))
    it.map(tokenHash64).toSet
  }

  /** k-permutation minhash signature. Tight-loop primitive on
    * purpose: the equivalent nested `transform(aggregate(...))`
    * Column formulation is CodegenFallback (interpreted per row) and
    * measured ~50× slower — per SURVEY.md §2.10 preference order,
    * typed per-partition code beats a non-codegen expression. */
  def minhashSignatureOf(shingleHashes: Iterable[Long]): Array[Long] = {
    val sig = Array.fill(numHashes)(M)
    shingleHashes.foreach { h =>
      val x = ((h % M) + M) % M
      var i = 0
      while (i < numHashes) {
        val v = (hashA(i) * x + hashB(i)) % M
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** One bucket hash per band (polynomial mix of the band's slice). */
  def bandBucketsOf(sig: Array[Long]): Array[Long] =
    Array.tabulate(numBands) { b =>
      var h = 1125899906842597L
      var r = b * rowsPerBand
      while (r < (b + 1) * rowsPerBand) { h = h * 131 + sig(r); r += 1 }
      h
    }

  /** (id, band, bucket) rows — the LSH index. Computed in one typed
    * per-partition pass (no shuffle); shuffle happens only on the
    * bucket join that consumes it. */
  def minhashBuckets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val buckets = bandBucketsOf(minhashSignatureOf(shingleHashSetOf(text)))
        buckets.iterator.zipWithIndex.map { case (bk, band) => (id, band, bk) }
      }
      .toDF("id", "band", "bucket")
  }

  /** Candidate near-duplicate pairs (id_a < id_b) via the banded
    * bucket equi-join (shuffle on (band, bucket), O(n·bands) — never
    * all-pairs). */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sigs = minhashBuckets(docs, idCol, textCol)
    val a = sigs.alias("a")
    val b = sigs.alias("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact token-set Jaccard for given (id_a, id_b) pairs — cheap
    * because it only touches candidates. */
  def withJaccard(pairs: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("jid"),
      array_distinct(tokensOf(col(textCol))).as("toks"))
    pairs
      .join(toks.withColumnRenamed("jid", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
      .join(toks.withColumnRenamed("jid", "id_b").withColumnRenamed("toks", "toks_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
      .withColumn("jaccard",
        round(col("inter") / (size(col("toks_a")) + size(col("toks_b")) - col("inter")), 6))
      .drop("toks_a", "toks_b", "inter")
  }

  /** Near-duplicate detection: LSH candidates verified by exact
    * Jaccard ≥ threshold. */
  def nearDuplicates(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withJaccard(minhashCandidates(docs, idCol, textCol), docs, idCol, textCol)
      .filter(col("jaccard") >= threshold)

  // ---- SimHash ------------------------------------------------------

  /** Deterministic 64-bit token hash from two seeded murmur32 runs. */
  def tokenHash64(t: String): Long =
    (MurmurHash3.stringHash(t, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(t, 0x85ebca6b).toLong & 0xffffffffL)

  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = tokenHash64(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** (id, simhash) — typed per-partition map, no shuffle. */
  def simhashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text.split(" ").toSeq)) }
      .toDF(idCol, "simhash")
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via byte banding: two 64-bit hashes
    * within Hamming distance ≤ 8·(1 - matchingBands/8) must share at
    * least one of the 8 byte-bands (pigeonhole), so a band equi-join
    * generates candidates — same bucket-first shuffle bound as the
    * MinHash path, here over Hamming space — and bit_count verifies.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 7,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = simhashes(docs, idCol, textCol)
    val banded = sh.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until 8).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- driver-gate queries -----------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exactDuplicates(Tables.documents(spark, dir)).orderBy("text_hash")

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** Adjacent-doc token Jaccard — the exact n-gram similarity
    * primitive, oracle-checked. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = docs.select((col("doc_id") + lit(1L)).as("id_b_key"), col("doc_id").as("id_a"))
      .join(docs.select(col("doc_id").as("id_b")), col("id_b_key") === col("id_b"))
      .select("id_a", "id_b")
    withJaccard(pairs, docs).orderBy("id_a")
  }

  val ngramJaccardSql: String =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
      |           FROM documents),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
      |      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1),
      |s AS (SELECT id_a, id_b,
      |        CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS DOUBLE) AS inter,
      |        len(ta) + len(tb) AS tot
      |      FROM p)
      |SELECT id_a, id_b, round(inter / (tot - inter), 6) AS jaccard
      |FROM s ORDER BY id_a""".stripMargin

  /** MinHash-LSH near-dup sweep over a corpus with planted mutations
    * (each doc unioned with a copy missing its last token, id + 10M) —
    * the full shingle→minhash→band→join→Jaccard path runs over the
    * whole corpus (organic pairs included), then the output is
    * restricted to the PLANTED pairs, whose exact token-set Jaccard
    * the oracle recomputes independently (drop-last is pure SQL). The
    * corpus min drop-last Jaccard is 0.83 (docs are 10–100 tokens), so
    * every planted pair clears the 0.5 threshold and shingle-space
    * similarity is high enough that the 8×4 banding's hit probability
    * is ≈ 1 − 3·10⁻⁴ per pair — and the whole pipeline is
    * deterministic (fixed-seed permutations), so the gate result is
    * stable, verified recall-1 at the gate SF, not merely probable.
    * Hash values themselves never appear in the output. */
  def minhashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val toks = tokensOf(col("text"))
    val mutated = docs.select(
      (col("doc_id") + lit(10000000L)).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), size(toks) - lit(1))).as("text"))
    nearDuplicates(docs.unionByName(mutated), 0.5)
      .filter(col("id_b") === col("id_a") + lit(10000000L))
      .orderBy("id_a", "id_b")
  }

  val minhashNearDupsSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(string_split(lower(text), ' ')) AS ta,
      |    list_distinct(list_slice(string_split(lower(text), ' '), 1,
      |      len(string_split(lower(text), ' ')) - 1)) AS tb
      |  FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS DOUBLE) AS inter,
      |    len(ta) + len(tb) AS tot
      |  FROM t
      |)
      |SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
      |  round(inter / (tot - inter), 6) AS jaccard
      |FROM s WHERE round(inter / (tot - inter), 6) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup sweep with planted token-order mutations: each
    * doc is unioned with a REVERSED-token copy (id + 10M) — the
    * classic reordering near-dup simhash is designed to catch. The
    * output is the planted hit list with its Hamming distance, which
    * is fully oracle-checkable: simhash aggregates a token MULTISET
    * (order-blind), so the reversed copy's signature is provably
    * identical (hamming = 0), and equal signatures share every
    * byte-band (pigeonhole), so the band join finds every planted pair
    * with recall exactly 1. The oracle asserts all three facts — one
    * row per doc, hamming 0 — while the engine side actually runs the
    * full signature → band join → bit_count(xor) verify path (organic
    * non-planted pairs also flow through it; the planted filter keeps
    * the output oracle-derivable). */
  def simhashReorderDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val mutated = docs.select(
      (col("doc_id") + lit(10000000L)).as("doc_id"),
      concat_ws(" ", reverse(tokensOf(col("text")))).as("text"))
    simhashNearDups(docs.unionByName(mutated))
      .filter(col("id_b") === col("id_a") + lit(10000000L))
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a")
  }

  val simhashReorderDupsSql: String =
    """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
      |  CAST(0 AS INT) AS hamming
      |FROM documents ORDER BY id_a""".stripMargin

  /** Connected components over a near-duplicate pair list — the step
    * that turns pairwise matches into dedup groups (keep the min-id
    * doc per component, drop the rest). Each round does (1) min-label
    * propagation — every node adopts the smallest label among itself
    * and its neighbors — then (2) pointer jumping — l(id) ← l(l(id)) —
    * so even path-shaped components converge in O(log n) rounds, not
    * O(diameter) (the GraphX/large-star recipe). One round is two
    * shuffle joins + a combinable min aggregation; state never
    * exceeds one (node, label) row per node. Every round ends in an
    * eager localCheckpoint: iterative self-referencing lineage
    * otherwise grows a plan Catalyst re-optimizes exponentially
    * (observed as a driver heap blowup at ~15 rounds). Eager: runs to
    * convergence and returns the final (id, cluster) frame; throws if
    * maxIters rounds don't converge. Ids must be integral (the
    * driver path labels them as longs).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 25,
      driverThreshold: Long = 500000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // small graphs are driver work: below the threshold a union-find
      // over the collected edge list beats ~40 shuffle jobs of the
      // distributed loop by ~8x (the IVF-style tiering — the
      // distributed path below is for the billions-of-edges regime and
      // produces identical min-id labels)
      if (edges.count() <= driverThreshold) {
        val session = pairs.sparkSession
        import session.implicits._
        val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)].collect()
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        return parent.keys.toSeq.map(id => (id, find(id)))
          .toDF("id", "cluster")
      }
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id"))
        .localCheckpoint(true)
      var it = 0
      while (it < maxIters) {
        val nmin = edges
          .join(labels.select(col("id").as("dst"), col("cluster").as("dst_cluster")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("dst_cluster")).as("nmin"))
        val merged = labels
          .join(nmin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        // pointer jumping: follow the label one hop (labels are node
        // ids, so l(l(id)) is always defined)
        val updated = merged
          .join(merged.select(col("id").as("cluster"), col("cluster").as("jump")),
            Seq("cluster"), "left")
          .select(col("id"), coalesce(col("jump"), col("cluster")).as("cluster"))
          .localCheckpoint(true)
        // labels only ever decrease, so "any strictly smaller" = changed
        val changed = updated
          .join(labels.select(col("id"), col("cluster").as("old")), "id")
          .filter(col("cluster") < col("old")).limit(1).count() > 0
        labels = updated
        if (!changed) return labels
        it += 1
      }
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    } finally { edges.unpersist(); () }
  }

  /** Gate: dedup grouping end-to-end — adjacent-doc Jaccard edges at
    * ≥ 0.75, clustered into components, labeled by min doc id. The
    * oracle replays the same edges and closure with a recursive CTE,
    * so the component semantics (not just counts) are hash-checked. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = docs.select((col("doc_id") + lit(1L)).as("id_b_key"), col("doc_id").as("id_a"))
      .join(docs.select(col("doc_id").as("id_b")), col("id_b_key") === col("id_b"))
      .select("id_a", "id_b")
    val edges = withJaccard(pairs, docs).filter(col("jaccard") >= 0.75)
      .select("id_a", "id_b")
    connectedComponents(edges)
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  val dedupClustersSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
      |  FROM documents
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
      |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |), s AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS DOUBLE) AS inter,
      |    len(ta) + len(tb) AS tot
      |  FROM p
      |), e0 AS (
      |  SELECT id_a, id_b FROM s WHERE round(inter / (tot - inter), 6) >= 0.75
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM e0
      |  UNION ALL SELECT id_b, id_a FROM e0
      |), reach(id, r) AS (
      |  SELECT src, src FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
      |)
      |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Dedup apply / canonical-document selection — the step after
    * [[dedupClusters]] that turns near-dup groups back into a corpus:
    * within each cluster keep the highest-quality document (longest
    * text, ties to the smallest id); documents in no cluster keep
    * themselves. Plan shape for 100 TB: the cluster frame (one row
    * per CLUSTERED doc — far smaller than the corpus) left-joins the
    * corpus, and the keeper per cluster is one combinable max_by
    * aggregation — no window, no per-cluster sort. The keepers frame
    * has one row per cluster (singletons included), which is
    * corpus-order cardinality — so it joins back by shuffle on the
    * cluster key, NOT a broadcast (AQE may still downgrade to
    * broadcast when it is actually small). */
  def dedupKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = docs.select((col("doc_id") + lit(1L)).as("id_b_key"), col("doc_id").as("id_a"))
      .join(docs.select(col("doc_id").as("id_b")), col("id_b_key") === col("id_b"))
      .select("id_a", "id_b")
    val edges = withJaccard(pairs, docs).filter(col("jaccard") >= 0.75)
      .select("id_a", "id_b")
    val clusters = connectedComponents(edges)
    val labeled = docs.select(col("doc_id"), col("n_chars"))
      .join(clusters.select(col("id").as("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    // (n_chars, -doc_id) is a unique ordering key, so max_by is
    // deterministic: longest doc wins, ties to the smallest id
    val keepers = labeled.groupBy("cluster").agg(
      max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("keeper"),
      count(lit(1)).cast("int").as("cluster_size"))
    labeled.join(keepers, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("keeper")).as("keep"))
      .orderBy("doc_id")
  }

  val dedupKeepersSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
      |  FROM documents
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
      |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |), s AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(ta, x -> list_contains(tb, x))) AS DOUBLE) AS inter,
      |    len(ta) + len(tb) AS tot
      |  FROM p
      |), e0 AS (
      |  SELECT id_a, id_b FROM s WHERE round(inter / (tot - inter), 6) >= 0.75
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM e0
      |  UNION ALL SELECT id_b, id_a FROM e0
      |), reach(id, r) AS (
      |  SELECT src, src FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
      |), comp AS (
      |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
      |  FROM reach GROUP BY id
      |), lab AS (
      |  SELECT d.doc_id, d.n_chars, coalesce(c.cluster, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN comp c USING (doc_id)
      |), rn AS (
      |  SELECT cluster, doc_id,
      |    row_number() OVER (PARTITION BY cluster
      |      ORDER BY n_chars DESC, doc_id) AS rnum,
      |    count(*) OVER (PARTITION BY cluster) AS csize
      |  FROM lab
      |), k AS (
      |  SELECT cluster, doc_id AS keeper, csize FROM rn WHERE rnum = 1
      |)
      |SELECT l.doc_id, CAST(l.cluster AS BIGINT) AS cluster,
      |  CAST(k.csize AS INT) AS cluster_size,
      |  l.doc_id = k.keeper AS keep
      |FROM lab l JOIN k USING (cluster) ORDER BY l.doc_id""".stripMargin

  /** C4-style line-level exact dedup generalized to unpunctuated
    * corpora: the document is cut row-locally into consecutive
    * `wordsPerSegment`-word segments (a corpus with real line breaks
    * would segment on those instead), then each distinct segment
    * string survives ONLY at its first occurrence — the minimum
    * (id, position) across the whole corpus — and every other copy is
    * dropped; documents are finally reassembled in original segment
    * order. Plan shape at 100 TB: segmentation is a pure projection
    * (no shuffle); the keeper choice is one hash-groupBy on the
    * segment with a map-side-combinable min(struct(id, pos)); the
    * membership test is an equi-join back on the segment (Spark
    * shuffles on the key's hash, so hot segments spread normally and
    * AQE skew-split covers pathological ones); reassembly is one
    * groupBy(id) with an order-restoring array_sort. Three shuffles
    * total — no corpus-wide window, no driver collection. */
  def dedupSegments(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", wordsPerSegment: Int = 15): DataFrame = {
    val n = wordsPerSegment
    require(n > 0, "wordsPerSegment must be positive")
    val segs = docs.select(col(idCol).as("id"),
      posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(split($textCol, ' ')) / $n.0) as int) - 1), " +
          s"i -> array_join(slice(split($textCol, ' '), i * $n + 1, $n), ' '))"))
        .as(Seq("seg_pos", "segment")))
    // keeper selection as a whole-partition window min: the
    // agg+self-join formulation re-derived the exploded segment
    // subtree twice and shuffled it twice; one exchange on segment
    // does the same cross-doc min with the explode evaluated once
    val segWin = org.apache.spark.sql.expressions.Window.partitionBy("segment")
    segs
      .withColumn("keeper",
        min(struct(col("id"), col("seg_pos"))).over(segWin))
      .filter(col("keeper.id") === col("id") && col("keeper.seg_pos") === col("seg_pos"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("kept_segments"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_pos"), col("segment")))),
            s => s.getField("segment")), " ").as("dedup_text"))
  }

  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    dedupSegments(Tables.documents(spark, dir))
      .select(col("id").as("doc_id"), col("kept_segments"), col("dedup_text"))
      .orderBy("doc_id")

  val dedupLinesSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), segs AS (
      |  SELECT doc_id, CAST(s.i AS BIGINT) - 1 AS seg_pos,
      |    array_to_string(ws[(s.i - 1) * 15 + 1 : s.i * 15], ' ') AS segment
      |  FROM w, LATERAL (SELECT unnest(generate_series(
      |    1, CAST(ceil(len(ws) / 15.0) AS BIGINT))) AS i) s
      |), ranked AS (
      |  SELECT doc_id, seg_pos, segment,
      |    row_number() OVER (PARTITION BY segment
      |                       ORDER BY doc_id, seg_pos) AS rn
      |  FROM segs
      |)
      |SELECT doc_id, count(*) AS kept_segments,
      |  string_agg(segment, ' ' ORDER BY seg_pos) AS dedup_text
      |FROM ranked WHERE rn = 1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C4/CCNet-style BOILERPLATE REMOVAL — the complement of
    * [[dedupSegments]]: a segment occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (nav bars, cookie banners,
    * license headers, quoted templates) and is dropped from EVERY
    * document, first occurrence included; rare segments survive
    * everywhere. Documents are reassembled in original segment order,
    * and a document whose every segment was boilerplate still appears
    * (empty text) so corpus accounting stays exact. Plan shape at
    * 100 TB: segmentation is a pure projection (no shuffle); the
    * document-frequency count is a (segment, id)-distinct followed by
    * a combinable per-segment count (two shuffles on the segment
    * hash); membership removal is a left-anti equi-join on the
    * segment (hot segments spread over the key hash, AQE skew-split
    * covers pathological ones); reassembly is one groupBy(id). No
    * corpus window, no driver state. */
  def removeBoilerplate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", wordsPerSegment: Int = 15,
      minDocs: Int = 2): DataFrame = {
    val n = wordsPerSegment
    require(n > 0, "wordsPerSegment must be positive")
    require(minDocs >= 2, "minDocs < 2 would drop every segment")
    val segs = docs.select(col(idCol).as("id"),
      posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(split($textCol, ' ')) / $n.0) as int) - 1), " +
          s"i -> array_join(slice(split($textCol, ' '), i * $n + 1, $n), ' '))"))
        .as(Seq("seg_pos", "segment")))
    // document frequency (a segment repeated INSIDE one doc counts
    // once) as window arithmetic over ONE exchange on segment: a
    // lag-marker flags each segment's first row per doc, the
    // whole-partition sum of markers is the distinct-doc count, and
    // the boilerplate filter applies in place — the
    // distinct+agg+anti-join formulation shuffled the exploded
    // segment stream twice and re-derived its subtree on both sides.
    // Deliberately NOT collect_set-based: true boilerplate appears in
    // millions of docs and a per-partition set would be that large,
    // while the marker sum is O(1) state per row.
    val bySeg = org.apache.spark.sql.expressions.Window.partitionBy("segment")
    val bySegDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy("id")
    val kept = segs
      .withColumn("first_of_doc",
        when(lag(col("id"), 1).over(bySegDoc) === col("id"), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("ndocs", sum(col("first_of_doc")).over(bySeg))
      .filter(col("ndocs") < minDocs)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("kept_segments"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_pos"), col("segment")))),
            s => s.getField("segment")), " ").as("clean_text"))
    // keep fully-boilerplate docs visible with zero segments
    docs.select(col(idCol).as("id")).distinct()
      .join(kept, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    removeBoilerplate(Tables.documents(spark, dir))
      .select(col("id").as("doc_id"), col("kept_segments"), col("clean_text"))
      .orderBy("doc_id")

  val boilerplateSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), segs AS (
      |  SELECT doc_id, CAST(s.i AS BIGINT) - 1 AS seg_pos,
      |    array_to_string(ws[(s.i - 1) * 15 + 1 : s.i * 15], ' ') AS segment
      |  FROM w, LATERAL (SELECT unnest(generate_series(
      |    1, CAST(ceil(len(ws) / 15.0) AS BIGINT))) AS i) s
      |), freq AS (
      |  SELECT segment, count(DISTINCT doc_id) AS ndocs FROM segs GROUP BY segment
      |), kept AS (
      |  SELECT s.doc_id, count(*) AS kept_segments,
      |    string_agg(s.segment, ' ' ORDER BY s.seg_pos) AS clean_text
      |  FROM segs s JOIN freq USING (segment)
      |  WHERE freq.ndocs < 2
      |  GROUP BY s.doc_id
      |)
      |SELECT d.doc_id,
      |  coalesce(k.kept_segments, 0) AS kept_segments,
      |  coalesce(k.clean_text, '') AS clean_text
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN kept k USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---- incremental dedup -------------------------------------------
  // How dedup actually runs at corpus scale: the table grows by
  // commits, and each NEW batch is checked against the accumulated
  // fingerprint history — never a full-corpus re-dedup. The batch op
  // below is the per-increment kernel; [[dedupNewCommits]] wires it to
  // the lake (SnapshotIncremental checkpoint + a fingerprint store
  // that is itself a snapshot table).

  /** Flag a batch of new documents against an existing fingerprint
    * set: `dup_of_history` (content already in the corpus),
    * `dup_in_batch` (an earlier id in THIS batch has the same
    * content — first occurrence wins), `kept` (neither). Plan shape
    * for 100 TB: the history can be billions of fingerprints, so both
    * probes are fp-keyed shuffle joins (no broadcast), and the
    * in-batch keeper is one combinable min per fp. */
  def dedupAgainstHistory(newDocs: DataFrame, historyFps: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withFp = newDocs.select(col(idCol), md5(col(textCol)).as("fp"))
    val hist = historyFps.select(col("fp")).distinct()
      .withColumn("in_history", lit(true))
    val firstInBatch = withFp.groupBy("fp").agg(min(col(idCol)).as("first_id"))
    withFp
      .join(hist, Seq("fp"), "left_outer")
      .join(firstInBatch, "fp")
      .select(col(idCol),
        coalesce(col("in_history"), lit(false)).as("dup_of_history"),
        (col(idCol) =!= col("first_id")).as("dup_in_batch"))
      .withColumn("kept", !col("dup_of_history") && !col("dup_in_batch"))
  }

  /** The lake loop: consume NEW commits of a documents table through a
    * [[graft.lake.SnapshotIncremental]] checkpoint, flag each batch
    * against the fingerprint store (a snapshot table at `fpStorePath`),
    * hand the flagged frame to `fn`, then append the KEPT batch's
    * fingerprints to the store. A crash between the store append and
    * the offset write replays the batch; the store may then hold a
    * duplicate fp row, which is harmless — probes are DISTINCT-keyed.
    * Returns the consumed range, or None when there is nothing new. */
  def dedupNewCommits(spark: SparkSession, docsTablePath: String,
      fpStorePath: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text")(
      fn: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] =
    graft.lake.SnapshotIncremental.processNew(spark, docsTablePath, checkpointDir) {
      (batch, from, to) =>
        val history =
          if (graft.lake.SnapshotTable.latestVersion(spark, fpStorePath).isDefined)
            graft.lake.SnapshotTable.read(spark, fpStorePath)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("fp",
                org.apache.spark.sql.types.StringType))))
        val flagged = dedupAgainstHistory(batch, history, idCol, textCol)
        fn(flagged, from, to)
        val keptFps = batch.select(col(idCol), md5(col(textCol)).as("fp"))
          .join(flagged.filter(col("kept")).select(col(idCol)), idCol)
          .select("fp").distinct()
        graft.lake.SnapshotTable.append(keptFps, fpStorePath)
    }

  /** Gate entry: the whole corpus is history; the new batch plants all
    * three outcomes — exact copies of docs 0–24 (history dups),
    * reversed docs 25–49 (novel content, kept), and a second reversed
    * copy of docs 25–29 (in-batch dups of the novel rows). The oracle
    * recomputes every flag from the same closed construction. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val newBatch = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"), reverse(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") >= 25 && col("doc_id") < 30)
        .select((col("doc_id") + 20000L).as("doc_id"), reverse(col("text")).as("text")))
    dedupAgainstHistory(newBatch, docs.select(md5(col("text")).as("fp")))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String =
    """WITH hist AS (SELECT DISTINCT md5(text) AS fp FROM documents),
      |nb AS (
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 10000, reverse(text) FROM documents
      |  WHERE doc_id >= 25 AND doc_id < 50
      |  UNION ALL
      |  SELECT doc_id + 20000, reverse(text) FROM documents
      |  WHERE doc_id >= 25 AND doc_id < 30),
      |f AS (SELECT doc_id, md5(text) AS fp FROM nb),
      |m AS (SELECT fp, min(doc_id) AS first_id FROM f GROUP BY 1)
      |SELECT f.doc_id,
      | f.fp IN (SELECT fp FROM hist) AS dup_of_history,
      | f.doc_id <> m.first_id AS dup_in_batch,
      | NOT (f.fp IN (SELECT fp FROM hist) OR f.doc_id <> m.first_id) AS kept
      |FROM f JOIN m USING (fp) ORDER BY f.doc_id""".stripMargin

  // ---- exact duplicated-substring spans ----------------------------

  /** Exact duplicated-substring removal (the ExactSubstr dedup of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better"): every token window of length `spanLen` whose content
    * re-occurs anywhere in the corpus AFTER its global first
    * occurrence (in (doc_id, pos) order) is a duplicate span;
    * overlapping/touching spans merge into regions, and the cleaned
    * document drops exactly the covered tokens. The paper builds a
    * corpus-wide suffix array — a single-machine structure; the
    * distributed re-expression is rolling L-gram keys, which finds the
    * identical set of length-≥L duplicated ranges (any duplicated
    * range of length ≥ L is a union of duplicated L-windows, and every
    * duplicated L-window lies in a duplicated range).
    *
    * Plan shape at 100 TB — candidate-first, like every near-dup path
    * in this file: the corpus-sized stream is (id, pos, xxhash64 of
    * the window's token slice) — a pure row-local projection, no
    * window STRING is ever built at corpus scale — and its only
    * shuffle is one map-side-combinable `groupBy(k64).count`. Keys
    * seen more than once (hash collisions only ADD candidates, never
    * hide a true duplicate) are broadcast back over a second map-only
    * pass of the same projection, so candidate occurrences are found
    * without sorting or re-shuffling the corpus. Exact token-window
    * equality and global-first-occurrence selection then run on the
    * candidate set alone (windows with grouping-only frames — no
    * per-partition ORDER BY sort); span merging is one window over
    * (id, pos) whose exchange the per-doc aggregate reuses, and the
    * kept text is rebuilt row-locally with an indexed `filter` HOF
    * against the doc's own merged region list (bounded by the doc's
    * token count) — no token explode, no range join. */
  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanLen: Int = 8): DataFrame = {
    val L = spanLen
    require(L > 1, "spanLen must be > 1")
    import org.apache.spark.sql.expressions.Window
    val toksed = docs.select(col(idCol).as("id"),
      split(lower(col(textCol)), " ").as("toks"))
    val keyed = toksed.select(col("id"),
      posexplode(expr(
        s"CASE WHEN size(toks) >= $L THEN transform(sequence(0, size(toks) - $L), " +
          s"i -> xxhash64(slice(toks, i + 1, $L))) " +
          "ELSE cast(array() as array<bigint>) END")).as(Seq("pos", "k64")))
    // ONE corpus-sized shuffle, on the compact 8-byte key (a
    // grouping-only window — no per-partition ORDER BY): rows whose
    // key count exceeds 1 are the candidate occurrences. Measured
    // against every "skew-safe" alternative at 1M docs (43M windows,
    // one run, planted-skew case = one 8-gram in HALF the docs, the
    // case ScaleBench dup_substr_skew keeps tracking):
    //   window (this):            uniform 34.8s   skew 37.3s
    //   agg + semi join (SMJ):    uniform 130.9s  skew 191.1s
    //   agg + semi join (SHJ):    uniform  93.4s  skew 103.3s
    //   sampled heavy-key bypass: uniform  58.8s  skew 118.7s
    // The feared hot-key straggler does not bite here: counting one
    // key's 500k rows in a single window task is millisecond work,
    // while every join-back alternative pays a SECOND corpus-wide
    // exchange (and the bypass double-evaluates this subtree for its
    // two consumers). The tradeoff flips only when ONE key's
    // occurrence count alone overflows a task's budget — order 10⁷+
    // rows of a single gram, i.e. a ~100M-doc corpus where half the
    // corpus shares one exact 8-gram. At that point build the sampled
    // heavy-key bypass measured above: count the k64 keys of a 1%
    // doc sample; a key seen twice there has at least two
    // occurrences, so its rows are candidates by definition and skip
    // the window, while every other key keeps the window count. The
    // sample can never promote a key occurring once (no false
    // positives; hash collisions only add candidates, as here); a
    // duplicated key it misses just takes the window, costing at most
    // its own multiplicity in one task. Build it with `keyed`
    // materialized once: the double evaluation noted above is what it
    // lost on.
    val wK = Window.partitionBy("k64")
    val candPos = keyed
      .withColumn("cnt", count(lit(1)).over(wK))
      .filter(col("cnt") > 1)
      .groupBy("id").agg(collect_list(col("pos")).as("cps"))
    // exact verification on candidates only: materialize the real
    // token-window string for each candidate position row-locally
    val grams = toksed.join(candPos, Seq("id"))
      .select(col("id"), explode(expr(
        s"transform(cps, p -> struct(p as pos, " +
          s"array_join(slice(toks, p + 1, $L), ' ') as gk))")).as("pg"))
      .select(col("id"), col("pg.pos").as("pos"), col("pg.gk").as("gk"))
    // a row is a duplicate occurrence iff it is strictly after the
    // gram's global minimum (id, pos) — no ORDER BY needed
    val wG = Window.partitionBy("gk")
    val dups = grams
      .withColumn("first", min(struct(col("id"), col("pos"))).over(wG))
      .filter(struct(col("id"), col("pos")) > col("first"))
      .select("id", "pos")
    val wD = Window.partitionBy("id").orderBy("pos")
    val c = dups
      .withColumn("prev", lag("pos", 1).over(wD))
      .withColumn("new_region",
        when(col("prev").isNull || col("pos") - col("prev") > L, 1).otherwise(0))
      .withColumn("contrib",
        least(lit(L), coalesce(col("pos") - col("prev"), lit(L))).cast("long"))
      .withColumn("region", sum("new_region").over(wD))
    val regions = c.groupBy("id", "region")
      .agg(min("pos").as("rs"), (max("pos") + lit(L - 1)).as("re"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("rs"), col("re")))).as("regs"))
    val agg = c.groupBy("id").agg(
      count(lit(1)).as("n_dup"),
      sum("new_region").cast("long").as("n_regions"),
      sum("contrib").as("dup_tokens"))
    toksed
      .join(agg, Seq("id"), "left")
      .join(regions, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (size(col("toks")) - coalesce(col("dup_tokens"), lit(0L))).cast("long")
          .as("kept_tokens"),
        array_join(expr(
          "filter(toks, (t, i) -> regs IS NULL OR " +
            "NOT exists(regs, r -> i >= r.rs AND i <= r.re))"), " ")
          .as("kept_text"))
  }

  def dupSubstrings(spark: SparkSession, dir: String): DataFrame =
    duplicateSpans(Tables.documents(spark, dir))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val dupSubstringsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |         md5(array_to_string(toks[i : i + 7], ' ')) AS gk
      |  FROM t, unnest(generate_series(1, greatest(len(toks) - 7, 0))) u(i)
      |), m AS (
      |  SELECT doc_id, pos,
      |         row_number() OVER (PARTITION BY gk ORDER BY doc_id, pos) AS rn
      |  FROM g
      |), d AS (
      |  SELECT doc_id, pos FROM m WHERE rn > 1
      |), s AS (
      |  SELECT doc_id, pos,
      |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM d
      |), c AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END AS new_region,
      |    CAST(least(8, coalesce(pos - prev, 8)) AS BIGINT) AS contrib
      |  FROM s
      |), r AS (
      |  SELECT doc_id, pos,
      |    sum(new_region) OVER (PARTITION BY doc_id ORDER BY pos) AS region
      |  FROM c
      |), regions AS (
      |  SELECT doc_id, region, min(pos) AS rs, max(pos) + 7 AS re
      |  FROM r GROUP BY doc_id, region
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup,
      |    CAST(sum(new_region) AS BIGINT) AS n_regions,
      |    CAST(sum(contrib) AS BIGINT) AS dup_tokens
      |  FROM c GROUP BY doc_id
      |), cov AS (
      |  SELECT doc_id, u.p FROM regions, unnest(generate_series(rs, re)) u(p)
      |), tok AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tk
      |  FROM t, unnest(generate_series(1, len(toks))) u(i)
      |), keptt AS (
      |  SELECT tok.doc_id,
      |    array_to_string(list(tk ORDER BY pos), ' ') AS kept_text
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.p
      |  WHERE cov.p IS NULL GROUP BY tok.doc_id
      |)
      |SELECT t.doc_id,
      |  coalesce(a.n_dup, 0) AS n_dup,
      |  coalesce(a.n_regions, 0) AS n_regions,
      |  coalesce(a.dup_tokens, 0) AS dup_tokens,
      |  CAST(len(t.toks) - coalesce(a.dup_tokens, 0) AS BIGINT) AS kept_tokens,
      |  coalesce(k.kept_text, '') AS kept_text
      |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
      |LEFT JOIN keptt k ON t.doc_id = k.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Exact dedup RETIREMENT through the lakehouse — the composition
    * an incremental training-data pipeline actually runs: load the
    * corpus into a ROW-TRACKED snapshot table, compute the losers of
    * each exact-duplicate cluster as a set of STABLE ROW IDS (keeper
    * = smallest id, q28's min-doc_id rule under the clustered
    * layout), then retire them with [[graft.lake.SnapshotTable
    * .deleteRowIds]] — a distributed id-set delete whose file pruning
    * comes free from the manifest's position-derived id ranges. The
    * final table IS the deduplicated corpus; the oracle recomputes
    * keepers relationally. */
  def dedupRetireByRid(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val t = java.nio.file.Files.createTempDirectory("graft-q134")
      .toString + "/docs"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "n_chars")
    SnapshotTable.create(spark, t, docs.schema, rowTracking = true)
    SnapshotTable.appendClustered(docs, t, "doc_id", numFiles = 4)
    val withIds = SnapshotTable.readWithRowIds(spark, t)
    val keep = withIds.groupBy(md5(col("text")).as("h"))
      .agg(min(col("_row_id")).as("keep_rid"))
    val losers = withIds.select(md5(col("text")).as("h"), col("_row_id"))
      .join(keep, "h").filter(col("_row_id") =!= col("keep_rid"))
      .select("_row_id")
    SnapshotTable.deleteRowIds(losers, t)
    SnapshotTable.read(spark, t)
      .select(col("doc_id"), md5(col("text")).as("text_hash"), col("n_chars"))
      .orderBy("doc_id")
  }

  val dedupRetireByRidSql: String =
    """SELECT doc_id, md5(text) AS text_hash, n_chars
      |FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      |ORDER BY doc_id""".stripMargin

  val catalog: Seq[QDef] = Seq(
    QDef("q28_dedup_exact", dedupExact, Some(dedupExactSql)),
    QDef("q134_dedup_retire_by_rid", dedupRetireByRid, Some(dedupRetireByRidSql)),
    QDef("q30_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    QDef("q35_minhash_near_dups", minhashNearDups, Some(minhashNearDupsSql)),
    QDef("q36_simhash", simhashReorderDups, Some(simhashReorderDupsSql)),
    QDef("q81_dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    QDef("q97_dedup_keeper", dedupKeepers, Some(dedupKeepersSql)),
    QDef("q109_dedup_lines", dedupLines, Some(dedupLinesSql)),
    QDef("q116_incremental_dedup", dedupIncremental, Some(dedupIncrementalSql)),
    QDef("q123_boilerplate_removal", boilerplate, Some(boilerplateSql)),
    QDef("q127_dup_substrings", dupSubstrings, Some(dupSubstringsSql)),
  )
}
