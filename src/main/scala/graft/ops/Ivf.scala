package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** IVF (inverted-file) approximate nearest neighbor — the
  * cluster-structure complement to the hyperplane LSH in Similarity:
  *
  *  1. train a k-means coarse quantizer on a BOUNDED sample
  *     (driver-side Lloyd iterations over ≤ `sampleSize` vectors —
  *     the standard IVF recipe; the corpus itself is never
  *     collected);
  *  2. assign every vector to its nearest centroid in one typed
  *     per-partition pass (centroids broadcast with the closure);
  *  3. search probes the `nProbe` centroids nearest each query and
  *     exact-reranks only vectors in those cells.
  *
  * [[search]] and [[searchQuantized]] read the corpus once per call
  * and shuffle at most k rows per query from each map partition; the
  * tiers that join a second table by id ([[searchQuantizedIndexed]],
  * [[searchPq]], [[searchPqResidual]]) shuffle their candidates and
  * that table — never all-pairs. Training is deterministic (seeded
  * init, fixed iteration count).
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    def nearest(v: Array[Float]): Int = nearestOf(v, centroids.length)._1
    /** Squared distance to the nearest centroid (distortion term). */
    def nearestDist2(v: Array[Float]): Double =
      nearestOf(v, centroids.length)._2
    def nearestN(v: Array[Float], n: Int): Seq[Int] = {
      val d = centroids.indices.map(i => i -> dist2(v, centroids(i)))
      d.sortBy(_._2).take(n).map(_._1)
    }
    private def nearestOf(v: Array[Float], k: Int): (Int, Double) = {
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < centroids.length) {
        val d = dist2(v, centroids(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      (best, bestD)
    }
    private def dist2(v: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }
  }

  /** Deterministic Lloyd's k-means on a bounded, deterministically
    * chosen sample (first `sampleSize` ids). */
  def train(emb: DataFrame, k: Int, iters: Int = 10, sampleSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = emb
      .orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    // seeded init: evenly strided sample points
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k)
      .map(_.toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      val m = Model(centroids)
      sample.foreach { v =>
        val c = m.nearest(v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    Model(centroids)
  }

  /** Lloyd's k-means over the FULL corpus, distributed: each
    * iteration is one typed per-partition pass that folds every
    * vector into k partial (sum, count) accumulators, and only those
    * k×dim doubles per partition come back to the driver — the
    * map-side-combine shape that scales with executors (the corpus is
    * never collected, unlike [[train]]'s bounded sample). Init reuses
    * [[train]]'s deterministic strided-sample centroids; partials are
    * combined in partition order, so the result is deterministic for
    * a fixed partitioning. Use when the sample cap would
    * under-represent the corpus (e.g. many fine cells over billions
    * of vectors); [[train]] remains the cheap default. */
  def trainDistributed(emb: DataFrame, k: Int, iters: Int = 10,
      sampleSize: Int = 10000, idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    val spark = emb.sparkSession
    import spark.implicits._
    var centroids = train(emb, k, iters = 0, sampleSize, idCol, vecCol).centroids
    val dim = centroids.head.length
    val vecs = emb.select(col(vecCol)).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var it = 0
      while (it < iters) {
        val m = Model(centroids)
        val partials: Array[(Int, Array[Double], Long)] = vecs
          .mapPartitions { part =>
            val sums = Array.fill(k)(new Array[Double](dim))
            val counts = new Array[Long](k)
            part.foreach { v =>
              val c = m.nearest(v)
              counts(c) += 1
              var i = 0
              while (i < dim) { sums(c)(i) += v(i); i += 1 }
            }
            (0 until k).iterator.filter(counts(_) > 0)
              .map(c => (c, sums(c), counts(c)))
          }.collect()
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        partials.foreach { case (c, s, n) =>
          counts(c) += n
          var i = 0
          while (i < dim) { sums(c)(i) += s(i); i += 1 }
        }
        centroids = Array.tabulate(k) { c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      Model(centroids)
    } finally { vecs.unpersist(); () }
  }

  /** (id, cluster) assignment — one typed pass, centroids ride the
    * closure (broadcast by the task serializer). */
  def assign(emb: DataFrame, model: Model,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, model.nearest(v)) })
      .toDF(idCol, "cluster")
  }

  /** Candidate pairs for stored query ids: probe nProbe cells per
    * query against the cell assignment. Only the tiers that score
    * from a second table keyed by id ([[searchQuantizedIndexed]]'s
    * quantized corpus, [[searchPq]]'s and [[searchPqResidual]]'s
    * codes) use it: they must join that table on the candidate ids
    * anyway, so the one-pass shape of [[search]] saves them nothing. */
  private def candidatesOf(emb: DataFrame, model: Model, queryIds: Seq[Long],
      nProbe: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val assigned = assign(emb, model, idCol, vecCol)
    val probes = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) => model.nearestN(qv, nProbe).map(c => (qid, c)) }
      .toDF("query_id", "cluster")
    assigned.join(broadcast(probes), "cluster")
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol))
      .distinct()
  }

  /** The query side of a one-pass search: each stored query's vector,
    * one row per (query, probe cell). */
  private def probeRows(emb: DataFrame, model: Model, queryIds: Seq[Long],
      nProbe: Int, idCol: String, vecCol: String): Dataset[(Long, Array[Float], Int)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) => model.nearestN(qv, nProbe).map(c => (qid, qv, c)) }
  }

  /** The corpus side: one typed pass tags every row with its nearest
    * cell and keeps its vector, then joins the broadcast `probes`
    * (query_id, cluster, …) on the cell and drops self-matches. */
  private def probedPass(emb: DataFrame, model: Model, probes: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, v, model.nearest(v)) })
      .toDF(idCol, vecCol, "cluster")
      .join(broadcast(probes), "cluster")
      .filter(col(idCol) =!= col("query_id"))
  }

  /** Keep the k best-scored rows per query: cosine desc, id asc. With
    * k below `spark.sql.optimizer.windowGroupLimitThreshold` (1,000 by
    * default) Spark plans a partial WindowGroupLimit in every map
    * partition, so at most k rows per query cross the one exchange. */
  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Approximate top-k for stored query ids: probe nProbe cells,
    * exact-cosine rerank candidates only — in one pass over the corpus.
    *
    * The query vectors are looked up and expanded into one row per
    * (query, probe cell), and that small table is broadcast. The typed
    * pass that assigns every corpus row its nearest cell keeps the
    * row's vector, so a broadcast hash join on the cell yields the
    * candidates with their vectors; they are scored `round(cosine, 6)`
    * and ranked by `row_number` over (cosine desc, id asc), which
    * Spark plans as a partial WindowGroupLimit per partition, one
    * exchange of at most k rows per partition and query, and a final
    * WindowGroupLimit. Ties, NaN (a zero vector) and nulls rank as in
    * the three-pass join form this replaced (assign, join the probe
    * cells, join the candidates back to `emb` for their vectors).
    *
    * Measured on `docs_curation` (6,000 vectors, top-10 searches, a
    * 4-core host): traced at seed 101, the 10 searches went from 60
    * jobs to 30, 4.97 to 2.99 s, 86 KB to 8 KB of shuffle and 1,500
    * to 750 rows read per result (the lookup and the pass); over 12
    * interleaved untraced pairs the workload's median op (a search)
    * fell 29%, 0.553 to 0.391 s.
    *
    * Ids are assumed unique. With a duplicated id the old form joined
    * every row carrying a candidate id back in, including rows in
    * cells no query probed; this one scores only the rows whose own
    * cell is probed, against each query vector that probes it. */
  def search(emb: DataFrame, model: Model, queryIds: Seq[Long], k: Int,
      nProbe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeRows(emb, model, queryIds, nProbe, idCol, vecCol)
      .toDF("query_id", "qv", "cluster")
    topKPerQuery(probedPass(emb, model, probes, idCol, vecCol)
      .select(col("query_id"), col(idCol),
        round(Similarity.cosine(col(vecCol), col("qv")), 6).as("cosine")), k, idCol)
  }

  /** Metadata-filtered IVF search — the hybrid-search scale path for
    * predicates too WIDE for pre-filter + exact scan
    * ([[Similarity.filteredTopK]] is optimal for selective ones):
    * probe cells as usual, OVER-FETCH `k * overfetch` per query from
    * the rerank, then post-filter against the allowed-id set and cut
    * to k. Over-fetching bounds the classic post-filter failure (all
    * k unfiltered neighbors violate the predicate → empty result):
    * with survivor fraction f, k/f candidates are needed on average,
    * so callers size `overfetch ≈ ceil(1/f)`. The allowed side joins
    * on the id key AFTER the candidate set is already
    * probe-bounded — the join input is candidates, never the corpus. */
  def searchFiltered(emb: DataFrame, allowedIds: DataFrame, model: Model,
      queryIds: Seq[Long], k: Int, nProbe: Int = 4, overfetch: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    topKPerQuery(search(emb, model, queryIds, k * overfetch, nProbe, idCol, vecCol)
      .join(allowedIds.select(col(idCol)), Seq(idCol), "left_semi"), k, idCol)
  }

  /** Tier decision for metadata-filtered search — pure, spec-pinned:
    * a survivor fraction at or below `threshold` routes to pre-filter
    * + exact scan ([[Similarity.filteredTopK]]: the fewer the
    * survivors, the cheaper the scan, while probe cost would not
    * shrink); above it, IVF probe + over-fetch + post-filter with the
    * 1/f sizing rule, `overfetch = ceil(1/f)` clamped to [1, 64]
    * (expected candidates needed to surface k survivors). */
  private[ops] def hybridTier(survivorFraction: Double,
      threshold: Double): (String, Int) =
    if (survivorFraction <= threshold) ("prefilter", 1)
    else ("ivf-postfilter",
      math.min(64, math.max(1, math.ceil(1.0 / survivorFraction).toInt)))

  /** Metadata-filtered search with AUTOMATIC tier selection: estimate
    * the survivor fraction and route per [[hybridTier]] — callers no
    * longer choose between [[Similarity.filteredTopK]] and
    * [[searchFiltered]] by hand. The estimate is two count
    * aggregates; when the corpus is a snapshot table, pass
    * `corpusRows = Some(SnapshotTable.count(...))` (manifest-header
    * arithmetic, zero scan) and a known `allowedRows` to skip them.
    * Output shape matches [[Similarity.filteredTopK]]:
    * (idCol, cosine), best first. */
  def hybridTopK(emb: DataFrame, allowedIds: DataFrame, model: Model,
      queryVecId: Long, k: Int, nProbe: Int = 4,
      selectivityThreshold: Double = 0.05,
      corpusRows: Option[Long] = None, allowedRows: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = corpusRows.getOrElse(emb.count())
    val a = allowedRows.getOrElse(allowedIds.count())
    val f = if (n <= 0L) 1.0 else a.toDouble / n.toDouble
    hybridTier(f, selectivityThreshold) match {
      case ("prefilter", _) =>
        Similarity.filteredTopK(emb, allowedIds, queryVecId, k, idCol, vecCol)
      case (_, of) =>
        searchFiltered(emb, allowedIds, model, Seq(queryVecId), k, nProbe,
          of, idCol, vecCol)
          .select(col(idCol), col("cosine"))
          .orderBy(col("cosine").desc, col(idCol).asc)
    }
  }

  /** The same IVF probe with an int8 rerank, scored by quantized
    * cosine (three exact integer dots + one divide; see
    * Similarity.quantize). Cell assignment still uses float
    * centroids — quantization error belongs in the rerank, not the
    * index geometry.
    *
    * The one-pass shape of [[search]]: the probe rows carry each
    * query's quantized vector, and the corpus rows are quantized in
    * the assigning map stage, after the broadcast join on the cell,
    * so only rows whose cell is probed are quantized (once per query
    * probing that cell). When searches repeat, pay the quantization
    * once at index-build time instead:
    * [[buildQuantizedIndex]]/[[loadQuantizedIndex]] +
    * [[searchQuantizedIndexed]]. */
  def searchQuantized(emb: DataFrame, model: Model, queryIds: Seq[Long], k: Int,
      nProbe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val probes = probeRows(emb, model, queryIds, nProbe, idCol, vecCol)
      .map { case (qid, qv, c) => (qid, Similarity.quantizeVec(qv)._2, c) }
      .toDF("query_id", "q_qvec", "cluster")
    val quantized = probedPass(emb, model, probes, idCol, vecCol)
      .select(col("query_id"), col(idCol), col(vecCol), col("q_qvec"))
      .as[(Long, Long, Array[Float], Array[Byte])]
      .mapPartitions(_.map { case (qid, id, v, qq) =>
        (qid, id, Similarity.quantizeVec(v)._2, qq)
      }).toDF("query_id", idCol, "qvec", "q_qvec")
    topKPerQuery(quantized.select(col("query_id"), col(idCol),
      round(Similarity.quantizedCosine(col("qvec"), col("q_qvec")), 6).as("cosine")), k, idCol)
  }

  /** int8 rerank over a PRE-BUILT quantized corpus (the index-artifact
    * tier): candidates join the persisted (id, scale, qvec) table, so
    * a search reads the 4× smaller index and never touches the float
    * corpus except for the probe assignment. */
  def searchQuantizedIndexed(emb: DataFrame, qcorp: DataFrame, model: Model,
      queryIds: Seq[Long], k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qcand = candidatesOf(emb, model, queryIds, nProbe, idCol, vecCol)
      .join(qcorp.select(col(idCol), col("qvec")), idCol)
    val qq = qcorp.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col("qvec").as("q_qvec"))
    topKPerQuery(qcand.join(broadcast(qq), "query_id")
      .select(col("query_id"), col(idCol),
        round(Similarity.quantizedCosine(col("qvec"), col("q_qvec")), 6).as("cosine")), k, idCol)
  }

  /** Persist a trained quantizer as a tiny parquet (cluster id +
    * centroid) so repeated searches skip training — the IVF index
    * lifecycle: train once offline, load per job. */
  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cid"), col("centroid")).as[(Int, Array[Double])]
      .collect().sortBy(_._1)
    Model(rows.map(_._2))
  }

  /** Persist a product quantizer (with or without an OPQ rotation) as
    * one small parquet file — codebook rows keyed by (subspace,
    * code), rotation rows keyed by (-1, row index). Dim/m reconstruct
    * from the stored shapes, so the artifact is self-describing and
    * engine-agnostic, like [[save]]. The codes table ([[encodePq]] /
    * [[encodePqResidual]] output) is the other, corpus-sized half of
    * a persisted index; this is the driver-state half a fresh session
    * needs to serve it. */
  def savePq(spark: SparkSession, pq: PqModel, path: String,
      rotation: Option[Array[Array[Float]]] = None): Unit = {
    import spark.implicits._
    val cbRows = for {
      (cb, s) <- pq.codebooks.zipWithIndex.toSeq
      (cent, c) <- cb.zipWithIndex
    } yield (s, c, cent)
    val rotRows = rotation.toSeq.flatMap(_.zipWithIndex.map {
      case (row, i) => (-1, i, row)
    })
    (cbRows ++ rotRows).toDF("subspace", "code", "vals")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def saveOpq(spark: SparkSession, opq: OpqModel, path: String): Unit =
    savePq(spark, opq.pq, path, Some(opq.rotation))

  def loadPq(spark: SparkSession, path: String): PqModel =
    loadPqWithRotation(spark, path)._1

  def loadOpq(spark: SparkSession, path: String): OpqModel = {
    val (pq, rot) = loadPqWithRotation(spark, path)
    OpqModel(rot.getOrElse(throw new IllegalArgumentException(
      s"no rotation stored at $path — saved with savePq, not saveOpq?")), pq)
  }

  private def loadPqWithRotation(spark: SparkSession, path: String)
      : (PqModel, Option[Array[Array[Float]]]) = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("subspace"), col("code"), col("vals").cast("array<float>"))
      .as[(Int, Int, Array[Float])].collect()
    val (rotRows, cbRows) = rows.partition(_._1 == -1)
    require(cbRows.nonEmpty, s"no PQ codebooks stored at $path")
    val m = cbRows.map(_._1).max + 1
    val codebooks = Array.tabulate(m) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    val subDim = codebooks.head.head.length
    val pq = PqModel(subDim * m, m, codebooks)
    val rot =
      if (rotRows.isEmpty) None
      else Some(rotRows.sortBy(_._2).map(_._3))
    (pq, rot)
  }

  /** Persist the quantized corpus as the second index artifact
    * (alongside [[save]]'s centroids): one quantization pass at
    * build time, after which every search reads the 4× smaller
    * (id, scale, qvec) parquet via [[searchQuantizedIndexed]] and
    * never re-quantizes anything. */
  def buildQuantizedIndex(emb: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    Similarity.quantize(emb.select(col(idCol), col(vecCol)), idCol, vecCol)
      .write.mode("overwrite").parquet(path)

  def loadQuantizedIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Mean squared distance of a bounded, HASH-STRIDED sample to its
    * nearest centroid — the quantizer's distortion on the current
    * corpus, the standard k-means quality signal. Hash-strided (not
    * first-ids) because drift arrives at the end of the id range in
    * an append-mostly corpus; O(sampleSize · k · dim) driver work,
    * the corpus itself never collected. */
  def distortion(emb: DataFrame, model: Model, sampleSize: Int = 2000,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sampleSize)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(sample.nonEmpty, "empty distortion sample")
    sample.iterator.map(model.nearestDist2).sum / sample.length
  }

  /** CENTROID-DRIFT maintenance — the trigger that keeps a served
    * IVF model from rotting as its corpus snapshot table evolves
    * (the automation [[syncQuantizedIndex]] deliberately does NOT do:
    * the int8 index is model-independent, the coarse quantizer is
    * not). Each call measures [[distortion]] of the CURRENT corpus
    * under the saved model against the BASELINE recorded when the
    * model was (re)trained (a tiny sidecar beside the model parquet,
    * so the decision survives restarts). Past
    * `baseline × (1 + driftThreshold)` the model retrains on the
    * current corpus, saves over `modelPath`, and the baseline
    * resets; otherwise nothing is touched. First call on a
    * baseline-less model records the baseline and never rebuilds.
    * Returns true iff a rebuild happened. */
  def maintainModel(spark: SparkSession, corpusPath: String,
      modelPath: String, driftThreshold: Double = 0.25,
      sampleSize: Int = 2000, iters: Int = 10,
      trainSampleSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean = {
    import graft.lake.SnapshotTable
    import org.apache.hadoop.fs.Path
    val emb = SnapshotTable.read(spark, corpusPath)
    val model = load(spark, modelPath)
    val cur = distortion(emb, model, sampleSize, idCol, vecCol)
    val fs = new Path(modelPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new Path(modelPath.stripSuffix("/") + ".drift_baseline")
    def writeBaseline(v: Double): Unit = {
      val out = fs.create(sidecar, true)
      try out.write(String.format(java.util.Locale.ROOT, "%.17g", v)
        .getBytes("UTF-8"))
      finally out.close()
    }
    val baseline: Option[Double] =
      if (!fs.exists(sidecar)) None
      else {
        val in = fs.open(sidecar)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toDouble)
        finally in.close()
      }
    baseline match {
      case None =>
        writeBaseline(cur); false
      case Some(b) if cur <= b * (1.0 + driftThreshold) =>
        false
      case Some(_) =>
        val fresh = train(emb, k = model.centroids.length, iters = iters,
          sampleSize = trainSampleSize, idCol = idCol, vecCol = vecCol)
        save(spark, fresh, modelPath)
        writeBaseline(distortion(emb, fresh, sampleSize, idCol, vecCol))
        true
    }
  }

  /** Keep a quantized index FRESH as its corpus snapshot table
    * commits — the index-maintenance half of serving ANN off the
    * lake. The index is itself a snapshot table of quantized rows;
    * each call drains the corpus' new commits through the CDC
    * checkpoint: inserts (and the insert half of updates) quantize
    * ONLY the new rows and upsert by id (file-pruned
    * [[graft.lake.SnapshotTable.merge]]); ids whose final state in
    * the batch is absent are deleted. Both operations are idempotent
    * on replay, and the checkpoint offset advances only after the
    * batch lands, so a crash anywhere re-applies the same batch to
    * the same effect — the index converges to exactly the corpus
    * state. Serve reads with `SnapshotTable.read(indexPath)` into
    * [[searchQuantizedIndexed]].
    *
    * Upserts and deletes land as one distributed clause-merge (see
    * [[applyChangeBatch]]): deleted ids are never collected, so the
    * sync job survives bulk retention waves without a rebuild. */
  def syncQuantizedIndex(spark: SparkSession, corpusPath: String,
      indexPath: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Option[(Long, Long)] = {
    import graft.lake.SnapshotIncremental
    SnapshotIncremental.processNew(spark, corpusPath, checkpointDir,
      SnapshotIncremental.Cdc) { (changes, _, _) =>
      applyChangeBatch(spark, changes, indexPath, idCol, vecCol)
    }
  }

  /** Apply ONE drained change-feed batch to the quantized index —
    * the shared body of the batch checkpoint loop above and the
    * streaming maintainer below. A batch can span SEVERAL commits,
    * so the change rows first collapse to the final state per id —
    * latest `_commit_version` wins; within one commit an update
    * emits delete(old)+insert(new) at the same version and the row
    * IS present afterwards, so insert outranks delete at equal
    * version. Without this reduction an id inserted in v2 and
    * deleted in v3 of one batch would be upserted (stale vector
    * persists forever), and an id updated in two commits would put
    * duplicate keys into merge's source, which rejects them.
    * update_postimage counts as the row's presence (the corpus
    * table records merge keys, so its feed carries CDF update
    * images); update_preimage/delete as absence. Idempotent on
    * replay: merge upserts to the same state, deletes of
    * already-absent ids are no-ops. The steady-state batch applies
    * upserts AND deletes as ONE distributed clause-merge (single
    * rewrite + commit), so no delete list is ever collected at any
    * wave size. */
  private[graft] def applyChangeBatch(spark: SparkSession, changes: DataFrame,
      indexPath: String, idCol: String, vecCol: String): Unit = {
    import graft.lake.SnapshotTable
    val present = col("_change_type").isin("insert", "update_postimage")
    val w = Window.partitionBy(col(idCol)).orderBy(
      col("_commit_version").desc,
      when(present, 1).otherwise(0).desc)
    // The reduced batch is consumed three times below (emptiness
    // probe, merge source, delete-id collect), each re-running the
    // window subtree. A persist(MEMORY_AND_DISK) here was A/B'd in
    // r20 and REVERTED: materializing the vector-bearing batch into
    // the block store cost more than the recomputes save (q133 drain
    // 5.7 s → 10.1 s with the persist — the emptiness probe loses its
    // limit-1 short-circuit and the cache write serializes every
    // embedding), the exactPercentileHist lesson again: per-pass
    // recompute of a cheap subtree beats caching it.
    val fin = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val ins = fin.filter(present).select(col(idCol), col(vecCol))
    val insQ = Similarity.quantize(ins, idCol, vecCol)
    val gone = fin.filter(!present).select(col(idCol))
    SnapshotTable.latestVersion(spark, indexPath) match {
      case None =>
        // bootstrap: the index table does not exist yet — merge()
        // creates on first use; deletes of never-present ids are
        // no-ops by definition
        if (!insQ.isEmpty) SnapshotTable.merge(insQ, indexPath, Seq(idCol))
      case Some(_) =>
        // ONE clause-merge applies the batch's upserts AND deletes in
        // a single stats-pruned rewrite + single commit (r20 did
        // merge-then-delete: two file findings, two rewrites, two
        // commits per batch, plus a capped collect of the delete
        // ids). The union source tags each
        // final-state row present/absent; matched-present updates,
        // matched-absent deletes, unmatched-present inserts — fully
        // distributed at ANY delete-wave size (the collect cap is
        // gone), same idempotence on replay (upsert to same state,
        // delete of already-absent ids matches nothing).
        import graft.lake.{MergeDelete, MergeInsert, MergeUpdate}
        val p = "__g_present"
        val goneWide = gone.select(col(idCol) +:
          insQ.schema.fields.toSeq.filter(_.name != idCol)
            .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
        val src = insQ.withColumn(p, lit(true))
          .unionByName(goneWide.withColumn(p, lit(false)))
        if (!fin.isEmpty)
          SnapshotTable.mergeClauses(src, indexPath, Seq(idCol),
            matched = Seq(
              MergeUpdate(Some(col(s"s.$p")),
                insQ.schema.fields.toSeq.filter(_.name != idCol)
                  .map(f => f.name -> col(s"s.${f.name}"))),
              MergeDelete(Some(!col(s"s.$p")))),
            notMatched = Seq(MergeInsert(Some(col(s"s.$p")))))
    }
  }

  /** CONTINUOUS index maintenance: the same convergence contract as
    * [[syncQuantizedIndex]], driven by the streaming change feed
    * (`graft-changes`) instead of scheduled batch drains — start it
    * once and the index follows the corpus. Exactly-once by the same
    * two-layer argument as the batch loop: the engine's checkpoint
    * replays a crashed batch as the SAME version range (the feed is
    * deterministic per range), and [[applyChangeBatch]] is
    * idempotent, so a replay re-lands the identical state. With the
    * default AvailableNow trigger the call drains pending commits
    * and terminates (cron-style catch-up); pass a processing-time
    * trigger for a resident maintainer. `maxVersionsPerTrigger`
    * bounds the bootstrap the same way it does for the raw source. */
  def syncQuantizedIndexStream(spark: SparkSession, corpusPath: String,
      indexPath: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.format("graft-changes")
    maxVersionsPerTrigger.foreach(m => reader.option("maxVersionsPerTrigger", m))
    reader.load(corpusPath)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (changes: DataFrame, _: Long) =>
        applyChangeBatch(spark, changes, indexPath, idCol, vecCol)
        ()
      }
      .start()
  }

  /** IVF accuracy gate: top-10 for three stored queries over the
    * corpus augmented with an exact copy of each query (id + 10M).
    * The copy is assigned to the query's own nearest-centroid cell,
    * which is by definition the query's first probe, so IVF finds it
    * with certainty and it rules the exact rerank at cosine 1.0 —
    * making the result expressible as the same oracle-checkable
    * contract as q37 (best cosine exactly 1.0, planted copy returned,
    * every returned neighbor inside the exact top-N). Centroid values
    * never surface. Training samples the first 500 ids, so the
    * planted 10M+ ids provably never shift the quantizer. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val qids = Similarity.annQueryIds
    val corpus = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), qids)
    val model = train(corpus, k = 16, iters = 5, sampleSize = 500)
    Similarity.annContract(search(corpus, model, qids, k = 10), corpus, qids,
      rankBound = annIvfRankBound)
  }

  val annIvfRankBound = 40

  val annIvfSql: String =
    s"""SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
       |  true AS planted_nn_returned, true AS all_in_exact_top$annIvfRankBound
       |FROM embeddings WHERE vec_id IN (0, 1, 2) ORDER BY query_id""".stripMargin

  /** The end-to-end quantized index gate: float-centroid probe +
    * int8 rerank, under the same accuracy contract as q62 — the
    * planted copy sits in the query's first probe cell AND quantizes
    * to identical bytes (quantized cosine exactly 1.0 at 6 dp), and
    * every neighbor the int8 ranking returns must be inside the
    * exact FLOAT top-N (a wider band than q62's: the rank bound also
    * absorbs quantization reordering). */
  def annIvfQuantized(spark: SparkSession, dir: String): DataFrame = {
    val qids = Similarity.annQueryIds
    val corpus = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), qids)
    val model = train(corpus, k = 16, iters = 5, sampleSize = 500)
    Similarity.annContract(searchQuantized(corpus, model, qids, k = 10), corpus, qids,
      rankBound = annIvfQuantizedRankBound)
  }

  val annIvfQuantizedRankBound = 100

  val annIvfQuantizedSql: String =
    s"""SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
       |  true AS planted_nn_returned, true AS all_in_exact_top$annIvfQuantizedRankBound
       |FROM embeddings WHERE vec_id IN (0, 1, 2) ORDER BY query_id""".stripMargin

  /** Auto-tier hybrid gate, NARROW side: ~1% of ids allowed routes
    * [[hybridTopK]] to the exact pre-filter tier, so the result is
    * closed-form and the oracle recomputes it exactly — a mis-route
    * to the probe tier would hash-mismatch by missing exact
    * neighbors the probes don't cover. */
  def hybridNarrow(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val allowed = Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 === 3).select(col("doc_id").as("vec_id"))
    val model = train(emb, k = 16, iters = 5, sampleSize = 500)
    hybridTopK(emb, allowed, model, queryVecId = 0L, k = 10)
  }

  val hybridNarrowSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |a AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 3),
      |x AS (
      |  SELECT e.vec_id,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
      |    sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
      |  FROM embeddings e
      |  JOIN a ON e.vec_id = a.doc_id, q,
      |    (SELECT unnest(generate_series(1, 64)) AS i) i
      |  WHERE e.vec_id <> 0
      |  GROUP BY e.vec_id
      |)
      |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 6) AS cosine
      |FROM x ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Auto-tier hybrid gate, WIDE side: half the ids allowed routes to
    * the IVF probe + 1/f over-fetch + post-filter tier. Exact results
    * are approximate there, so the gate states the same accuracy
    * contract as q62: an ALLOWED exact copy of the query (id + 10M,
    * even, sharing the query's first probe cell by construction) must
    * come back at cosine exactly 1.0, and every returned id must
    * satisfy the predicate within the k bound. */
  def hybridWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), Seq(0L))
    val allowed = emb.select("vec_id").filter(col("vec_id") % 2 === 0)
    val model = train(emb, k = 16, iters = 5, sampleSize = 500)
    val r = hybridTopK(emb, allowed, model, queryVecId = 0L, k = 10).collect()
    val best = r.map(_.getAs[Double]("cosine")).max
    Seq((0L, best,
      r.exists(_.getAs[Long]("vec_id") == 10000000L),
      r.nonEmpty && r.length <= 10 && r.forall(_.getAs[Long]("vec_id") % 2 == 0)))
      .toDF("query_id", "best_cosine", "planted_nn_returned", "all_allowed")
  }

  val hybridWideSql: String =
    """SELECT CAST(0 AS BIGINT) AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
      |  true AS planted_nn_returned, true AS all_allowed""".stripMargin

  /** End-to-end drift-rebuild maintenance gate: the corpus is a
    * snapshot table fed by COMMITS; [[maintainModel]] records its
    * distortion baseline on first contact, stays QUIET through
    * same-distribution growth, TRIPS on a planted far cluster
    * (every vector an affine transform of a real embedding —
    * x*0.05+8.0 — so the drift is derived from the provided table,
    * not synthesized), retrains, halves the distortion, and the
    * retrained index SERVES the drifted region: a planted exact
    * duplicate pair inside the new cluster comes back at cosine
    * exactly 1.0. Closed-form contract booleans, q131-style oracle. */
  def ivfDriftRebuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.lake.SnapshotTable
    val base = java.nio.file.Files.createTempDirectory("graft-ivfd-gate").toString
    val (corpus, modelPath) = (s"$base/corpus", s"$base/model")
    val emb0 = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // trainSampleSize must COVER the corpus: train()'s deterministic
    // sample is the first-N ids, and the drifted rows carry high ids —
    // a cap below corpus size would retrain blind to the very cluster
    // that tripped the trigger (observed: distortion 2050 -> 2049)
    def maintain(): Boolean =
      maintainModel(spark, corpus, modelPath, sampleSize = 2000,
        iters = 5, trainSampleSize = 10000)
    // era 1: 80% of the corpus; era 2 is same-distribution growth
    SnapshotTable.append(emb0.filter(col("vec_id") % 5 =!= 0), corpus)
    val m0 = train(SnapshotTable.read(spark, corpus), k = 16, iters = 5,
      sampleSize = 500)
    save(spark, m0, modelPath)
    val baselineQuiet = !maintain() // first contact records the baseline
    SnapshotTable.append(emb0.filter(col("vec_id") % 5 === 0), corpus)
    val stableQuiet = !maintain()
    // drift: a far cluster + an identical query/copy pair inside it
    // scale 2.0 keeps the cluster FAR (centered at 8·1, unit inputs)
    // but loose enough that member-vs-member cosine rounds below
    // 1.000000 at 6 dp — the planted identical pair stays the unique
    // exact match instead of tying with the whole cluster
    val far = emb0.select((col("vec_id") + 90000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f) + lit(8.0f))
        .as("embedding"))
    val pairVec = far.filter(col("vec_id") === 90000001L).select("embedding")
    val pair = pairVec.select(lit(99000001L).as("vec_id"), col("embedding"))
      .union(pairVec.select(lit(99000002L).as("vec_id"), col("embedding")))
    SnapshotTable.append(far.union(pair), corpus)
    val embAll = SnapshotTable.read(spark, corpus)
    val before = distortion(embAll, load(spark, modelPath), sampleSize = 2000)
    val rebuilt = maintain()
    val after = distortion(embAll, load(spark, modelPath), sampleSize = 2000)
    val r = search(embAll, load(spark, modelPath), Seq(99000001L), k = 10)
      .collect()
    val best = r.map(_.getAs[Double]("cosine")).max
    val restabilized = !maintain()
    Seq((99000001L, best,
      baselineQuiet && stableQuiet, rebuilt && after < before / 2,
      r.exists(_.getAs[Long]("vec_id") == 99000002L) && restabilized))
      .toDF("query_id", "best_cosine", "stable_quiet", "drift_rebuilt",
        "planted_nn_returned")
  }

  val ivfDriftRebuildSql: String =
    """SELECT CAST(99000001 AS BIGINT) AS query_id,
      |  CAST(1.0 AS DOUBLE) AS best_cosine, true AS stable_quiet,
      |  true AS drift_rebuilt, true AS planted_nn_returned""".stripMargin

  /** STREAM-MAINTAINED index gate: the corpus table takes a commit
    * lifecycle (bootstrap append, growth append, an UPDATE via merge
    * — whose CDF images the maintainer must collapse — and a DELETE),
    * while the quantized index follows purely through
    * [[syncQuantizedIndexStream]] drains of the `graft-changes` feed
    * across separate checkpoint-resumed runs. Contracts:
    * `index_converged` pins index == quantize(live corpus) exactly
    * (both directions of a multiset diff), and the maintained index
    * then SERVES search under the same planted-copy contract as q107
    * — best cosine exactly 1.0, the planted copy returned, every
    * neighbor inside the exact top-N. An unapplied delete, a stale
    * pre-update vector, or a duplicate upsert all break one of the
    * two contracts. */
  /** Eager-phase seconds of the LAST [[ivfStreamMaintained]] call —
    * `drain` (both stream catch-ups) and `train` (k-means) run inside
    * the gate function; the lazy search executes with the returned
    * frame, so a bench derives it as total − drain − train. Lets
    * BENCH_LOCAL split the suite's most expensive gate into the three
    * regimes that regress independently. */
  @volatile private[graft] var streamMaintainedPhases: Map[String, Double] =
    Map.empty

  def ivfStreamMaintained(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.SnapshotTable
    val base = java.nio.file.Files.createTempDirectory("graft-ivfsm-gate").toString
    val (corpus, index, ckpt) = (s"$base/corpus", s"$base/index", s"$base/ckpt")
    val emb = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), Seq(0L))
    var drainSec = 0.0
    def drain(): Unit = {
      val t0 = System.nanoTime()
      syncQuantizedIndexStream(spark, corpus, index, ckpt).awaitTermination()
      drainSec += (System.nanoTime() - t0) / 1e9
    }
    SnapshotTable.append(emb.filter(col("vec_id") % 5 =!= 0), corpus)  // v1
    drain()                                    // bootstrap the index
    SnapshotTable.append(emb.filter(col("vec_id") % 5 === 0), corpus)  // v2
    // UPDATE: re-point one real id at a transformed vector (CDF images)
    SnapshotTable.merge(emb.filter(col("vec_id") === 7L)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
      .coalesce(1), corpus, Seq("vec_id"))                             // v3
    SnapshotTable.delete(spark, corpus,
      col("vec_id") % 97 === 13 && col("vec_id") < 1000000L)           // v4
    drain()                                    // catch up across 3 commits
    val live = SnapshotTable.read(spark, corpus).select("vec_id", "embedding")
    val idx = SnapshotTable.read(spark, index).select("vec_id", "scale", "qvec")
    val want = Similarity.quantize(live)
    // multiset equality in ONE pass: tag each side ±1, group by the
    // whole row, and any non-zero net count is a difference — same
    // boolean as the former two exceptAll probes (A∖B = ∅ ∧ B∖A = ∅ ⟺
    // per-row counts equal) at half the shuffles: one exchange over
    // idx ∪ want instead of two anti-join exchanges over both inputs
    val converged = idx.withColumn("__side", lit(1))
      .unionByName(want.withColumn("__side", lit(-1)))
      .groupBy("vec_id", "scale", "qvec")
      .agg(sum(col("__side")).as("__net"))
      .filter(col("__net") =!= 0)
      .isEmpty
    val t1 = System.nanoTime()
    val model = train(live, k = 16, iters = 5, sampleSize = 500)
    val trainSec = (System.nanoTime() - t1) / 1e9
    streamMaintainedPhases = Map("drain" -> drainSec, "train" -> trainSec)
    Similarity.annContract(
      searchQuantizedIndexed(live, idx, model, Seq(0L), k = 10),
      live, Seq(0L), rankBound = annIvfQuantizedRankBound)
      .withColumn("index_converged", lit(converged))
  }

  val ivfStreamMaintainedSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
       |  true AS planted_nn_returned, true AS all_in_exact_top$annIvfQuantizedRankBound,
       |  true AS index_converged""".stripMargin

  // ===================== IVF-PQ (product quantization) ==============

  /** Product quantizer — the ladder rung past int8 (q106/q107): the
    * vector space splits into `m` contiguous subspaces of dim/m dims,
    * each with its own `ksub`-entry codebook, and a vector encodes as
    * m byte codes (nearest sub-centroid per subspace). At dim=64,
    * m=8: 8 bytes + one norm per vector — 32× smaller than the float
    * corpus and 8× smaller than int8 — which is the index a 100 TB
    * embedding corpus actually serves from (the full PQ index of 10^9
    * vectors fits in one machine's RAM). Codebooks are driver state:
    * m × ksub × subDim floats (dim × ksub total — KBs), broadcast
    * with the task closure like the coarse centroids. */
  final case class PqModel(dim: Int, m: Int,
      codebooks: Array[Array[Array[Float]]]) {
    val subDim: Int = dim / m

    def encode(v: Array[Float]): Array[Byte] = {
      val code = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        val off = s * subDim
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val cent = cb(c)
          var d = 0.0
          var i = 0
          while (i < subDim) { val t = v(off + i) - cent(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }

    /** ADC (asymmetric distance) lookup table for one FLOAT query:
      * lut(s)(c) = dot(query_s, codebook(s)(c)). Scoring a code is
      * then m table lookups + adds — the query is never quantized,
      * so quantization error enters once (corpus side), not twice. */
    def adcTable(q: Array[Float]): Array[Array[Float]] =
      Array.tabulate(m) { s =>
        val off = s * subDim
        val cb = codebooks(s)
        Array.tabulate(cb.length) { c =>
          var d = 0f
          var i = 0
          while (i < subDim) { d += q(off + i) * cb(c)(i); i += 1 }
          d
        }
      }

    /** Reconstruction of a code: the concatenated sub-centroids —
      * used by the OPQ Procrustes step and by distortion audits. */
    def decode(code: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      var s = 0
      while (s < m) {
        System.arraycopy(codebooks(s)(code(s) & 0xff), 0, out,
          s * subDim, subDim)
        s += 1
      }
      out
    }
  }

  /** Per-subspace Lloyd's k-means on the same bounded deterministic
    * sample discipline as [[train]] (first `sampleSize` ids, strided
    * init, fixed iterations) — the corpus is never collected. */
  def trainPq(emb: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 10,
      sampleSize: Int = 10000, idCol: String = "vec_id",
      vecCol: String = "embedding"): PqModel = {
    val sample = pqSample(emb, sampleSize, idCol, vecCol)
    pqFromSample(sample, m, ksub, iters)
  }

  /** The bounded deterministic driver sample both PQ trainers share. */
  private def pqSample(emb: DataFrame, sampleSize: Int, idCol: String,
      vecCol: String): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample: Array[Array[Float]] = emb
      .orderBy(col(idCol)).limit(sampleSize)
      .select(col(vecCol).cast("array<float>")).as[Array[Float]].collect()
    require(sample.nonEmpty, "empty PQ training sample")
    sample
  }

  /** Per-subspace Lloyd's over a driver-resident sample — the shared
    * trainer behind [[trainPq]] (raw vectors) and [[trainOpqResidual]]
    * (rotated coarse residuals). */
  private def pqFromSample(sample: Array[Array[Float]], m: Int, ksub: Int,
      iters: Int): PqModel = {
    val dim = sample.head.length
    require(m >= 1 && dim % m == 0,
      s"PQ subspace count $m must divide the dimension $dim")
    require(ksub >= 2 && ksub <= 256, s"ksub $ksub must fit one byte")
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { s =>
      val off = s * subDim
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim))
      var cents = Array.tabulate(ksub)(c =>
        sub(c * sub.length / ksub).map(_.toDouble))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](subDim))
        val counts = new Array[Long](ksub)
        sub.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var i = 0
            while (i < subDim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
        it += 1
      }
      cents.map(_.map(_.toFloat))
    }
    PqModel(dim, m, codebooks)
  }

  /** PQ-encode the corpus in one typed pass: (id, norm, pq_code) —
    * the persisted index artifact (the [[buildQuantizedIndex]]
    * analogue, 8× smaller again). The float norm rides along so ADC
    * inner products normalize to cosine without touching the float
    * corpus at search time. */
  def encodePq(emb: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        var n = 0.0
        var i = 0
        while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
        (id, math.sqrt(n), model.encode(v))
      }).toDF(idCol, "norm", "pq_code")
  }

  /** IVF-PQ search: coarse probe (float centroids, as everywhere) →
    * ADC scoring of the probed cells' CODES (m lookups/candidate into
    * a per-query table of m × ksub floats riding the closure) → a
    * bounded `shortlist` per query → exact float rerank of the
    * shortlist only. The scan side touches 8 bytes + a norm per
    * candidate; the float corpus is read for exactly
    * queries × shortlist rows — the standard serving shape for
    * billion-vector indexes, expressed as two joins and a window. */
  def searchPq(emb: DataFrame, codes: DataFrame, ivfModel: Model,
      pq: PqModel, queryIds: Seq[Long], k: Int, nProbe: Int = 4,
      shortlist: Int = 100, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(shortlist >= k, "shortlist must be at least k")
    // per-query ADC tables: queries × m × ksub floats — driver-tiny
    val luts: Map[Long, (Array[Array[Float]], Double)] = emb
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        var n = 0.0
        var i = 0
        while (i < qv.length) { n += qv(i).toDouble * qv(i); i += 1 }
        qid -> (pq.adcTable(qv), math.sqrt(n))
      }.toMap
    val adc = candidatesOf(emb, ivfModel, queryIds, nProbe, idCol, vecCol)
      .join(codes, idCol)
      .select(col("query_id"), col(idCol).cast("long"), col("norm"),
        col("pq_code"))
      .as[(Long, Long, Double, Array[Byte])]
      .mapPartitions(_.map { case (qid, id, norm, code) =>
        val (lut, qn) = luts(qid)
        var ip = 0.0
        var s = 0
        while (s < code.length) { ip += lut(s)(code(s) & 0xff); s += 1 }
        (qid, id, ip / (qn * math.max(norm, 1e-12)))
      }).toDF("query_id", idCol, "adc_cosine")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col(idCol).asc)
    val short = adc
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col(idCol))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    topKPerQuery(short.join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(Similarity.cosine(col(vecCol), col("qv")), 6).as("cosine")), k, idCol)
  }

  // ============ OPQ + residual encoding (IVFADC layout) =============

  /** OPQ: a learned ORTHONORMAL rotation applied before the subspace
    * split (Ge et al., "Optimized Product Quantization", CVPR 2013 —
    * the non-parametric variant), plus the product quantizer trained
    * in the rotated space. Plain PQ quantizes each `subDim`-dim slice
    * independently, so variance concentrated in a few dimensions (or
    * correlated across the slice boundary) wastes codebook entropy;
    * the rotation re-balances it. Rotation is `dim × dim` floats —
    * driver state broadcast with the task closure, like the
    * codebooks. Orthonormal ⇒ inner products survive rotation:
    * `⟨q, x⟩ = ⟨Rq, Rx⟩`, so ADC tables are built from the ROTATED
    * query against the rotated-space codebooks and score unrotated
    * inner products exactly as [[PqModel.adcTable]] does. */
  final case class OpqModel(rotation: Array[Array[Float]], pq: PqModel) {
    val dim: Int = rotation.length

    def rotate(v: Array[Float]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val row = rotation(i)
        var s = 0.0
        var j = 0
        while (j < dim) { s += row(j) * v(j); j += 1 }
        out(i) = s.toFloat
        i += 1
      }
      out
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * returns (eigenvalues, eigenvectors as COLUMNS of V). Driver-side
    * only, on `dim × dim` (64×64 here): ~2k rotations per sweep,
    * microseconds — no linear-algebra dependency needed. */
  private def jacobiEigSym(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-20) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Orthogonal Procrustes: the rotation maximizing `tr(Rᵀ M)` is
    * `R = U Vᵀ` for `M = U Σ Vᵀ` — computed via the eigendecomposition
    * of `MᵀM` (no external SVD): `V` from Jacobi, `σⱼ = √λⱼ`,
    * `uⱼ = M vⱼ / σⱼ`. None when M is near-singular (a degenerate
    * direction would make `uⱼ` garbage) — the caller keeps its
    * previous rotation for that iteration. */
  private def procrustes(mm: Array[Array[Double]])
      : Option[Array[Array[Double]]] = {
    val n = mm.length
    val mtm = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < n) { s += mm(k)(i) * mm(k)(j); k += 1 }
      s
    }
    val (lam, v) = jacobiEigSym(mtm)
    val sig = lam.map(l => math.sqrt(math.max(l, 0.0)))
    val sigMax = sig.max
    if (sigMax <= 0.0 || sig.exists(_ < 1e-9 * sigMax)) return None
    // uⱼ = M vⱼ / σⱼ, columns of U
    val u = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < n) { s += mm(i)(k) * v(k)(j); k += 1 }
      s / sig(j)
    }
    // R = U Vᵀ
    Some(Array.tabulate(n, n) { (i, k) =>
      var s = 0.0
      var j = 0
      while (j < n) { s += u(i)(j) * v(k)(j); j += 1 }
      s
    })
  }

  /** Train OPQ over COARSE RESIDUALS — the classic IVFADC stack: the
    * quantized quantity is `v − centroid(cell(v))` (residuals are
    * smaller and more isotropic than raw vectors, so the same code
    * budget buys less distortion), rotated by the learned R before
    * the subspace split. Non-parametric alternating optimization on
    * the bounded driver sample: fit PQ in the rotated space → decode
    * → Procrustes re-fit of R against the reconstructions → repeat;
    * the returned (R, PQ) is the iteration with the LOWEST measured
    * sample distortion, so the result is never worse than plain PQ
    * on the same residual sample (iteration 0 is exactly that,
    * R = identity) — the monotonicity the OpqSpec pins. */
  def trainOpqResidual(emb: DataFrame, ivf: Model, m: Int = 8,
      ksub: Int = 16, iters: Int = 10, opqIters: Int = 4,
      sampleSize: Int = 10000, idCol: String = "vec_id",
      vecCol: String = "embedding"): OpqModel = {
    val raw = pqSample(emb, sampleSize, idCol, vecCol)
    val dim = raw.head.length
    // residual sample: x_i = v_i − c(v_i)
    val xs: Array[Array[Float]] = raw.map { vv =>
      val cen = ivf.centroids(ivf.nearest(vv))
      Array.tabulate(dim)(i => (vv(i) - cen(i)).toFloat)
    }
    def rotateAll(r: Array[Array[Double]]): Array[Array[Float]] =
      xs.map { x =>
        Array.tabulate(dim) { i =>
          var s = 0.0
          var j = 0
          while (j < dim) { s += r(i)(j) * x(j); j += 1 }
          s.toFloat
        }
      }
    def distortion(ys: Array[Array[Float]], pq: PqModel): Double =
      ys.map { y =>
        val d = pq.decode(pq.encode(y))
        var s = 0.0
        var i = 0
        while (i < dim) { val t = y(i) - d(i); s += t * t; i += 1 }
        s
      }.sum / ys.length
    var r: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var best: (Double, Array[Array[Double]], PqModel) = null
    var it = 0
    while (it < math.max(1, opqIters)) {
      val ys = rotateAll(r)
      val pq = pqFromSample(ys, m, ksub, iters)
      val d = distortion(ys, pq)
      if (best == null || d < best._1) best = (d, r, pq)
      // Procrustes against this iteration's reconstructions:
      // M = Σ ŷ_i x_iᵀ (reconstruction outer original residual)
      val mm = Array.ofDim[Double](dim, dim)
      var s = 0
      while (s < ys.length) {
        val yhat = pq.decode(pq.encode(ys(s)))
        val x = xs(s)
        var i = 0
        while (i < dim) {
          val yi = yhat(i).toDouble
          var j = 0
          while (j < dim) { mm(i)(j) += yi * x(j); j += 1 }
          i += 1
        }
        s += 1
      }
      procrustes(mm).foreach(r = _)
      it += 1
    }
    OpqModel(best._2.map(_.map(_.toFloat)), best._3)
  }

  /** Residual-encode the corpus (the persisted IVFADC index): one
    * typed pass producing (id, cell, norm, pq_code) where the code
    * quantizes the ROTATED residual `R·(v − centroid(cell))`. Same
    * footprint as [[encodePq]] plus one int cell id; the cell rides
    * along so ADC scoring can add back the coarse term without
    * touching the float corpus. */
  def encodePqResidual(emb: DataFrame, ivf: Model, opq: OpqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val cell = ivf.nearest(v)
        val cen = ivf.centroids(cell)
        val res = Array.tabulate(v.length)(i => (v(i) - cen(i)).toFloat)
        var n = 0.0
        var i = 0
        while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
        (id, cell, math.sqrt(n), opq.pq.encode(opq.rotate(res)))
      }).toDF(idCol, "cell", "norm", "pq_code")
  }

  /** IVFADC search: coarse probe → ADC over the RESIDUAL codes →
    * bounded shortlist → exact float rerank. The scored inner product
    * decomposes exactly: `⟨q, x⟩ = ⟨q, c_cell⟩ + ⟨q, r⟩`, and the
    * residual term reads from one rotated-query LUT —
    * `⟨q, R⁻¹d⟩ = ⟨Rq, d⟩` — so per candidate the cost is one
    * driver-tiny cell-dot lookup + m table adds, identical shape to
    * [[searchPq]]. The per-query state riding the closure is
    * `m × ksub` LUT floats + `nCells` cell dots — KBs. */
  def searchPqResidual(emb: DataFrame, codes: DataFrame, ivf: Model,
      opq: OpqModel, queryIds: Seq[Long], k: Int, nProbe: Int = 4,
      shortlist: Int = 100, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(shortlist >= k, "shortlist must be at least k")
    val luts: Map[Long, (Array[Array[Float]], Double, Array[Double])] = emb
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        var n = 0.0
        var i = 0
        while (i < qv.length) { n += qv(i).toDouble * qv(i); i += 1 }
        val cellDots = ivf.centroids.map { c =>
          var s = 0.0
          var j = 0
          while (j < qv.length) { s += qv(j) * c(j); j += 1 }
          s
        }
        qid -> ((opq.pq.adcTable(opq.rotate(qv)), math.sqrt(n), cellDots))
      }.toMap
    val adc = candidatesOf(emb, ivf, queryIds, nProbe, idCol, vecCol)
      .join(codes, idCol)
      .select(col("query_id"), col(idCol).cast("long"), col("cell"),
        col("norm"), col("pq_code"))
      .as[(Long, Long, Int, Double, Array[Byte])]
      .mapPartitions(_.map { case (qid, id, cell, norm, code) =>
        val (lut, qn, cellDots) = luts(qid)
        var ip = cellDots(cell)
        var s = 0
        while (s < code.length) { ip += lut(s)(code(s) & 0xff); s += 1 }
        (qid, id, ip / (qn * math.max(norm, 1e-12)))
      }).toDF("query_id", idCol, "adc_cosine")
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col(idCol).asc)
    val short = adc
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col(idCol))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    topKPerQuery(short.join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(Similarity.cosine(col(vecCol), col("qv")), 6).as("cosine")), k, idCol)
  }

  /** q141: the OPQ + residual-encoding gate (IVFADC — ROADMAP #4 /
    * r19 verdict #3) under the same planted-copy contract as q138:
    * the exact copy must survive the coarse probe AND the residual
    * ADC shortlist, every returned neighbor must sit inside the
    * exact float top-100, and the reported cosine is the exact
    * rerank (the copy scores exactly 1.0 — the rotation and codes
    * decide WHO is scored, never the value). */
  def annIvfAdc(spark: SparkSession, dir: String): DataFrame = {
    val qids = Similarity.annQueryIds
    val corpus = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), qids)
    val ivf = train(corpus, k = 16, iters = 5, sampleSize = 500)
    val opq = trainOpqResidual(corpus, ivf, m = 8, ksub = 16, iters = 5,
      opqIters = 3, sampleSize = 500)
    val codes = encodePqResidual(corpus, ivf, opq)
    Similarity.annContract(
      searchPqResidual(corpus, codes, ivf, opq, qids, k = 10, nProbe = 4,
        shortlist = 100),
      corpus, qids, rankBound = annIvfPqRankBound)
  }

  // literal 100, NOT $annIvfPqRankBound: that val is declared further
  // down the object and would still be 0 when this one initializes
  val annIvfAdcSql: String =
    """SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
      |  true AS planted_nn_returned, true AS all_in_exact_top100
      |FROM embeddings WHERE vec_id IN (0, 1, 2) ORDER BY query_id""".stripMargin

  /** q138: the IVF-PQ gate under the planted-copy contract of
    * q106/q107 — the exact copy must survive the coarse probe AND the
    * ADC shortlist (that is the recall pinned in-gate: miss either
    * and planted_nn_returned/best_cosine hash-mismatch), and every
    * returned neighbor must sit inside the exact float top-N. The
    * final cosine column is the exact rerank of the shortlist, so the
    * copy scores exactly 1.0 — ADC ordering decides WHO is scored,
    * never the reported value. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val qids = Similarity.annQueryIds
    val corpus = Similarity.withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), qids)
    val ivf = train(corpus, k = 16, iters = 5, sampleSize = 500)
    val pq = trainPq(corpus, m = 8, ksub = 16, iters = 5, sampleSize = 500)
    val codes = encodePq(corpus, pq)
    Similarity.annContract(
      searchPq(corpus, codes, ivf, pq, qids, k = 10, nProbe = 4,
        shortlist = 100),
      corpus, qids, rankBound = annIvfPqRankBound)
  }

  val annIvfPqRankBound = 100

  val annIvfPqSql: String =
    s"""SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
       |  true AS planted_nn_returned, true AS all_in_exact_top$annIvfPqRankBound
       |FROM embeddings WHERE vec_id IN (0, 1, 2) ORDER BY query_id""".stripMargin

  val catalog: Seq[QDef] = Seq(
    QDef("q62_ann_ivf", annIvf, Some(annIvfSql)),
    QDef("q138_ann_ivf_pq", annIvfPq, Some(annIvfPqSql)),
    QDef("q141_ann_ivf_adc", annIvfAdc, Some(annIvfAdcSql)),
    QDef("q107_ann_ivf_i8", annIvfQuantized, Some(annIvfQuantizedSql)),
    QDef("q130_hybrid_prefilter", hybridNarrow, Some(hybridNarrowSql)),
    QDef("q131_hybrid_postfilter", hybridWide, Some(hybridWideSql)),
    QDef("q132_ivf_drift_rebuild", ivfDriftRebuild, Some(ivfDriftRebuildSql)),
    QDef("q133_ivf_stream_maintained", ivfStreamMaintained,
      Some(ivfStreamMaintainedSql)),
  )
}
