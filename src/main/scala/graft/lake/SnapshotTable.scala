package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Minimal snapshot/commit-log table over parquet — the gap left by
  * emulating the reference's Iceberg sink with dynamic partition
  * overwrite (SURVEY.md §7.4): versioned reads and time travel.
  *
  * Layout:
  *   path/data/c-<uuid>/...            immutable per-commit parquet
  *   path/_graft_log/v<version>        manifest file: the COMPLETE
  *                                     live file set at that version
  *
  * Each manifest is a full snapshot (no log replay), written to a
  * temp dir and atomically renamed — a reader always sees either the
  * previous or the new version, never a partial commit. Data files
  * are immutable; overwritePartitions drops entries of the touched
  * partitions from the new manifest without deleting files, so every
  * earlier version remains readable (time travel). Concurrent writers
  * are safe via optimistic concurrency: the manifest publish is a CAS
  * on the version number, and a loser re-reads the winner's manifest
  * and retries (see commit()) — no lock service required.
  *
  * The CAS is only atomic where the filesystem gives us an atomic
  * create-if-absent: local FS (hard link) and HDFS (rename onto an
  * existing file fails). Object stores (s3a/gs/abfs) provide NEITHER —
  * two writers could both pass the existence check and both "win" the
  * same version, silently dropping one commit — so publishing to an
  * object-store scheme fails fast unless the caller opts in with
  * -Dgraft.snapshot.allowNonAtomicPublish=true (single writer or an
  * external lock, the same posture as delta-on-S3 without a
  * LogStore/DynamoDB lock).
  */
object SnapshotTable extends org.apache.spark.internal.Logging {

  /** One live data file; `rows` is the footer row count (−1 when the
    * manifest predates row counting), `stats` carries (column, min,
    * max) of each NUMERIC clustering column and `sstats` the same for
    * STRING columns (min/max under unsigned UTF-8 byte order — the
    * ordering both parquet BINARY stats and Spark's UTF8String
    * comparisons use) for file-level data skipping. */
  /** `dv`: optional deletion vector — (dv file path, deleted-row
    * count). A file with a DV stays live; its rows at the DV's
    * recorded positions are dead. DV files are immutable (a new
    * delete writes a merged REPLACEMENT dv file), so every earlier
    * version's row set remains reconstructable — time travel holds. */
  /** `blooms`: optional per-file bloom filters — (column, base64 of
    * Spark's BloomFilter stream format) over `xxhash64(column)`
    * items, for point-lookup skipping where min/max bounds prune
    * nothing (high-cardinality unclustered keys). Opt-in per column
    * via [[setBloomColumns]]; size-budgeted per file. With the
    * incremental delta log a commit pays bloom bytes only for the
    * files it TOUCHED, so manifest growth is O(files touched), not
    * O(live files), per commit. */
  /** `nulls`: per-column NULL counts — the third leg of the stats
    * triple (min/max bounds, blooms, null counts — Delta's
    * nullCount parity). Recorded for the first
    * [[NullStatsMaxCols]] (32) top-level
    * primitive columns plus every stats column, all-or-nothing
    * across row groups like the bounds. They prune `IS NULL` (a
    * file with zero nulls can't match) and `IS NOT NULL` / any
    * comparison conjunct (an all-null file can't match — the case
    * min/max can't serve, because an all-null chunk records no
    * bounds at all). Files without a recorded count stay readable. */
  /** `rid`: ROW-TRACKING base id (Delta row-tracking / Iceberg-v3
    * row-lineage shape, opt-in per table): when the manifest carries a
    * `#rowIdHigh=` watermark, every live file records the first row id
    * of its assigned range — a row's stable id is `rid + row position`
    * unless the file MATERIALIZES ids (`ridMat`: the file physically
    * carries a `__rid` column — rewritten files do, so surviving rows
    * keep the ids they were born with; a NULL materialized id falls
    * back to `rid + position`, which is how rows INSERTED by a rewrite
    * get fresh ids without any executor-side coordination). Bases are
    * assigned driver-side at CAS time from the watermark + footer row
    * counts, so appends pay ZERO data-path cost for row ids. */
  private[lake] case class Entry(commitDir: String, filePath: String,
      rows: Long = -1L, stats: Seq[(String, Double, Double)] = Nil,
      dv: Option[(String, Long)] = None,
      sstats: Seq[(String, String, String)] = Nil,
      blooms: Seq[(String, String)] = Nil,
      nulls: Seq[(String, Long)] = Nil,
      rid: Option[Long] = None,
      ridMat: Boolean = false,
      /** Clustering mark (liquid-clustering shape): the spec-hash tag
        * this file was last clustered under (`cl=` entry token).
        * Rewritten files drop it (a rewrite loses physical order);
        * [[optimizeIncremental]] re-clusters exactly the files whose
        * tag differs from the CURRENT spec's hash — a spec change
        * invalidates old marks without touching any entry. */
      clusterTag: Option[String] = None) {
    /** Cached structural hash: multiset diff/replay paths key HashMaps
      * by whole entries, and the default case-class hashCode walks the
      * nested stat Seqs on EVERY probe — at 10^6 live entries that
      * walk dominated DML-shaped commits. Entries are immutable, so
      * one lazy computation (same product hash the synthesized
      * hashCode would produce) serves every probe. Equality stays the
      * synthesized structural one. */
    override lazy val hashCode: Int =
      scala.runtime.ScalaRunTime._hashCode(this)
  }

  /** Physical name of the materialized row-id column rewritten files
    * carry. Never part of the recorded schema (user reads never see
    * it); reserved in user frames like the `__p_` prefix. */
  private[lake] val RidCol = "__rid"

  /** Public column name [[readWithRowIds]] / the change feed expose
    * stable row ids under. */
  val RowIdCol = "_row_id"

  /** Unsigned UTF-8 byte-order comparison — the shared ordering of
    * parquet BINARY footer stats and Spark's UTF8String, so string
    * skipping bounds compare in exactly the space both sides use. */
  private[lake] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[lake] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(realPathOf(path)).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Scheme-stripped LITERAL path of a manifest/listing-side string —
    * one half of the shared file identity (the other is
    * [[normInputFile]]). Hadoop listing strings carry characters
    * literally (a space is a space, `a%20b` is a directory literally
    * named that), so the normalization must NOT percent-decode:
    * `Path`'s constructor treats its argument as unescaped (encoding
    * a literal `%` as `%25` inside its URI), and `toUri.getPath`
    * decodes that same encoding back — a lossless round-trip that
    * only strips the scheme/authority. Feeding listing strings to
    * `java.net.URI` instead would decode `a%20b` to `a b` on this
    * side only and silently divorce the two identities (every
    * stats/bloom/rewrite matcher would miss such files). */
  private[lake] def normFile(s: String): String =
    new Path(s).toUri.getPath

  /** Scheme-stripped, percent-DECODED path of an `input_file_name()`
    * string — the executor reports the URI-ESCAPED form (a literal
    * space arrives as `%20`, a literal `%` as `%25`), so URI decoding
    * recovers exactly the literal path [[normFile]] produces for the
    * same file. Falls back to the Path round-trip for strings that do
    * not parse as a URI (defensive; Spark always emits valid ones). */
  private[lake] def normInputFile(s: String): String =
    scala.util.Try(new java.net.URI(s)).toOption
      .flatMap(u => Option(u.getPath)).filter(_.nonEmpty)
      .getOrElse(new Path(s).toUri.getPath)

  // ---- branch handles ----------------------------------------------
  // A BRANCH (Iceberg branch-ref shape) is a second manifest log under
  // the same table directory — `_graft_log/branch-<name>/` — sharing
  // the immutable data files. The handle `path@@name` routes EVERY
  // operation (read / append / merge / delete / compact / changes /
  // history / tags) onto the branch's log: data lands under the shared
  // `data/` dir, manifests under the branch log, so main and branch
  // diverge independently with zero data copied.
  private val BranchSep = "@@"

  /** The table directory a (possibly branch-) handle points at. */
  private[lake] def realPathOf(path: String): String = {
    val i = path.indexOf(BranchSep)
    if (i < 0) path else path.take(i)
  }

  /** Branch name of a handle, None for the main table. */
  private[lake] def branchOf(path: String): Option[String] = {
    val i = path.indexOf(BranchSep)
    if (i < 0) None else Some(path.drop(i + BranchSep.length))
  }

  /** The shared data dir a (possibly branch-) handle's files land in. */
  private[graft] def dataDirOf(path: String): String =
    s"${realPathOf(path)}/data"

  private[lake] def logDir(path: String) = branchOf(path) match {
    case None    => s"${realPathOf(path)}/_graft_log"
    case Some(b) => s"${realPathOf(path)}/_graft_log/branch-$b"
  }

  private val versionName = "^v(\\d+)$".r
  // vacuum's crash-safe checkpoint swap on non-atomic-rename stores
  // stages `v<k>.ckpt` before replacing `v<k>` — mid-swap, the
  // sidecar IS the version (see vacuum + versionFileStatus)
  private val versionCkptName = "^v(\\d+)\\.ckpt$".r

  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val dir = new Path(logDir(path))
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName)
      .collect {
        case versionName(n)     => n.toLong
        case versionCkptName(n) => n.toLong
      }.distinct.sorted.toSeq
  }

  /** Locate version `v`'s file: `v<k>` normally; its `.ckpt` sidecar
    * when a vacuum checkpoint swap crashed between delete and rename
    * (content is identical — the sidecar is the staged replacement).
    * The common case costs exactly one getFileStatus. */
  private[lake] def versionFileStatus(f: FileSystem, path: String, version: Long)
      : (Path, org.apache.hadoop.fs.FileStatus) = {
    val p = new Path(s"${logDir(path)}/v$version")
    try (p, f.getFileStatus(p))
    catch {
      case _: java.io.FileNotFoundException =>
        val side = new Path(s"${logDir(path)}/v$version.ckpt")
        (side, f.getFileStatus(side))
    }
  }

  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** Commit time of a version (the version file's mtime — the same
    * clock `history()` and `TIMESTAMP AS OF` read), served through
    * the `.ckpt` sidecar fallback so a crashed vacuum swap window
    * cannot hide a version. */
  private[graft] def commitTimeOf(spark: SparkSession, path: String,
      version: Long): Long =
    versionFileStatus(fs(spark, path), path, version)._2.getModificationTime

  /** Smallest version whose commit time is >= `tsMillis` — the
    * streaming sources' `startingTimestamp` resolution (Delta's
    * option semantics: "changes committed at or after"). None when
    * every existing commit predates the timestamp (the stream starts
    * empty and tails future commits). */
  private[graft] def firstVersionAtOrAfter(spark: SparkSession, path: String,
      tsMillis: Long): Option[Long] = {
    val f = fs(spark, path)
    versions(spark, path)
      .find(v => versionFileStatus(f, path, v)._2.getModificationTime >= tsMillis)
  }

  /** Manifests are single small metadata files read/written on the
    * driver (the table-format norm — Delta/Iceberg logs are driver
    * IO too): one `commitDir\tfilePath[\trows=<n>][\tcol\tmin\tmax]...`
    * line per live file (an optional footer row count, then
    * per-column clustering stats in groups of three; the row-count
    * field is parsed leniently so pre-rowcount manifests still load). */
  private[graft] def readManifest(spark: SparkSession, path: String, version: Long): Seq[Entry] =
    readManifestFull(spark, path, version).entries

  /** One parsed manifest: recorded schema, live-file entries, the
    * producing operation, the table's CHECK constraints, and the
    * per-application transaction watermarks (`txns`: app id → highest
    * committed version, the Delta SetTransaction shape backing the
    * exactly-once streaming sink) — all from a single file read.
    *
    * SCALE CEILING (measured, ScaleBench `manifest_scale_1m`):
    * `entries` is a driver-resident Seq, so parse / commit / planning
    * / policy decisions are O(entries) driver work. At 10^6 fabricated
    * entries on this host: cold checkpoint parse 2.1–3.4s
    * (~2–3 µs/entry; entry-line parse and serialization run on the
    * common fork-join pool above 50k lines — the residual is file IO,
    * the line split, and header scans), warm readWhere planning
    * 0.35–0.5s, 1-file delta commit ~2s (~2 µs/entry; the publish
    * diff is path-keyed — [[entryDiff]] — so full structural Entry
    * comparison runs once per entry instead of hashing the nested
    * stats Seqs into a multiset map), commit-time policy decision
    * ≈0.4s extra, retained heap ~560 B/entry — every slope SUB-linear
    * from the 10^5 point.
    * Stated budget: ≤10 µs/entry per driver-plane op and ≤2 KB/entry
    * heap. Extrapolated, a 10M-entry table (100 TB at 10 MB files)
    * costs ~45s parse / ~60s commit / ~5.6 GB heap: workable on a
    * 100 TB driver but past the comfort line — the design answer at
    * that scale is SHARDED CHECKPOINTS: split the checkpoint entry
    * list into K partition-aligned shard files (`v<N>.shard-<k>`,
    * header in the root file listing shard digests), parse shards
    * lazily per readWhere partition predicate and in parallel for
    * full scans, and let a 1-file commit rewrite only its shard's
    * delta. Deltas already bound COMMIT IO (this measurement is CPU);
    * sharding bounds parse+heap the same way. Not built yet — at the
    * gated scale (≤1M entries) the flat list is measured fine. */
  /** `colmap`: COLUMN MAPPING (Delta name-mapping shape) — logical
    * column name → PHYSICAL (on-disk parquet) name; identity entries
    * are omitted. Lets RENAME COLUMN be a metadata-only commit (the
    * files keep the original physical name) and DROP COLUMN hide a
    * column without rewrite. `droppedPhys` tombstones the physical
    * names of dropped columns so a later ADD COLUMN can never
    * silently resurrect the old bytes under a fresh logical name. */
  private[lake] case class Manifest(schema: Option[StructType], entries: Seq[Entry],
      op: Option[String], constraints: Map[String, String] = Map.empty,
      transforms: Seq[PartitionTransform] = Nil,
      retiredTransforms: Seq[PartitionTransform] = Nil,
      txns: Map[String, Long] = Map.empty,
      bloomCols: Seq[String] = Nil,
      opKeys: Seq[String] = Nil,
      colmap: Map[String, String] = Map.empty,
      droppedPhys: Seq[String] = Nil,
      autoCompact: Option[(Int, Long)] = None,
      rowIdHigh: Option[Long] = None,
      /** Liquid-clustering spec (`#clusterCols=`): the column list a
        * full OPTIMIZE ... ZORDER BY recorded; [[optimizeIncremental]]
        * clusters new files against it without touching settled data. */
      clusterCols: Seq[String] = Nil,
      /** RAW `#writerFeatures=` header as stored — populated ONLY by
        * [[parseManifest]], never constructed; [[headerBlock]]
        * re-derives at publish (but re-emits THIS line verbatim when
        * it lists an unknown feature — see the forward-carry note
        * there). Carried so the commit gate
        * ([[requireWriterFeatures]]) judges what the file actually
        * advertises, unknown (future-library) features included. */
      writerFeatures: Seq[String] = Nil,
      /** Header lines this library does not model (`#...` lines with
        * an unrecognized prefix), carried VERBATIM so re-serializing
        * a manifest — vacuum's delta→checkpoint materialization,
        * [[relocate]] — never silently drops a future library's
        * metadata. Populated only by [[parseManifest]]; rides every
        * copy-through commit (preserving what we don't understand is
        * the safe default, and data commits over a table advertising
        * an unknown WRITER feature are refused anyway). */
      unknownHeaders: Seq[String] = Nil,
      /** Commit-time AUTO-CLUSTERING policy (`#autocluster=`): fire
        * an incremental clustering pass after a data commit when any
        * key region (hive partition; the whole table when
        * unpartitioned) accumulates at least this many files not
        * marked under the current `#clusterCols=` spec. Deliberately
        * a CLUSTER-AWARE trigger, not a small-file one: a
        * whole-partition merged file spans its full key range, and
        * marking it clustered would WEAKEN skipping — so
        * [[maybeAutoCompact]]'s outputs stay unmarked and THIS
        * policy (or a manual `OPTIMIZE ... INCREMENTAL`) is what
        * re-clusters them. */
      autoCluster: Option[Int] = None) {
    /** Physical (on-disk) name of a logical column. */
    def phys(c: String): String = colmap.getOrElse(c, c)
  }

  // `#constraints=` header codec: URL-encode every name/expr token so
  // no raw tab can appear, then tab-join (name, expr) pairs flat. Self
  // -contained (no JSON dependency) and collision-free by encoding.
  private def encodeConstraints(cs: Map[String, String]): String =
    cs.toSeq.sortBy(_._1).flatMap { case (n, e) => Seq(n, e) }
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("\t")

  private def decodeConstraints(s: String): Map[String, String] =
    s.split("\t", -1).filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
      .grouped(2).collect { case Array(n, e) => n -> e }.toMap

  // `#txns=` header codec: same URL-encoded flat-pair grammar as the
  // constraints header, values being version numbers
  private def encodeTxns(ts: Map[String, Long]): String =
    encodeConstraints(ts.map { case (k, v) => k -> v.toString })

  private def decodeTxns(s: String): Map[String, Long] =
    decodeConstraints(s).map { case (k, v) => k -> v.toLong }

  /** Per-appId MAX-merge of two txn watermark maps: watermarks only
    * ever advance, so whichever side saw the later version wins. */
  private def mergeTxns(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map { k =>
      k -> math.max(a.getOrElse(k, Long.MinValue), b.getOrElse(k, Long.MinValue))
    }.toMap

  /** Recorded table schema at `version` (default latest) — O(1)
    * manifest-header lookup, no parquet footer sweep. None for
    * manifests written before schema recording. */
  def schemaOf(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[StructType] = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).schema
  }

  // ---- incremental log: deltas, checkpoints, driver cache ----------
  // A version file is either a CHECKPOINT (the complete live-file
  // list — the only form before round 9) or a DELTA against exactly
  // version−1 (`#delta=<v−1>` header; `+\t<entry>` added, `-\t<entry>`
  // removed lines). Deltas keep commit cost proportional to the
  // files a commit TOUCHED, not the table's total file count — the
  // Delta-log shape; the full list is republished every
  // `checkpointInterval` versions so replay reads a bounded chain.
  // No `_last_checkpoint` pointer is needed: each delta names its
  // base and the chain is bounded by the interval, so a read opens at
  // most interval-many small files — all but the first served from
  // the cache below on a warm driver.

  /** Commits between full checkpoints (delta chain length bound). */
  private def checkpointInterval: Int =
    sys.props.get("graft.snapshot.checkpointInterval").map(_.toInt).getOrElse(20)

  // Published manifests are immutable, so parsed manifests cache by
  // the version file's (path, mtime, length) — the two in-place
  // rewrites (relocate, vacuum's checkpoint materialization) change
  // the file and therefore the key, self-invalidating. Bounded by
  // total cached ENTRY count (one 10⁶-file manifest weighs what it
  // weighs however many versions are cached), evicting LRU-first.
  private val manifestCacheMaxWeight = 4000000L
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, Long), Manifest](64, 0.75f, true)
  private var manifestCacheWeight = 0L
  // a bloom-carrying entry weighs its payload, not 1 — without this a
  // few hundred 64 KiB blooms would evade the entry-count bound
  private def cacheWeight(m: Manifest): Long = math.max(1L,
    m.entries.size.toLong +
      m.entries.iterator.map(_.blooms.iterator.map(_._2.length.toLong).sum).sum / 256)
  private def cacheGet(k: (String, Long, Long)): Option[Manifest] =
    manifestCache.synchronized(Option(manifestCache.get(k)))
  private def cachePut(k: (String, Long, Long), m: Manifest): Unit =
    manifestCache.synchronized {
      val prev = manifestCache.put(k, m)
      manifestCacheWeight +=
        cacheWeight(m) - Option(prev).map(cacheWeight).getOrElse(0L)
      val it = manifestCache.entrySet().iterator()
      while (manifestCacheWeight > manifestCacheMaxWeight &&
          manifestCache.size() > 1 && it.hasNext) {
        manifestCacheWeight -= cacheWeight(it.next().getValue)
        it.remove()
      }
    }

  /** Test/metrics hook: count of version files physically opened and
    * parsed (cache misses) — lets specs assert the cache works. */
  private[lake] val manifestFileReads = new java.util.concurrent.atomic.AtomicLong
  private[lake] def clearManifestCache(): Unit = manifestCache.synchronized {
    manifestCache.clear(); manifestCacheWeight = 0L
  }
  /** Drop any cached parse of one version file. The (path, mtime,
    * length) key normally self-invalidates on rewrite, but vacuum's
    * checkpoint materialization RESTORES the original mtime — on the
    * (unlikely) chance the checkpoint also matches the delta's byte
    * length the stale parse would survive, so the rewrite site
    * invalidates explicitly. */
  private[lake] def clearManifestCacheFor(path: String, version: Long): Unit = {
    val vp = new Path(s"${logDir(path)}/v$version").toString
    manifestCache.synchronized {
      val it = manifestCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == vp) {
          manifestCacheWeight -= cacheWeight(e.getValue); it.remove()
        }
      }
    }
  }

  /** One data line with its delta sign: '+'/'-' for signed delta
    * lines, '=' for a plain checkpoint line. */
  private def parseSignedLine(line: String): (Char, Entry) =
    if (line.startsWith("+\t")) ('+', parseEntryLine(line.drop(2)))
    else if (line.startsWith("-\t")) ('-', parseEntryLine(line.drop(2)))
    else ('=', parseEntryLine(line))

  private def parseEntryLine(line: String): Entry = {
    val parts = line.split("\t", -1)
    require(parts.length >= 2, s"bad manifest line: $line")
    val (rows, afterRows) =
      if (parts.length > 2 && parts(2).startsWith("rows="))
        (parts(2).stripPrefix("rows=").toLong, parts.drop(3))
      else (-1L, parts.drop(2))
    val (dv, afterDv) = afterRows.headOption match {
      case Some(t) if t.startsWith("dv=") =>
        val body = t.stripPrefix("dv=")
        val sep = body.lastIndexOf('#')
        (Some((java.net.URLDecoder.decode(body.take(sep), "UTF-8"),
          body.drop(sep + 1).toLong)), afterRows.drop(1))
      case _ => (None, afterRows)
    }
    // string-stat tokens are self-tagged (`sstat=col#lo#hi`, parts
    // URL-encoded so '#' can never occur inside), the numeric stats
    // remain raw triples — filter by tag, then the remainder must
    // group cleanly
    // row-tracking token: `rid=<base>` (ids = base + position) or
    // `rid=<base>#m` (file materializes a physical __rid column)
    val (ridToks, afterRid) = afterDv.partition(_.startsWith("rid="))
    val (rid, ridMat) = ridToks.headOption.map(_.stripPrefix("rid=")) match {
      case None => (None, false)
      case Some(body) =>
        if (body.endsWith("#m")) (Some(body.dropRight(2).toLong), true)
        else (Some(body.toLong), false)
    }
    val (clToks, afterCl) = afterRid.partition(_.startsWith("cl="))
    val clusterTag = clToks.headOption.map(_.stripPrefix("cl="))
    val (bloomToks, afterBloom) = afterCl.partition(_.startsWith("bloom="))
    val blooms = bloomToks.toSeq.map { t =>
      t.stripPrefix("bloom=").split("#", -1) match {
        case Array(c, payload) =>
          (java.net.URLDecoder.decode(c, "UTF-8"), payload)
        case _ => throw new IllegalArgumentException(s"bad bloom token: $t")
      }
    }
    val (sstatToks, afterSstat) = afterBloom.partition(_.startsWith("sstat="))
    val sstats = sstatToks.toSeq.map { t =>
      t.stripPrefix("sstat=").split("#", -1) match {
        case Array(c, lo, hi) =>
          (java.net.URLDecoder.decode(c, "UTF-8"),
            java.net.URLDecoder.decode(lo, "UTF-8"),
            java.net.URLDecoder.decode(hi, "UTF-8"))
        case _ => throw new IllegalArgumentException(s"bad sstat token: $t")
      }
    }
    val (nullToks, rest) = afterSstat.partition(_.startsWith("nulls="))
    val nulls = nullToks.toSeq.map { t =>
      t.stripPrefix("nulls=").split("#", -1) match {
        case Array(c, n) => (java.net.URLDecoder.decode(c, "UTF-8"), n.toLong)
        case _ => throw new IllegalArgumentException(s"bad nulls token: $t")
      }
    }
    require(rest.length % 3 == 0, s"bad manifest line: $line")
    val stats = rest.grouped(3)
      .map { case Array(c, lo, hi) => (c, lo.toDouble, hi.toDouble) }.toSeq
    Entry(parts(0), parts(1), rows, stats, dv, sstats, blooms, nulls,
      rid, ridMat, clusterTag)
  }

  /** Raw parse of one version file: headers + its OWN entry lines.
    * For a checkpoint, `entries` is the complete list and `deltaBase`
    * is None; for a delta, `entries` holds the adds and `removes` the
    * removed entries, to be replayed onto `deltaBase`'s state. */
  private[lake] def parseManifest(content: String)
      : (Manifest, Option[Long], Seq[Entry]) = {
    val lines = content.split("\n").toSeq.filter(_.nonEmpty)
    // reader-features gate FIRST: interpreting any other field of a
    // manifest that needs an unimplemented feature is the silent-
    // wrong-answer path this header exists to close
    lines.find(_.startsWith("#readerFeatures=")).foreach { l =>
      val unknown = l.stripPrefix("#readerFeatures=").split(",")
        .filter(_.nonEmpty).filterNot(SupportedReaderFeatures)
      require(unknown.isEmpty,
        s"this table requires reader feature(s) [${unknown.mkString(", ")}] " +
          "this library does not implement (supported: " +
          s"${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}) — " +
          "upgrade the library before reading")
    }
    val schema = lines.find(_.startsWith("#schema="))
      .map(l => DataType.fromJson(l.stripPrefix("#schema=")).asInstanceOf[StructType])
    val op = lines.find(_.startsWith("#op=")).map(_.stripPrefix("#op="))
    val constraints = lines.find(_.startsWith("#constraints="))
      .map(l => decodeConstraints(l.stripPrefix("#constraints=")))
      .getOrElse(Map.empty[String, String])
    val transforms = lines.find(_.startsWith("#ptransforms="))
      .map(l => PartitionTransform.decode(l.stripPrefix("#ptransforms=")))
      .getOrElse(Nil)
    val retired = lines.find(_.startsWith("#ptransformsRetired="))
      .map(l => PartitionTransform.decode(l.stripPrefix("#ptransformsRetired=")))
      .getOrElse(Nil)
    val txns = lines.find(_.startsWith("#txns="))
      .map(l => decodeTxns(l.stripPrefix("#txns=")))
      .getOrElse(Map.empty[String, Long])
    val bloomCols = lines.find(_.startsWith("#bloomCols="))
      .map(_.stripPrefix("#bloomCols=").split(",").toSeq
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")))
      .getOrElse(Nil)
    val opKeys = lines.find(_.startsWith("#opKeys="))
      .map(_.stripPrefix("#opKeys=").split(",").toSeq
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")))
      .getOrElse(Nil)
    val colmap = lines.find(_.startsWith("#colmap="))
      .map(l => decodeConstraints(l.stripPrefix("#colmap=")))
      .getOrElse(Map.empty[String, String])
    val droppedPhys = lines.find(_.startsWith("#colsDropped="))
      .map(_.stripPrefix("#colsDropped=").split(",").toSeq
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")))
      .getOrElse(Nil)
    val autoCompact = lines.find(_.startsWith("#autocompact="))
      .map(_.stripPrefix("#autocompact=").split("#") match {
        case Array(n, r) => (n.toInt, r.toLong)
        case other => throw new IllegalArgumentException(
          s"bad #autocompact header: ${other.mkString("#")}")
      })
    val autoCluster = lines.find(_.startsWith("#autocluster="))
      .map(_.stripPrefix("#autocluster=").toInt)
    // row-tracking watermark: the NEXT row id this table will assign
    // (monotone across the whole history — see restore())
    val rowIdHigh = lines.find(_.startsWith("#rowIdHigh="))
      .map(_.stripPrefix("#rowIdHigh=").toLong)
    val clusterCols = lines.find(_.startsWith("#clusterCols="))
      .map(_.stripPrefix("#clusterCols=").split(",").toSeq
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")))
      .getOrElse(Nil)
    // writer features are parsed but NOT gated here — unknown writer
    // features must not block reads; the commit paths gate on them
    // (requireWriterFeatures) before any write
    val writerFeats = lines.find(_.startsWith("#writerFeatures="))
      .map(_.stripPrefix("#writerFeatures=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    val deltaBase = lines.find(_.startsWith("#delta="))
      .map(_.stripPrefix("#delta=").toLong)
    // forward-carry: any `#` header this library does not model rides
    // verbatim (field scaladoc on Manifest.unknownHeaders) —
    // `#delta=` excluded, it describes THIS file's encoding, not
    // table state
    val unknownHeaders = lines.filter(l => l.startsWith("#") &&
      !KnownHeaderPrefixes.exists(l.startsWith))
    val dataLines = lines.filterNot(_.startsWith("#")).toArray
    // Entry parsing is the driver-plane hot loop at large live-file
    // counts (manifest_scale_1m: the cold 10^6-entry parse), and
    // parseEntryLine is pure — parallelize it order-preserving above
    // a threshold where the fork-join overhead is certainly paid for;
    // small manifests (the common case) stay on the cheap
    // single-threaded path.
    val signed: Array[(Char, Entry)] =
      if (dataLines.length < 50000)
        dataLines.map(parseSignedLine)
      else {
        val out = new Array[(Char, Entry)](dataLines.length)
        java.util.stream.IntStream.range(0, dataLines.length).parallel()
          .forEach(i => out(i) = parseSignedLine(dataLines(i)))
        out
      }
    val adds = Seq.newBuilder[Entry]
    val removes = Seq.newBuilder[Entry]
    adds.sizeHint(signed.length)
    signed.foreach {
      case ('-', e) => removes += e
      case (_, e)   => adds += e
    }
    (Manifest(schema, adds.result(), op, constraints, transforms, retired, txns,
      bloomCols, opKeys, colmap, droppedPhys, autoCompact, rowIdHigh,
      clusterCols, writerFeats, unknownHeaders, autoCluster),
      deltaBase, removes.result())
  }

  /** (removes, adds) between two manifests' live-entry lists — the
    * delta-publish diff. Live file paths are unique within a manifest
    * in every normal history, so the common case is a path-keyed
    * one-pass diff: java.lang.String caches its hash, and the full
    * structural Entry comparison (whose hashCode walks the nested
    * stats Seqs — the cost that dominated the 10^6-entry commit in
    * manifest_scale_1m) runs only on path matches, once per entry.
    * Duplicate paths on either side fall back to the general
    * [[multisetDiff]], so the output is ALWAYS multiset-identical to
    * (multisetDiff(prev, cur), multisetDiff(cur, prev)); both sides
    * keep their input order, matching the fallback's byte-for-byte
    * delta encoding. */
  private[lake] def entryDiff(prev: Seq[Entry], cur: Seq[Entry])
      : (Seq[Entry], Seq[Entry]) = {
    // PURE-APPEND fast path: append-shaped commits build their entry
    // list as `previous ++ added` with the prefix SHARED (the same
    // Entry instances as the cached previous manifest), so a
    // reference-equal lockstep scan proves removes = Nil and adds =
    // the suffix without hashing or comparing a single field — the
    // O(entries) HashMap build below is what dominated the 1-file
    // commit at 10^6 live entries (ScaleBench manifest_scale_1m).
    // Sound because new files land under a fresh per-commit dir (a
    // suffix entry can never duplicate a live path), and any other
    // shape — DML rewrite, compact, re-parsed entries — fails the
    // scan at the first non-shared element and falls through to the
    // general diff unchanged.
    if (cur.size >= prev.size) {
      val pi = prev.iterator
      val ci = cur.iterator
      var shared = true
      while (shared && pi.hasNext) shared = pi.next() eq ci.next()
      if (shared) return (Nil, ci.toSeq)
    }
    val prevByPath = new java.util.HashMap[String, Entry](prev.size * 2)
    var dup = false
    prev.foreach(e => if (prevByPath.put(e.filePath, e) != null) dup = true)
    if (!dup) {
      val seen = new java.util.HashSet[String](cur.size * 2)
      cur.foreach(e => if (!seen.add(e.filePath)) dup = true)
    }
    if (dup)
      return (multisetDiff(prev, cur), multisetDiff(cur, prev))
    val adds = Seq.newBuilder[Entry]
    val unchanged = new java.util.HashSet[String]()
    cur.foreach { e =>
      val p = prevByPath.get(e.filePath)
      if (p != null && p == e) unchanged.add(e.filePath)
      else adds += e
    }
    val removes = prev.filter(e => !unchanged.contains(e.filePath))
    (removes, adds.result())
  }

  /** Multiset a − b over full Entry equality (a file whose DV or
    * stats changed is a different entry state, encoded remove+add). */
  private[lake] def multisetDiff(a: Seq[Entry], b: Seq[Entry]): Seq[Entry] = {
    val cnt = scala.collection.mutable.HashMap.empty[Entry, Int]
    b.foreach(e => cnt.update(e, cnt.getOrElse(e, 0) + 1))
    a.filter { e =>
      val n = cnt.getOrElse(e, 0)
      if (n > 0) { cnt.update(e, n - 1); false } else true
    }
  }

  /** Replay one delta onto its base's live-file list: removals first
    * (each must match a base entry — a miss means log corruption and
    * fails loudly), then the adds appended. */
  private def applyDelta(base: Seq[Entry], removes: Seq[Entry],
      adds: Seq[Entry]): Seq[Entry] = {
    if (removes.isEmpty) return base ++ adds
    val need = scala.collection.mutable.HashMap.empty[Entry, Int]
    removes.foreach(e => need.update(e, need.getOrElse(e, 0) + 1))
    val kept = base.filter { e =>
      val n = need.getOrElse(e, 0)
      if (n > 0) { need.update(e, n - 1); false } else true
    }
    require(need.valuesIterator.forall(_ == 0),
      s"corrupt manifest delta: ${need.valuesIterator.count(_ > 0)} " +
        "removal(s) reference entries absent from the base version")
    kept ++ adds
  }

  /** Raw single-file parse of one version, NO chain replay and no
    * cache: for a DELTA manifest, Some((headers + its own ADDED
    * entries, base version, REMOVED entries)); None for checkpoints.
    * This is the O(files touched) view of a commit — the CDC feed
    * diffs versions straight off it instead of materializing two
    * full live-file lists. Delta files are small by construction
    * (the size comparison at publish time), so the uncached re-parse
    * is noise. */
  private[lake] def readManifestDelta(spark: SparkSession, path: String,
      version: Long): Option[(Manifest, Long, Seq[Entry])] = {
    val f = fs(spark, path)
    val in = f.open(versionFileStatus(f, path, version)._1)
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val (m, deltaBase, removes) = parseManifest(content)
    deltaBase.map(b => (m, b, removes))
  }

  /** Manifest = optional `#schema=<StructType.json>` header + entry
    * lines (checkpoint) or `#delta=` + signed entry lines (delta).
    * JSON escapes control characters, so the single-line header can
    * never collide with the tab-separated entry grammar; unknown
    * `#`-prefixed lines are skipped for forward compatibility.
    * Returns the RECONSTRUCTED manifest (deltas replayed onto their
    * checkpoint), memoized per immutable version file. */
  private[lake] def readManifestFull(spark: SparkSession, path: String,
      version: Long): Manifest = {
    val f = fs(spark, path)
    val (p, st) = versionFileStatus(f, path, version)
    val key = (p.toString, st.getModificationTime, st.getLen)
    cacheGet(key).getOrElse {
      manifestFileReads.incrementAndGet()
      val in = f.open(p)
      val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val (m, deltaBase, removes) = parseManifest(content)
      val full = deltaBase match {
        case None => m
        case Some(b) =>
          require(b == version - 1,
            s"manifest v$version at $path declares delta base v$b; only v${version - 1} is valid")
          val base = readManifestFull(spark, path, b)
          m.copy(entries = applyDelta(base.entries, removes, m.entries))
      }
      cachePut(key, full)
      full
    }
  }

  /** Filesystem schemes with no atomic create-if-absent: the exists
    * check + rename below is not a CAS there (see object docs). */
  private val nonAtomicSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** Commit-lock hook for object-store deployments: when registered,
    * publishes on schemes with no native CAS run inside the provider's
    * exclusive section, making the exists-check + rename safe under
    * concurrent writers (the delta-on-S3 LogStore posture). Atomic
    * schemes (local FS, HDFS) never need it and bypass it. */
  @volatile private var lockProviderOpt: Option[CommitLockProvider] = None
  def setLockProvider(p: Option[CommitLockProvider]): Unit = lockProviderOpt = p

  /** Test hook: treat the local FS as if it had no atomic
    * create-if-absent, so the lock-provider publish path is exercisable
    * in specs without an object store. */
  private def forceNonAtomic: Boolean =
    sys.props.get("graft.snapshot.testForceNonAtomic").contains("true")

  /** Atomically publish manifest `version`; returns false if another
    * writer won that version. The publish is a create-if-absent CAS:
    * on the local FS a hard link (atomic, fails if the target exists),
    * on HDFS a rename (rename onto an existing FILE fails). Object
    * stores have neither primitive: there the publish requires either
    * a registered [[CommitLockProvider]] (which serializes the
    * check-and-rename, restoring the CAS) or the explicit
    * single-writer opt-out. Content is fully written to the tmp file
    * first, so a reader can never observe a partial manifest. */
  /** The manifest `m` is published WHOLE — every header field rides
    * along, so a new Manifest field can never be silently dropped by
    * a publish site (the bug class the old 11-parameter signature
    * invited: fastForward once lost opKeys this way). */
  private[lake] def publishManifest(spark: SparkSession, path: String,
      version: Long, m: Manifest): Boolean = {
    val f = fs(spark, path)
    val scheme = Option(f.getScheme).getOrElse("file").toLowerCase
    val atomicScheme = !nonAtomicSchemes.contains(scheme) && !forceNonAtomic
    val lock = lockProviderOpt
    require(atomicScheme || lock.isDefined
        || sys.props.get("graft.snapshot.allowNonAtomicPublish").contains("true"),
      s"manifest publish on '$scheme' has no atomic create-if-absent: concurrent " +
        "writers could both win the same version and silently drop a commit. " +
        "Register a CommitLockProvider (SnapshotTable.setLockProvider) to " +
        "serialize publishes — the safe multi-writer path — or guarantee a " +
        "single writer and set -Dgraft.snapshot.allowNonAtomicPublish=true.")
    f.mkdirs(new Path(logDir(path)))
    // writer-features backstop: every commit path gates at its entry
    // point (before file finding), but publish is the one funnel NO
    // path can bypass — committing over a version that advertises an
    // unimplemented writer feature would silently break the invariants
    // that feature's consumers trust. The previous version resolves
    // through versionFileStatus (not a bare exists on the v-file
    // name): during a crashed vacuum checkpoint swap the version can
    // legitimately exist only as its `.ckpt` sidecar, and that
    // mid-repair window is exactly when the backstop must not be
    // silently skipped.
    // The resolution window closes BEFORE the gate call:
    // requireWriterFeatures times itself, so including it here would
    // add its elapsed time to the counter twice and the ScaleBench
    // ≤5% contract would measure an inconsistent quantity.
    val gate0 = System.nanoTime()
    val prevManifest = {
      val exists = version > 1 && {
        try { versionFileStatus(f, path, version - 1); true }
        catch { case _: java.io.FileNotFoundException => false }
      }
      if (exists) Some(readManifestFull(spark, path, version - 1)) else None
    }
    writerGateNanos.add(System.nanoTime() - gate0)
    prevManifest.foreach(requireWriterFeatures(_, path))
    val entries = m.entries
    // LAZY full serialization: a delta commit on a wide table used to
    // serialize the ENTIRE live-entry list anyway just to compare
    // byte sizes — the dominant cost of the 1-file commit at 10^6
    // entries (ScaleBench manifest_scale_1m). Touched-entry count now
    // decides the common case without materializing the checkpoint;
    // the full bytes are built only when actually needed.
    lazy val fullBytes = manifestBytes(m)
    // Incremental log: publish a DELTA against v−1 when one exists
    // and is smaller — commit IO proportional to files touched, not
    // total live files. Checkpoint (full list) every
    // `checkpointInterval`-th version to bound the replay chain, on
    // the first version of a log (incl. a branch's fork manifest,
    // whose base lives in ANOTHER log), and whenever the delta would
    // not be smaller (e.g. a full overwrite). `canonical` is the
    // entry list a cold reader will reconstruct (base order, adds
    // appended) — cached below so warm reads agree byte-for-byte.
    val (bytes, canonical) =
      if (version <= 1 || version % checkpointInterval == 0 || prevManifest.isEmpty)
        (fullBytes, entries)
      else {
        val prev = prevManifest.get
        val (removes, adds) = entryDiff(prev.entries, entries)
        // fewer than half the live entries touched → the delta wins
        // (same lines plus a 2-byte prefix each; only pathological
        // line-length skew could make it lose, and then only by a
        // bounded constant) — publish it without serializing the full
        // list. At or above half, fall back to the exact byte
        // comparison, which still picks the checkpoint for full
        // overwrites.
        if ((removes.size + adds.size) * 2 < prev.entries.size) {
          val db = deltaManifestBytes(m, version - 1, adds, removes)
          (db, applyDelta(prev.entries, removes, adds))
        } else {
          val db = deltaManifestBytes(m, version - 1, adds, removes)
          if (db.length < fullBytes.length)
            (db, applyDelta(prev.entries, removes, adds))
          else (fullBytes, entries)
        }
      }
    val tmp = new Path(s"${logDir(path)}/.tmp-${java.util.UUID.randomUUID.toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new Path(s"${logDir(path)}/v$version")
    val useLink = f.getScheme == "file" && !forceNonAtomic
    def casPublish(): Boolean =
      if (useLink)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else !f.exists(dst) && f.rename(tmp, dst)
    val won =
      if (!atomicScheme && lock.isDefined) lock.get.withLock(path)(casPublish())
      else casPublish()
    // hard-link publish leaves the tmp behind on success; rename
    // consumes it — delete whatever remains
    if ((won && useLink) || !won) f.delete(tmp, false)
    // the committer just materialized the full state — prime the
    // cache so the immediate re-read (every commit path reads its
    // own result next) never replays the chain
    if (won) {
      val st = f.getFileStatus(dst)
      cachePut((dst.toString, st.getModificationTime, st.getLen),
        m.copy(entries = canonical))
    }
    won
  }

  /** Reader features this library implements — the Delta
    * table-features model, READER side: every published version file
    * lists the features required to interpret the table correctly
    * (`#readerFeatures=`, derived from the manifest state, never
    * stored as mutable state), and [[parseManifest]] refuses a
    * manifest listing a feature outside this set. Without the gate, a
    * version of this library predating e.g. column mapping would
    * "successfully" read a mapped table and silently serve NULL for
    * every renamed column — the gate turns that class of
    * forward-compat corruption into a loud upgrade error. Writer-only
    * features (constraints, blooms, auto-compaction, txn watermarks)
    * are deliberately absent: ignoring them cannot change read
    * results. */
  private[lake] val SupportedReaderFeatures: Set[String] =
    Set("column-mapping", "deletion-vectors", "partition-transforms",
      "column-defaults", "row-tracking")

  private def readerFeaturesOf(m: Manifest): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (m.colmap.nonEmpty || m.droppedPhys.nonEmpty) b += "column-mapping"
    if (m.entries.exists(_.dv.isDefined)) b += "deletion-vectors"
    if (m.transforms.nonEmpty || m.retiredTransforms.nonEmpty)
      b += "partition-transforms"
    if (m.schema.exists(_.fields.exists(_.metadata.contains("EXISTS_DEFAULT"))))
      b += "column-defaults"
    // a pre-row-tracking reader would fail on the rid entry tokens
    // anyway — the feature gate turns that into a clear upgrade error
    if (m.rowIdHigh.isDefined || m.entries.exists(_.rid.isDefined))
      b += "row-tracking"
    b.result()
  }

  /** Writer features this library implements — the WRITER half of the
    * Delta table-features model, mirroring [[SupportedReaderFeatures]].
    * A feature is writer-gated when a commit that IGNORES it corrupts
    * an invariant every consumer then trusts: committing to a
    * row-tracked table without advancing rid bases, to an identity
    * table without assigning values, to a constrained table without
    * enforcing the CHECK, to a mapped table under logical names, to a
    * txn-watermarked table without honoring replay dedup. Every
    * published version lists the features a writer must implement
    * (`#writerFeatures=`, derived from manifest state, never mutable),
    * and every commit path refuses a table whose header lists a
    * feature outside this set — BEFORE file finding or data writes.
    * Reading such a table stays allowed (ignoring a writer-only
    * feature cannot change read results); that is the reader gate's
    * job. Writer features are a superset of reader features: a writer
    * must reconstruct current state to commit against it, so
    * everything a reader needs, a writer needs.
    *
    * FEATURE-AUTHORING CONTRACT (what [[vacuum]]'s and relocate's
    * gate-free operation depends on — binding on every future
    * feature, not advisory): in this log design, ENTRY LINES ALONE
    * define file liveness. A feature may add headers that constrain
    * how commits are produced (writer feature) or change how entries
    * are interpreted (reader feature), but a feature that moved
    * liveness into a header — naming data files outside the entry
    * list — changes what readers must reconstruct and is therefore
    * definitionally a READER feature and MUST be listed in
    * `#readerFeatures=`. Unknown reader features refuse at parse, so
    * retention can never plan over state it cannot interpret; that is
    * why vacuum/relocate safely skip the writer gate (forward-carry)
    * while every DML entry point enforces it. Violating this rule —
    * shipping a liveness-moving feature as writer-only — would let an
    * older library's vacuum delete files the new feature still
    * references. HeaderRoundTripSpec pins the mechanical half (every
    * emitted header is a modeled prefix); this paragraph is the
    * semantic half. */
  private[lake] val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++
      Set("identity-columns", "generated-columns", "check-constraints",
        "idempotent-writes", "clustering")

  private def writerFeaturesOf(m: Manifest): Seq[String] = {
    val b = Seq.newBuilder[String]
    b ++= readerFeaturesOf(m)
    m.schema.foreach { sc =>
      if (identityColumnsOf(sc).nonEmpty) b += "identity-columns"
      if (generatedColumnsOf(sc).nonEmpty) b += "generated-columns"
    }
    if (m.constraints.nonEmpty) b += "check-constraints"
    if (m.txns.nonEmpty) b += "idempotent-writes"
    // a writer unaware of clustering would carry a rewritten file's
    // stale `cl=` mark forward, making OPTIMIZE INCREMENTAL silently
    // skip it — a write-side invariant, so writer-gated
    if (m.clusterCols.nonEmpty || m.entries.exists(_.clusterTag.isDefined))
      b += "clustering"
    b.result()
  }

  /** The writer-features commit gate: refuse to commit against a
    * manifest advertising a writer feature this library does not
    * implement. Checked at every DML/DDL entry point right after the
    * base-manifest load (before file finding or any data write) and
    * again as an inescapable backstop inside [[publishManifest]] —
    * the gate is against the RAW stored header (`m.writerFeatures`,
    * populated only by parse), so a manifest written by a future
    * library can never be committed over by one that would silently
    * break its write-side invariants. */
  private[lake] def requireWriterFeatures(m: Manifest, path: String): Unit = {
    val t0 = System.nanoTime()
    val unknown = m.writerFeatures.filterNot(SupportedWriterFeatures)
    writerGateNanos.add(System.nanoTime() - t0)
    require(unknown.isEmpty,
      s"table at $path requires writer feature(s) [${unknown.mkString(", ")}] " +
        "this library does not implement (supported: " +
        s"${SupportedWriterFeatures.toSeq.sorted.mkString(", ")}) — " +
        "upgrade the library before writing; reads remain allowed")
  }

  /** Attribution counter, NOT a bypass: total wall nanos spent in
    * the writer-features gate (the entry-point header checks plus the
    * [[publishManifest]] backstop's prev-version resolution + cached
    * manifest fetch). ScaleBench's `commit_overhead` entry reads the
    * delta around N sequential small commits to pin the gate's share
    * of commit cost (contract ≤5%); the measured window deliberately
    * OVER-attributes — the backstop's prev-manifest resolution is
    * work delta publishing needs anyway — so a green contract here
    * is an upper bound on the gate's true marginal cost. */
  private[graft] val writerGateNanos = new java.util.concurrent.atomic.LongAdder

  /** Every header prefix this library models. [[parseManifest]]
    * carries any other `#` line verbatim in
    * `Manifest.unknownHeaders`; keep this list in sync with
    * [[headerBlock]]'s emissions. */
  private[lake] val KnownHeaderPrefixes: Seq[String] = Seq(
    "#readerFeatures=", "#writerFeatures=", "#schema=", "#op=",
    "#constraints=", "#ptransforms=", "#ptransformsRetired=", "#txns=",
    "#bloomCols=", "#opKeys=", "#colmap=", "#colsDropped=",
    "#autocompact=", "#autocluster=", "#clusterCols=", "#rowIdHigh=",
    "#delta=")

  private[lake] def headerBlock(m: Manifest): String =
    (readerFeaturesOf(m) match {
      case Nil => ""
      case fs  => s"#readerFeatures=${fs.mkString(",")}\n"
    }) +
    // Forward-carry (writer-features half): when the RAW stored
    // header advertises a feature this library does not implement,
    // re-emit it BYTE-IDENTICAL instead of re-deriving — vacuum's
    // delta→checkpoint materialization and relocate re-serialize
    // manifests of tables they cannot data-write, and a re-derived
    // header would silently LAUNDER the unknown feature away. With
    // no unknown feature the derived set is authoritative (the
    // commit gate proved we implement everything the raw set names,
    // and state decides what the next writer must implement).
    (if (m.writerFeatures.exists(!SupportedWriterFeatures(_)))
      s"#writerFeatures=${m.writerFeatures.mkString(",")}\n"
    else writerFeaturesOf(m) match {
      case Nil => ""
      case fs  => s"#writerFeatures=${fs.mkString(",")}\n"
    }) +
    m.schema.map(s => s"#schema=${s.json}\n").getOrElse("") +
      m.op.map(o => s"#op=$o\n").getOrElse("") +
      (if (m.constraints.nonEmpty)
        s"#constraints=${encodeConstraints(m.constraints)}\n" else "") +
      (if (m.transforms.nonEmpty)
        s"#ptransforms=${PartitionTransform.encode(m.transforms)}\n" else "") +
      (if (m.retiredTransforms.nonEmpty)
        s"#ptransformsRetired=${PartitionTransform.encode(m.retiredTransforms)}\n" else "") +
      (if (m.txns.nonEmpty) s"#txns=${encodeTxns(m.txns)}\n" else "") +
      (if (m.bloomCols.nonEmpty)
        s"#bloomCols=${m.bloomCols.map(java.net.URLEncoder.encode(_, "UTF-8"))
          .mkString(",")}\n" else "") +
      (if (m.opKeys.nonEmpty)
        s"#opKeys=${m.opKeys.map(java.net.URLEncoder.encode(_, "UTF-8"))
          .mkString(",")}\n" else "") +
      (if (m.colmap.nonEmpty)
        s"#colmap=${encodeConstraints(m.colmap)}\n" else "") +
      (if (m.droppedPhys.nonEmpty)
        s"#colsDropped=${m.droppedPhys.map(java.net.URLEncoder.encode(_, "UTF-8"))
          .mkString(",")}\n" else "") +
      m.autoCompact.map { case (n, r) => s"#autocompact=$n#$r\n" }.getOrElse("") +
      m.autoCluster.map(n => s"#autocluster=$n\n").getOrElse("") +
      (if (m.clusterCols.nonEmpty)
        s"#clusterCols=${m.clusterCols.map(java.net.URLEncoder.encode(_, "UTF-8"))
          .mkString(",")}\n" else "") +
      m.rowIdHigh.map(h => s"#rowIdHigh=$h\n").getOrElse("") +
      // unmodeled headers ride verbatim, last (order among them
      // preserved from parse) — see Manifest.unknownHeaders
      m.unknownHeaders.map(_ + "\n").mkString

  private def entryLine(e: Entry): String = {
    val rows = if (e.rows >= 0) s"\trows=${e.rows}" else ""
    val rid = e.rid.map(b =>
      if (e.ridMat) s"\trid=$b#m" else s"\trid=$b").getOrElse("")
    val cl = e.clusterTag.map(t => s"\tcl=$t").getOrElse("")
    val dv = e.dv.map { case (p, n) =>
      s"\tdv=${java.net.URLEncoder.encode(p, "UTF-8")}#$n" }.getOrElse("")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val sstats = e.sstats.map { case (c, lo, hi) =>
      s"\tsstat=${enc(c)}#${enc(lo)}#${enc(hi)}" }.mkString
    // base64 never contains '#' or tab, so the 2-part split is safe
    val blooms = e.blooms.map { case (c, payload) =>
      s"\tbloom=${enc(c)}#$payload" }.mkString
    val nulls = e.nulls.map { case (c, n) =>
      s"\tnulls=${enc(c)}#$n" }.mkString
    val stats = e.stats.map { case (c, lo, hi) => s"\t$c\t$lo\t$hi" }.mkString
    // rid must follow dv: the dv token is positional (first after
    // rows), the tagged tokens (rid/bloom/sstat/nulls) are not
    s"${e.commitDir}\t${e.filePath}$rows$dv$rid$cl$blooms$sstats$nulls$stats"
  }

  /** Serialized CHECKPOINT manifest (header lines + one entry line
    * per live file) — written by [[publishManifest]] at checkpoint
    * versions, [[relocate]], and [[vacuum]]'s materialization;
    * [[readManifestFull]] is its inverse. Headers ride EVERY version
    * file (delta or checkpoint) — they are O(1)-sized and per-version
    * (op, txn watermarks), so only the entry list is incremental. */
  private[lake] def manifestBytes(m: Manifest): Array[Byte] =
    (headerBlock(m) + entryLines(m.entries)).getBytes("UTF-8")

  /** Serialize entry lines, in parallel above the same threshold the
    * parser uses (entryLine is pure; order preserved by index). The
    * checkpoint write at large live-file counts is the commit-side
    * twin of the parse hot loop. */
  private def entryLines(entries: Seq[Entry]): String =
    if (entries.size < 50000) entries.map(entryLine).mkString("\n")
    else {
      val arr = entries.toArray
      val out = new Array[String](arr.length)
      java.util.stream.IntStream.range(0, arr.length).parallel()
        .forEach(i => out(i) = entryLine(arr(i)))
      out.mkString("\n")
    }

  /** Serialized DELTA manifest: same headers, then the touched
    * entries only, signed (`-` removed from the base, `+` added). */
  private[lake] def deltaManifestBytes(m: Manifest, base: Long,
      adds: Seq[Entry], removes: Seq[Entry]): Array[Byte] =
    (headerBlock(m) + s"#delta=$base\n" +
      (removes.map(e => s"-\t${entryLine(e)}") ++
        adds.map(e => s"+\t${entryLine(e)}")).mkString("\n")).getBytes("UTF-8")

  /** Post-rename relocation: manifests record ABSOLUTE paths, so a
    * table whose directory moved from `fromPath` to `path` must have
    * every version's recorded commit-dir/file/DV paths re-anchored.
    * Pure driver-side metadata IO (one small file per version),
    * rewritten in place — the caller must guarantee no concurrent
    * writers (the table was just renamed; anyone still writing to the
    * OLD path is already broken). Scheme prefixes (`file:`, `s3a:`)
    * are preserved: only the path suffix under `fromPath` is moved. */
  private[graft] def relocate(spark: SparkSession, path: String,
      fromPath: String): Unit = {
    val from = realPathOf(fromPath).stripSuffix("/")
    val to = realPathOf(path).stripSuffix("/")
    def remap(p: String): String = {
      val i = p.indexOf(from + "/")
      if (i >= 0) p.take(i) + to + p.drop(i + from.length) else p
    }
    val f = fs(spark, path)
    // Read EVERY version before rewriting any: the rewrite converts
    // deltas to checkpoints with remapped paths, and replaying a
    // still-delta v(n+1) onto an already-remapped v(n) would fail
    // (its removal entries reference the old paths).
    val all = versions(spark, path).map(v => v -> readManifestFull(spark, path, v))
    // no writer-features gate (same forward-carry posture as vacuum):
    // the rewrite below is a lossless re-serialization — raw unknown
    // `#writerFeatures=` and unmodeled headers ride verbatim (see
    // headerBlock) — with only recorded paths re-anchored, so a
    // renamed future-library table keeps its protocol intact
    all.foreach { case (v, m) =>
      val mapped = m.copy(entries = m.entries.map(e => e.copy(
        commitDir = remap(e.commitDir),
        filePath = remap(e.filePath),
        dv = e.dv.map { case (dp, n) => (remap(dp), n) })))
      val out = f.create(new Path(s"${logDir(path)}/v$v"), true)
      try out.write(manifestBytes(mapped)) finally out.close()
    }
    // a renamed TABLE carries its branch logs along — each branch's
    // manifests hold the same absolute paths and re-anchor the same
    // way (the recursion passes the branch HANDLE; the remap range is
    // the shared real table dir either way)
    if (branchOf(path).isEmpty)
      branches(spark, path).foreach(b =>
        relocate(spark, branchHandle(path, b), fromPath))
    // the in-place rewrites above rely on (path, mtime, length) cache
    // keys to self-invalidate; a rename to an equal-length path on a
    // coarse-mtime filesystem could leave a stale manifest pointing at
    // the old location — relocate is rare, so table-wide invalidation
    // is cheap insurance
    clearManifestCache()
  }

  final class ConcurrentCommitException(path: String, attempts: Int)
    extends RuntimeException(s"gave up after $attempts contended commit attempts at $path")

  /** Hive partition columns of the table's current layout, inferred
    * from a live file's path relative to its commit dir (the `k=v`
    * directory components). Rewriting maintenance ([[merge]],
    * [[compact]]) must keep this layout or [[overwritePartitions]]'s
    * path-fragment matching silently stops finding the rewritten
    * files. */
  private def inferPartitionCols(entries: Seq[Entry],
      rev: Map[String, String] = Map.empty): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // dirs carry PHYSICAL names; `rev` (physical -> logical) hands
    // callers the logical layout their frames actually use
    entries.headOption.toSeq.flatMap { e =>
      e.filePath.stripPrefix(e.commitDir).split("/")
        .filter(seg => seg.nonEmpty && seg.contains("=")).toSeq
        .map(seg => ExternalCatalogUtils.unescapePathName(seg.takeWhile(_ != '=')))
        .map(c => rev.getOrElse(c, c))
    }
  }

  /** Parquet files under `dir`, recursing into partition dirs.
    * `listStatus`, not `listFiles`: the latter's `LocatedFileStatus`
    * loads permissions, which the local file system does by forking
    * `ls -ld` once per file. */
  private def listParquet(f: FileSystem, dir: Path): Seq[String] =
    f.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) listParquet(f, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath.toString)
      else Nil
    }

  /** Top-level columns a file records NULL counts for (plus every
    * stats column): bounds manifest growth on wide tables. */
  private val NullStatsMaxCols = 32

  /** Footer reads of every commit share one pool of at most 16 daemon
    * threads, created on first use: a commit pays no pool start-up,
    * and an idle pool keeps no JVM alive. */
  private lazy val footerPool: scala.concurrent.ExecutionContext = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(16, (r: Runnable) => {
        val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }))
  }

  /** Manifest entries for a freshly written commit dir, each with the
    * footer metadata it was read from. Footer reads (row count +
    * per-column min/max, the blooms of `bloomCols`) are driver-side
    * metadata IO (the table-format norm), but SEQUENTIAL opens would
    * bottleneck a many-file commit — one open per file, on
    * [[footerPool]]. */
  private def commitFooters(spark: SparkSession, commitDir: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil)
      : Seq[(Entry, org.apache.parquet.hadoop.metadata.FileMetaData)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = footerPool
    // sorted: FileSystem listing order is not a contract, and entry
    // order is semantic under row tracking (bases assign in entry
    // order) — lexicographic part-file order equals the writer's
    // partition index order, so a clustered/sorted write gets row
    // ids monotone in its sort key, deterministically
    val files = listParquet(fs(spark, commitDir), new Path(commitDir)).sorted
    Await.result(Future.traverse(files)(f => Future {
      val (e, meta) = footerEntry(spark, commitDir, f, statsCols, bloomCols)
      (withPartitionStats(e), meta)
    }), Duration.Inf)
  }

  private def commitEntries(spark: SparkSession, commitDir: String,
      statsCols: Seq[String], bloomCols: Seq[String]): Seq[Entry] =
    commitFooters(spark, commitDir, statsCols, bloomCols).map(_._1)

  /** Files a writer already put on disk, for [[commit]] to publish:
    * the entries it reported (footer row counts at least, and the
    * blooms the writer built; no footer is re-opened), the LOGICAL
    * schema of their rows and the logical→physical column mapping they
    * were written under. */
  private case class Written(spark: SparkSession, entries: Seq[Entry],
      schema: StructType, colmap: Map[String, String])

  /** What [[commit]] did: published `version`, or found its `txn`
    * already applied (`replay`) with the table at `version`. */
  private case class Committed(version: Long, replay: Boolean)

  /** The write funnel a commit's rows went through (identity values,
    * generated columns) changed before its CAS: a concurrent writer
    * assigned identity values or evolved those columns, so the written
    * values are stale. Nothing was published; re-running the commit
    * from its source rows derives them afresh. */
  final class WriteFunnelChanged(msg: String) extends IllegalArgumentException(msg)

  /** The CAS retry policy of every manifest publish: run `attempt`
    * until it yields a result, sleeping 10–60 ms between losses, and
    * give up after `maxAttempts`. */
  private def casRetry[A](path: String, maxAttempts: Int = 20)(attempt: => Option[A]): A = {
    var n = 0
    while (n < maxAttempts) {
      val r = attempt
      if (r.isDefined) return r.get
      n += 1
      Thread.sleep(scala.util.Random.nextInt(50).toLong + 10)
    }
    throw new ConcurrentCommitException(path, maxAttempts)
  }

  /** Row-id bases for `entries` from the watermark `high`, in entry
    * order (base + footer rows); `keepAssigned` leaves entries that
    * already carry a base alone. An entry without a footer row count
    * fails with `noRows(entry)`. Returns the entries and the advanced
    * watermark. */
  private def assignRowIds(entries: Seq[Entry], high: Long,
      keepAssigned: Boolean = false)(noRows: Entry => String): (Seq[Entry], Long) = {
    var b = high
    (entries.map { e =>
      if (keepAssigned && e.rid.isDefined) e
      else {
        require(e.rows >= 0L, noRows(e))
        val x = e.copy(rid = Some(b))
        b += e.rows
        x
      }
    }, b)
  }

  /** The writer of every table data file: zstd parquet whose footers
    * carry the blooms of the physical columns `bloomCols`
    * ([[BloomParquetFileFormat]]). */
  private def dataWriter(df: DataFrame,
      bloomCols: Seq[String]): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.mode("errorifexists").option("compression", "zstd")
      .format(classOf[BloomParquetFileFormat].getName)
      .option(WriterBlooms.ColumnsOption, WriterBlooms.encodeColumns(bloomCols))

  /** Reads `paths` as logical rows of `schema`, stored under `colmap`. */
  private def readLogical(spark: SparkSession, paths: Seq[String],
      schema: StructType, colmap: Map[String, String]): DataFrame =
    toLogical(spark.read.schema(physicalSchema(schema, colmap)).parquet(paths: _*),
      schema, colmap)

  /** Optimistic-concurrency commit, the one publish loop of every data
    * write: the data files are written ONCE to a unique dir, then the
    * manifest is advanced with a rename-as-CAS loop — a writer that
    * loses the race re-reads the winner's manifest, re-applies its own
    * carryOver, and retries with the next version number. No lock
    * service needed; contention costs one manifest rewrite per retry,
    * never a data rewrite. A crashed attempt (data written, manifest
    * never committed) leaves an orphan dir that no manifest references.
    *
    * The input is a frame to write, or files already written
    * ([[Written]]: the streaming sink's epoch, [[appendBatch]]'s shared
    * job). Written files publish as given when the table's write
    * funnel is trivial (no identity or generated columns, no partition
    * transforms); otherwise they are read back as logical rows and
    * written through the funnel like a frame, and their own dirs are
    * dropped once the rewrite publishes.
    *
    * `txn`: Delta's idempotent-write shape (`txnAppId`/`txnVersion`)
    * for foreachBatch writers and the streaming sink — when the latest
    * manifest already records `appId -> version' >= version`, the
    * commit is a REPLAY: nothing is applied and the result says so
    * (checked before the data write, and re-checked inside the CAS
    * loop with cleanup of this commit's own files); otherwise the
    * watermark publishes atomically with the commit, so a crash can
    * never double-apply an epoch. */
  private def commit(input: Either[DataFrame, Written], path: String,
      partitionCols: Seq[String], carryOver: Seq[Entry] => Seq[Entry],
      maxAttempts: Int = 20, statsCols: Seq[String] = Nil, op: String = "append",
      newTransforms: Seq[PartitionTransform] = Nil,
      opKeys: Seq[String] = Nil, ridCarried: Boolean = false,
      txn: Option[(String, Long)] = None,
      clusterTag: Option[String] = None,
      newClusterCols: Seq[String] = Nil): Committed = {
    val spark = input.fold(_.sparkSession, _.spark)
    val inCols = input.fold(_.columns.toSeq, _.schema.fieldNames.toSeq)
    // `__rid` is the row-tracking physical column: only the internal
    // rewrite paths may pass it (ridCarried), never user data
    require(ridCarried || !inCols.contains(RidCol),
      s"column name '$RidCol' is reserved for row tracking")
    val prevMeta: Option[Manifest] = latestVersion(spark, path)
      .map(v => readManifestFull(spark, path, v))
    // writer-features gate BEFORE any data write (backstop in publish)
    prevMeta.foreach(requireWriterFeatures(_, path))
    // replay short-circuit BEFORE any data writes (see `txn` doc)
    txn.foreach { case (app, ver) =>
      if (prevMeta.exists(_.txns.get(app).exists(_ >= ver)))
        return Committed(latestVersion(spark, path).getOrElse(0L), replay = true)
    }
    // a first commit CREATES a table — but never a branch: a write
    // through a stale handle after dropBranch (or a typo'd branch
    // name) must fail, not silently resurrect the ref as a fresh
    // one-commit history
    require(branchOf(path).isEmpty || prevMeta.nonEmpty,
      s"no branch '${branchOf(path).get}' at ${realPathOf(path)} — " +
        "createBranch first; a write through a dropped or unknown " +
        "branch handle does not re-create the branch")
    // CHECK constraints ride a frame's write job as a guard projection
    // (no extra pass): a violating row fails the write before anything
    // can publish. Constraints the write did not guard — all of them
    // for files written elsewhere, those added concurrently for a
    // frame — are checked on the written files inside the CAS loop.
    val guardedCs: Map[String, String] =
      prevMeta.map(_.constraints).getOrElse(Map.empty)
    val bloomCols = prevMeta.map(_.bloomCols).getOrElse(Nil)
    // identity/generated-column signature of the schema this write
    // derived its values from (or didn't: a pre-create read sees
    // none). A CREATE or concurrent evolution landing between this
    // read and the CAS would otherwise publish files that silently
    // null-fill identity/generated columns under the creator's schema
    // (mergeSchemas keeps the fields; the colmap guard passes because
    // both mappings are empty) — so the CAS re-checks the signature,
    // exactly like the colmap and watermark guards.
    def identGenSig(s: Option[StructType])
        : (Seq[(String, Long, Boolean)], Seq[(String, String)]) = s.map { sc =>
      (identityColumnsOf(sc).map(t => (t._1.name, t._3, t._4)),
        generatedColumnsOf(sc).map { case (f, e) => (f.name, e) })
    }.getOrElse((Nil, Nil))
    val preIdentGenSig = identGenSig(prevMeta.flatMap(_.schema))
    // hidden partitioning: the transform set is fixed at table
    // creation (changed only through evolvePartitionTransforms) and
    // every write path re-derives the partition columns from the
    // CURRENT spec — a rewrite that moved a row's source value
    // re-partitions the row for free, and a rewrite on an evolved
    // table migrates the rewritten rows to the current layout
    if (prevMeta.exists(_.transforms.isEmpty))
      require(newTransforms.isEmpty,
        s"table at $path was created without partition transforms — " +
          "set them on the first commit or evolvePartitionTransforms")
    val transforms = prevMeta.map(_.transforms).filter(_.nonEmpty) match {
      case None => newTransforms
      case Some(recorded) =>
        require(newTransforms.isEmpty ||
            newTransforms.map(_.spec) == recorded.map(_.spec),
          s"table at $path already records partition transforms " +
            s"[${recorded.map(_.spec).mkString(", ")}] — evolve them with " +
            "evolvePartitionTransforms, not by re-creating")
        recorded
    }
    if (transforms.isEmpty)
      require(inCols.forall(!_.startsWith("__p_")),
        "column prefix '__p_' is reserved for hidden partition columns")
    val commitDir =
      s"${realPathOf(path)}/data/c-${java.util.UUID.randomUUID.toString.take(12)}"
    val passThrough = input.exists(w => w.entries.isEmpty ||
      (preIdentGenSig == ((Nil, Nil)) && transforms.isEmpty && partitionCols.isEmpty))
    // the written rows: their logical schema, the logical partition
    // columns of their layout, the mapping they are stored under, the
    // identity watermarks they consumed, and their entries
    val (dataSchema, partCols, cm, identBumps, files) = input match {
      case Right(w) if passThrough =>
        (w.schema, Nil, w.colmap, Map.empty[String, (Long, Long)], w.entries)
      case _ =>
        val df = input.fold(identity, w => readLogical(spark,
          w.entries.map(_.filePath), w.schema, w.colmap))
        // IDENTITY assignment first (a generated expression may derive
        // from an identity column), then GENERATED columns — both BEFORE
        // the partition transforms, so a transform may partition on either
        val (dfI, bumps) =
          withIdentityColumns(df, prevMeta.flatMap(_.schema), op)
        val dfG = withGeneratedColumns(dfI, prevMeta.flatMap(_.schema))
        val (data, partCols) =
          if (transforms.isEmpty) (dfG, partitionCols)
          else (PartitionTransform.apply(dfG, transforms),
            // caller-supplied cols from an inferred MIXED-era layout
            // (rewrite paths) must not leak retired __p dirs into the write
            transforms.map(_.pcol) ++ partitionCols.filterNot(c =>
              c.startsWith("__p_") || transforms.map(_.pcol).contains(c)))
        val guarded = withConstraintGuard(data, guardedCs)
        // column mapping: data files store PHYSICAL names — the logical
        // frame is renamed just before the write (constraint guards above
        // were bound against logical names), partition dirs included.
        // RE-ADD AFTER DROP via the write path: a NEW column whose
        // identity physical name is tombstoned (or serving a renamed
        // column) is written under a fresh physical name and the mapping
        // entry publishes with this commit — same policy as addColumns
        val cm = prevMeta.map { pm =>
          pm.colmap ++ freshPhysicalNames(pm, data.schema.fieldNames.toSeq
            .filterNot(c => c == RidCol || pm.schema.exists(_.fieldNames.contains(c))))
        }.getOrElse(Map.empty[String, String])
        val physData =
          if (cm.isEmpty) guarded
          else guarded.select(guarded.columns.toSeq.map(c =>
            col(c).as(cm.getOrElse(c, c))): _*)
        val physPartCols = partCols.map(c => cm.getOrElse(c, c))
        val physBloomCols = bloomCols.map(c => cm.getOrElse(c, c))
        val writer = dataWriter(physData, physBloomCols)
        (if (physPartCols.nonEmpty) writer.partitionBy(physPartCols: _*) else writer)
          .save(commitDir)
        // files materializing __rid record its footer min/max too, so
        // id-addressed maintenance (deleteRowIds) range-prunes rewritten
        // files from the manifest alone, same as position-derived ranges
        val physStatsCols = (statsCols.map(c => cm.getOrElse(c, c)) ++
          (if (ridCarried && physData.columns.contains(RidCol)) Seq(RidCol)
           else Nil)).distinct
        (data.schema, partCols, cm, bumps,
          commitEntries(spark, commitDir, physStatsCols, physBloomCols))
    }
    // the writer hashed each file's blooms; files written elsewhere
    // keep only those of the columns the table still names
    val physBlooms = bloomCols.map(c => cm.getOrElse(c, c)).toSet
    val added: Seq[Entry] =
      files.map(e => e.copy(blooms = e.blooms.filter(b => physBlooms(b._1))))
    // written here: our dir (hive discovery yields the partition
    // columns); passed through: the writer's files
    val writtenPaths =
      if (passThrough) files.map(_.filePath) else Seq(commitDir)
    var checked: Set[String] = if (passThrough) Set.empty else guardedCs.keySet
    def dropOwn(): Unit =
      if (!passThrough) fs(spark, path).delete(new Path(commitDir), true): Unit
    val (out, base) = try casRetry(path, maxAttempts) {
      // linearized log: the commit targets latest+1 and bases its
      // carryOver on exactly the latest manifest; if another writer
      // publishes first, the CAS fails and we re-read their manifest
      val version = latestVersion(spark, path).getOrElse(0L) + 1
      val m =
        if (version == 1L) Manifest(None, Nil, None, transforms = transforms)
        else readManifestFull(spark, path, version - 1)
      val prevCols = m.schema.map(_.fieldNames.toSet).getOrElse(Set.empty[String])
      // identity/generated values (or their absence) were derived
      // against the pre-write schema — a schema that gained (or
      // changed) identity/generated columns since would make the
      // written files silently null-fill them
      if (identGenSig(m.schema) != preIdentGenSig)
        throw new WriteFunnelChanged(s"concurrent identity/generated-column " +
          s"change at $path during commit — rerun")
      // COLUMN MAPPING, one rule for a frame's re-adds and a writer's
      // minted names: our files were written under `cm`. Its entries
      // for columns the table knows must equal the current colmap — a
      // concurrent rename/drop would make their physical names stale —
      // and every NEW column's physical name (minted, or its identity
      // name) must still be free of tombstones and mapped names: a
      // concurrent drop/add/rename could have taken it, and either
      // collision would silently read another column's bytes
      val (known, minted) = cm.partition { case (c, _) => prevCols(c) }
      require(m.colmap == known,
        s"concurrent column-mapping change at $path during commit — rerun")
      val taken = m.droppedPhys.toSet ++ m.colmap.values ++ prevCols.map(m.phys)
      (minted.keySet ++ dataSchema.fieldNames.filterNot(c =>
          prevCols(c) || c == RidCol)).foreach { c =>
        val p = cm.getOrElse(c, c)
        require(!taken(p), s"cannot add column '$c' at $path: its physical " +
          s"name '$p' collides with a dropped or renamed column's on-disk data — rerun")
      }
      // the partition spec may have CHANGED between our pre-write read
      // and this attempt (a concurrent evolvePartitionTransforms or
      // restore): keep the concurrent change — publishing our earlier
      // snapshot of the headers would silently revert it — and file
      // OUR layout's spec under the retired list, so the files this
      // commit wrote (an old-era layout now) keep pruning in readWhere
      // exactly like any other retired era
      val retiredOut =
        if (m.transforms.map(_.spec) == transforms.map(_.spec)) m.retiredTransforms
        else {
          val curSpecs = m.transforms.map(_.spec).toSet
          (m.retiredTransforms ++ transforms).filterNot(t => curSpecs(t.spec))
            .groupBy(_.spec).map(_._2.head).toSeq
        }
      // every constraint the write did not guard is checked on the
      // written files: one scan of them, all constraints in one job
      val unchecked = m.constraints -- checked
      if (unchecked.nonEmpty && added.nonEmpty) {
        readLogical(spark, writtenPaths, dataSchema, cm)
          .select(violatedArray(unchecked).as("v")).filter(size(col("v")) > 0)
          .limit(1).collect().headOption.foreach { r =>
            val name = r.getSeq[String](0).head
            throw new IllegalArgumentException(s"CHECK constraint '$name' " +
              s"(${unchecked(name)}) is violated by this commit's data at " +
              s"$path — nothing published")
          }
        checked ++= unchecked.keySet
      }
      // drift gate + schema evolution, recomputed per attempt (a
      // contending writer may have evolved the schema): additive
      // columns merge in, a type change on a shared column is drift
      // and fails loudly before any manifest is published. The
      // row-tracking `__rid` column is physical-only — it is written
      // into the files but stripped from the recorded schema, so user
      // reads (built from the schema) never see it.
      val merged = mergeSchemas(m.schema,
        StructType(dataSchema.fields.filterNot(_.name == RidCol)), path)
      // IDENTITY watermark: our values were assigned from the
      // pre-write watermark — a concurrent writer advancing it since
      // would make them collide, so the commit cannot publish (values
      // are baked into the written files). The bump (step × rows
      // written, gap-tolerant) publishes with this commit via the
      // schema metadata. Every written entry must carry its footer row
      // count: clamping a missing count (−1) to 0 would under-advance
      // the watermark and a later commit would silently reuse
      // already-assigned values.
      identBumps.foreach { case (n, (high, _)) =>
        val cur = m.schema.flatMap(_.fields.find(_.name == n))
          .map(f => if (f.metadata.contains(IdentityHighKey))
            f.metadata.getLong(IdentityHighKey)
          else identityInfo(f).map(_.getStart).getOrElse(high))
        if (!cur.forall(_ == high))
          throw new WriteFunnelChanged(
            s"concurrent identity assignment on '$n' at $path — rerun")
      }
      val identRows =
        if (identBumps.isEmpty) 0L
        else {
          added.foreach(e => require(e.rows >= 0L,
            s"identity assignment at $path needs a footer row count " +
              s"for every written file — ${e.filePath} has none"))
          added.map(_.rows).sum
        }
      val published =
        if (identBumps.isEmpty) merged
        else StructType(merged.fields.map { f =>
          identBumps.get(f.name) match {
            case None => f
            case Some((high, step)) => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong(IdentityHighKey, high + step * identRows).build())
          }
        })
      // ROW TRACKING: bases assigned HERE, inside the CAS loop, from
      // the latest watermark — pure driver-side metadata (ids = base +
      // row position from footer row counts), so appends pay zero
      // data-path cost and a CAS retry simply recomputes; nothing is
      // baked that a concurrent writer could collide with (rewritten
      // files materialize EXISTING ids, stable by definition, and
      // their inserted rows fall back to base + position).
      val (addedOut, ridHighOut) = m.rowIdHigh match {
        case None => (added, None)
        case Some(high) =>
          val (es, b) = assignRowIds(added.map(_.copy(ridMat = ridCarried)), high)(e =>
            s"row tracking at $path needs a footer row count for every " +
              s"written file — ${e.filePath} has none")
          (es, Some(b))
      }
      // a concurrent retry of the SAME epoch may have published while
      // we were writing — abandon our unreferenced files and report
      // the winner's version (exactly-once under races too)
      if (txn.exists { case (app, ver) => m.txns.get(app).exists(_ >= ver) }) {
        dropOwn()
        Some((Committed(version - 1, replay = true), m))
      } else if (publishManifest(spark, path, version, m.copy(
          schema = Some(published),
          entries = carryOver(m.entries) ++
            addedOut.map(e => clusterTag.fold(e)(t => e.copy(clusterTag = Some(t)))),
          op = Some(op), retiredTransforms = retiredOut,
          txns = txn.fold(m.txns)(t => mergeTxns(m.txns, Map(t))),
          opKeys = opKeys, colmap = cm, rowIdHigh = ridHighOut,
          clusterCols = if (newClusterCols.nonEmpty) newClusterCols else m.clusterCols)))
        Some((Committed(version, replay = false), m))
      else None
    } catch {
      // nothing published: our dir is unreferenced, and a caller that
      // re-runs from its source rows writes a fresh one
      case e @ (_: WriteFunnelChanged | _: ConcurrentCommitException) =>
        dropOwn(); throw e
    }
    if (!out.replay) {
      // a rewrite of pre-written files supersedes them
      if (!passThrough) input.foreach(w =>
        w.entries.map(_.commitDir).distinct.foreach(d =>
          fs(spark, path).delete(new Path(d), true): Unit))
      // commit-time policies (Delta autoOptimize posture):
      // best-effort, never fail the user's commit, and fire only
      // from NON-policy commits (a policy commit re-evaluating
      // policies could ping-pong; the next user commit re-checks
      // anyway). Compaction first — its merged output lands
      // UNMARKED (a whole-partition merge spans its full key
      // range; marking it would weaken skipping) and the cluster
      // policy below is what re-clusters it when its region
      // crosses the stale threshold. Streaming epochs are the
      // classic small-file source, so they fire both too.
      if (op != "autocompact" && op != "autocluster") {
        // best-effort, never failing the user's commit — but a
        // PERSISTENTLY failing policy (not just one lost race)
        // would otherwise be invisible while its backlog grows, so
        // the swallow logs what it ate
        if (base.autoCompact.isDefined)
          try maybeAutoCompact(spark, path)
          catch { case scala.util.control.NonFatal(e) =>
            logWarning(s"auto-compaction skipped at $path: ${e.getMessage}") }
        if (base.autoCluster.isDefined)
          try maybeAutoCluster(spark, path)
          catch { case scala.util.control.NonFatal(e) =>
            logWarning(s"auto-clustering skipped at $path: ${e.getMessage}") }
      }
    }
    out
  }

  /** Additive schema evolution with a drift gate: the recorded table
    * schema is the previous schema plus any new incoming columns (old
    * files lacking them read as NULL); an incoming column whose type
    * differs from the recorded one is incompatible drift — silent
    * acceptance would make existing files unreadable under the
    * recorded schema — and fails before the commit publishes.
    * Nullability is not drift (Spark treats it as advisory). */
  private def mergeSchemas(prev: Option[StructType], incoming: StructType,
      path: String): StructType = prev match {
    case None => incoming
    case Some(p) =>
      val prevByName = p.fields.map(f => f.name -> f).toMap
      incoming.fields.foreach { f =>
        prevByName.get(f.name).foreach { old =>
          require(old.dataType == f.dataType,
            s"schema drift at $path: column '${f.name}' is ${old.dataType.simpleString} " +
              s"in the table but ${f.dataType.simpleString} in the incoming data; " +
              "cast the incoming column (type changes are not auto-applied)")
        }
      }
      val newFields = incoming.fields.filterNot(f => prevByName.contains(f.name))
      StructType(p.fields ++ newFields)
  }

  /** Append commit: previous live files all carry over. */
  def append(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Long =
    commit(Left(df), path, partitionCols, identity).version

  /** N small frames → N consecutive APPEND commits sharing ONE Spark
    * write job (guide §1.2 — remove whole jobs): the
    * run-over-run repository shape (q137/q142) otherwise pays one
    * 1-task write job PER 3-row commit, and at 12 runs per gate the
    * fixed job overhead dwarfs the bytes. The shared job writes every
    * frame's files into one staging dir partitioned by a
    * discriminator column (dropped by partitionBy — never lands in
    * the data), each partition's files are renamed into their own
    * commit dir (metadata-only on any FS with rename), and the N
    * manifests publish in order — byte-identical manifests to N
    * sequential [[append]] calls, commit-time policies (auto-compact/
    * -cluster) included, per publish.
    *
    * Falls back to the sequential loop whenever the table carries any
    * write-funnel feature the shared job cannot enforce per frame —
    * CHECK constraints, identity/generated columns, partition
    * transforms, column mapping, row tracking, branches — or the
    * frames' schemas differ (schema evolution needs per-commit
    * merges). The fallback is the identical result, just not shared;
    * commit() publishes the shared job's files as given only while the
    * funnel is still trivial, and writes them through it otherwise.
    * Intended for NONEMPTY driver-bounded frames (an empty frame
    * contributes a fileless commit, like an empty partitioned write).
    */
  def appendBatch(dfs: Seq[DataFrame], path: String): Seq[Long] = {
    if (dfs.isEmpty) return Nil
    if (dfs.size == 1) return Seq(append(dfs.head, path))
    val spark = dfs.head.sparkSession
    val prevMeta: Option[Manifest] = latestVersion(spark, path)
      .map(v => readManifestFull(spark, path, v))
    val disc = "__graft_batch_i"
    val featured = prevMeta.exists(m => m.constraints.nonEmpty ||
      m.colmap.nonEmpty || m.transforms.nonEmpty ||
      m.retiredTransforms.nonEmpty || m.rowIdHigh.isDefined ||
      m.schema.exists(s => identityColumnsOf(s).nonEmpty ||
        generatedColumnsOf(s).nonEmpty)) ||
      branchOf(path).isDefined ||
      dfs.exists(_.columns.exists(c => c.startsWith("__p_") ||
        c == RidCol || c == disc)) ||
      dfs.map(_.schema).distinct.size != 1
    if (featured) return dfs.map(append(_, path))
    val real = realPathOf(path)
    val staging =
      s"$real/data/b-${java.util.UUID.randomUUID.toString.take(12)}"
    val bloomCols = prevMeta.map(_.bloomCols).getOrElse(Nil)
    dataWriter(dfs.zipWithIndex
      .map { case (df, i) => df.withColumn(disc, lit(i)) }
      .reduce(_.unionByName(_)), bloomCols)
      .partitionBy(disc).save(staging)
    val f = fs(spark, path)
    val versions = dfs.zipWithIndex.map { case (df, i) =>
      val commitDir =
        s"$real/data/c-${java.util.UUID.randomUUID.toString.take(12)}"
      val src = new Path(s"$staging/$disc=$i")
      if (f.exists(src)) {
        require(f.rename(src, new Path(commitDir)),
          s"could not move batch partition $i into $commitDir")
      } else f.mkdirs(new Path(commitDir)) // empty frame: fileless commit
      commit(Right(Written(spark, commitEntries(spark, commitDir, Nil, bloomCols),
        df.schema, Map.empty)), path, Nil, identity).version
    }
    f.delete(new Path(staging), true)
    versions
  }

  /** `df` extended with the target's GENERATED columns it omits, so a
    * CHECK constraint over a generated column can be evaluated BEFORE
    * the write funnel derives it (the quarantine split's probe — the
    * added columns are dropped again after tagging, never written by
    * the split itself). A constraint referencing an ABSENT identity
    * column is refused loudly: identity values exist only after
    * commit-time assignment, so no pre-commit split can evaluate
    * them. Returns (probe, namesAdded). */
  private def constraintProbe(df: DataFrame, schema: Option[StructType],
      cs: Map[String, String]): (DataFrame, Seq[String]) = {
    if (schema.isEmpty || cs.isEmpty) return (df, Nil)
    def absent(n: String) = !df.columns.exists(_.equalsIgnoreCase(n))
    val gens = generatedColumnsOf(schema.get)
      .filter { case (f, _) => absent(f.name) }
    val idents = identityColumnsOf(schema.get).map(_._1.name).filter(absent)
    if (idents.nonEmpty) {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val identSet = idents.map(_.toLowerCase).toSet
      val offending = cs.filter { case (_, e) =>
        df.sparkSession.sessionState.sqlParser.parseExpression(e)
          .collect { case u: UnresolvedAttribute => u.name.toLowerCase }
          .exists(identSet)
      }
      require(offending.isEmpty,
        s"CHECK constraint(s) ${offending.keys.toSeq.sorted.mkString(", ")} " +
          "reference identity column(s) the write does not provide — " +
          "identity values are assigned at commit time, so a quarantine " +
          "split cannot evaluate them; write through the rejecting API or " +
          "drop the constraint")
    }
    (gens.foldLeft(df) { case (acc, (f, e)) =>
      acc.withColumn(f.name, expr(e).cast(f.dataType))
    }, gens.map(_._1.name))
  }

  /** Quarantine fail-mode append — the reference driver's
    * `fail_mode` gate (reference infra/glue-jobs.tf:28 +
    * jobs/ev_sessions_silver_etl_clean.py:161-164) lifted from the
    * driver into the WRITE PATH. [[append]] is reject mode: one
    * violating row fails the whole batch before anything publishes.
    * This is divert mode: rows violating any recorded CHECK
    * constraint land in `quarantinePath` — itself a snapshot table —
    * with a `_violated` array column naming every failed constraint
    * (sorted, so diagnoses are deterministic), and only compliant
    * rows commit to the table ([[commitSplit]]).
    *
    * The source is evaluated ONCE: the tagged batch is staged to
    * parquet partitioned by the violation flag and read back with its
    * known schema, so each side's commit re-reads only its own
    * partition (pruned, columnar) — never the upstream computation
    * twice. At 100 TB the staging write is the same IO the commit
    * itself costs; the alternative (two passes over the source plan)
    * re-executes arbitrary upstream joins/aggregations.
    *
    * Returns (table version, rows quarantined). With no constraints
    * recorded this is plain [[append]] with 0 quarantined.
    */
  def appendQuarantine(df: DataFrame, path: String, quarantinePath: String,
      partitionCols: Seq[String] = Nil): (Long, Long) = {
    val spark = df.sparkSession
    require(!df.columns.contains("_violated"),
      "column name '_violated' is reserved for quarantine diagnostics")
    require(!df.columns.contains("__q_bad"),
      "column name '__q_bad' is reserved for the quarantine staging flag")
    val m = latestVersion(spark, path).map(v => readManifestFull(spark, path, v))
    val cs: Map[String, String] = m.map(_.constraints).getOrElse(Map.empty)
    if (cs.isEmpty) return (append(df, path, partitionCols), 0L)
    val tagged = tagViolations(df, m.flatMap(_.schema), cs)
    val staging = s"${realPathOf(path)}/_staging/q-" +
      java.util.UUID.randomUUID.toString.take(12)
    tagged.write.mode("errorifexists").option("compression", "zstd")
      .partitionBy("__q_bad").parquet(staging)
    try {
      val staged = spark.read.schema(tagged.schema).parquet(staging)
      val nBad = staged.filter(col("__q_bad") === 1).count()
      (commitSplit(staged, nBad, path, quarantinePath, partitionCols,
        "append", None).version, nBad)
    } finally {
      fs(spark, path).delete(new Path(staging), true); ()
    }
  }

  /** `df` tagged for the quarantine split: `_violated` names the CHECK
    * constraints of `cs` each row violates, and the int flag `__q_bad`
    * (int, not boolean: the staging write partitions on it) marks the
    * violators. The probe derives omitted GENERATED columns so
    * constraints over them split correctly, then drops them (the
    * write funnel re-derives). */
  private def tagViolations(df: DataFrame, schema: Option[StructType],
      cs: Map[String, String]): DataFrame = {
    val (probe, genAdded) = constraintProbe(df, schema, cs)
    probe.withColumn("_violated", violatedArray(cs))
      .withColumn("__q_bad", when(size(col("_violated")) > 0, 1).otherwise(0))
      .drop(genAdded: _*)
  }

  /** One branch per constraint, evaluated inside the row: emits the
    * constraint's name when violated, NULL otherwise; filter() keeps
    * the names (name-sorted, so diagnoses are deterministic) — all
    * codegen'd, no UDF. */
  private def violatedArray(cs: Map[String, String]): Column =
    filter(array(cs.toSeq.sortBy(_._1).map { case (name, e) =>
      when(!coalesce(expr(e), lit(true)), lit(name))
        .otherwise(lit(null).cast("string"))
    }: _*), c => c.isNotNull)

  /** The split both divert-mode writers share: of `tagged`'s rows
    * ([[tagViolations]]), `nBad` violators commit to `quarantinePath`
    * with their `_violated` diagnosis, then the compliant rows to
    * `path`, each through [[commit]] with `op` and `txn`. Quarantine
    * commits FIRST: a crash between the two leaves diverted rows
    * visible in quarantine and the main table unadvanced — never a
    * violating row silently dropped, never a partial batch in the
    * table. NULL evaluations PASS (the reject guard's tri-valued
    * semantics). A side whose write funnel changed concurrently
    * re-runs from the tagged rows. Returns the main table's commit. */
  private def commitSplit(tagged: DataFrame, nBad: Long, path: String,
      quarantinePath: String, partitionCols: Seq[String], op: String,
      txn: Option[(String, Long)]): Committed = {
    def side(df: DataFrame, p: String, pcs: Seq[String]): Committed =
      rerunOnFunnelChange(20)(commit(Left(df), p, pcs, identity, op = op, txn = txn))
    if (nBad > 0L)
      side(tagged.filter(col("__q_bad") === 1).drop("__q_bad"), quarantinePath, Nil)
    side(tagged.filter(col("__q_bad") === 0).drop("__q_bad", "_violated"),
      path, partitionCols)
  }

  /** `run`, re-run while [[WriteFunnelChanged]] says its identity or
    * generated values went stale under a concurrent writer — at most
    * `attempts` runs, the last failure surfacing. */
  private def rerunOnFunnelChange[A](attempts: Int)(run: => A): A =
    try run
    catch { case _: WriteFunnelChanged if attempts > 1 =>
      rerunOnFunnelChange(attempts - 1)(run) }

  /** Quarantine fail-mode variant of [[commitStreamEpoch]] — the
    * streaming sink's divert mode (`.option("failMode",
    * "quarantine")`): the epoch's files, read back as logical rows
    * under `writtenColmap`, are tagged and split exactly like
    * [[appendQuarantine]]'s batch ([[commitSplit]]), and the mixed
    * files are dropped. A fully compliant epoch takes
    * [[commitStreamEpoch]] and its files publish as written.
    *
    * Exactly-once holds PER TABLE via the same (txnAppId, epoch)
    * watermark, carried by both commits: quarantine commits first, so
    * a crash between the two leaves the violators visible and the
    * main table unadvanced; the engine's replay re-splits the epoch,
    * the quarantine commit skips on its watermark, and the clean side
    * commits — every row lands exactly once on exactly one side.
    *
    * Returns (main-table version — None when the whole epoch was a
    * replay, rows quarantined THIS call). */
  def commitStreamEpochQuarantine(spark: SparkSession, path: String,
      quarantinePath: String, files: Seq[(String, String, Long)],
      writeSchema: StructType, txnAppId: String,
      txnVersion: Long,
      writtenColmap: Map[String, String] = Map.empty,
      blooms: Map[String, Seq[(String, String)]] = Map.empty): (Option[Long], Long) = {
    if (streamTxnVersion(spark, path, txnAppId).exists(_ >= txnVersion))
      return (None, 0L)
    val m = latestVersion(spark, path).map(v => readManifestFull(spark, path, v))
    m.foreach(requireWriterFeatures(_, path))
    val cs: Map[String, String] = m.map(_.constraints).getOrElse(Map.empty)
    val tagged = if (files.isEmpty || cs.isEmpty) None
      else Some(tagViolations(readLogical(spark, files.map(_._2), writeSchema,
        writtenColmap), m.flatMap(_.schema), cs))
    val nBad = tagged.fold(0L)(_.filter(col("__q_bad") === 1).count())
    if (nBad == 0L)
      return (commitStreamEpoch(spark, path, files, writeSchema,
        txnAppId, txnVersion, writtenColmap = writtenColmap, blooms = blooms), 0L)
    val c = commitSplit(tagged.get, nBad, path, quarantinePath, Nil,
      "streamAppend", Some(txnAppId -> txnVersion))
    files.map(_._1).distinct.foreach(d => fs(spark, path).delete(new Path(d), true): Unit)
    (Option.unless(c.replay)(c.version), nBad)
  }

  /** Exactly-once streaming append (the manifest half of the
    * `writeStream.format("graft-snapshot")` sink): publish `files` —
    * (commitDir, path, footer rows) triples already written by
    * executor-side epoch writers under `writtenColmap`, with the
    * blooms each writer built (`blooms`, by file path) — as ONE
    * [[commit]] that also advances the `(txnAppId → txnVersion)`
    * watermark in the manifest header. If the table has already
    * committed `txnVersion` (or later) for this app id, returns None
    * WITHOUT committing: the caller is replaying an epoch whose rows
    * are already live (engine restart between sink commit and
    * checkpoint write — the Delta idempotent-writer/SetTransaction
    * pattern), and should discard its files. The check and the
    * publish ride the same CAS loop, so a replayed epoch can never
    * double-commit even under concurrent writers.
    *
    * On a table without identity or generated columns or partition
    * transforms the files publish as written, and every recorded CHECK
    * constraint is checked with one scan of them before any publish —
    * a violating microbatch fails the query with zero manifest change.
    * Otherwise the epoch's rows are read back once and written once
    * through the batch write funnel (identity values from the
    * pre-publish watermark, generated columns, the transform layout),
    * and the flat files are dropped after the publish. A concurrent
    * identity or generated-column change re-runs the commit from the
    * epoch's files rather than failing the query. */
  def commitStreamEpoch(spark: SparkSession, path: String,
      files: Seq[(String, String, Long)], writeSchema: StructType,
      txnAppId: String, txnVersion: Long, maxAttempts: Int = 20,
      writtenColmap: Map[String, String] = Map.empty,
      blooms: Map[String, Seq[(String, String)]] = Map.empty): Option[Long] = {
    require(txnAppId.nonEmpty, "txnAppId must be nonempty")
    val written = Written(spark, files.map { case (d, f, n) =>
      Entry(d, f, n, blooms = blooms.getOrElse(f, Nil)) }, writeSchema, writtenColmap)
    val c = rerunOnFunnelChange(maxAttempts)(commit(Right(written), path, Nil,
      identity, maxAttempts, op = "streamAppend", txn = Some(txnAppId -> txnVersion)))
    Option.unless(c.replay)(c.version)
  }

  /** Highest committed txn version for `txnAppId` (Delta's
    * `txnVersion` surface) — None if the app never committed. */
  def streamTxnVersion(spark: SparkSession, path: String,
      txnAppId: String): Option[Long] =
    latestVersion(spark, path)
      .flatMap(v => readManifestFull(spark, path, v).txns.get(txnAppId))

  /** CREATE TABLE: publish version 1 as an empty manifest carrying
    * the declared schema (and optional partition transform specs) —
    * the catalog-DDL shape (`CREATE TABLE ... USING graft-snapshot`).
    * Subsequent writes pick the recorded transforms up automatically
    * and the schema drift gate applies from the first insert. The
    * create itself is a CAS on v1: losing it means another writer
    * created the table first, which surfaces as "already exists". */
  def create(spark: SparkSession, path: String, schema: StructType,
      transformSpecs: Seq[String] = Nil, rowTracking: Boolean = false,
      clusterCols: Seq[String] = Nil): Long = {
    require(latestVersion(spark, path).isEmpty,
      s"table already exists at $path")
    require(schema.fieldNames.forall(!_.startsWith("__p_")),
      "column prefix '__p_' is reserved for hidden partition columns")
    require(schema.fieldNames.forall(_ != RidCol),
      s"column name '$RidCol' is reserved for row tracking")
    val ts = transformSpecs.map(PartitionTransform.parse)
    val dups = ts.groupBy(_.pcol).collect { case (c, xs) if xs.size > 1 => c }
    require(dups.isEmpty,
      s"partition transforms derive colliding columns: ${dups.mkString(", ")}")
    ts.foreach(t => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(t.src)),
      s"transform ${t.spec}: source column '${t.src}' not in the schema"))
    validateGeneratedColumns(spark, schema)
    identityColumnsOf(schema).foreach { case (f, _, step, _) =>
      // BIGINT only (Delta's rule): assignment computes Long
      // `high + step * ordinal` — a narrower declared type would cast
      // that down, silently wrapping past the type's range under
      // non-ANSI evaluation while the Long watermark keeps advancing,
      // so the CAS collision guard could never see the duplicates
      require(f.dataType == LongType,
        s"identity column '${f.name}' must be BIGINT, " +
          s"got ${f.dataType.simpleString}")
      require(step != 0L, s"identity column '${f.name}': step must be nonzero")
      require(!f.metadata.contains(GenExprKey),
        s"column '${f.name}' cannot be both IDENTITY and GENERATED ALWAYS AS")
    }
    clusterCols.foreach(c => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"CLUSTER BY column '$c' not in the schema"))
    require(publishManifest(spark, path, 1L,
      Manifest(Some(schema), Nil, Some("create"), transforms = ts,
        rowIdHigh = if (rowTracking) Some(0L) else None,
        clusterCols = clusterCols)),
      s"table already exists at $path (concurrent create won version 1)")
    1L
  }

  // ---- ROW TRACKING (Delta row tracking / Iceberg v3 row lineage) --
  // Opt-in stable row identity: every row gets a table-unique Long id
  // that SURVIVES rewrites (update / merge / compact rewrite the row
  // into a new file, the id goes with it) — the substrate for exact
  // CDF update-image pairing under KEYLESS rewrites and for
  // incremental consumers that need to recognize "the same row". The
  // whole mechanism is driver-plane metadata:
  //   - the manifest carries a `#rowIdHigh=` watermark (next id);
  //   - each live file records a base id (`rid=` entry token); a
  //     fresh file's row ids are base + row position — assignment
  //     happens at CAS time from footer row counts, costing appends
  //     NOTHING on the data path;
  //   - rewrite paths read current ids and MATERIALIZE them into the
  //     rewritten files as a physical `__rid` column (stripped from
  //     the recorded schema — user reads never see it); rows a
  //     rewrite INSERTS carry NULL there and fall back to base +
  //     position, so even inserted-row ids need no executor
  //     coordination;
  //   - the watermark is MONOTONE across the entire history,
  //     including RESTORE (Delta's rule: restored files keep the ids
  //     they were born with, but the watermark never rewinds — a
  //     rewound watermark would reassign ids of rows the restore
  //     discarded, making a row id ambiguous across the restore
  //     boundary in the change feed). This deliberately diverges from
  //     IDENTITY columns, whose watermark rewinds with the data
  //     (documented there): identity values are user data restored
  //     with the rows; row ids are lineage, which must stay unique
  //     forever.

  /** Opt an EXISTING table into row tracking: one metadata commit
    * assigning base ids to every live file from its footer row count.
    * Idempotent (re-enabling is a no-op returning the current
    * version). New tables can opt in at [[create]] (`rowTracking`). */
  def enableRowTracking(spark: SparkSession, path: String): Long = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    if (readManifestFull(spark, path, v).rowIdHigh.isDefined) return v
    publishMetadataCommit(spark, path, "enableRowTracking")(
      enableRowTrackingMutation(path))
  }

  /** The manifest mutation behind [[enableRowTracking]] — also the
    * ALTER TABLE ... SET TBLPROPERTIES('rowTracking'='true') hook.
    * Idempotent on an already-tracking manifest. */
  private[lake] def enableRowTrackingMutation(path: String)
      : Manifest => Manifest = { m =>
    if (m.rowIdHigh.isDefined) m
    else {
      val (entries, b) = assignRowIds(m.entries, 0L)(e =>
        s"row tracking at $path needs a footer row count for every " +
          s"live file — ${e.filePath} has none")
      m.copy(entries = entries, rowIdHigh = Some(b))
    }
  }

  /** Whether the table tracks row ids (at `version`, default latest). */
  def rowTrackingEnabled(spark: SparkSession, path: String,
      version: Option[Long] = None): Boolean =
    version.orElse(latestVersion(spark, path))
      .exists(v => readManifestFull(spark, path, v).rowIdHigh.isDefined)

  /** The NEXT row id the table will assign (requires row tracking). */
  def nextRowId(spark: SparkSession, path: String): Long = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).rowIdHigh.getOrElse(
      throw new IllegalArgumentException(
        s"row tracking is not enabled at $path — enableRowTracking first"))
  }

  /** The table (at `version`, default latest) with a `_row_id` column
    * of stable row ids appended — the [[read]] surface of row
    * tracking. Same user schema as [[read]] (hidden partition columns
    * dropped); `_row_id` is unique per table and stable across every
    * rewrite (update / merge / compact / DV delete). */
  def readWithRowIds(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    require(m.rowIdHigh.isDefined,
      s"row tracking is not enabled at $path (version $v) — " +
        "enableRowTracking first")
    if (m.entries.isEmpty) {
      val sch = StructType(m.schema.map(_.fields.toSeq).getOrElse(Nil)
        .filterNot(_.name.startsWith("__p_"))
        .map(_.copy(nullable = true)) :+
        StructField(RowIdCol, LongType, nullable = true))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
    }
    val df = readGroupsWithRid(spark, m.entries, m.schema, m.colmap)
      .withColumnRenamed(RidCol, RowIdCol)
    df.drop(df.columns.filter(_.startsWith("__p_")).toSeq: _*)
  }

  /** ADOPT an existing plain-parquet directory (flat or
    * hive-partitioned) as a snapshot table IN PLACE, moving and
    * rewriting nothing — Delta's `CONVERT TO DELTA` / Iceberg's
    * migrate shape, and at 100 TB the only viable import (a
    * rewrite-based load would copy the lake). One driver-side
    * metadata pass: list the parquet files, read footer row counts +
    * min/max stats for `statsCols` on the bounded pool (hive
    * partition-dir values become stats for free, so partition-style
    * pruning works immediately), record the schema — the first file's
    * footer schema plus the partition columns Spark's discovery infers
    * from the dirs, no inference job — and publish version 1
    * referencing the files where they sit. From then on the
    * directory IS the table: `readWhere` prunes through the recorded
    * stats, appends land under the managed `data/c-*` layout, DML
    * rewrites only touched files, `compact` migrates data fully into
    * managed layout, and vacuum reclaims superseded adopted originals
    * — the standard ownership contract conversion implies (and the
    * spec pins). The publish itself is the usual v1 CAS: losing it
    * means something else created the table first. */
  def adopt(spark: SparkSession, dir: String,
      statsCols: Seq[String] = Nil): Long = {
    require(branchOf(dir).isEmpty, "adopt targets a plain directory, not a branch handle")
    require(latestVersion(spark, dir).isEmpty,
      s"$dir is already a snapshot table")
    val footers = commitFooters(spark, dir, statsCols)
    require(footers.nonEmpty, s"no parquet files to adopt under $dir")
    import org.apache.spark.sql.execution.datasources.parquet._
    val fileSchema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new Path(footers.head._1.filePath),
        new org.apache.parquet.hadoop.metadata.ParquetMetadata(footers.head._2,
          java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val schema = spark.read.schema(fileSchema).parquet(dir).schema
    require(schema.fieldNames.forall(!_.startsWith("__p_")),
      "column prefix '__p_' is reserved for hidden partition columns")
    require(publishManifest(spark, dir, 1L,
      Manifest(Some(schema), footers.map(_._1), Some("adopt"))),
      s"concurrent writer created a table at $dir during adopt")
    1L
  }

  /** INSERT OVERWRITE / truncate-and-load: one commit replacing the
    * ENTIRE live file set with `df`'s rows. Previous versions stay
    * readable (time travel); the table's partition transforms and
    * constraints carry forward like any other commit. */
  def overwrite(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Long =
    commit(Left(df), path, partitionCols, _ => Nil, op = "overwrite").version

  /** Create a HIDDEN-PARTITIONED table (Iceberg partition-spec
    * shape): `transformSpecs` — e.g. `Seq("days(ts)")`,
    * `Seq("bucket(16, id)")`, `Seq("months(ts)", "truncate(2, code)")`
    * — are recorded in the manifest at creation and fixed for the
    * table's lifetime; every subsequent write path (plain [[append]],
    * [[merge]], [[update]], [[delete]], [[compact]]) re-derives the
    * physical partition columns from them automatically. Reads hide
    * the derived columns; [[readWhere]] turns predicates on the
    * SOURCE columns into partition pruning. `statsCols` adds footer
    * min/max on the named user columns for file skipping inside a
    * partition. Only valid as the table's FIRST commit. */
  def appendTransformed(df: DataFrame, path: String,
      transformSpecs: Seq[String], statsCols: Seq[String] = Nil): Long = {
    val ts = transformSpecs.map(PartitionTransform.parse)
    require(ts.nonEmpty, "appendTransformed needs at least one transform spec")
    val dups = ts.groupBy(_.pcol).collect { case (c, xs) if xs.size > 1 => c }
    require(dups.isEmpty,
      s"partition transforms derive colliding columns: ${dups.mkString(", ")}")
    commit(Left(df), path, Nil, identity, statsCols = statsCols, newTransforms = ts).version
  }

  /** The table's recorded partition transform specs (empty for plain
    * tables). */
  def partitionTransforms(spark: SparkSession, path: String): Seq[String] = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).transforms.map(_.spec)
  }

  /** Filtered read of a hidden-partitioned table: `predicate` is
    * written against the USER schema (e.g. `col("ts") >=
    * "2024-01-02"`), and its INCLUSIVE PROJECTION onto the derived
    * partition columns is conjoined before the hidden columns are
    * dropped — so the day/month/bucket directories that cannot match
    * are pruned at listing time (visible as `numFiles` in the scan),
    * exactly what querying the raw layout by hand would require the
    * user to know. On a plain table this is just `read().filter`. */
  def readWhere(spark: SparkSession, path: String, predicate: Column,
      version: Option[Long] = None, sqlAlias: Option[String] = None): DataFrame =
    readWhereImpl(spark, path, predicate, version, sqlAlias,
      withRowIds = false)

  /** Does a (possibly unresolved) predicate/expression reference the
    * `_row_id` metadata column? Drives the tracked-frame routing of
    * DML: `DELETE FROM t WHERE _row_id IN (...)` must find files and
    * rewrite through the rid-serving reads. */
  private def mentionsRowId(c: Column): Boolean =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .referencesName(c, RowIdCol)

  /** [[readWhere]] composed with row tracking: the pruned scan (both
    * pruning families — partition-transform projection and manifest-
    * stats skipping) carries the stable `_row_id` column, so an
    * incremental consumer reads ONLY the files its predicate can
    * match while still keying state by row identity. Without this
    * seam the consumer's only tracked read was the full-table
    * [[readWithRowIds]] — the wrong plan at 10^6 files. */
  def readWhereWithRowIds(spark: SparkSession, path: String,
      predicate: Column, version: Option[Long] = None,
      sqlAlias: Option[String] = None): DataFrame =
    readWhereImpl(spark, path, predicate, version, sqlAlias, withRowIds = true)

  private def readWhereImpl(spark: SparkSession, path: String, predicate: Column,
      version: Option[Long], sqlAlias: Option[String],
      withRowIds: Boolean): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    require(!withRowIds || m.rowIdHigh.isDefined,
      s"row tracking is not enabled at $path (version $v) — " +
        "enableRowTracking first")
    def withNullRid(df: DataFrame): DataFrame =
      if (withRowIds) df.withColumn(RowIdCol, lit(null).cast(LongType)) else df
    if (m.entries.isEmpty)
      return sqlAlias.foldLeft(withNullRid(emptyFrame(spark, path, v, m)))(
        (df, a) => df.alias(a)).filter(predicate)
    // predicate ANALYSIS runs on [[analyzeOn]]'s zero-row frame; the
    // real scan is constructed below over the PRUNED entry subset only.
    // `translate`'s output and the skip compiler are both name-based,
    // so conditions analyzed here apply cleanly to the scan frame.
    val (raw, analyzedCond) = analyzeOn(spark, m, predicate, withRowIds, sqlAlias)
    val hiddenCols = raw.columns.filter(_.startsWith("__p_")).toSeq
    // project the ANALYZED condition (see PartitionTransform.translate)
    // onto the CURRENT and RETIRED specs — each era's files prune by
    // the layout they were written under (null-safe projections make
    // cross-era conjunction inclusive). A spec evolved onto before any
    // new write has no column in the recorded schema yet — only
    // project specs whose column exists
    val known = raw.columns.toSet
    val projectable =
      (m.transforms ++ m.retiredTransforms).filter(t => known(t.pcol))
    val ppred = analyzedCond
      .map(c => PartitionTransform.translate(c, projectable))
      .getOrElse(lit(true))
    // manifest-stats file skipping: the analyzed condition compiles
    // ONCE into an Entry => Boolean (see FileSkipping)
    val live = analyzedCond.fold(m.entries)(c =>
      m.entries.filter(FileSkipping.compile(c, m.phys)))
    val base =
      if (live.isEmpty)
        return sqlAlias.foldLeft(withNullRid(emptyFrame(spark, path, v, m)))(
          (df, a) => df.alias(a)).filter(predicate)
      else if (m.schema.isEmpty && live.size == m.entries.size && !withRowIds) raw
      else {
        val scan =
          if (withRowIds) readGroupsWithRid(spark, live, m.schema, m.colmap)
            .withColumnRenamed(RidCol, RowIdCol)
          else readGroups(spark, live, m.schema, m.colmap)
        sqlAlias.foldLeft(scan)((df, a) => df.alias(a))
      }
    base.filter(ppred && predicate).drop(hiddenCols: _*)
  }

  /** `predicate` analyzed against a zero-row frame in `m`'s recorded
    * schema: resolving it must not build a file index over every live
    * file (at 10⁶ files that listing dwarfs the query). Pre-schema-
    * recording manifests (rare, legacy) fall back to the footer-derived
    * frame. `withRowIds` adds the `_row_id` column, which resolves but
    * no stat covers (the skip compiler keeps its leaves matchable);
    * `sqlAlias` lets SQL-path predicates qualify columns with the
    * table (or AS) name. Returns the frame and the analyzed condition. */
  private def analyzeOn(spark: SparkSession, m: Manifest, predicate: Column,
      withRowIds: Boolean, sqlAlias: Option[String] = None)
      : (DataFrame, Option[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    val schemaFrame = m.schema match {
      case Some(s) => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
      case None => readGroups(spark, m.entries, m.schema, m.colmap)
    }
    val frame = sqlAlias.foldLeft(
      if (withRowIds) schemaFrame.withColumn(RowIdCol, lit(null).cast(LongType))
      else schemaFrame)((df, a) => df.alias(a))
    (frame, frame.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    })
  }

  // ---- CHECK constraints -------------------------------------------
  // Delta-style table invariants (`ALTER TABLE ... ADD CONSTRAINT ...
  // CHECK (expr)` semantics): stored in the manifest header, carried
  // forward by every commit, enforced on EVERY write path (append /
  // clustered / z-ordered / overwrite / merge / update / delete and
  // the streaming sink's epochs all funnel through commit(): a
  // guard on the frame it writes, one scan of files written
  // elsewhere). SQL-standard tri-valued logic: a NULL evaluation
  // PASSES — only an explicit FALSE violates.

  /** Wrap the first output column in a per-constraint raise_error
    * CaseWhen: zero extra jobs (the guard rides the write projection),
    * and branch laziness means the error expression only evaluates on
    * a violating row. */
  private def withConstraintGuard(df: DataFrame,
      cs: Map[String, String]): DataFrame =
    if (cs.isEmpty) df
    else {
      val first = df.columns.head
      val t = df.schema.head.dataType
      val guarded = cs.toSeq.sortBy(_._1).foldLeft(col(first)) {
        case (acc, (name, e)) =>
          when(!coalesce(expr(e), lit(true)),
            raise_error(concat(lit(s"CHECK constraint '$name' violated: ($e)")))
              .cast(t))
            .otherwise(acc)
      }
      df.withColumn(first, guarded)
    }

  // ---- GENERATED ALWAYS AS columns (creation-declared) --------------

  /** Spark's generation-expression StructField metadata key — the
    * slot CREATE TABLE analysis fills when the catalog declares
    * SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS, so the expression
    * rides the recorded `#schema=` header like EXISTS_DEFAULT does. */
  private val GenExprKey = org.apache.spark.sql.catalyst.util
    .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  /** (field, generation expression) of every generated column. */
  private[lake] def generatedColumnsOf(
      schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(GenExprKey) =>
        (f, f.metadata.getString(GenExprKey))
    }

  /** CREATE-time validation (Delta's rules): a generation expression
    * must parse, be deterministic, and reference only OTHER,
    * non-generated columns of the schema. Generated columns exist
    * from table creation only — [[addColumnsMutation]] refuses them
    * later, because existing files would serve NULL where the
    * expression should have been (EXISTS_DEFAULT can backfill only
    * constants). */
  private def validateGeneratedColumns(spark: SparkSession,
      schema: StructType): Unit = {
    val gens = generatedColumnsOf(schema)
    if (gens.isEmpty) return
    val genNames = gens.map(_._1.name.toLowerCase).toSet
    val base = StructType(schema.fields.filterNot(_.metadata.contains(GenExprKey)))
    gens.foreach { case (f, e) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(e)).getOrElse(
        throw new IllegalArgumentException(
          s"generated column '${f.name}': cannot parse expression ($e)"))
      val refs = exprColumnRefs(spark, e)
      require(!refs.contains(f.name.toLowerCase),
        s"generated column '${f.name}' references itself")
      val fromGen = refs.filter(genNames)
      require(fromGen.isEmpty,
        s"generated column '${f.name}': expression references generated " +
          s"column(s) ${fromGen.mkString(", ")} — derive from base columns")
      val unknown = refs.filterNot(r =>
        base.fieldNames.exists(_.equalsIgnoreCase(r)))
      require(unknown.isEmpty,
        s"generated column '${f.name}': expression references unknown " +
          s"column(s) ${unknown.mkString(", ")}")
      // full analysis against the base columns: resolves functions (a
      // parse-level determinism check cannot see through an
      // UnresolvedFunction) and proves the cast to the declared type
      val probe = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), base)
      val analyzed = scala.util.Try(
        probe.select(expr(e).cast(f.dataType)).queryExecution.analyzed)
        .getOrElse(throw new IllegalArgumentException(
          s"generated column '${f.name}': expression ($e) does not resolve " +
            "against the table's base columns"))
      require(analyzed.expressions.forall(_.deterministic),
        s"generated column '${f.name}': expression ($e) is not deterministic")
    }
  }

  /** Write-side enforcement, riding [[commit]]'s write job like the
    * CHECK guard: a frame that OMITS a generated column derives it
    * from its expression; a frame that PROVIDES one is validated
    * row-by-row — a provided NON-NULL value must equal the expression
    * (Delta's semantics; a silent recompute would hide the caller's
    * bug, a silent accept would store wrong data), while a provided
    * NULL derives: Spark's analyzer null-fills omitted columns on
    * `INSERT (cols)`, which is indistinguishable from an explicit
    * NULL here — deriving keeps the Delta-supported "insert without
    * the generated column" SQL shape working. [[merge]] and
    * [[update]] drop generated columns from their rewritten frames
    * first, so a source-column change recomputes them here. */
  private def withGeneratedColumns(df: DataFrame,
      schema: Option[StructType]): DataFrame =
    schema.map(generatedColumnsOf).getOrElse(Nil).foldLeft(df) {
      case (acc, (f, e)) =>
        val gen = expr(e).cast(f.dataType)
        if (!acc.columns.exists(_.equalsIgnoreCase(f.name)))
          acc.withColumn(f.name, gen)
        else acc.withColumn(f.name,
          when(col(f.name).isNull, gen)
            .when(!(col(f.name) <=> gen),
              raise_error(concat(
                lit(s"generated column '${f.name}': provided value does not " +
                  s"equal its expression ($e)"))).cast(f.dataType))
            .otherwise(col(f.name)))
    }

  /** Names of the table's generated columns (empty before creation). */
  private def generatedNamesOf(m: Manifest): Seq[String] =
    m.schema.map(generatedColumnsOf(_).map(_._1.name)).getOrElse(Nil)

  // ---- IDENTITY columns (GENERATED ALWAYS / BY DEFAULT AS IDENTITY) --

  /** High-watermark metadata key: the NEXT value this table will
    * assign for the identity column. Rides the recorded `#schema=`
    * header beside Spark's own IDENTITY_INFO_* keys (start / step /
    * allow-explicit, written by CREATE TABLE through the catalog), so
    * every commit path — including metadata-only mutations, which
    * copy the schema wholesale — carries it forward for free, and
    * RESTORE rewinds it together with the data it numbered. */
  private[lake] val IdentityHighKey = "IDENTITY_HIGH_WATERMARK"

  private def identityInfo(f: StructField)
      : Option[org.apache.spark.sql.connector.catalog.IdentityColumnSpec] =
    org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)

  /** Identity fields of a schema with (nextValue, step, allowExplicit). */
  private[lake] def identityColumnsOf(
      schema: StructType): Seq[(StructField, Long, Long, Boolean)] =
    schema.fields.toSeq.flatMap { f =>
      identityInfo(f).map { spec =>
        val high = if (f.metadata.contains(IdentityHighKey))
          f.metadata.getLong(IdentityHighKey) else spec.getStart
        (f, high, spec.getStep, spec.isAllowExplicitInsert)
      }
    }

  /** DF-native dense per-row ordinal (0..n-1, arbitrary but fixed
    * order): `monotonically_increasing_id()` encodes
    * `partition << 33 | localOrdinal`, so one tiny count job
    * (`groupBy(spark_partition_id)`) yields per-partition offsets and
    * a broadcast join turns the local ordinal into a dense global one
    * — the whole write projection stays inside whole-stage codegen
    * (no Row materialization). Correctness needs per-PARTITION size
    * stability across the count job and the write job — the same
    * guarantee `rdd.zipWithIndex` relies on for its offsets. Measured
    * (ScaleBench `identity_ingest`, 1M rows, same-run A/B of the raw
    * transform+write, two runs): NARROW 2-col frame is within host
    * noise (0.37s DF vs 0.42s RDD, then 0.52 vs 0.40 — no stable
    * winner at 2 numeric columns); WIDE frame (+ a ~100-char string)
    * consistently favors DF-native (1.55 vs 1.91, 1.39 vs 1.92) —
    * the round-trip's Row materialization cost grows with row WIDTH
    * while this formulation's count job stays size-only, which is
    * the regime that matters for real ingests. The losing
    * formulation stays A/B-measured in the bench every round.
    * Exposed private[graft] for exactly that A/B.
    *
    * The size-stability guarantee HOLDS only when the two jobs plan
    * to the same physical layout. Two things break it: (a) a
    * nondeterministic input (a `sample()`, a `rand()`-derived
    * filter) re-evaluates to different rows per job; (b) an
    * EXCHANGE in the plan under AQE — the count job column-prunes
    * the upstream, its shuffle byte sizes differ from the write
    * job's, and AQE may coalesce/skew-split the two plans into
    * different `spark_partition_id` layouts (zipWithIndex never had
    * this failure because both of its jobs share one fixed RDD
    * lineage). Either way the offset join mis-numbers rows —
    * duplicate or skipped ids published silently. So any such plan
    * is handled by regime (ScaleBench `identity_ingest`
    * ab_grouped, 200k-row exchange-bearing wide frame, same run):
    *
    *  - EXCHANGE-bearing but deterministic → the zipWithIndex
    *    formulation (1.16s): `df.rdd` finalizes ONE adaptive plan,
    *    and zipWithIndex's two jobs share that RDD DAG (the second
    *    job re-fetches the same shuffle output), so AQE cannot
    *    re-coalesce between them. An eager localCheckpoint pin
    *    measured 2.84s — the cache write dominates — and the
    *    DF-native two-query form is the thing being guarded against.
    *  - NONDETERMINISTIC (sample / rand-derived / nondet UDF) →
    *    localCheckpoint pin: only materialization makes re-evaluation
    *    impossible (zipWithIndex re-evaluates a nondeterministic
    *    parent per job just like the two-query form). Cached blocks
    *    are released by the ContextCleaner after the write.
    *  - plain deterministic scan plans → the DF-native fast path. */
  private[graft] def withDenseOrdinal(df: DataFrame, ord: String): DataFrame =
    if (nondeterministicPlan(df))
      withDenseOrdinalUnpinned(df.localCheckpoint(), ord)
    else if (shufflePlan(df)) withDenseOrdinalZip(df, ord)
    else withDenseOrdinalUnpinned(df, ord)

  /** zipWithIndex formulation: fixed physical lineage across its two
    * jobs (layout-safe under AQE), pays Row materialization ∝ row
    * width — the right tool ONLY for exchange-bearing deterministic
    * plans (see [[withDenseOrdinal]]'s measured regimes). */
  private[graft] def withDenseOrdinalZip(df: DataFrame, ord: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, df.schema.add(ord, LongType))
  }

  /** Whether `df`'s plan can change per-partition layout (or sizes)
    * between two jobs over it. Shuffle-inducing logical nodes are
    * the AQE hazard — runtime coalescing keys off post-shuffle byte
    * sizes, which the column-pruned count query changes (detected on
    * the OPTIMIZED plan: physical Exchanges only appear after the
    * EnsureRequirements preparation / inside AQE's loop, neither
    * visible from `sparkPlan`). A broadcast-only join never
    * re-coalesces, so matching logical Join over-pins it — accepted:
    * the pin costs one cached pass on a path that is already
    * join-sized. Nondeterministic expressions / Sample are
    * defense-in-depth (an unseeded rand() is seeded at analysis and
    * is size-stable per fixed layout, but a genuinely
    * nondeterministic UDF filter is not). */
  private[graft] def layoutUnstable(df: DataFrame): Boolean =
    nondeterministicPlan(df) || shufflePlan(df)

  /** Sample nodes / nondeterministic expressions: re-evaluate per
    * job, so only materialization stabilizes them. */
  private[graft] def nondeterministicPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    df.queryExecution.analyzed.exists {
      case _: Sample => true
      case p => p.expressions.exists(e => e.exists(!_.deterministic))
    }
  }

  /** Shuffle-inducing logical nodes: AQE may coalesce two queries
    * over the same frame into different partition layouts (a
    * broadcast-only join never re-coalesces, so matching logical
    * Join over-routes it to the zip formulation — accepted: that
    * path is already join-sized). */
  private[graft] def shufflePlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort |
           _: RepartitionOperation | _: GlobalLimit | _: Deduplicate |
           _: MapGroups | _: CoGroup => true
      case _ => false
    }
  }

  /** The raw two-job formulation — correct ONLY on a layout-stable
    * plan; callers go through [[withDenseOrdinal]], which pins
    * unstable plans first. private[graft] so the guard spec can
    * demonstrate the unguarded misnumbering. */
  private[graft] def withDenseOrdinalUnpinned(df: DataFrame, ord: String): DataFrame = {
    val spark = df.sparkSession
    val part = "__identity_part"
    val withPart = df.withColumn(part, spark_partition_id())
      .withColumn(ord, monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1L)))
    val counts = withPart.groupBy(col(part)).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = (p, acc); acc += n; o }
    import spark.implicits._
    withPart.join(
        broadcast(offsets.toSeq.toDF(part + "_k", "__identity_off")),
        col(part) === col(part + "_k"), "left")
      .withColumn(ord, col(ord) + col("__identity_off"))
      .drop(part, part + "_k", "__identity_off")
  }

  /** Write-side identity assignment, riding [[commit]]: ingest ops
    * generate values `high + step * ordinal` over a dense per-row
    * ordinal from [[withDenseOrdinal]] (one size-only count job +
    * a broadcast offset join — nondeterministic row order cannot
    * misnumber rows because only per-partition SIZES feed the
    * offsets; values are unique and monotone per commit — contiguity
    * across commits is NOT promised, matching Delta). GENERATED
    * ALWAYS refuses a provided non-null value row-by-row; BY DEFAULT
    * keeps provided values (the Delta caveat applies: explicit
    * inserts do not advance the watermark) and fills NULLs. MERGE
    * fills only the inserted rows' NULLs (carried/updated rows keep
    * their values); pure-rewrite ops (delete/update/compact) pass
    * values through untouched. The watermark advances by
    * step × (rows written) in the SAME commit, guarded against
    * concurrent assignment at CAS time. */
  private def withIdentityColumns(df: DataFrame, schema: Option[StructType],
      op: String): (DataFrame, Map[String, (Long, Long)]) = {
    val ids = schema.map(identityColumnsOf).getOrElse(Nil)
    if (ids.isEmpty) return (df, Map.empty)
    // create() enforces BIGINT, but an identity field can also enter
    // through a first-append schema's metadata — never assign into a
    // narrower type (the Long arithmetic would silently wrap, see
    // create()'s rationale)
    // BIGINT-only is enforced at ASSIGNMENT time too (not just
    // create()): an identity field can also enter through a
    // first-append schema's metadata. A pre-tightening table with an
    // INT identity column is refused here rather than silently
    // wrapping Long arithmetic — the migration path is one metadata
    // commit: widenColumnType(spark, path, name, LongType), after
    // which existing int-era files upcast on read and new values
    // assign wide.
    ids.foreach { case (f, _, _, _) =>
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"identity column '${f.name}' must be BIGINT, " +
          s"got ${f.dataType.simpleString} — widen it first: " +
          s"widenColumnType(spark, path, \"${f.name}\", LongType)")
    }
    val fillOnly = op == "merge"
    val ingest = Set("append", "overwrite", "append_clustered",
      "append_zordered", "overwrite_partitions", "streamAppend")(op)
    if (!ingest && !fillOnly) return (df, Map.empty) // rewrite: preserve
    val ord = "__identity_ord"
    require(!df.columns.contains(ord), s"column name '$ord' is reserved")
    require(!df.columns.contains("__identity_part"),
      "column name '__identity_part' is reserved")
    var out = withDenseOrdinal(df, ord)
    val bumps = scala.collection.mutable.Map[String, (Long, Long)]()
    ids.foreach { case (f, high, step, allowExplicit) =>
      val gen = (lit(high) + lit(step) * col(ord)).cast(f.dataType)
      if (!out.columns.exists(_.equalsIgnoreCase(f.name)))
        out = out.withColumn(f.name, gen)
      else if (fillOnly || allowExplicit)
        out = out.withColumn(f.name, coalesce(col(f.name), gen))
      else
        out = out.withColumn(f.name,
          when(col(f.name).isNull, gen)
            .otherwise(raise_error(concat(lit(
              s"identity column '${f.name}' is GENERATED ALWAYS — " +
                "remove it from the insert"))).cast(f.dataType)))
      bumps(f.name) = (high, step)
    }
    (out.drop(ord), bumps.toMap)
  }

  /** Current CHECK constraints (name → SQL expression). */
  def checkConstraints(spark: SparkSession, path: String): Map[String, String] = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).constraints
  }

  /** Add a CHECK constraint: validates EXISTING rows first (one scan,
    * exactly Delta's ADD CONSTRAINT behavior), then publishes a
    * metadata-only commit (op=addConstraint, same live files). */
  def addCheckConstraint(spark: SparkSession, path: String,
      name: String, exprSql: String): Long = {
    require(name.nonEmpty && exprSql.nonEmpty, "need a name and an expression")
    val bad = read(spark, path).filter(!coalesce(expr(exprSql), lit(true)))
      .limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint '$name': ($exprSql) is violated by existing rows")
    publishMetadataCommit(spark, path, "addConstraint") { m =>
      require(!m.constraints.contains(name),
        s"constraint '$name' already exists at $path")
      m.copy(constraints = m.constraints + (name -> exprSql))
    }
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Long =
    publishMetadataCommit(spark, path, "dropConstraint") { m =>
      require(m.constraints.contains(name),
        s"no constraint '$name' at $path")
      m.copy(constraints = m.constraints - name)
    }

  /** ALTER TABLE ... ADD COLUMNS: metadata-only commit appending the
    * new fields to the recorded schema. Existing files simply lack
    * the columns and read as NULL (the additive-evolution contract
    * [[read]] already implements for schema growth via appends); new
    * fields land BEFORE any hidden `__p_` block so the user-visible
    * column order stays `old columns, new columns`. */
  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[StructField]): Long =
    addColumns(spark, path, newFields, Map.empty)

  /** ALTER TABLE ... ADD COLUMN ... DEFAULT — INITIAL defaults
    * (Iceberg v3 `initial-default` shape): a file that does not
    * CONTAIN the column reads the declared default instead of NULL —
    * metadata-only, no backfill rewrite. The default rides as
    * `EXISTS_DEFAULT` StructField metadata INSIDE the recorded
    * `#schema=` header, which is what every scan is built from, so
    * the behavior needs no per-call-site plumbing and is era-exact by
    * construction: a pre-add version's schema lacks the field
    * entirely (time travel stays pre-add-correct), the add version
    * onward serves the default for default-era-absent files, a
    * genuine NULL written after the add stays NULL (the file contains
    * the column), and DML rewrites/compaction MATERIALIZE the default
    * into rewritten files because their source read already serves
    * it. Spark's own parquet readers implement the fill (the
    * ResolveDefaultColumns existence-default contract — vectorized
    * and row paths), so the hot path stays whole-stage codegen.
    * `defaults` maps new-column name → a foldable SQL expression; it
    * is validated (parse, fold, lossless cast to the column type)
    * and stored constant-folded. Only NEW columns can carry one —
    * retrofitting a default onto an existing column would rewrite
    * history's meaning. */
  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[StructField], defaults: Map[String, String]): Long =
    publishMetadataCommit(spark, path, "addColumns")(
      addColumnsMutation(path, fieldsWithInitialDefaults(spark, newFields, defaults)))

  private[lake] def fieldsWithInitialDefaults(spark: SparkSession,
      fields: Seq[StructField], defaults: Map[String, String]): Seq[StructField] = {
    if (defaults.isEmpty) return fields
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    val names = fields.map(_.name).toSet
    defaults.keys.foreach(n => require(names(n),
      s"DEFAULT declared for '$n' which is not among the added columns"))
    fields.map { f =>
      defaults.get(f.name) match {
        case None => f
        case Some(sqlText) =>
          val folded = scala.util.Try {
            val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
            require(parsed.foldable, "not a constant")
            Cast(parsed, f.dataType, Some(java.time.ZoneId.systemDefault().getId))
              .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          }.getOrElse(throw new IllegalArgumentException(
            s"DEFAULT for '${f.name}' must be a constant expression castable to " +
              s"${f.dataType.simpleString}, got: $sqlText"))
          require(folded != null || sqlText.trim.equalsIgnoreCase("null"),
            s"DEFAULT for '${f.name}' ($sqlText) does not cast to " +
              s"${f.dataType.simpleString}")
          val litSql = Literal(folded, f.dataType).sql
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, litSql)
            .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sqlText)
            .build())
      }
    }
  }

  private[lake] def addColumnsMutation(path: String,
      newFields: Seq[StructField]): Manifest => Manifest = { m =>
      require(newFields.nonEmpty, "addColumns needs at least one field")
      require(newFields.forall(!_.name.startsWith("__p_")),
        "column prefix '__p_' is reserved for hidden partition columns")
      val sch = m.schema.getOrElse(throw new IllegalArgumentException(
        s"table at $path records no schema (pre-recording manifest) — " +
          "append once before evolving"))
      newFields.foreach { f =>
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"column '${f.name}' already exists at $path")
        // GENERATED columns exist from CREATE TABLE only (Delta's
        // rule): files predating a later-added one would serve NULL
        // where the expression should have been — EXISTS_DEFAULT can
        // backfill only constants, never an expression over the row
        require(!f.metadata.contains(GenExprKey),
          s"column '${f.name}': GENERATED columns are declared at table " +
            "creation — existing files cannot backfill an expression")
        require(identityInfo(f).isEmpty,
          s"column '${f.name}': IDENTITY columns are declared at table " +
            "creation — existing rows have no identity values to backfill")
      }
      // RE-ADD AFTER DROP (and name-reuse after rename): a new logical
      // name whose identity physical name is tombstoned or still
      // serving a renamed column gets a FRESH physical name through
      // the mapping — the stable-identity move field ids buy Iceberg,
      // expressed in the colmap machinery the table already has. Old
      // files lack the fresh physical field, so the re-added column
      // reads NULL there (true schema evolution) and the dropped
      // bytes can never resurface.
      val (user, hidden) = sch.fields.partition(!_.name.startsWith("__p_"))
      m.copy(
        schema = Some(StructType(
          user ++ newFields.map(_.copy(nullable = true)) ++ hidden)),
        colmap = m.colmap ++ freshPhysicalNames(m, newFields.map(_.name)))
  }

  /** Fresh logical→physical entries for NEW columns whose identity
    * physical name is already taken (tombstoned by a drop, or in use
    * as a renamed column's on-disk name): `<name>__r2`, `__r3`, …,
    * first suffix free of every recorded physical identity. Columns
    * with a free identity name map implicitly (no entry). */
  private def freshPhysicalNames(m: Manifest,
      newCols: Seq[String]): Map[String, String] = {
    val sch = m.schema.map(_.fieldNames.toSeq).getOrElse(Nil)
    var taken: Set[String] =
      m.droppedPhys.toSet ++ m.colmap.values ++ sch.map(m.phys)
    newCols.flatMap { c =>
      if (!taken(c)) { taken += c; None }
      else {
        val fresh = Iterator.from(2).map(i => s"${c}__r$i")
          .find(p => !taken(p)).get
        taken += fresh
        Some(c -> fresh)
      }
    }.toMap
  }

  /** Column names a SQL expression string references (top-level
    * attribute identifiers), for the rename/drop reference guards —
    * CHECK constraints and partition transforms record their exprs
    * over LOGICAL names, which a metadata-only rename would break. */
  private def exprColumnRefs(spark: SparkSession, exprSql: String): Set[String] =
    scala.util.Try(
      spark.sessionState.sqlParser.parseExpression(exprSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.toSet).getOrElse(Set.empty)

  /** ALTER TABLE ... RENAME COLUMN — METADATA-ONLY via column mapping
    * (Delta name-mapping shape; Iceberg renames are metadata-only the
    * same way): the logical name changes in the recorded schema while
    * every data file keeps the original PHYSICAL parquet name — zero
    * rewrite at any table size, and time travel to a pre-rename
    * version still reads the old name (each version's manifest
    * carries its own schema + mapping). Refused while a CHECK
    * constraint or partition transform references the column (their
    * recorded SQL is over logical names); bloom opt-ins follow the
    * rename. */
  def renameColumn(spark: SparkSession, path: String,
      from: String, to: String): Long =
    publishMetadataCommit(spark, path, "renameColumn")(
      renameColumnMutation(spark, path, from, to))

  private[lake] def renameColumnMutation(spark: SparkSession, path: String,
      from: String, to: String): Manifest => Manifest = { m =>
      require(to.nonEmpty && !to.startsWith("__p_"),
        s"invalid column name '$to' ('__p_' is reserved)")
      val sch = m.schema.getOrElse(throw new IllegalArgumentException(
        s"table at $path records no schema — append once before evolving"))
      val f = sch.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(s"no column '$from' at $path"))
      require(!f.name.startsWith("__p_"),
        "hidden partition columns cannot be renamed")
      require(!sch.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists at $path")
      val refs = m.constraints.filter { case (_, e) =>
        exprColumnRefs(spark, e).contains(f.name.toLowerCase) }
      require(refs.isEmpty,
        s"cannot rename '$from': CHECK constraint(s) " +
          s"${refs.keys.mkString(", ")} reference it — drop and re-add " +
          "them around the rename")
      require(!(m.transforms ++ m.retiredTransforms)
          .exists(_.src.equalsIgnoreCase(f.name)),
        s"cannot rename '$from': a partition transform derives from it")
      val genRefs = m.schema.map(generatedColumnsOf).getOrElse(Nil).filter {
        case (_, e) => exprColumnRefs(spark, e).contains(f.name.toLowerCase) }
      require(genRefs.isEmpty,
        s"cannot rename '$from': GENERATED column(s) " +
          s"${genRefs.map(_._1.name).mkString(", ")} derive from it")
      val phys = m.phys(f.name)
      m.copy(
        schema = Some(StructType(sch.fields.map(x =>
          if (x.name == f.name) x.copy(name = to) else x))),
        // identity mappings are never stored; renaming back to the
        // physical name dissolves the entry
        colmap = (m.colmap - f.name) ++
          (if (phys == to) Map.empty[String, String] else Map(to -> phys)),
        bloomCols = m.bloomCols.map(c =>
          if (c.equalsIgnoreCase(f.name)) to else c))
  }

  /** ALTER COLUMN c FIRST / AFTER other — METADATA-ONLY column
    * reordering (Delta's position change): only the recorded schema's
    * field ORDER moves; files are read by (physical) NAME, so no byte
    * is touched and every consumer (reads, DML rewrites, CDF,
    * streams) simply projects in the new order. `afterCol = None`
    * moves the column FIRST. */
  def reorderColumn(spark: SparkSession, path: String, name: String,
      afterCol: Option[String]): Long =
    publishMetadataCommit(spark, path, "reorderColumn")(
      reorderColumnMutation(path, name, afterCol))

  private[lake] def reorderColumnMutation(path: String, name: String,
      afterCol: Option[String]): Manifest => Manifest = { m =>
    val sch = m.schema.getOrElse(throw new IllegalArgumentException(
      s"table at $path records no schema — append once before evolving"))
    val f = sch.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' at $path"))
    require(!f.name.startsWith("__p_"),
      "hidden partition columns cannot be reordered")
    val rest = sch.fields.filterNot(_.name.equalsIgnoreCase(name))
    val reordered = afterCol match {
      case None => f +: rest
      case Some(a) =>
        require(!a.equalsIgnoreCase(name),
          s"cannot move '$name' after itself")
        val i = rest.indexWhere(_.name.equalsIgnoreCase(a))
        require(i >= 0, s"no column '$a' at $path")
        (rest.take(i + 1) :+ f) ++ rest.drop(i + 1)
    }
    m.copy(schema = Some(StructType(reordered)))
  }

  /** ALTER TABLE ... DROP COLUMN — METADATA-ONLY: the field leaves
    * the recorded schema (reads stop projecting it; no rewrite), the
    * data files keep the bytes (time travel still serves them), and
    * the physical name is TOMBSTONED so a later ADD COLUMN can never
    * silently resurrect the old values under a recycled name.
    * Refused while a CHECK constraint or partition transform
    * references the column, and for the last user column. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    publishMetadataCommit(spark, path, "dropColumn")(
      dropColumnMutation(spark, path, name))

  private[lake] def dropColumnMutation(spark: SparkSession, path: String,
      name: String): Manifest => Manifest = { m =>
      val sch = m.schema.getOrElse(throw new IllegalArgumentException(
        s"table at $path records no schema — append once before evolving"))
      val f = sch.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' at $path"))
      require(!f.name.startsWith("__p_"),
        "hidden partition columns cannot be dropped")
      require(sch.fields.count(!_.name.startsWith("__p_")) > 1,
        s"cannot drop '$name': it is the table's last user column")
      val refs = m.constraints.filter { case (_, e) =>
        exprColumnRefs(spark, e).contains(f.name.toLowerCase) }
      require(refs.isEmpty,
        s"cannot drop '$name': CHECK constraint(s) " +
          s"${refs.keys.mkString(", ")} reference it — drop them first")
      require(!(m.transforms ++ m.retiredTransforms)
          .exists(_.src.equalsIgnoreCase(f.name)),
        s"cannot drop '$name': a partition transform derives from it")
      val genRefs = m.schema.map(generatedColumnsOf).getOrElse(Nil).filter {
        case (g, e) => g.name != f.name &&
          exprColumnRefs(spark, e).contains(f.name.toLowerCase) }
      require(genRefs.isEmpty,
        s"cannot drop '$name': GENERATED column(s) " +
          s"${genRefs.map(_._1.name).mkString(", ")} derive from it")
      require(!inferPartitionCols(m.entries, m.colmap.map(_.swap))
          .exists(_.equalsIgnoreCase(f.name)),
        s"cannot drop '$name': it is a hive partition column of the layout")
      m.copy(
        schema = Some(StructType(sch.fields.filterNot(_.name == f.name))),
        colmap = m.colmap - f.name,
        droppedPhys = (m.droppedPhys :+ m.phys(f.name)).distinct,
        bloomCols = m.bloomCols.filterNot(_.equalsIgnoreCase(f.name)))
  }

  /** ALTER COLUMN ... TYPE — METADATA-ONLY lossless type WIDENING
    * (Delta's type-widening shape): the recorded schema's field type
    * changes; zero files rewrite. Existing narrow files read through
    * the parquet readers' widening conversions (Spark 4's
    * INT32→long/double and FLOAT→double updaters), so the allowlist
    * is exactly the widenings BOTH readers serve losslessly:
    * byte→short/int/long/double, short→int/long/double,
    * int→long/double, float→double — the same `Cast.canUpCast`
    * discipline the skip compiler applies to predicate casts, minus
    * the precision-losing int→float/long→float/long→double corners.
    * Manifest stats are stored type-agnostically (numeric min/max as
    * doubles, bloom hashes as longs with integrals cast to long on
    * both build and probe sides), so file skipping keeps pruning
    * through the widened column unchanged; time travel reads each
    * version under its own recorded type. Refused when a partition
    * transform derives from the column (bucket/truncate derivation is
    * type-sensitive — the old layout would prune wrongly). */
  def widenColumnType(spark: SparkSession, path: String, name: String,
      to: DataType): Long =
    publishMetadataCommit(spark, path, "widenColumn")(
      widenColumnMutation(path, name, to))

  private[lake] def widenColumnMutation(path: String, name: String,
      to: DataType): Manifest => Manifest = { m =>
    val sch = m.schema.getOrElse(throw new IllegalArgumentException(
      s"table at $path records no schema — append once before evolving"))
    val f = sch.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' at $path"))
    require(!f.name.startsWith("__p_"),
      "hidden partition columns cannot be widened")
    val ok: Boolean = (f.dataType, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case _                                                           => false
    }
    require(ok,
      s"cannot change '${f.name}' ${f.dataType.simpleString} -> " +
        s"${to.simpleString}: only lossless widenings the parquet " +
        "readers serve from existing files are metadata-only " +
        "(byte/short/int -> wider integral or double, float -> double)" +
        " — anything else needs a rewrite")
    require(!(m.transforms ++ m.retiredTransforms)
        .exists(_.src.equalsIgnoreCase(f.name)),
      s"cannot widen '$name': a partition transform derives from it — " +
        "bucket/truncate derivation is type-sensitive, so the existing " +
        "layout would prune incorrectly under the new type")
    // a GENERATED expression over a widened source would compute wide
    // values and cast them back into the generated column's NARROWER
    // declared type — a silent overflow channel; refuse like
    // rename/drop do (session-free ref extraction: this mutation runs
    // inside the CAS loop)
    val genRefs = generatedColumnsOf(sch).filter { case (_, e) =>
      scala.util.Try(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase
        }.toSet).getOrElse(Set.empty[String]).contains(f.name.toLowerCase)
    }
    require(genRefs.isEmpty,
      s"cannot widen '$name': GENERATED column(s) " +
        s"${genRefs.map(_._1.name).mkString(", ")} derive from it")
    m.copy(schema = Some(StructType(sch.fields.map(x =>
      if (x.name == f.name) x.copy(dataType = to) else x))))
  }

  /** CAS-retry publish of a metadata-only version: no data is
    * written; `mutate` derives the manifest to publish from the
    * current one (constraint/transform changes keep entries+schema;
    * [[restore]] swaps in a prior version's whole state). */
  private[lake] def publishMetadataCommit(spark: SparkSession, path: String,
      op: String)(mutate: Manifest => Manifest): Long = casRetry(path) {
    val base = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val cur = readManifestFull(spark, path, base)
    requireWriterFeatures(cur, path)
    val m = mutate(cur)
    // txn watermarks are monotonic even across restore (which swaps
    // in an old manifest wholesale): an idempotent streaming writer
    // must never re-commit an epoch the table has already seen —
    // Delta's restore keeps SetTransaction identities the same way
    // metadata commits are never keyed rewrites — opKeys cleared
    // rather than inherited from the previous commit's label
    Option.when(publishManifest(spark, path, base + 1, m.copy(op = Some(op),
      txns = mergeTxns(cur.txns, m.txns), opKeys = Nil)))(base + 1)
  }

  /** TRUNCATE TABLE: remove every row as ONE metadata-only commit —
    * no file is touched or deleted; the truncated version simply
    * references zero files, so the operation is O(1) at any table
    * size, earlier versions stay readable (time travel) and vacuum
    * reclaims the orphaned files under normal retention. Schema,
    * constraints, transforms, column mapping and the row-id/identity
    * watermarks all survive — rows written after a truncate continue
    * the id sequences (ids are lineage; never reused). */
  def truncate(spark: SparkSession, path: String): Long =
    publishMetadataCommit(spark, path, "truncate")(m => m.copy(entries = Nil))

  /** PARTITION EVOLUTION (Iceberg's evolve-partition-spec shape): a
    * metadata-only commit replacing the table's partition transforms.
    * Existing data files keep their old-era directory layout — no
    * rewrite happens — and only NEW writes (and rewritten rows of
    * merge/update/delete/compact) use the new spec. Reads stay
    * correct across eras: every era's hidden columns are dropped from
    * user reads, and [[readWhere]] projects predicates onto the
    * current AND retired specs with NULL-safe projections, so both
    * eras keep pruning by their own layout. A full [[compact]] after
    * evolving migrates the whole table to the new spec (the
    * re-cluster-after-reshape maintenance pass); until then old-era
    * files prune by the retired spec only. Works on plain tables too
    * (evolving an unpartitioned table into a transformed one). */
  def evolvePartitionTransforms(spark: SparkSession, path: String,
      transformSpecs: Seq[String]): Long = {
    val ts = transformSpecs.map(PartitionTransform.parse)
    require(ts.nonEmpty, "evolvePartitionTransforms needs at least one spec " +
      "(evolving to unpartitioned is not supported)")
    val dups = ts.groupBy(_.pcol).collect { case (c, xs) if xs.size > 1 => c }
    require(dups.isEmpty,
      s"partition transforms derive colliding columns: ${dups.mkString(", ")}")
    publishMetadataCommit(spark, path, "evolvePartitionSpec") { m =>
      require(m.transforms.map(_.spec) != ts.map(_.spec),
        s"table at $path already uses exactly [${ts.map(_.spec).mkString(", ")}]")
      m.schema.foreach { s =>
        val missing = ts.map(_.src).filterNot(c =>
          s.fields.exists(_.name.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"transform source column(s) not in the table schema: ${missing.mkString(", ")}")
      }
      val newSpecs = ts.map(_.spec).toSet
      m.copy(transforms = ts,
        retiredTransforms = (m.retiredTransforms ++ m.transforms)
          .filterNot(t => newSpecs.contains(t.spec))
          .groupBy(_.spec).map(_._2.head).toSeq)
    }
  }

  /** One footer open per committed file: the row count plus (min,
    * max) of each requested numeric column — read driver-side at
    * commit time, exactly how Iceberg/Delta collect file stats.
    * Non-numeric / stats-less columns simply contribute no range. The
    * blooms the writer stored for `bloomCols` ([[WriterBlooms]]) and
    * the footer's file metadata (schema, key-values) come back with
    * the entry. */
  private def footerEntry(spark: SparkSession, commitDir: String, file: String,
      statsCols: Seq[String], bloomCols: Seq[String])
      : (Entry, org.apache.parquet.hadoop.metadata.FileMetaData) = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.statistics._
    val conf = spark.sparkContext.hadoopConfiguration
    // read options from the session's loaded configuration: the
    // one-argument open builds a fresh Configuration, which re-parses
    // Hadoop's XML defaults on every footer
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // The physical type alone is ambiguous: DECIMAL(p≤18) is
      // INT32/INT64-backed and its footer stats are UNSCALED values,
      // DECIMAL(p>18) is BINARY-backed and its big-endian unscaled
      // bytes can even round-trip UTF-8 ("09" = 0x3039) — either way
      // the recorded bound would compare against the wrong value
      // domain and wrongly skip files. Resolve the column's LOGICAL
      // annotation from the footer schema and gate both stats passes
      // on it: numeric bounds only for un-annotated/int-annotated
      // physical numerics, string bounds only for true STRING columns.
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val colAnn: Map[String, Option[LogicalTypeAnnotation]] =
        reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.map { cd =>
          cd.getPath.mkString(".") ->
            Option(cd.getPrimitiveType.getLogicalTypeAnnotation)
        }.toMap
      def isDecimal(column: String): Boolean = colAnn.get(column).flatten
        .exists(_.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
      def isString(column: String): Boolean = colAnn.get(column).flatten
        .exists(_.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
      // A column's bound is recorded ONLY when EVERY row group
      // contributes a usable range: parquet suppresses min/max on
      // NaN-poisoned double chunks (and may omit stats per chunk), so
      // merging only the blocks that HAVE stats would claim bounds
      // that exclude the unstated block's rows — a file the skipper
      // could then wrongly drop. All-or-nothing keeps skipping
      // strictly conservative at block granularity.
      def columnBounds[A](column: String)(
          one: org.apache.parquet.column.statistics.Statistics[_] => Option[A])
          : Option[Seq[A]] = {
        val perBlock: Seq[Option[A]] = for {
          block <- blocks
          cc <- block.getColumns.asScala.toSeq
          if cc.getPath.toDotString == column
        } yield Option(cc.getStatistics).filterNot(_.isEmpty).flatMap(one)
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else Some(perBlock.flatten)
      }
      // a chunk with no min/max (all NULL, or a double chunk holding a
      // NaN) still reports a zero min and max: no bound
      val stats = statsCols.filterNot(isDecimal).flatMap { column =>
        columnBounds(column) {
          case s if !s.hasNonNullValue => None
          case l: LongStatistics   => Some((l.getMin.toDouble, l.getMax.toDouble))
          case i: IntStatistics    => Some((i.getMin.toDouble, i.getMax.toDouble))
          case d: DoubleStatistics => Some((d.getMin, d.getMax))
          case f: FloatStatistics  => Some((f.getMin.toDouble, f.getMax.toDouble))
          case _                   => None
        }.map(rs => (column, rs.map(_._1).min, rs.map(_._2).max))
      }
      // STRING columns: parquet BINARY min/max, kept only when the
      // bytes round-trip UTF-8 exactly (a true-binary column whose
      // bytes aren't valid UTF-8 would corrupt the ordering through
      // the string codec) AND both bounds are short (statsCols on a
      // long text column would copy document-sized strings into every
      // manifest entry; key/id columns — the ones pruning serves —
      // are short, and safe prefix truncation of an UPPER bound
      // requires character surgery that isn't worth the subtlety).
      // Unqualified columns just record no bound. Block ranges merge
      // under the same unsigned byte order the footer wrote them in.
      val utf8Ord = Ordering.comparatorToOrdering(
        (a: String, b: String) => utf8Cmp(a, b))
      val sstats = statsCols.filter(isString).flatMap { column =>
        columnBounds(column) {
          case b: BinaryStatistics
              if b.genericGetMin != null && b.genericGetMax != null =>
            val (mnB, mxB) = (b.genericGetMin.getBytes, b.genericGetMax.getBytes)
            val mn = new String(mnB, java.nio.charset.StandardCharsets.UTF_8)
            val mx = new String(mxB, java.nio.charset.StandardCharsets.UTF_8)
            if (mn.length <= 64 && mx.length <= 64 &&
              java.util.Arrays.equals(
                mn.getBytes(java.nio.charset.StandardCharsets.UTF_8), mnB) &&
              java.util.Arrays.equals(
                mx.getBytes(java.nio.charset.StandardCharsets.UTF_8), mxB))
              Some((mn, mx))
            else None
          case _ => None
        }.map(rs => (column, rs.map(_._1).min(utf8Ord), rs.map(_._2).max(utf8Ord)))
      }
      // NULL counts (type-agnostic) for the first
      // `NullStatsMaxCols` TOP-LEVEL primitive columns
      // (the IS NULL targets — a nested leaf's null count says
      // nothing about its parent) plus every requested stats column;
      // the cap bounds manifest growth on wide tables (Delta's
      // dataSkippingNumIndexedCols posture). Same all-or-nothing
      // row-group rule as the bounds: a chunk without numNulls set
      // (legacy writer) forfeits the column's count for the file.
      val nullCols =
        (reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
          .map(_.getPath.mkString("."))
          .filter(!_.contains(".")).take(NullStatsMaxCols) ++ statsCols).distinct
      val nulls = nullCols.flatMap { column =>
        columnBounds(column)(st =>
          if (st.isNumNullsSet && st.getNumNulls >= 0) Some(st.getNumNulls)
          else None)
          .map(ns => (column, ns.sum))
      }
      val meta = reader.getFooter.getFileMetaData
      (Entry(commitDir, file, rows, stats, sstats = sstats,
        blooms = WriterBlooms.fromFooter(meta.getKeyValueMetaData, bloomCols),
        nulls = nulls.toSeq), meta)
    } finally reader.close()
  }

  /** Hive partition values are constant over a file, so each
    * partition value in the file's path is a free (v, v) manifest
    * stat — numeric values as numeric intervals ([[readBox]] and
    * [[readWhere]] prune them like any clustered dimension), other
    * values as string bounds. `__HIVE_DEFAULT_PARTITION__` (NULL)
    * contributes nothing and stays conservatively readable. */
  private def withPartitionStats(e: Entry): Entry = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val kvsAll = e.filePath.stripPrefix(e.commitDir).split("/")
      .filter(seg => seg.nonEmpty && seg.contains("=")).toSeq
      .map { seg =>
        (ExternalCatalogUtils.unescapePathName(seg.takeWhile(_ != '=')),
          ExternalCatalogUtils.unescapePathName(seg.dropWhile(_ != '=').drop(1)))
      }
    val kvs = kvsAll.filter(_._2 != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
    val num = kvs.flatMap { case (k, v) =>
      v.toDoubleOption.collect {
        case d if !e.stats.exists(_._1 == k) => (k, d, d)
      }
    }
    val str = kvs.collect {
      case (k, v) if v.toDoubleOption.isEmpty && !e.sstats.exists(_._1 == k) =>
        (k, v, v)
    }
    // a partition value is constant over the file: a non-NULL value
    // is a free zero null count; `__HIVE_DEFAULT_PARTITION__` means
    // every row is NULL there (count = footer rows, when known)
    val nul = kvsAll.flatMap { case (k, v) =>
      if (e.nulls.exists(_._1 == k)) None
      else if (v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME) Some((k, 0L))
      else if (e.rows >= 0) Some((k, e.rows))
      else None
    }
    if (num.isEmpty && str.isEmpty && nul.isEmpty) e
    else e.copy(stats = e.stats ++ num, sstats = e.sstats ++ str,
      nulls = e.nulls ++ nul)
  }

  // ---- per-file bloom filters --------------------------------------
  // Built by the writer ([[WriterBlooms]]): each file's footer carries
  // the blooms of the table's bloom columns, and the commit's footer
  // read records them with the entry.

  /** Opt columns into per-file bloom recording (metadata-only
    * commit). Applies to files written AFTER this commit — existing
    * files stay bloom-less and conservatively readable until a
    * rewrite (merge/update/compact) re-records them, the same policy
    * Delta applies to stats-schema changes. Columns must exist in the
    * recorded schema and be string/integral. Pass Nil to disable. */
  def setBloomColumns(spark: SparkSession, path: String,
      cols: Seq[String]): Long =
    publishMetadataCommit(spark, path, "setBloomCols")(
      setBloomColumnsMutation(cols))

  private[lake] def setBloomColumnsMutation(
      cols: Seq[String]): Manifest => Manifest = { m =>
      m.schema.foreach { s =>
        cols.foreach { c =>
          val f = s.fields.find(_.name.equalsIgnoreCase(c))
          require(f.nonEmpty, s"bloom column '$c' not in the table schema")
          require(WriterBlooms.eligible(f.get.dataType),
            s"bloom column '$c' has type ${f.get.dataType.simpleString}; " +
              "only string and integral columns are supported")
        }
      }
      m.copy(bloomCols = cols.distinct)
  }

  /** Current logical→physical column mapping (empty when identity
    * or the table does not exist yet) — the sink reads it per epoch. */
  private[graft] def columnMapping(spark: SparkSession,
      path: String): Map[String, String] =
    latestVersion(spark, path)
      .map(v => readManifestFull(spark, path, v).colmap)
      .getOrElse(Map.empty)

  /** Logical→physical column mapping at a specific version (the
    * streaming change-feed source pins its schema-stability checks to
    * a batch's end version, not whatever is latest mid-check). */
  private[graft] def columnMappingAt(spark: SparkSession, path: String,
      version: Long): Map[String, String] =
    readManifestFull(spark, path, version).colmap

  /** The mapping a streaming EPOCH's files must be written under:
    * the table's current colmap, plus freshly-MINTED physical names
    * for any query column the table does not know yet whose identity
    * name is taken (tombstoned by a drop, or serving a renamed
    * column) — the same re-add-after-drop move the batch write paths
    * make ([[freshPhysicalNames]]), computed at epoch start so the
    * executor writers emit the minted names directly.
    * [[commitStreamEpoch]] revalidates the minted entries at CAS
    * time and publishes them into the manifest's colmap. Returned with
    * the physical columns the epoch's writers hash into each file's
    * blooms: the table's bloom columns at epoch start. */
  private[graft] def streamWriteMapping(spark: SparkSession, path: String,
      querySchema: StructType): (Map[String, String], Seq[String]) =
    latestVersion(spark, path) match {
      case None => (Map.empty, Nil)
      case Some(v) =>
        val m = readManifestFull(spark, path, v)
        val existing = m.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
        val fresh = querySchema.fieldNames.toSeq
          .filterNot(c => existing(c) || c.startsWith("__p_"))
        (m.colmap ++ freshPhysicalNames(m, fresh), m.bloomCols.map(m.phys))
    }

  /** Current bloom columns (empty when the feature is off). */
  def bloomColumns(spark: SparkSession, path: String): Seq[String] = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).bloomCols
  }

  // Decoded blooms are pure functions of their base64 payload, and
  // the same payload string rides every manifest that lists the file
  // — memoized, so repeated point lookups / merge probes over a
  // bloom-heavy table stop re-base64ing up to manifest-size bytes of
  // driver CPU per query. Keyed by payload VALUE (identical across
  // cached manifest versions), weight-bounded by payload size, LRU.
  private val bloomDecodeCacheMaxBytes = 64L << 20
  private val bloomDecodeCache = new java.util.LinkedHashMap[
    String, org.apache.spark.util.sketch.BloomFilter](64, 0.75f, true)
  private var bloomDecodeCacheBytes = 0L
  /** Test/metrics hook: decode cache misses (actual deserializations). */
  private[lake] val bloomDecodes = new java.util.concurrent.atomic.AtomicLong
  private[lake] def clearBloomDecodeCache(): Unit =
    bloomDecodeCache.synchronized {
      bloomDecodeCache.clear(); bloomDecodeCacheBytes = 0L
    }

  private[lake] def decodeBloom(payload: String)
      : org.apache.spark.util.sketch.BloomFilter =
    bloomDecodeCache.synchronized {
      Option(bloomDecodeCache.get(payload)).getOrElse {
        bloomDecodes.incrementAndGet()
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          java.util.Base64.getDecoder.decode(payload))
        bloomDecodeCache.put(payload, bf)
        bloomDecodeCacheBytes += payload.length.toLong
        val it = bloomDecodeCache.entrySet().iterator()
        while (bloomDecodeCacheBytes > bloomDecodeCacheMaxBytes &&
            bloomDecodeCache.size() > 1 && it.hasNext) {
          bloomDecodeCacheBytes -= it.next().getKey.length.toLong
          it.remove()
        }
        bf
      }
    }

  /** Live data-file paths at `version` (default latest) — the Delta
    * `inputFiles` analogue; lets callers and scale smokes observe a
    * rewrite's scope (e.g. how few files a stats-pruned merge
    * touched). */
  def liveFiles(spark: SparkSession, path: String, version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifest(spark, path, v).map(_.filePath)
  }

  /** Metadata-only row count of the table at `version` (default
    * latest): the sum of the manifest's per-file footer counts — no
    * data scan, the Iceberg snapshot-summary pattern. Falls back to a
    * real count only if an entry predates row counting. */
  def count(spark: SparkSession, path: String, version: Option[Long] = None): Long = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val entries = readManifest(spark, path, v)
    if (entries.forall(_.rows >= 0))
      entries.map(e => e.rows - e.dv.map(_._2).getOrElse(0L)).sum
    else read(spark, path, Some(v)).count()
  }

  /** Operation that produced `version` (`#op=` manifest header);
    * None for manifests written before operation recording. */
  def opOf(spark: SparkSession, path: String, version: Long): Option[String] =
    readManifestFull(spark, path, version).op

  /** Commit history of the table, newest first — the DESCRIBE HISTORY
    * surface: one row per version with the operation that produced it
    * (append / append_clustered / append_zordered /
    * overwrite_partitions / merge / delete / update / compact; NULL
    * for pre-recording manifests), the manifest publish timestamp,
    * and metadata-only file/row counts (row count NULL if any live
    * file predates footer counting). Pure driver-side manifest reads
    * — one read per version, no data scan, any history length. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val f = fs(spark, path)
    val rows: Seq[Row] = versions(spark, path).sorted.reverse.map { v =>
      val m = readManifestFull(spark, path, v)
      // through the .ckpt-sidecar fallback: during a crashed vacuum
      // checkpoint swap the v-file may be the staged sidecar, and
      // history() must keep working exactly like reads do
      val ts = new java.sql.Timestamp(
        versionFileStatus(f, path, v)._2.getModificationTime)
      val nRows: java.lang.Long =
        if (m.entries.forall(_.rows >= 0))
          Long.box(m.entries.map(e => e.rows - e.dv.map(_._2).getOrElse(0L)).sum)
        else null
      Row(v, m.op.orNull, ts, m.entries.size, nRows)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("published_at", TimestampType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** One-row table detail (Delta's `DESCRIBE DETAIL` shape — format,
    * location, version, created/modified times, partition columns,
    * file count/bytes, live rows, properties, reader features),
    * entirely from the cached manifest header plus version-file
    * metadata. No data-file footer is opened; only file SIZES are
    * stat'ed, tiered exactly like the DV reader (driver-side below 64
    * files, distributed above), so the statement stays metadata-cheap
    * at 100 TB. Partition columns report the CURRENT spec: hidden
    * transforms as their spec text (`days(ts)`), identity hive keys
    * by name. Row count is the manifest's footer-count sum net of
    * deletion vectors (null if any entry predates row counting). */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.types._
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed version at $path")
    val v = vs.last
    val m = readManifestFull(spark, path, v)
    val f = fs(spark, path)
    val createdAt = new java.sql.Timestamp(
      versionFileStatus(f, path, vs.head)._2.getModificationTime)
    val lastModified = new java.sql.Timestamp(
      versionFileStatus(f, path, v)._2.getModificationTime)
    val identityKeys = m.entries.headOption.toSeq.flatMap { e =>
      e.filePath.stripPrefix(e.commitDir).split("/")
        .filter(s => s.nonEmpty && s.contains("="))
        .map(s => ExternalCatalogUtils.unescapePathName(s.takeWhile(_ != '=')))
        .filterNot(_.startsWith("__p_")).toSeq
    }
    val partCols = (m.transforms.map(_.spec) ++ identityKeys).distinct
    val files = m.entries.map(_.filePath)
    val sizeInBytes: Long =
      if (files.size <= 64)
        files.map(p => f.getFileStatus(new Path(p)).getLen).sum
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext.parallelize(files, math.min(files.size, 64))
          .map(p => new Path(p).getFileSystem(conf.value)
            .getFileStatus(new Path(p)).getLen)
          .fold(0L)(_ + _)
      }
    val nRows: java.lang.Long =
      if (m.entries.forall(_.rows >= 0))
        Long.box(m.entries.map(e => e.rows - e.dv.map(_._2).getOrElse(0L)).sum)
      else null
    val gens = m.schema.map(generatedColumnsOf).getOrElse(Nil)
    val idents = m.schema.map(identityColumnsOf).getOrElse(Nil)
    val props =
      m.autoCompact.map { case (minF, target) => Map(
        "autoCompact.minFiles" -> minF.toString,
        "autoCompact.targetBytes" -> target.toString) }.getOrElse(Map.empty) ++
      m.autoCluster.map(n => Map(
        "autoCluster.minStaleFiles" -> n.toString)).getOrElse(Map.empty) ++
      (if (m.bloomCols.nonEmpty)
        Map("bloomFilterColumns" -> m.bloomCols.mkString(",")) else Map.empty) ++
      (if (m.constraints.nonEmpty)
        Map("checkConstraints" -> m.constraints.keys.toSeq.sorted.mkString(","))
      else Map.empty) ++
      (if (gens.nonEmpty)
        Map("generatedColumns" -> gens.map { case (f, e) => s"${f.name}=($e)" }
          .sorted.mkString("; "))
      else Map.empty) ++
      (if (idents.nonEmpty)
        Map("identityColumns" -> idents.map { case (f, high, step, allow) =>
          s"${f.name}(next=$high,step=$step,allowExplicit=$allow)"
        }.sorted.mkString("; "))
      else Map.empty) ++
      m.rowIdHigh.map(h => Map("rowTracking" -> "true",
        "rowIdHighWatermark" -> h.toString)).getOrElse(Map.empty)
    val row = Row("graft-snapshot", path, v, createdAt, lastModified,
      partCols, m.entries.size.toLong, sizeInBytes, nRows, props,
      readerFeaturesOf(m),
      // derived ∪ raw: a forged/future header rides along so DESCRIBE
      // DETAIL shows exactly what a commit would be gated on
      (writerFeaturesOf(m) ++ m.writerFeatures).distinct.sorted)
    val schema = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("createdAt", TimestampType, nullable = false),
      StructField("lastModified", TimestampType, nullable = false),
      StructField("partitionColumns",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("numFiles", LongType, nullable = false),
      StructField("sizeInBytes", LongType, nullable = false),
      StructField("numRows", LongType),
      StructField("properties",
        MapType(StringType, StringType, valueContainsNull = false),
        nullable = false),
      StructField("readerFeatures",
        ArrayType(StringType, containsNull = false), nullable = false),
      StructField("writerFeatures",
        ArrayType(StringType, containsNull = false), nullable = false)))
    spark.createDataFrame(java.util.Collections.singletonList(row), schema)
  }

  // ---- named refs (tags) + restore ---------------------------------
  private def refsDir(path: String) = s"${logDir(path)}/refs"

  /** Tag a version with a stable name (Iceberg tag): `read` by
    * [[tagVersion]] and SQL `VERSION AS OF '<name>'` resolve it, and
    * [[vacuum]] never expires a tagged version — the audit/repro pin
    * ("the snapshot we trained on") that survives retention. Numeric
    * names are rejected (they would shadow version numbers in SQL).
    * Returns the tagged version. */
  def tag(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None, replace: Boolean = false): Long = {
    require(name.nonEmpty && !name.exists(c => c == '/' || c.isWhitespace),
      s"invalid tag name '$name'")
    require(scala.util.Try(name.toLong).isFailure,
      s"numeric tag '$name' would shadow version numbers")
    // tags and branches share one ref namespace (the Iceberg rule):
    // a tag shadowing a branch would make VERSION AS OF '<name>'
    // silently read the pinned tag instead of the branch head
    require(!branches(spark, path).contains(name),
      s"ref '$name' already names a branch of $path — " +
        "tags and branches share one namespace")
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    require(versions(spark, path).contains(v), s"version $v of $path does not exist")
    val f = fs(spark, path)
    f.mkdirs(new Path(refsDir(path)))
    val p = new Path(s"${refsDir(path)}/$name")
    require(replace || !f.exists(p),
      s"tag '$name' already exists at $path (pass replace = true to move it)")
    val out = f.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(s"${refsDir(path)}/$name")
    require(f.exists(p), s"no tag '$name' at $path")
    f.delete(p, false)
    ()
  }

  /** All tags (name → version). */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val f = fs(spark, path)
    val dir = new Path(refsDir(path))
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).map { st =>
      val in = f.open(st.getPath)
      val v = try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
      st.getPath.getName -> v
    }.toMap
  }

  def tagVersion(spark: SparkSession, path: String, name: String): Option[Long] =
    tags(spark, path).get(name)

  /** RESTORE (Delta `RESTORE TABLE t TO VERSION AS OF v`): publish a
    * NEW version whose state — live files, schema, constraints,
    * partition transforms — is `toVersion`'s. History is preserved
    * (the restore is just another commit, op=restore) and every
    * version in between stays time-travelable; an accidental DELETE
    * is undone by one metadata commit, no data rewrite. Transform
    * eras recompose: the restored spec becomes current and everything
    * else seen by either side retires, so cross-era reads keep
    * pruning. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val target = readManifestFull(spark, path, toVersion)
    publishMetadataCommit(spark, path, "restore") { cur =>
      val tSpecs = target.transforms.map(_.spec).toSet
      // physical tombstones stay monotonic EXCEPT where the restore
      // legitimately revives a later-dropped column (its physical
      // name is back in the restored schema's use)
      val physInUse = target.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
        .map(c => target.colmap.getOrElse(c, c))
      // ROW TRACKING across restore: restored files keep the ids they
      // were born with (their rid bases travel with the entries), but
      // the WATERMARK is monotone — max of both sides, never rewound
      // (Delta's rule; unlike the identity watermark, which rewinds
      // with the data it numbered: identity values are user data, row
      // ids are lineage and must stay unique across the whole
      // history, or a post-restore append would reuse ids of rows the
      // restore discarded and make the change feed's identity
      // ambiguous at the boundary). Restoring to a PRE-tracking
      // version on a tracking table re-enables: the target's
      // unnumbered files get fresh bases from the monotone watermark.
      val (entriesOut, ridHighOut) = (cur.rowIdHigh, target.rowIdHigh) match {
        case (None, t) => (target.entries, t)
        case (Some(c), t) =>
          val (es, b) = assignRowIds(target.entries, math.max(c, t.getOrElse(0L)),
            keepAssigned = true)(e =>
            s"row tracking at $path needs a footer row count for " +
              s"${e.filePath} to restore across the enablement boundary")
          (es, Some(b))
      }
      cur.copy(entries = entriesOut, rowIdHigh = ridHighOut,
        schema = target.schema,
        constraints = target.constraints,
        transforms = target.transforms,
        retiredTransforms =
          (cur.retiredTransforms ++ cur.transforms ++ target.retiredTransforms)
            .filterNot(t => tSpecs(t.spec))
            .groupBy(_.spec).map(_._2.head).toSeq,
        bloomCols = target.bloomCols,
        colmap = target.colmap,
        droppedPhys = (cur.droppedPhys ++ target.droppedPhys).distinct
          .filterNot(physInUse))
    }
  }

  /** Delta-style SHALLOW CLONE: create a NEW snapshot table at
    * `targetPath` whose v1 manifest references the SOURCE's data (and
    * deletion-vector) files — zero bytes copied, instant fork of a
    * 100 TB table. From then on the tables diverge independently:
    * writes on the clone land under the clone's own path (the source
    * never sees them), writes on the source publish new source
    * manifests (the clone keeps reading the immutable files it
    * pinned). `compact` on the clone materializes it into its own
    * files, severing the dependency. The clone can start from a
    * version or a tag (the "sandbox on the snapshot we trained on"
    * workflow). Caveat (same as Delta shallow clones): [[vacuum]] on
    * the SOURCE cannot see clone references, so retention there can
    * delete files a clone still pins — tag the cloned version on the
    * source (tags are vacuum-pinned) or compact the clone. Vacuum on
    * the CLONE is safe by construction: it only ever deletes files
    * under its own table path. */
  def shallowClone(spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None, tagName: Option[String] = None): Long = {
    require(latestVersion(spark, targetPath).isEmpty,
      s"shallowClone target $targetPath already has commits")
    val v = tagName match {
      case Some(t) => tagVersion(spark, sourcePath, t).getOrElse(
        throw new IllegalArgumentException(s"no tag '$t' at $sourcePath"))
      case None => version.orElse(latestVersion(spark, sourcePath)).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $sourcePath"))
    }
    val m = readManifestFull(spark, sourcePath, v)
    // a clone is a writable fork of the source state: re-deriving the
    // target's headers would silently drop (launder) a writer feature
    // this library cannot uphold, so gate the SOURCE before forking
    requireWriterFeatures(m, sourcePath)
    require(publishManifest(spark, targetPath, 1L,
      m.copy(op = Some("clone"), opKeys = Nil)),
      s"concurrent writer created $targetPath during shallowClone")
    1L
  }

  /** Delta-style DEEP CLONE: an independent physical copy of the
    * table's state at `version` (default latest) under `targetPath`.
    * Data and deletion-vector files are copied BYTE-FOR-BYTE in one
    * distributed pass (no decode/re-encode — footer stats, DVs and
    * materialized `__rid` columns carry over exactly), and the
    * target's v1 manifest re-points at the copies while preserving
    * every piece of table metadata the source manifest records
    * (schema, column mapping, partition transforms, constraints,
    * bloom columns, auto-compaction policy, row-tracking watermark —
    * cloned rows KEEP their stable ids). Unlike [[shallowClone]], the
    * clone shares nothing with the source: vacuum or DML on either
    * side can never affect the other. History, tags and branches are
    * deliberately NOT copied — a clone is a fork of one state, not of
    * the log. */
  def deepClone(spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None): Long = {
    require(latestVersion(spark, targetPath).isEmpty,
      s"deepClone target $targetPath already has commits")
    val v = version.orElse(latestVersion(spark, sourcePath)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $sourcePath"))
    val m = readManifestFull(spark, sourcePath, v)
    requireWriterFeatures(m, sourcePath)
    val realTarget = realPathOf(targetPath)
    val commitDir =
      s"$realTarget/data/c-${java.util.UUID.randomUUID.toString.take(12)}"
    val dvTarget = s"$realTarget/_graft_dv"
    // per-source-file destinations: an index prefix keeps leaf names
    // unique even when different source commit dirs reused one
    val dataDst: Map[String, String] = m.entries.zipWithIndex.map {
      case (e, i) => e.filePath -> s"$commitDir/p$i-${new Path(e.filePath).getName}"
    }.toMap
    val dvDst: Map[String, String] = m.entries.flatMap(_.dv.map(_._1))
      .distinct.zipWithIndex.map { case (p, i) =>
        p -> s"$dvTarget/c$i-${new Path(p).getName}"
      }.toMap
    val copies = (dataDst.toSeq ++ dvDst.toSeq)
    if (copies.nonEmpty) {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(copies, math.min(copies.size, 64))
        .foreach { case (s, d) =>
          val sp = new Path(s); val dp = new Path(d)
          val ok = org.apache.hadoop.fs.FileUtil.copy(
            sp.getFileSystem(conf.value), sp,
            dp.getFileSystem(conf.value), dp,
            false /* deleteSource */, true /* overwrite */, conf.value)
          if (!ok) throw new java.io.IOException(s"deepClone copy failed: $s -> $d")
        }
    }
    val cloned = m.entries.map(e => e.copy(
      commitDir = commitDir,
      filePath = dataDst(e.filePath),
      dv = e.dv.map { case (p, n) => (dvDst(p), n) }))
    require(publishManifest(spark, targetPath, 1L,
      m.copy(entries = cloned, op = Some("clone_deep"), opKeys = Nil)),
      s"concurrent writer created $targetPath during deepClone")
    1L
  }

  // ---- writable branches -------------------------------------------

  /** Handle routing every SnapshotTable operation onto branch `name`
    * of the table at `path` — pass it anywhere a table path goes
    * (read / append / merge / delete / compact / changes / history /
    * tags / vacuum). */
  def branchHandle(path: String, name: String): String =
    s"${realPathOf(path)}$BranchSep$name"

  private val branchDirName = "^branch-(.+)$".r

  /** All branch names of the table (sorted). */
  def branches(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val dir = new Path(s"${realPathOf(path)}/_graft_log")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .collect { case branchDirName(n) => n }.sorted.toSeq
  }

  /** CREATE BRANCH (Iceberg branch ref): start a writable line of
    * history at `version` (default latest) or at a tag — zero bytes
    * copied; the branch log's first manifest duplicates the fork
    * point's AT THE SAME VERSION NUMBER, so branch numbering stays
    * aligned with the fork ancestry (which is exactly what
    * [[fastForward]] verifies). Writes through [[branchHandle]] land
    * data files under the shared table dir and manifests under the
    * branch log; main never sees them until a merge. Unlike
    * [[shallowClone]] (a separate table), a branch stays inside the
    * table's retention domain: [[vacuum]] on ANY ref pins files live
    * on every other ref, so branch-referenced data cannot be
    * reclaimed out from under it. Returns the fork version. */
  def createBranch(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None, tagName: Option[String] = None): Long = {
    require(branchOf(path).isEmpty, "create branches from the main table handle")
    require(name.nonEmpty && !name.exists(c => c == '/' || c.isWhitespace)
        && !name.contains(BranchSep), s"invalid branch name '$name'")
    // shared ref namespace, other direction (see tag())
    require(tagVersion(spark, path, name).isEmpty,
      s"ref '$name' already names a tag of $path — " +
        "tags and branches share one namespace")
    val v = tagName match {
      case Some(t) => tagVersion(spark, path, t).getOrElse(
        throw new IllegalArgumentException(s"no tag '$t' at $path"))
      case None => version.orElse(latestVersion(spark, path)).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $path"))
    }
    require(versions(spark, path).contains(v),
      s"version $v of $path does not exist")
    val bh = branchHandle(path, name)
    require(latestVersion(spark, bh).isEmpty,
      s"branch '$name' already exists at $path")
    val m = readManifestFull(spark, path, v)
    // same laundering hazard as clone: the fork manifest re-derives
    // headers, so gate the source's writer features before forking
    requireWriterFeatures(m, path)
    require(publishManifest(spark, bh, v,
      m.copy(op = Some("branch"), opKeys = Nil)),
      s"concurrent writer created branch '$name' during createBranch")
    v
  }

  /** Resolve a non-numeric `VERSION AS OF` ref the Iceberg way
    * (tags and branches share one ref namespace, enforced at
    * creation): a tag pins a version of the main history; a branch
    * name reads the branch HEAD. Returns the (handle, pinned
    * version) to read, None if the name matches neither. A name
    * matching BOTH (possible only on a pre-namespace-rule table)
    * throws instead of silently preferring the tag — either answer
    * would be wrong data for callers expecting the other ref. */
  def resolveRef(spark: SparkSession, path: String,
      ref: String): Option[(String, Option[Long])] = {
    val asTag = tagVersion(spark, path, ref)
    val asBranch = branches(spark, path).contains(ref)
    if (asTag.isDefined && asBranch)
      throw new IllegalArgumentException(
        s"ambiguous ref '$ref' at $path: both a tag and a branch carry " +
          "this name (created before the shared-namespace rule) — " +
          "drop or rename one of them")
    asTag.map(v => (path, Some(v): Option[Long]))
      .orElse(if (asBranch) Some((branchHandle(path, ref), None)) else None)
  }

  /** DROP BRANCH: removes the branch's manifests (and its branch-local
    * tags). Data files only the branch referenced become unreferenced
    * and are reclaimed by the next [[vacuum]] on the main handle. */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit = {
    val bh = branchHandle(path, name)
    require(latestVersion(spark, bh).nonEmpty, s"no branch '$name' at $path")
    fs(spark, path).delete(new Path(logDir(bh)), true)
    ()
  }

  /** Identical table state: same live (file, dv) set, schema,
    * constraints, and partition-spec — the ancestry check backing
    * [[fastForward]]. DV-aware for the same reason the write-skew
    * guards are: a DV-only change IS a data change. */
  private def sameState(a: Manifest, b: Manifest): Boolean =
    a.entries.map(e => (e.filePath, e.dv, e.rid)).toSet ==
      b.entries.map(e => (e.filePath, e.dv, e.rid)).toSet &&
      a.schema == b.schema && a.constraints == b.constraints &&
      a.transforms.map(_.spec) == b.transforms.map(_.spec) &&
      a.rowIdHigh == b.rowIdHigh

  /** FAST-FORWARD main to a branch head (Iceberg
    * `fast_forward('main', <branch>)`): requires main to be an
    * ANCESTOR of the branch — main's head version number exists in
    * the branch log with the IDENTICAL state, i.e. main has not
    * advanced since the fork (or advanced only along already-merged
    * branch history). The branch's newer manifests are then published
    * onto main one by one, preserving the branch's commit-by-commit
    * history with each commit's original op. Each publish is the same
    * CAS as any commit: a concurrent main writer makes the
    * fast-forward fail partway with main left on a VALID branch
    * prefix (every published manifest is a complete branch state) —
    * re-run to continue, or resolve with [[cherryPick]]. Returns
    * main's new head version. */
  def fastForward(spark: SparkSession, path: String, name: String): Long = {
    require(branchOf(path).isEmpty, "fast-forward targets the main handle")
    val bh = branchHandle(path, name)
    val bVersions = versions(spark, bh)
    require(bVersions.nonEmpty, s"no branch '$name' at $path")
    val mainHead = latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    require(bVersions.contains(mainHead),
      s"main (v$mainHead) is not an ancestor of branch '$name' " +
        s"(branch history spans v${bVersions.head}..v${bVersions.last}) — " +
        "main advanced since the fork; use cherryPick instead")
    require(sameState(readManifestFull(spark, path, mainHead),
        readManifestFull(spark, bh, mainHead)),
      s"main's v$mainHead differs from branch '$name' at v$mainHead — " +
        "histories diverged under the same version number; use cherryPick")
    bVersions.filter(_ > mainHead).foreach { v =>
      // the manifest replays WHOLE (op, opKeys, colmap, …) — same
      // logical commit, same classification on main
      val m = readManifestFull(spark, bh, v)
      require(publishManifest(spark, path, v, m),
        s"concurrent main writer during fastForward at v$v — main holds a " +
          s"valid branch prefix up to v${v - 1}; re-run to continue")
    }
    latestVersion(spark, path).get
  }

  /** CHERRY-PICK one branch commit onto main (Iceberg cherrypick):
    * replay the file-level delta of branch commit `branchVersion`
    * (vs its branch parent) as a NEW commit on main's CURRENT head —
    * the resolution path when main advanced past the fork and
    * [[fastForward]] refuses. Conflict rules match Iceberg's: every
    * (file, dv) the branch commit removed or re-DV'd must still be
    * live on main in exactly that state, and no added file may
    * already be live (double-pick guard) — otherwise main touched the
    * same data and the pick fails instead of silently losing an
    * update. Pure appends therefore always apply. Columns the branch
    * commit added merge additively; type drift fails (the normal
    * schema gate). */
  def cherryPick(spark: SparkSession, path: String, name: String,
      branchVersion: Long): Long = {
    require(branchOf(path).isEmpty, "cherry-pick targets the main handle")
    val bh = branchHandle(path, name)
    val bVersions = versions(spark, bh)
    require(bVersions.contains(branchVersion),
      s"branch '$name' has no version $branchVersion")
    val parent = bVersions.filter(_ < branchVersion).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"v$branchVersion is branch '$name''s fork base — nothing to pick"))
    val picked = readManifestFull(spark, bh, branchVersion)
    val base = readManifestFull(spark, bh, parent)
    def key(e: Entry) = (e.filePath, e.dv)
    val pickedKeys = picked.entries.map(key).toSet
    val baseKeys = base.entries.map(key).toSet
    val added = picked.entries.filterNot(e => baseKeys(key(e)))
    val removed = base.entries.filterNot(e => pickedKeys(key(e)))
    val pickOp = picked.op.map(o => s"cherrypick-$o").getOrElse("cherrypick")
    publishMetadataCommit(spark, path, pickOp) { m =>
      val liveKeys = m.entries.map(key).toSet
      val conflicts = removed.filterNot(e => liveKeys(key(e)))
      require(conflicts.isEmpty,
        s"cherry-pick conflict: branch '$name' commit v$branchVersion " +
          s"rewrites ${conflicts.size} file state(s) main no longer holds " +
          s"(e.g. ${conflicts.head.filePath}) — main changed the same data")
      val dupes = added.filter(e => liveKeys(key(e)))
      require(dupes.isEmpty,
        s"cherry-pick of branch '$name' v$branchVersion would re-add " +
          s"${dupes.size} already-live file(s) (e.g. ${dupes.head.filePath}) " +
          "— commit already picked")
      val removedKeys = removed.map(key).toSet
      // ROW TRACKING: the branch assigned its added files' bases from
      // ITS watermark, which may overlap ids main has since assigned —
      // re-base metadata-only files from main's watermark (their ids
      // are base + position, so a new base renumbers them cleanly).
      // A file that MATERIALIZES ids (rewritten on the branch) cannot
      // be renumbered without a data rewrite — refuse loudly rather
      // than publish colliding identities.
      val (addedOut, ridHighOut) = m.rowIdHigh match {
        case None => (added.map(e => e.copy(rid = None, ridMat = false)), None)
        case Some(high) =>
          val mat = added.filter(_.ridMat)
          require(mat.isEmpty,
            s"cherry-pick of branch '$name' v$branchVersion would import " +
              s"${mat.size} file(s) with materialized row ids assigned on " +
              s"the branch (e.g. ${mat.head.filePath}) — those ids may " +
              "collide with main's; compact the branch commit or merge by " +
              "fast-forward instead")
          val (es, b) = assignRowIds(added, high)(e =>
            s"row tracking at $path needs a footer row count for " +
              s"cherry-picked file ${e.filePath}")
          (es, Some(b))
      }
      m.copy(entries = m.entries.filterNot(e => removedKeys(key(e))) ++ addedOut,
        rowIdHigh = ridHighOut.orElse(m.rowIdHigh),
        schema = (m.schema, picked.schema) match {
          case (p @ Some(_), Some(c)) => Some(mergeSchemas(p, c, path))
          case (p, c) => c.orElse(p)
        })
    }
  }

  /** Iceberg-style `t.files` metadata table: one row per live data
    * file of the (optionally time-traveled) snapshot — path, hive
    * partition fragment, footer rows, on-disk bytes, DV'd row count,
    * commit dir. Driver-side manifest + filesystem metadata, like
    * [[history]]; SQL reaches it as `SELECT * FROM <name>.files` via
    * the injected rule. */
  def filesMetadata(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    val f = fs(spark, path)
    // stats maps surface under LOGICAL names (reverse column mapping)
    val rev = m.colmap.map(_.swap)
    def log(c: String) = rev.getOrElse(c, c)
    val rows: Seq[Row] = m.entries.map { e =>
      val part = partitionFragment(e)
      val size = f.getFileStatus(new Path(e.filePath)).getLen
      Row(e.filePath, if (part.isEmpty) null else part,
        if (e.rows >= 0) Long.box(e.rows) else null,
        size, e.dv.map(d => Long.box(d._2)).getOrElse(Long.box(0L)),
        e.commitDir,
        e.nulls.map { case (c, n) => log(c) -> n }.toMap,
        e.blooms.map(b => log(b._1)))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("file_path", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("partition", org.apache.spark.sql.types.StringType),
      StructField("rows", org.apache.spark.sql.types.LongType),
      StructField("size_bytes", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("dv_rows", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("commit_dir", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("null_counts", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType), nullable = false),
      StructField("bloom_columns", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType), nullable = false))))
  }

  /** Iceberg-style `t.partitions` metadata table: per hive-partition
    * aggregate of the live snapshot — files, live rows (footer rows
    * minus DV'd), bytes, plus the SKIP-FAMILY rollups that answer
    * "why doesn't this partition prune": `null_counts` sums a
    * column's recorded null counts over the partition, included ONLY
    * when every live file records it (partial coverage would read as
    * an exact total and mislead the operator — same all-or-nothing
    * rule the skip compiler applies per file); `bloom_file_counts`
    * reports how many of the partition's files carry a bloom per
    * column, so 3-of-5 explains a partial bloom prune at a glance.
    * Logical names, like `t.files`. `SELECT * FROM
    * <name>.partitions` in SQL. */
  def partitionsMetadata(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.Row
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    val f = fs(spark, path)
    val rev = m.colmap.map(_.swap)
    def log(c: String) = rev.getOrElse(c, c)
    val rows: Seq[Row] = m.entries.groupBy(partitionFragment).toSeq
      .sortBy(_._1).map { case (part, es) =>
        val nRows: java.lang.Long =
          if (es.forall(_.rows >= 0))
            Long.box(es.map(e => e.rows - e.dv.map(_._2).getOrElse(0L)).sum)
          else null
        val nullRollup: Map[String, Long] = es.flatMap(_.nulls.map(_._1))
          .distinct
          .filter(c => es.forall(_.nulls.exists(_._1 == c)))
          .map(c => log(c) -> es.map(_.nulls.find(_._1 == c).get._2).sum)
          .toMap
        val bloomRollup: Map[String, Int] = es.flatMap(_.blooms.map(_._1))
          .distinct
          .map(c => log(c) -> es.count(_.blooms.exists(_._1 == c)))
          .toMap
        Row(if (part.isEmpty) null else part, es.size,
          nRows, es.map(e => f.getFileStatus(new Path(e.filePath)).getLen).sum,
          nullRollup, bloomRollup)
      }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("partition", org.apache.spark.sql.types.StringType),
      StructField("n_files", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("n_rows", org.apache.spark.sql.types.LongType),
      StructField("size_bytes", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("null_counts", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType), nullable = false),
      StructField("bloom_file_counts", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType), nullable = false))))
  }

  /** `k=v/k=v` hive fragment of a file's path under its commit dir
    * (empty for unpartitioned layouts). */
  private def partitionFragment(e: Entry): String =
    e.filePath.stripPrefix(e.commitDir).split("/")
      .filter(seg => seg.nonEmpty && seg.contains("=")).mkString("/")

  /** Append with the data RANGE-CLUSTERED on `clusterCol` into
    * `numFiles` files, recording each file's (min, max) in the
    * manifest. Clustering makes the per-file ranges disjoint, which is
    * what turns the stats into an effective file-skipping index —
    * see [[readRange]]. */
  def appendClustered(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int = 8): Long = {
    val clustered = df
      .repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
    commit(Left(clustered), path, Nil, identity, statsCols = Seq(clusterCol),
      op = "append_clustered", clusterTag = Some(clusterTagOf(Seq(clusterCol)))).version
  }

  /** Bits per dimension for the z-curve: capped at 16 and bounded so
    * the interleaved value never reaches bit 63 (the long sign bit —
    * a negative z-value would break curve ordering) and shift counts
    * never hit 64 (Spark's shiftleft wraps mod 64, silently
    * interleaving wrong bits). */
  private def zBitsPerDim(dims: Int): Int = math.min(16, 63 / dims)

  /** Z-value: interleave the bit patterns of each column scaled to
    * zBitsPerDim-bit buckets over its [min, max] — pure expression
    * composition (codegen'd), no UDF. */
  private def zValue(scaled: Seq[Column]): Column = {
    val dims = scaled.size
    (0 until zBitsPerDim(dims)).flatMap { bit =>
      scaled.zipWithIndex.map { case (s, d) =>
        shiftleft(shiftright(s, bit).bitwiseAND(lit(1)), bit * dims + d)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Shape `df` for a z-ordered write: compute the z-value over
    * `clusterCols` (scaled into zBitsPerDim-bit buckets from one cheap
    * global min/max aggregation), then range-partition and sort by
    * `(prefixCols..., _z)`. An empty prefix yields one global z-curve;
    * a hive-partition prefix clusters the curve WITHIN each partition
    * (Delta `OPTIMIZE ZORDER BY` scope), so each written file covers
    * one partition value and a narrow z-range inside it. */
  private def zShape(df: DataFrame, clusterCols: Seq[String], numFiles: Int,
      prefixCols: Seq[String]): DataFrame = {
    require(clusterCols.size >= 2, "z-order needs at least two columns")
    require(prefixCols.intersect(clusterCols).isEmpty,
      s"z-order columns must not repeat partition columns: " +
        prefixCols.intersect(clusterCols).mkString(", "))
    val aggs = clusterCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    clusterCols.zipWithIndex.foreach { case (c, i) =>
      require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
        s"z-ordering needs a non-empty input and a non-all-NULL cluster column; '$c' has no min/max")
    }
    val range: Map[String, (Double, Double)] = clusterCols.zipWithIndex.map {
      case (c, i) => c -> (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
    }.toMap
    val maxBucket = (1L << zBitsPerDim(clusterCols.size)) - 1
    val scaled = clusterCols.map { c =>
      val (lo, hi) = range(c)
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(((col(c).cast("double") - lit(lo)) / lit(span) * lit(maxBucket.toDouble))
        .cast("long"), lit(0L)), lit(maxBucket))
    }
    val keys = prefixCols.map(col) :+ col("_z")
    df.withColumn("_z", zValue(scaled))
      .repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("_z")
  }

  /** Multi-dimensional clustering: sort by the Z-ORDER curve over
    * `clusterCols` so EVERY clustered column's per-file range is
    * narrow — the layout for tables queried along several dimensions
    * (Delta OPTIMIZE ZORDER BY). Per-file stats for all clustered
    * columns land in the manifest for [[readRange]] / [[readBox]]
    * pruning. With `partitionCols` the table keeps a hive layout AND
    * the z-curve clusters within each partition — partition pruning
    * and multi-dimension file skipping compose (numeric partition
    * values are recorded as (v, v) stats from the file path, so a
    * partition-pinned box prunes to one partition's files before the
    * z-stats narrow further). */
  def appendZOrdered(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int = 8, partitionCols: Seq[String] = Nil): Long =
    commit(Left(zShape(df, clusterCols, numFiles, partitionCols)), path, partitionCols,
      identity, statsCols = clusterCols, op = "append_zordered",
      clusterTag = Some(clusterTagOf(clusterCols))).version

  /** Range read with file-level data skipping: only files whose
    * recorded [min, max] intersects [lo, hi] are opened (files with
    * no stats for the column are conservatively read). Returns the
    * filtered frame and the number of files actually scanned, so
    * callers (and tests) can see the pruning. */
  def readRange(spark: SparkSession, path: String, clusterCol: String,
      lo: Double, hi: Double, version: Option[Long] = None): (DataFrame, Int) =
    readBox(spark, path, Seq((clusterCol, lo, hi)), version)

  /** Multi-dimensional box read: the box predicate prunes through the
    * skip compiler ([[candidateEntries]]), then filters the rows. */
  def readBox(spark: SparkSession, path: String,
      box: Seq[(String, Double, Double)],
      version: Option[Long] = None): (DataFrame, Int) = {
    require(box.nonEmpty, "readBox needs at least one (col, lo, hi)")
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    val pred = box.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    val live = candidateEntries(spark, m, pred)
    if (live.isEmpty)
      return (read(spark, path, Some(v)).filter(pred).limit(0), 0)
    val df = readGroups(spark, live, m.schema, m.colmap)
    val hidden = df.columns.filter(_.startsWith("__p_")).toSeq
    (df.filter(pred).drop(hidden: _*), live.size)
  }

  /** Read a set of manifest entries, grouped per commit dir so hive
    * partition columns resolve against the right basePath. Under a
    * recorded schema the partition-column TYPES come from the schema
    * (no directory-name inference — an unpinned read would e.g. turn
    * a string `event_date` into DateType and trip the drift gate on
    * the next rewrite commit); pre-schema manifests fall back to
    * mergeSchema + inference. */
  /** Read a set of live entries. Files carrying a deletion vector are
    * read through a position-aware scan that anti-joins the (file,
    * row_index) dead set — the DV side is driver-loaded and broadcast
    * (bounded by the deleteWithVectors collection cap), so the filter
    * costs no shuffle. Plain files keep the direct scan (no metadata
    * columns, nothing in the way of pushdown). */
  /** `colmap` (logical → physical): the parquet files are read under
    * the PHYSICAL names and aliased back to the logical schema — the
    * column-mapping read half; identity (empty map) costs nothing. */
  private[lake] def readGroups(spark: SparkSession, entries: Seq[Entry],
      schema: Option[StructType],
      colmap: Map[String, String] = Map.empty): DataFrame = {
    val (dvE, plainE) = entries.partition(_.dv.isDefined)
    val parts = Seq(
      if (plainE.isEmpty) None
      else Some(readPlainGroups(spark, plainE, schema, colmap)),
      if (dvE.isEmpty) None
      else {
        val withPos = readWithPositions(spark, dvE, schema, colmap)
        val dataCols = withPos.columns.filterNot(_.startsWith("__graft_"))
        Some(applyDvFilter(spark, withPos, dvE,
          scanFileKey(spark, withPos, dvE)).select(dataCols.map(col): _*))
      }).flatten
    parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** [[readGroups]] plus a computed `__rid` column holding each row's
    * STABLE row id: the file's materialized id when present (rewritten
    * files carry a physical `__rid`), else the entry's base + row
    * position (`_metadata.row_index`). DVs are applied like
    * readGroups. The per-file base map rides a BROADCAST join —
    * O(touched files) driver/broadcast state, never table-data-sized
    * — keyed on the RAW `_metadata.file_path` string (exact form
    * derived driver-side by [[metadataFilePath]]), so the hot
    * tracked-read path pays no per-row path normalization. A row
    * that matches no base and carries no
    * materialized id raises loudly (every live entry has a base, so
    * a null would mean the driver-side form diverged from the scan's
    * — corruption must never publish as silent null/duplicate ids). */
  private[lake] def readGroupsWithRid(spark: SparkSession, entries: Seq[Entry],
      schema: Option[StructType],
      colmap: Map[String, String]): DataFrame = {
    entries.foreach(e => require(e.rid.isDefined,
      s"row-tracking invariant violated: live file ${e.filePath} has no " +
        "rid base"))
    val withPos = readWithPositions(spark, entries, schema, colmap,
      withRid = true)
    import spark.implicits._
    val basePairs = entries
      .map(e => (metadataFilePath(spark, e.filePath), e.rid.get))
    // The derived key is exact only while no path segment
    // percent-encodes (Spark's file index single-encodes under the
    // explicit-list scan shape but RE-encodes once a literal '%' —
    // e.g. a hive-escaped partition value — appears anywhere in the
    // layout, at a depth that varies with listing-cache state;
    // spec-pinned). An encoded character in ANY derived path falls
    // the whole read back to the probe branch below — correctness
    // over the read win for pathological names.
    //
    // The lookup is a native codegen'd expression ([[RidBaseLookup]]:
    // xxhash64 + binary search over driver arrays), NOT a join —
    // measured at plain-scan parity where every join formulation
    // paid 1.5-6x (numbers in the expression's scaladoc). Hashing is
    // COLLISION-SAFE without per-row verification: a probe row's
    // true path is always IN the key set (the scan reads exactly the
    // manifest's files), so with the keys pairwise distinct —
    // checked here — a hash match can only be the right file; the
    // astronomically rare key collision takes the probe fallback.
    val hashedPairs = basePairs
      .map { case (p, b) => (RidBaseLookup.hash(p), b) }.sortBy(_._1)
    if (basePairs.forall(!_._1.contains('%')) &&
        hashedPairs.iterator.map(_._1).toSet.size == entries.size) {
      val lookup = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        RidBaseLookup(org.apache.spark.sql.graftbridge.ColumnBridge
          .expression(col("__graft_path")),
          hashedPairs.map(_._1).toArray, hashedPairs.map(_._2).toArray))
      val withId = withPos.withColumn(RidCol,
        coalesce(col(RidCol), lookup + col("__graft_idx"),
          // static message: a per-row path here would keep the
          // string column alive past the scan projection
          raise_error(lit("row-tracking internal error: a scanned " +
            "file matched no rid base — file_path derivation " +
            "diverged from the scan"))
            .cast(org.apache.spark.sql.types.LongType)))
      applyDvFilter(spark, withId, entries.filter(_.dv.isDefined),
        p => metadataFilePath(spark, p))
        .drop("__graft_path", "__graft_idx")
    } else {
      // Pathological layout (some path segment percent-encodes):
      // Spark's re-encoding depth is not reproducible driver-side,
      // so ask the SCAN for its exact strings — one O(files)
      // metadata-only probe job — and match them to entries on the
      // percent-decode FIXPOINT (both sides are encode^k of the same
      // on-disk name, so their fixpoints agree; two distinct files
      // whose fixpoints collide, e.g. 'a b' next to 'a%20b', cannot
      // be told apart and are refused loudly). The join itself stays
      // the raw-string form.
      val metaStrs = withPos.select(col("__graft_path")).distinct()
        .collect().map(_.getString(0))
      val byCanon = entries.map(e =>
        percentDecodeFixpoint(metadataFilePath(spark, e.filePath)) -> e).toMap
      require(byCanon.size == entries.size,
        s"row-tracking read at this layout has percent-decode-colliding " +
          s"file names — rename the colliding files or disable tracking")
      val toMeta: Map[String, String] = metaStrs.map { m =>
        val e = byCanon.getOrElse(percentDecodeFixpoint(m),
          throw new IllegalStateException(
            s"row-tracking internal error: scanned file $m matches no " +
              "manifest entry"))
        e.filePath -> m
      }.toMap
      // the probe told us the scan's EXACT strings, so the per-row
      // lookup can take the same codegen'd hash expression as the
      // clean path (keyed on those strings) instead of a broadcast
      // string join — escaped layouts pay the same read cost, plus
      // one O(files) metadata-only probe job. Distinctness of the
      // hashes gives the same collision-safety argument; the
      // astronomically rare hash collision keeps the string join.
      val scanPairs = metaStrs.map(m =>
        (RidBaseLookup.hash(m), byCanon(percentDecodeFixpoint(m)).rid.get))
        .sortBy(_._1)
      val withId =
        if (scanPairs.iterator.map(_._1).toSet.size == metaStrs.length) {
          val lookup = org.apache.spark.sql.graftbridge.ColumnBridge.column(
            RidBaseLookup(org.apache.spark.sql.graftbridge.ColumnBridge
              .expression(col("__graft_path")),
              scanPairs.map(_._1).toArray, scanPairs.map(_._2).toArray))
          withPos.withColumn(RidCol,
            coalesce(col(RidCol), lookup + col("__graft_idx"),
              raise_error(lit("row-tracking internal error: a scanned " +
                "file matched no rid base — probe diverged from the scan"))
                .cast(org.apache.spark.sql.types.LongType)))
        } else {
          val baseDf = broadcast(metaStrs.map { m =>
            (m, byCanon(percentDecodeFixpoint(m)).rid.get)
          }.toSeq.toDF("__rid_path", "__rid_base"))
          withPos.join(baseDf,
              col("__graft_path") === col("__rid_path"), "left")
            .withColumn(RidCol,
              coalesce(col(RidCol), col("__rid_base") + col("__graft_idx"),
                raise_error(concat(
                  lit("row-tracking internal error: no rid base matched "),
                  col("__graft_path"))).cast(org.apache.spark.sql.types.LongType)))
            .drop("__rid_path", "__rid_base")
        }
      applyDvFilter(spark, withId, entries.filter(_.dv.isDefined),
        p => toMeta.getOrElse(p, metadataFilePath(spark, p)))
        .drop("__graft_path", "__graft_idx")
    }
  }

  /** File-identity pairing between manifest entries and a
    * position-tagged scan: a keyOf function mapping an entry's
    * filePath to the scan's `__graft_path` value for that file.
    * Clean layouts derive the raw metadata string driver-side
    * ([[metadataFilePath]], exact under the explicit-list scan
    * shape); any percent-encoding layout instead asks the SCAN for
    * its strings (one O(files) metadata-only probe) and matches on
    * the percent-decode fixpoint, refusing colliding names loudly.
    * Shared by every DV consumer and the rid probe fallback — the
    * one place scan-vs-driver path-form drift is allowed to matter. */
  private def scanFileKey(spark: SparkSession, withPos: DataFrame,
      entries: Seq[Entry]): String => String = {
    val derived = entries.map(e => e.filePath -> metadataFilePath(spark, e.filePath))
    if (derived.forall(!_._2.contains('%'))) {
      val m = derived.toMap
      p => m.getOrElse(p, metadataFilePath(spark, p))
    } else {
      val metaStrs = withPos.select(col("__graft_path")).distinct()
        .collect().map(_.getString(0))
      val byCanon = metaStrs.map(s0 => percentDecodeFixpoint(s0) -> s0).toMap
      require(byCanon.size == metaStrs.length,
        "percent-decode-colliding file names in scan — rename the " +
          "colliding files")
      val m = derived.map { case (p, d) =>
        p -> byCanon.getOrElse(percentDecodeFixpoint(d),
          throw new IllegalStateException(
            s"file $p not found in the scan it should be part of"))
      }.toMap
      p => m.getOrElse(p,
        throw new IllegalStateException(s"file $p has no scan key"))
    }
  }

  /** Repeated %XX decoding until stable (no '+'-to-space semantics —
    * URI paths, not form data). Bounded; a malformed escape decodes
    * to itself and stops the loop. */
  private def percentDecodeFixpoint(s: String): String = {
    def decodeOnce(x: String): String = {
      val sb = new StringBuilder(x.length)
      var i = 0
      while (i < x.length) {
        val c = x.charAt(i)
        if (c == '%' && i + 2 < x.length &&
            Character.digit(x.charAt(i + 1), 16) >= 0 &&
            Character.digit(x.charAt(i + 2), 16) >= 0) {
          sb.append((Character.digit(x.charAt(i + 1), 16) * 16 +
            Character.digit(x.charAt(i + 2), 16)).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    var cur = s
    var n = 0
    while (n < 20) {
      val d = decodeOnce(cur)
      if (d == cur) return cur
      cur = d; n += 1
    }
    cur
  }

  private def physicalSchema(s: StructType,
      colmap: Map[String, String]): StructType =
    if (colmap.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = colmap.getOrElse(f.name, f.name))))

  private def toLogical(df: DataFrame, s: StructType,
      colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else df.select(s.fields.toSeq.map(f =>
      col(colmap.getOrElse(f.name, f.name)).as(f.name)): _*)

  private def readPlainGroups(spark: SparkSession, entries: Seq[Entry],
      schema: Option[StructType],
      colmap: Map[String, String]): DataFrame =
    entries.groupBy(_.commitDir).map { case (dir, es) =>
      val base = spark.read.option("basePath", dir)
      schema match {
        case Some(s) =>
          toLogical(base.schema(physicalSchema(s, colmap))
            .parquet(es.map(_.filePath): _*), s, colmap)
        case None    => base.option("mergeSchema", true).parquet(es.map(_.filePath): _*)
      }
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

  // File identity between manifest entries and scans used to be a
  // normalized path SUFFIX (regexp-extracted per row on the scan
  // side, recomputed driver-side) — which silently disagreed with
  // the scan whenever a path segment percent-encoded (space-bearing
  // roots, hive-escaped partition values), no-opping DV deletes and
  // resurfacing DV'd rows on read. Identity is now the RAW
  // `_metadata.file_path` string, paired driver-side by
  // [[scanFileKey]] (exact derivation on clean layouts, probe +
  // percent-decode-fixpoint match on encoding ones) — no per-row
  // normalization anywhere, spec: DvSpecialCharSpec.

  /** The EXACT `_metadata.file_path` string of a manifest file path,
    * derived driver-side — so per-file lookups (rid bases, DV dead
    * sets on the tracked read path) can join the RAW metadata column
    * instead of normalizing it per row (the old suffix regexp +
    * fallback cost 5.4x a plain read at 1M rows; the raw-string join
    * is the readWithRowIds fast path). Spark populates the column
    * from the listing Path's `toUri.toString`; a local-FS qualified
    * path has a NULL authority and prints `file:/...` (one slash),
    * while `makeQualified(...).toUri.toString` yields an EMPTY
    * authority (`file:///...`) — so the form is rebuilt from the URI
    * components: scheme + (authority when present) + RAW (encoded)
    * path. Encoding quirks cancel: manifest strings and listing
    * paths go through the same hadoop Path→URI machinery, so a
    * literal `%` or space on disk encodes identically on both sides
    * (spec-pinned across partitioned/special-char layouts). */
  private[lake] def metadataFilePath(spark: SparkSession, filePath: String): String = {
    val u = fs(spark, filePath).makeQualified(new Path(filePath)).toUri
    val auth = Option(u.getAuthority).filter(_.nonEmpty)
      .map(a => s"//$a").getOrElse("")
    s"${u.getScheme}:$auth${u.getRawPath}"
  }

  /** Write-skew guard identity for rewrite commits (merge / delete /
    * update / compact): a concurrent commit that changes ONLY a
    * file's deletion vector leaves the filePath set intact, but a
    * rewrite computed from the pre-DV snapshot would republish the
    * DV'd rows — silently undoing the concurrent delete. So the
    * carry-over guard compares (filePath, dv) pairs, treating a DV
    * update like a file modification (Delta's conflict-detection
    * posture). */
  private def guardState(es: Seq[Entry]): Set[(String, Option[(String, Long)])] =
    es.map(e => (e.filePath, e.dv)).toSet

  /** OCC carry-over of every rewrite ([[Rewrite.commit]]) —
    * Delta's ConflictChecker shape at its default WRITE-SERIALIZABLE
    * isolation, at file granularity. When the CAS loses, the
    * carry-over re-diffs the new head against the snapshot this DML
    * planned on: if every (file, deletion-vector) state in OUR
    * rewrite set is still live and unchanged, the concurrent commits
    * touched only OTHER files — appends, disjoint-partition rewrites,
    * DV adds elsewhere — and they compose through the carry-over, so
    * the DML REBASES and commits instead of aborting (the
    * append-during-merge case that dominates multi-writer traffic at
    * scale; commit()'s CAS loop separately re-validates the metadata
    * dimensions: colmap, identity/generated signature, transforms,
    * concurrently-added constraints, schema drift). A concurrent
    * removal or DV change of a file this DML rewrites means both
    * commits decided about the same ROWS — that still aborts loudly
    * and deterministically under the documented rerun contract. As in
    * Delta's WriteSerializable, a blind append racing a key-driven
    * DML is NOT a conflict even though the appended rows were not
    * seen by the DML's file finding (writes serialize; reads may be
    * one commit stale) — writers needing full serializability must
    * serialize themselves. */
  private def rebasingCarryOver(path: String, op: String,
      base: Seq[Entry], rewriteSet: Set[String]): Seq[Entry] => Seq[Entry] = {
    val claimed = guardState(base.filter(e => rewriteSet(e.filePath)))
    prev => {
      val lost = claimed.diff(guardState(prev))
      require(lost.isEmpty,
        s"concurrent commit advanced $path during $op and rewrote " +
          s"${lost.size} file(s) this $op also rewrites " +
          s"(e.g. ${lost.head._1}) — rerun the $op")
      prev.filterNot(e => rewriteSet(e.filePath))
    }
  }

  /** Same scan plus `__graft_path` (raw `_metadata.file_path`) /
    * `__graft_idx` (row index) position columns. No DV is applied
    * here — callers decide. */
  private def readWithPositions(spark: SparkSession, entries: Seq[Entry],
      schema: Option[StructType],
      colmap: Map[String, String] = Map.empty,
      withRid: Boolean = false): DataFrame =
    entries.groupBy(_.commitDir).map { case (dir, es) =>
      val base = spark.read.option("basePath", dir)
      val phys = schema match {
        case Some(s) =>
          // withRid: the physical-only __rid column joins the read
          // schema (nullable — files without it, or rewrite-inserted
          // rows, null-fill and fall back to base + position)
          val ps = physicalSchema(s, colmap)
          base.schema(if (withRid) ps.add(RidCol, LongType, nullable = true)
            else ps).parquet(es.map(_.filePath): _*)
        case None    => base.option("mergeSchema", true).parquet(es.map(_.filePath): _*)
      }
      // positions are tagged on the PHYSICAL frame (metadata columns
      // resolve at the scan), then the logical rename keeps them
      // `__graft_path` is the RAW metadata string — every per-file
      // pairing (rid bases, DV dead sets) joins it as-is via
      // [[scanFileKey]]-derived keys
      val tagged = phys
        .withColumn("__graft_path", col("_metadata.file_path"))
        .withColumn("__graft_idx", col("_metadata.row_index"))
      schema match {
        case Some(s) if colmap.nonEmpty =>
          tagged.select(s.fields.toSeq.map(f =>
            col(colmap.getOrElse(f.name, f.name)).as(f.name)) ++
            (if (withRid) Seq(col(RidCol)) else Nil) ++
            Seq(col("__graft_path"), col("__graft_idx")): _*)
        case _ => tagged
      }
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

  /** Anti-join the dead (file, row_index) pairs of `dvEntries` out of
    * a position-tagged frame. `keyOf` pairs each entry with the
    * scan's raw `__graft_path` string ([[scanFileKey]] — exact by
    * construction, never a normalized form the scan might encode
    * differently). */
  private def applyDvFilter(spark: SparkSession, withPos: DataFrame,
      dvEntries: Seq[Entry], keyOf: String => String): DataFrame = {
    val dead: Seq[(String, Long)] = dvEntries.flatMap { e =>
      val fname = keyOf(e.filePath)
      e.dv.toSeq.flatMap(d => readDv(spark, e.filePath, d._1).map(fname -> _))
    }
    if (dead.isEmpty) withPos
    else {
      import spark.implicits._
      val deadDf = dead.toDF("__dv_fname", "__dv_idx")
      withPos.join(broadcast(deadDf),
        col("__graft_path") === col("__dv_fname") &&
          col("__graft_idx") === col("__dv_idx"),
        "left_anti")
    }
  }

  // ---- deletion-vector file IO (driver-side, like manifests) -------
  private def dvDir(tablePath: String): String =
    s"${realPathOf(tablePath)}/_graft_dv"

  private[graft] def readDv(spark: SparkSession, nearPath: String,
      dvPath: String): Array[Long] = {
    val in = fs(spark, nearPath).open(new Path(dvPath))
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    content.split("\n").iterator.filter(_.nonEmpty).map(_.toLong).toArray
  }

  private def writeDv(spark: SparkSession, tablePath: String,
      idxs: Array[Long]): String = {
    val f = fs(spark, tablePath)
    f.mkdirs(new Path(dvDir(tablePath)))
    val p = s"${dvDir(tablePath)}/dv-${java.util.UUID.randomUUID.toString.take(12)}"
    val out = f.create(new Path(p), false)
    try out.write(idxs.mkString("\n").getBytes("UTF-8")) finally out.close()
    p
  }

  /** Replace the partitions present in `df` (Iceberg
    * overwritePartitions semantics), leaving other partitions and all
    * previous versions intact. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Long = {
    require(partitionCols.nonEmpty, "overwritePartitions needs partition columns")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // touched partition dir fragments, e.g. "event_date=2014-11-18/stationId=500".
    // Values must be escaped exactly as Spark's file writer escapes
    // them in directory names (URL-style for spaces/colons/%/...), and
    // NULL becomes the hive default partition name — otherwise the
    // fragment never matches the on-disk path and stale files survive
    // into the new manifest.
    // on-disk fragments carry PHYSICAL column names
    val cmOw: Map[String, String] = latestVersion(df.sparkSession, path)
      .map(v => readManifestFull(df.sparkSession, path, v).colmap)
      .getOrElse(Map.empty)
    val touched: Set[String] = df.select(partitionCols.map(col): _*).distinct()
      .collect().map { r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          val v = r.get(i)
          val escaped =
            if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(v.toString)
          s"${ExternalCatalogUtils.escapePathName(cmOw.getOrElse(c, c))}=$escaped"
        }.mkString("/")
      }.toSet
    commit(Left(df), path, partitionCols,
      prev => prev.filterNot(e => touched.exists(t => e.filePath.contains(s"/$t/"))),
      op = "overwrite_partitions").version
  }

  /** Most distinct source key tuples [[keyRewriteSet]]'s driver tier
    * tests; past it the finder takes the range-join tier. */
  private[lake] val KeyTupleCap = 1024

  /** Fewest candidates [[keyRewriteSet]]'s exact pre-scan runs for. */
  private val MergeExactFindingMin = 9

  /** The distinct key tuples of a literal source, without a job: when
    * `source`'s optimized plan is a [[LocalRelation]] (a correction
    * batch built from driver values), its rows are already in driver
    * memory. `keys` are the key attributes of `source`'s output; a
    * tuple with a NULL component is dropped (SQL equality never
    * matches it). None for any other plan. */
  private def localKeyTuples(source: DataFrame,
      keys: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : Option[Seq[Seq[org.apache.spark.sql.catalyst.expressions.Literal]]] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, LogicalPlan, Repartition, RepartitionByExpression}
    @scala.annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case r: Repartition => strip(r.child)
      case r: RepartitionByExpression => strip(r.child)
      case other => other
    }
    // only a plan whose every leaf is a LocalRelation can fold to one,
    // so a distributed source never pays the optimizer pass below
    val leaves = source.queryExecution.analyzed.collectLeaves()
    if (leaves.isEmpty || !leaves.forall(_.isInstanceOf[LocalRelation])) return None
    strip(source.queryExecution.optimizedPlan) match {
      case lr: LocalRelation =>
        val idx = keys.map(k => lr.output.indexWhere(_.exprId == k.exprId))
        if (idx.contains(-1)) None
        else Some(lr.data.map(row => idx.zip(keys).map { case (i, k) =>
          Literal(row.get(i, k.dataType), k.dataType) })
          .filterNot(_.exists(_.value == null)).distinct.toSeq)
      case _ => None
    }
  }

  /** Files that may hold a row matching one of `source`'s key tuples:
    * the key file finder of [[merge]], [[mergeClauses]] and
    * [[deleteKeys]]. Two tiers, chosen by the source's distinct key
    * count:
    *  - Driver tier, at most `cap` tuples. A literal source's tuples
    *    come from its data with no job ([[localKeyTuples]]); a derived
    *    source's from one bounded collect, paid only when some key
    *    column carries a bloom. The join condition `t.k1 = s.k1 AND …`
    *    is analyzed once against the table's schema and the source's
    *    key types, so cross-typed keys compile to Spark's own casts.
    *    Each tuple binds it to literals and compiles through
    *    [[readWhere]]'s skip compiler ([[FileSkipping.compile]]): one
    *    predicate checks bounds, null counts and blooms together, and
    *    a file is kept when some tuple's predicate can match it.
    *  - Range-join tier, more tuples or a derived source on a bloomless
    *    table: a broadcast join of the distinct source keys against the
    *    files' bounds. A key column whose source type differs from the
    *    table column's contributes no range (an integral pair keeps
    *    it: the cast to double is exact for both), and a file all-NULL
    *    in some key column is excluded.
    * When `MergeExactFindingMin` or more candidates remain, one
    * column-pruned scan of their key columns, semi-joined against the
    * distinct source keys, keeps only the files that hold a match.
    * `cap` is a test seam for the tier choice. */
  private[lake] def keyRewriteSet(rw: Rewrite, source: DataFrame,
      keyCols: Seq[String], cap: Int = KeyTupleCap): Set[String] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.types.NumericType
    val spark = rw.spark
    val m = rw.m
    val keyFrame = source.select(keyCols.map(col): _*)
    val keyAttrs = keyFrame.queryExecution.analyzed.output
    // the table column each key resolves to (stats are keyed by m.phys)
    val resolver = spark.sessionState.conf.resolver
    val tKeys: Seq[Option[StructField]] =
      keyCols.map(k => rw.fields.find(f => resolver(f.name, k)))
    val bloomed = tKeys.flatten.exists(f =>
      rw.entries.exists(_.blooms.exists(_._1 == m.phys(f.name))))
    val tuples: Option[Seq[Seq[Literal]]] = localKeyTuples(source, keyAttrs)
      .orElse {
        if (!bloomed || cap <= 0) None
        else Some(keyFrame.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
          .distinct().limit(cap + 1).collect().toSeq.map(r =>
            keyAttrs.indices.map(i => Literal.create(r.get(i), keyAttrs(i).dataType))))
      }
      .filter(_.size <= cap)
    val files: Seq[Entry] = tuples match {
      case Some(ts) =>
        val sNames = keyCols.indices.map(i => s"__graft_key$i")
        val template = spark.createDataFrame(java.util.Collections.emptyList[Row](),
            StructType(rw.fields ++ sNames.zip(keyAttrs).map { case (n, a) =>
              StructField(n, a.dataType) }))
          .filter(keyCols.zip(sNames).map { case (k, s) => col(k) === col(s) }
            .reduce(_ && _))
          .queryExecution.analyzed
        val (cond, sIds) = template match {
          case f: Filter => (f.condition, f.child.output.takeRight(sNames.size).map(_.exprId))
        }
        val canMatch = ts.map { t =>
          val bind = sIds.zip(t).toMap
          FileSkipping.compile(cond.transform {
            case a: AttributeReference if bind.contains(a.exprId) => bind(a.exprId)
          }, m.phys)
        }
        rw.entries.filter(e => canMatch.exists(_(e)))
      case None =>
        val entries = rw.entries.filterNot(e =>
          tKeys.flatten.exists(f => FileSkipping.allNull(e, m.phys(f.name))))
        def integral(t: DataType): Boolean =
          Seq(ByteType, ShortType, IntegerType, LongType).contains(t)
        // (key index, physical column, type) of the keys a bound can prune
        val ranged: Seq[(Int, String, DataType)] = keyCols.indices.flatMap(i =>
          tKeys(i).filter(f => f.dataType == keyAttrs(i).dataType ||
              integral(f.dataType) && integral(keyAttrs(i).dataType))
            .map(f => (i, m.phys(f.name), f.dataType)))
        val num = ranged.filter { case (_, p, t) =>
          t.isInstanceOf[NumericType] && entries.exists(FileSkipping.numBound(_, p).isDefined) }
        val str = ranged.filter { case (_, p, t) =>
          t == StringType && entries.exists(FileSkipping.strBound(_, p).isDefined) }
        // a file without a usable bound on some ranged key is unprunable
        val (prunable, unprunable) = entries.partition(e =>
          (num.nonEmpty || str.nonEmpty) &&
            num.forall(r => FileSkipping.numBound(e, r._2).isDefined) &&
            str.forall(r => FileSkipping.strBound(e, r._2).isDefined))
        if (prunable.isEmpty) unprunable
        else {
          val schema = StructType(StructField("_file", StringType) +:
            (num.flatMap(r => Seq(StructField(s"_mn${r._1}", DoubleType),
              StructField(s"_mx${r._1}", DoubleType))) ++
              str.flatMap(r => Seq(StructField(s"_mn${r._1}", StringType),
                StructField(s"_mx${r._1}", StringType)))))
          val ranges = spark.createDataFrame(prunable.map(e => Row.fromSeq(e.filePath +:
            (num.flatMap { r =>
              val (mn, mx) = FileSkipping.numBound(e, r._2).get
              Seq(mn, mx)
            } ++ str.flatMap { r =>
              val (mn, mx) = FileSkipping.strBound(e, r._2).get
              Seq(mn, mx)
            }))).asJava, schema)
          val srcKeys = source.select(
            num.map(r => col(keyCols(r._1)).cast("double").as(s"_k${r._1}")) ++
              str.map(r => col(keyCols(r._1)).as(s"_k${r._1}")): _*).distinct()
          val inRange = (num ++ str).map { r =>
            col(s"_k${r._1}") >= col(s"_mn${r._1}") && col(s"_k${r._1}") <= col(s"_mx${r._1}")
          }.reduce(_ && _)
          val hit = srcKeys.join(broadcast(ranges), inRange)
            .select("_file").distinct().collect().map(_.getString(0)).toSet
          prunable.filter(e => hit(e.filePath)) ++ unprunable
        }
    }
    // EXACT refinement (Delta's touched-file job): stats and blooms
    // keep a file whenever its RANGE could contain a key — on a
    // stat-less or unclustered table that is every file, turning a
    // 50-row correction into a full-table rewrite. ONE column-pruned
    // scan of the candidates' key columns, semi-joined against the
    // distinct source keys, shrinks the set to the files that actually
    // CONTAIN a matching row; it reads only the key columns of files
    // that were about to be rewritten full-width. Measured (ScaleBench
    // merge_statless, 1M rows / 128 stat-less files / 50 keys):
    // wall-clock within host noise either way at this small-file scale
    // (1.51s exact vs 1.73s conservative on one run, 1.09 vs 0.74 on a
    // quieter one) while REWRITE IO drops 128 -> 41 files, and that
    // saved IO scales with file WIDTH. Below `MergeExactFindingMin`
    // candidates the pre-scan can't save enough to matter.
    if (files.size < MergeExactFindingMin) files.map(_.filePath).toSet
    else {
      val fcol = "__graft_exact_f"
      val touched = readGroups(spark, files, m.schema, m.colmap)
        .select(keyCols.map(col) :+ input_file_name().as(fcol): _*)
        .join(keyFrame.distinct(), keyCols.toSeq, "left_semi")
        .select(fcol).distinct()
        .collect().map(r => normInputFile(r.getString(0))).toSet
      files.filter(e => touched(normFile(e.filePath))).map(_.filePath).toSet
    }
  }

  // ---- the rewrite core ---------------------------------------------
  // Every statement that replaces live files — merge, mergeClauses
  // (deleteKeys through it), delete, deleteRowIds, update, compact,
  // the clustering passes and auto-compaction — plans on one snapshot,
  // reads the files it replaces and commits through the pieces below.
  // A site states only how it finds its files and builds their rows.

  /** The snapshot a rewrite plans on: version `base` of `path`. */
  private[lake] final class Rewrite(val spark: SparkSession, val path: String,
      val base: Long, val m: Manifest) {
    requireWriterFeatures(m, path)
    def entries: Seq[Entry] = m.entries
    def ridTracked: Boolean = m.rowIdHigh.isDefined
    lazy val generated: Seq[String] = generatedNamesOf(m)
    /** Identity columns, each with whether it is GENERATED ALWAYS. */
    lazy val identity: Seq[(String, Boolean)] =
      m.schema.map(identityColumnsOf).getOrElse(Nil).map(t => (t._1.name, !t._4))
    /** The table's columns as a reader sees them at `base`: the
      * recorded schema without the hidden partition columns (a
      * pre-recording manifest falls back to a read's schema). */
    lazy val fields: Seq[StructField] = m.schema match {
      case Some(s) => s.fields.toSeq.filterNot(_.name.startsWith("__p_"))
      case None    => read(spark, path, Some(base)).schema.fields.toSeq
    }

    /** Idempotent-write gate (Delta txnAppId/txnVersion): a replayed
      * epoch skips even the file-finding jobs; commit() re-checks
      * atomically, so a crash or race can never double-apply. */
    def replayed(txn: Option[(String, Long)]): Boolean =
      txn.exists { case (app, ver) => m.txns.get(app).exists(_ >= ver) }

    /** The live rows of `es`; on a tracked table with the stable
      * `__rid` the commit carries over. */
    def readFiles(es: Seq[Entry]): DataFrame =
      if (ridTracked) readGroupsWithRid(spark, es, m.schema, m.colmap)
      else readGroups(spark, es, m.schema, m.colmap)

    /** The files holding a row where `predicate` holds: one scan that
      * tags `input_file_name()` on the matching rows, pruned by the
      * manifest's stats like any [[readWhere]] — the exact minimal
      * rewrite set. */
    def filesWhere(predicate: Column, alias: Option[String],
        withRowIds: Boolean = false): Seq[Entry] = {
      val hit = readWhereImpl(spark, path, predicate, Some(base), alias, withRowIds)
        .select(input_file_name()).distinct()
        .collect().map(r => normInputFile(r.getString(0))).toSet
      entries.filter(e => hit(normFile(e.filePath)))
    }

    /** `given`, else the hive layout of `layout`'s files: a rewrite
      * must keep it, or [[overwritePartitions]] stops matching them. */
    def partitionCols(given: Seq[String], layout: Seq[Entry] = entries): Seq[String] =
      if (given.nonEmpty) given else inferPartitionCols(layout, m.colmap.map(_.swap))

    /** Refuse the `names` a caller may not supply — a merge source's
      * columns, or an assignment list's targets: the reserved `__rid`
      * and `__graft_` columns, and those of `derived` (generated or
      * identity columns) it names. `what` opens each message. */
    def refuse(what: String, names: Seq[String], derived: Seq[String]): Unit = {
      def hits(cs: Seq[String]) = names.filter(n => cs.exists(_.equalsIgnoreCase(n)))
      refuseReserved(what, names)
      val gen = hits(derived.filter(generated.contains))
      require(gen.isEmpty, s"$what GENERATED column(s) ${gen.mkString(", ")} — " +
        "they derive from their expressions")
      val ids = hits(derived.filterNot(generated.contains))
      require(ids.isEmpty, s"$what IDENTITY column(s) ${ids.mkString(", ")} — " +
        "the table assigns their values")
    }

    /** [[refuse]] for an assignment list, after its own checks: each
      * column assigned once, and every one in the table. */
    def refuseAssigns(what: String, assigns: Seq[(String, Column)],
        derived: Seq[String]): Unit = {
      val names = assigns.map(_._1)
      val dup = names.groupBy(_.toLowerCase).collect { case (c, ns) if ns.size > 1 => c }
      require(dup.isEmpty,
        s"$what assigns the same column more than once: ${dup.mkString(", ")}")
      val unknown = names.filterNot(n => fields.exists(_.name.equalsIgnoreCase(n)))
      require(unknown.isEmpty,
        s"$what names columns not in the table: ${unknown.mkString(", ")}")
      refuse(s"$what targets", names, derived)
    }

    /** Commit `df` in place of `rewritten`; the other live files carry
      * over by reference under the rebasing write-skew guard. The new
      * files record stats for every column `statsFrom`'s files track,
      * plus `moreStats`: the DML sites pass every live entry, so
      * pruning stays effective across statements, and the maintenance
      * sites the rewritten ones. With `dupKeys`, a failure raised by
      * the in-pass duplicate-key guard (inside the rewrite job, before
      * any publish) surfaces as the API-level error. */
    def commit(df: DataFrame, op: String, rewritten: Seq[Entry],
        partCols: Seq[String], statsFrom: Seq[Entry],
        moreStats: Seq[String] = Nil, opKeys: Seq[String] = Nil,
        txn: Option[(String, Long)] = None, dupKeys: Seq[String] = Nil,
        clusterTag: Option[String] = None,
        newClusterCols: Seq[String] = Nil): Long = {
      val rev = m.colmap.map(_.swap)
      val statsOut = ((statsFrom.flatMap(_.stats.map(_._1)) ++
        statsFrom.flatMap(_.sstats.map(_._1))).map(c => rev.getOrElse(c, c))
        ++ moreStats).distinct
      def raisedDup(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("duplicate keys")) ||
          raisedDup(t.getCause))
      try SnapshotTable.commit(Left(df), path, partCols,
        rebasingCarryOver(path, op, entries, rewritten.map(_.filePath).toSet),
        statsCols = statsOut, op = op, opKeys = opKeys,
        ridCarried = ridTracked && rewritten.nonEmpty, txn = txn,
        clusterTag = clusterTag, newClusterCols = newClusterCols).version
      catch {
        case e: Throwable if dupKeys.nonEmpty && raisedDup(e) =>
          throw new IllegalArgumentException(dupKeysMessage(dupKeys), e)
      }
    }
  }

  /** The reserved-name half of [[Rewrite.refuse]]: `__rid` and the
    * `__graft_` prefix. It needs no snapshot, so a front-end runs it
    * before anything it commits ahead of the rewrite (schema
    * evolution). */
  private def refuseReserved(what: String, names: Seq[String]): Unit = {
    require(!names.exists(_.equalsIgnoreCase(RidCol)), s"$what the reserved column '$RidCol'")
    require(!names.exists(_.startsWith("__graft_")),
      s"$what reserved '__graft_'-prefixed columns")
  }

  /** Rewrite prologue: the latest snapshot of `path`, or None when the
    * table has no committed version. */
  private[lake] def rewriteAt(spark: SparkSession, path: String): Option[Rewrite] =
    latestVersion(spark, path).map(v => new Rewrite(spark, path, v, readManifestFull(spark, path, v)))

  private def openRewrite(spark: SparkSession, path: String): Rewrite =
    rewriteAt(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))

  private def dupKeysMessage(keyCols: Seq[String]): String =
    s"merge source has duplicate keys on (${keyCols.mkString(", ")}) — " +
      "each target row may be matched by at most one source row"

  /** Row-level MERGE (upsert): a source row whose `keyCols` match an
    * existing row replaces it, the rest insert — `MERGE ... WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, the
    * row-level path the reference's gold sink enables by declaring an
    * Iceberg v2 table (reference jobs/ev_sessions_gold_etl.py:147-149,
    * format-version=2). Unlike [[overwritePartitions]], a late
    * correction to one session rewrites only the FILES that can
    * contain its key, not the whole partition: the manifest's per-file
    * stats, null counts and blooms prune the rewrite set
    * ([[keyRewriteSet]]; the driver sees at most `KeyTupleCap + 1`
    * distinct key tuples of the source, never its rows); when the
    * conservative set is still large — files lacking key stats, or an
    * unclustered key whose every range spans the space — one
    * column-pruned EXACT scan shrinks it to the files actually holding
    * a match. Per-key-column stats are recorded on the files this
    * merge writes, so successive merges keep pruning.
    *
    * Preconditions: a target row may be matched by at most ONE source
    * row (the standard MERGE constraint, Delta's "multiple source rows
    * matched" error). The guard rides the rewrite pass itself — the
    * per-key source counts join the touched files' rows and a
    * multi-match raises DURING the rewrite job, before any manifest
    * publish — rather than costing a separate full source aggregation
    * up front. Source keys that match no target row simply insert
    * (per SQL MERGE; duplicate unmatched keys insert multiply, as in
    * every engine). A hive-partitioned table keeps its layout
    * automatically: when `partitionCols` is not given, the table's
    * partition columns are inferred from the live files' paths, so
    * rewritten files stay where [[overwritePartitions]] matches them.
    * Concurrency: the rewrite set is computed against the latest
    * version; if another writer commits before this merge publishes,
    * the commit aborts (write-skew guard) — rerun the merge.
    *
    * Why merge keeps its own plan rather than delegating to
    * [[mergeClauses]] (`UPDATE SET *` / `INSERT *`): measured on
    * `ev_lake_dml` (`--seconds 8`, 4-core host, alternating runs) with
    * merge delegating, `op_p50_s` went 1.04 → 1.91, 1.08 → 1.59 and
    * 1.46 → 1.59 s (seeds 901-903; `wall_s` 14.9 → 23.8, 15.4 → 21.4,
    * 20.1 → 20.7 s), and on traced seed 904 from 1.06 to 1.34 s, with
    * `lake.merge_s` 5.09 → 7.67 s, jobs 45 → 50, tasks 77 → 97, shuffle
    * bytes 122,502 → 344,382. The clause form joins full source rows to
    * the target through a window count, then anti-joins the key files
    * again for its inserts; this upsert needs only a key-count
    * aggregate and a union. MergePlanSpec pins the frame's exchanges.
    */
  def merge(source: DataFrame, path: String, keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    mergeWithCap(source, path, keyCols, partitionCols, txn, KeyTupleCap)

  /** [[merge]] with [[keyRewriteSet]]'s tier cap as a test seam. */
  private[lake] def mergeWithCap(source: DataFrame, path: String,
      keyCols: Seq[String], partitionCols: Seq[String],
      txn: Option[(String, Long)], cap: Int): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = source.sparkSession
    val rw = rewriteAt(spark, path) match {
      case None => return commit(Left(source), path, partitionCols, identity,
        statsCols = keyCols, op = "merge", opKeys = keyCols, txn = txn).version
      case Some(rw) => rw
    }
    // the source is the new row image: a generated column in it is
    // refused (the rewritten frame drops them, so commit() recomputes
    // from the post-merge values), and so is an ALWAYS identity value;
    // a source `__rid` would otherwise surface as a duplicate-column
    // error deep in the inheritance join
    rw.refuse("merge source must not contain", source.columns.toSeq,
      rw.generated ++ rw.identity.collect { case (n, true) => n })
    if (rw.replayed(txn)) return rw.base
    val (rewrite, newData) = mergeFrame(rw, source, keyCols, cap)
    rw.commit(newData.drop(rw.generated: _*), "merge", rewrite,
      rw.partitionCols(partitionCols), statsFrom = rw.entries, moreStats = keyCols,
      opKeys = keyCols, txn = txn, dupKeys = keyCols)
  }

  /** [[merge]]'s rewrite set and the frame that replaces it: survivors
    * of the rewritten files are the rows whose key matches no source
    * key, unioned with the source. The join carries the per-key
    * source count, so the ambiguity guard (a target row matched by >1
    * source rows) fires inside this same pass via raise_error — no
    * separate source pre-scan job. */
  private[lake] def mergeFrame(rw: Rewrite, source: DataFrame,
      keyCols: Seq[String], cap: Int = KeyTupleCap): (Seq[Entry], DataFrame) = {
    val keyFiles = keyRewriteSet(rw, source, keyCols, cap)
    val touched = rw.entries.filter(e => keyFiles(e.filePath))
    if (touched.isEmpty) return (Nil, source)
    val current = rw.readFiles(touched)
    // IDENTITY inheritance under replace-merge: a matched
    // (updated) row KEEPS the target's identity value — the
    // source row inherits it by key before the union; unmatched
    // (inserted) rows stay NULL and the commit's identity pass
    // assigns them fresh values. Only columns the source does not
    // provide are inherited (BY DEFAULT may provide explicitly).
    // ROW IDS inherit the same way: an updated row keeps the
    // target row's stable id (Delta row tracking's update rule);
    // inserted rows stay NULL and fall back to base + position.
    val inherit = rw.identity.map(_._1)
      .filterNot(n => source.columns.exists(_.equalsIgnoreCase(n))) ++
      (if (rw.ridTracked) Seq(RidCol) else Nil)
    val src =
      if (inherit.isEmpty) source
      else {
        val aggs = inherit.map(n => min(col(n)).as(n))
        source.join(
          current.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*),
          keyCols.toSeq, "left")
      }
    val srcKeys = src.groupBy(keyCols.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_graft_src_cnt"))
    (touched, current.join(srcKeys, keyCols.toSeq, "left")
      .filter(when(col("_graft_src_cnt") > 1,
          raise_error(lit(dupKeysMessage(keyCols))).cast("boolean"))
        .otherwise(col("_graft_src_cnt").isNull))
      .drop("_graft_src_cnt")
      .unionByName(src, allowMissingColumns = true))
  }

  /** Extended MERGE with the full SQL:2003 clause surface (the shape
    * Delta's `whenMatched/whenNotMatched[BySource]` builder and
    * Iceberg's MERGE SQL expose) — conditional `WHEN MATCHED` update
    * or delete, conditional `WHEN NOT MATCHED` insert, and `WHEN NOT
    * MATCHED BY SOURCE` update/delete; see [[MergeMatchedClause]] for
    * the clause model and evaluation order. [[merge]] remains the
    * dedicated fast path for the unconditional full-row upsert.
    *
    * Scale posture mirrors [[merge]]: the matched/insert passes touch
    * only the files whose footer stats could contain a source key
    * ([[keyRewriteSet]] — stats + blooms + null counts), and the NOT
    * MATCHED BY SOURCE family — inherently a table-wide predicate —
    * rewrites only the files where some clause condition COULD hold
    * (the same stats-pruned file finding DELETE uses; an
    * unconditional clause rewrites every file, as it must). The
    * driver sees at most `KeyTupleCap + 1` distinct key tuples of the
    * source, never its rows; matching is one shuffle/broadcast join
    * per pass.
    *
    * Row semantics: a target row matched by more than one source row
    * raises the standard MERGE ambiguity error whenever a matched
    * clause exists (detected inside the rewrite job, before any
    * publish). Updated rows keep their stable row id and identity
    * values; deleted rows drop; inserted rows get fresh ids from the
    * commit's identity pass. Generated columns always recompute from
    * the post-merge values and may not be assigned. Clause conditions
    * evaluating NULL do not fire (SQL three-valued WHEN). NULL key
    * components never match, so a NULL-keyed target row falls to the
    * NOT MATCHED BY SOURCE family and a NULL-keyed source row to the
    * insert family, per SQL equality.
    *
    * The target does not auto-create: unlike [[merge]] (whose INSERT
    * * on an absent table IS a create), clause expansion needs the
    * target schema — create/append first.
    */
  def mergeClauses(source: DataFrame, path: String, keyCols: Seq[String],
      matched: Seq[MergeMatchedClause] = Nil,
      notMatched: Seq[MergeInsert] = Nil,
      notMatchedBySource: Seq[MergeMatchedClause] = Nil,
      targetAlias: String = "t", sourceAlias: String = "s",
      partitionCols: Seq[String] = Nil,
      schemaEvolution: Boolean = false,
      txn: Option[(String, Long)] = None): Long = {
    require(keyCols.nonEmpty, "mergeClauses needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    // source columns reach the table only through assignments, which
    // check their own targets; refused before evolution commits anything
    refuseReserved("merge source must not contain", source.columns.toSeq)
    val spark = source.sparkSession
    latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at $path — mergeClauses needs an existing " +
          "target (create/append it first; plain merge() creates on first use)"))
    // WITH SCHEMA EVOLUTION (Delta's autoMerge shape): top-level
    // source columns absent from the target are ADDED (nullable,
    // source type, no default) as a metadata-only commit first, so
    // star expansion and explicit assignments then cover them; rows
    // in untouched files read NULL for the new columns (file
    // absence). Two commits — evolution then merge — each atomic; a
    // racing writer aborts the merge half, per the usual guard.
    if (schemaEvolution) {
      val rw = openRewrite(spark, path)
      val fresh = source.schema.fields.toSeq
        .filterNot(f => rw.fields.exists(_.name.equalsIgnoreCase(f.name)))
        .map(f => StructField(f.name, f.dataType, nullable = true))
      if (fresh.nonEmpty) {
        // every refusal the merge would raise, against the columns the
        // evolution is about to add, before it commits anything
        rw.m.schema.foreach(sch => expandClauses(
          new Rewrite(spark, path, rw.base,
            rw.m.copy(schema = Some(StructType(sch.fields ++ fresh)))),
          source.columns.toSeq, matched, notMatched, notMatchedBySource, sourceAlias))
        addColumns(spark, path, fresh)
      }
    }
    clauseMerge(source, path, keyCols, matched, notMatched, notMatchedBySource,
      targetAlias, sourceAlias, partitionCols, txn, "merge")
  }

  /** Column `name` of the frame aliased `alias`. */
  private def qcol(alias: String, name: String): Column = col(s"$alias.`$name`")

  /** [[clauseMerge]]'s clauses over `rw`'s columns: each `*` expanded
    * to the assignable target columns the source `srcCols` also has,
    * and every refusal raised — assignment targets duplicated, unknown,
    * GENERATED or IDENTITY, a `*` that finds no column, a source
    * reference in the NOT MATCHED BY SOURCE family. Driver-only, so
    * [[mergeClauses]] also runs it against the evolved-to-be columns
    * before schema evolution commits. Returns (matched, insert, not
    * matched by source). */
  private def expandClauses(rw: Rewrite, srcCols: Seq[String],
      matched: Seq[MergeMatchedClause], notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeMatchedClause], sourceAlias: String)
      : (Seq[MergeMatchedClause], Seq[MergeInsert], Seq[MergeMatchedClause]) = {
    val allIds = rw.identity.map(_._1)
    val alwaysIds = rw.identity.collect { case (n, true) => n }

    // `SET *` / `INSERT *`: every assignable target column with a
    // same-named source column, from the source
    def starAssigns(what: String, bannedIds: Seq[String]): Seq[(String, Column)] = {
      val as = rw.fields.map(_.name)
        .filterNot(n => rw.generated.exists(_.equalsIgnoreCase(n)))
        .filterNot(n => bannedIds.exists(_.equalsIgnoreCase(n)))
        .flatMap(n => srcCols.find(_.equalsIgnoreCase(n))
          .map(sc => n -> qcol(sourceAlias, sc)))
      require(as.nonEmpty,
        s"$what * found no source column matching an assignable target column")
      as
    }
    val matchedX: Seq[MergeMatchedClause] = matched.map {
      case MergeUpdate(c, Nil) => MergeUpdate(c, starAssigns("UPDATE SET", allIds))
      case u @ MergeUpdate(_, as) =>
        rw.refuseAssigns("MERGE UPDATE SET", as, rw.generated ++ allIds); u
      case d: MergeDelete => d
    }
    // NOT MATCHED BY SOURCE rows have NO source row: a source-alias
    // reference (s.x) would resolve against the left-joined frame and
    // silently read NULL (and a source-referencing CONDITION would
    // silently coalesce to false) — refuse loudly, matching SQL's and
    // Delta's rejection of source references in this clause family.
    // A source-ONLY column name is an unambiguous source reference
    // even unqualified; a name shared with the target resolves to the
    // target side (its qualified form is legal NMBS input).
    lazy val srcOnlyCols = srcCols
      .filterNot(n => rw.fields.exists(_.name.equalsIgnoreCase(n)))
    def checkNmbsExpr(what: String, c: Column): Unit = {
      require(!org.apache.spark.sql.graftbridge.ColumnBridge
          .referencesQualifiedBy(c, sourceAlias),
        s"$what references the source alias '$sourceAlias' — NOT MATCHED " +
          "BY SOURCE rows have no source row")
      val hit = srcOnlyCols.filter(n =>
        org.apache.spark.sql.graftbridge.ColumnBridge.referencesName(c, n))
      require(hit.isEmpty,
        s"$what references source-only column(s) ${hit.mkString(", ")} — " +
          "NOT MATCHED BY SOURCE rows have no source row")
    }
    val nmbsX: Seq[MergeMatchedClause] = notMatchedBySource.map {
      case MergeUpdate(_, Nil) => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE has no source row — UPDATE SET * is " +
          "meaningless there; assign explicit expressions")
      case u @ MergeUpdate(_, as) =>
        rw.refuseAssigns("NOT MATCHED BY SOURCE UPDATE SET", as, rw.generated ++ allIds)
        as.foreach { case (n, v) =>
          checkNmbsExpr(s"NOT MATCHED BY SOURCE UPDATE SET $n", v) }
        u
      case d: MergeDelete => d
    }
    notMatchedBySource.foreach(_.condition.foreach(c =>
      checkNmbsExpr("NOT MATCHED BY SOURCE condition", c)))
    val insertX: Seq[MergeInsert] = notMatched.map {
      case MergeInsert(c, Nil) => MergeInsert(c, starAssigns("INSERT", alwaysIds))
      case i @ MergeInsert(_, vs) =>
        rw.refuseAssigns("MERGE INSERT", vs, rw.generated ++ alwaysIds); i
    }
    (matchedX, insertX, nmbsX)
  }

  /** [[mergeClauses]] after its source guard and schema evolution,
    * committed as `op`; only op `merge` records its key columns. */
  private[lake] def clauseMerge(source: DataFrame, path: String, keyCols: Seq[String],
      matched: Seq[MergeMatchedClause], notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeMatchedClause],
      targetAlias: String, sourceAlias: String, partitionCols: Seq[String],
      txn: Option[(String, Long)], op: String, cap: Int = KeyTupleCap): Long = {
    val spark = source.sparkSession
    val rw = openRewrite(spark, path)
    if (rw.replayed(txn)) return rw.base
    val entries = rw.entries
    val (matchedX, insertX, nmbsX) = expandClauses(rw, source.columns.toSeq,
      matched, notMatched, notMatchedBySource, sourceAlias)

    def fireOf(cond: Option[Column]): Column =
      cond.map(c => coalesce(c, lit(false))).getOrElse(lit(true))

    // file sets: keyFiles = files that could hold a source-key match
    // (read for matching; rewritten only when a matched clause
    // exists); nmbsFiles = files where some NOT-MATCHED-BY-SOURCE
    // condition could hold (always rewritten)
    val keyFiles: Set[String] =
      if (matchedX.nonEmpty || insertX.nonEmpty)
        keyRewriteSet(rw, source, keyCols, cap)
      else Set.empty
    val nmbsFiles: Set[String] =
      if (nmbsX.isEmpty) Set.empty
      // An UNCONDITIONED NOT MATCHED BY SOURCE clause is a FULL-TABLE
      // rewrite by semantics (every target row outside the source key
      // set must be examined — Delta behaves the same). At 100 TB,
      // condition the clause (e.g. on a partition/date bound) so file
      // finding can prune; the conditioned branch below rewrites only
      // files where some NMBS condition can hold.
      else if (nmbsX.exists(_.condition.isEmpty)) entries.map(_.filePath).toSet
      else rw.filesWhere(nmbsX.flatMap(_.condition)
          .map(c => coalesce(c, lit(false))).reduce(_ || _), Some(targetAlias))
        .map(_.filePath).toSet
    val rewriteEntries = entries.filter(e =>
      (matchedX.nonEmpty && keyFiles(e.filePath)) || nmbsFiles(e.filePath))

    val sMark = "__graft_s_match"
    val cntCol = "__graft_src_cnt"
    def joinCond(rAlias: String): Column =
      keyCols.map(k => qcol(targetAlias, k) === qcol(rAlias, k)).reduce(_ && _)
    // a matched list of only unconditional DELETEs needs key
    // MEMBERSHIP, not the source rows, so duplicate source keys stay
    // legal there (Delta's rule for a delete-only MERGE), as they do
    // with no matched clause at all
    val membership = matchedX.forall {
      case MergeDelete(None) => true
      case _ => false
    }

    // target-side pass: every row of a rewritten file is either
    // matched (→ matched chain), or not matched by source (→ NMBS
    // chain); a row no clause claims survives unchanged. A membership
    // pass joins the distinct source keys.
    val tOut: Option[DataFrame] =
      if (rewriteEntries.isEmpty) None
      else {
        val curA = rw.readFiles(rewriteEntries).alias(targetAlias)
        val joined =
          if (!membership) {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols.map(col): _*)
            curA.join(source
                .withColumn(cntCol,
                  org.apache.spark.sql.functions.count(lit(1)).over(w))
                .withColumn(sMark, lit(true)).alias(sourceAlias),
              joinCond(sourceAlias), "left")
          } else {
            curA.join(source.select(keyCols.map(col): _*).distinct()
                .withColumn(sMark, lit(true)).alias(sourceAlias),
              joinCond(sourceAlias), "left")
          }
        val matchedFlag = coalesce(col(s"$sourceAlias.$sMark"), lit(false))
        def keepChain(clauses: Seq[MergeMatchedClause]): Column =
          clauses.foldRight(lit(true)) { (cl, els) =>
            cl match {
              case u: MergeUpdate => when(fireOf(u.condition), lit(true)).otherwise(els)
              case d: MergeDelete => when(fireOf(d.condition), lit(false)).otherwise(els)
            }
          }
        def valueChain(clauses: Seq[MergeMatchedClause], f: StructField): Column = {
          val tc = qcol(targetAlias, f.name)
          clauses.foldRight(tc) { (cl, els) =>
            cl match {
              case MergeUpdate(cond, as) =>
                val v = as.find(_._1.equalsIgnoreCase(f.name))
                  .map(_._2.cast(f.dataType)).getOrElse(tc)
                when(fireOf(cond), v).otherwise(els)
              // value irrelevant — the keep chain drops the row
              case MergeDelete(cond) => when(fireOf(cond), tc).otherwise(els)
            }
          }
        }
        val keepRow = when(matchedFlag, keepChain(matchedX))
          .otherwise(keepChain(nmbsX))
        val guarded =
          if (!membership)
            joined.filter(
              when(matchedFlag && col(s"$sourceAlias.$cntCol") > 1,
                raise_error(lit(dupKeysMessage(keyCols))).cast("boolean"))
              .otherwise(keepRow))
          else joined.filter(keepRow)
        val outCols = rw.fields.map(f =>
          when(matchedFlag, valueChain(matchedX, f))
            .otherwise(valueChain(nmbsX, f)).as(f.name)) ++
          (if (rw.ridTracked) Seq(col(s"$targetAlias.$RidCol").as(RidCol)) else Nil)
        Some(guarded.select(outCols: _*))
      }

    // insert pass: source rows matching NO target key. Only keyFiles
    // can hold a matching key, so the anti join probes just their key
    // columns (column-pruned scan).
    val inserts: Option[DataFrame] =
      if (insertX.isEmpty) None
      else {
        val srcA = source.alias(sourceAlias)
        val keyEntries = entries.filter(e => keyFiles(e.filePath))
        val unmatched =
          if (keyEntries.isEmpty) srcA
          else {
            val tkAlias = "__graft_tk"
            val curKeys = readGroups(spark, keyEntries, rw.m.schema, rw.m.colmap)
              .select(keyCols.map(col): _*).alias(tkAlias)
            srcA.join(curKeys,
              keyCols.map(k => qcol(sourceAlias, k) === qcol(tkAlias, k))
                .reduce(_ && _),
              "left_anti")
          }
        val keepIns = insertX.foldRight(lit(false)) { (cl, els) =>
          when(fireOf(cl.condition), lit(true)).otherwise(els)
        }
        def insValue(f: StructField): Column =
          insertX.foldRight(lit(null).cast(f.dataType)) { (cl, els) =>
            val v = cl.values.find(_._1.equalsIgnoreCase(f.name))
              .map(_._2.cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))
            when(fireOf(cl.condition), v).otherwise(els)
          }
        val cols = rw.fields.map(f => insValue(f).as(f.name)) ++
          (if (rw.ridTracked) Seq(lit(null).cast(LongType).as(RidCol)) else Nil)
        Some(unmatched.filter(keepIns).select(cols: _*))
      }

    val parts = tOut.toSeq ++ inserts.toSeq
    if (parts.isEmpty) return rw.base // every clause family pruned to nothing
    rw.commit(parts.reduce(_.unionByName(_)).drop(rw.generated: _*), op,
      rewriteEntries, rw.partitionCols(partitionCols), statsFrom = entries,
      moreStats = keyCols, opKeys = if (op == "merge") keyCols else Nil, txn = txn,
      dupKeys = keyCols)
  }

  /** Row-level DELETE: remove the rows matching `predicate` by
    * rewriting ONLY the files that contain at least one matching row
    * — `DELETE FROM t WHERE p`, the other half of the row-level
    * surface the reference's gold sink enables via Iceberg v2
    * (reference jobs/ev_sessions_gold_etl.py:147-149). The touched
    * set comes from one scan that tags `input_file_name()` on
    * matching rows: parquet row-group statistics + predicate pushdown
    * prune that scan for free, and the result is the EXACT minimal
    * rewrite set (a file with no matching row is never rewritten —
    * same effect as Delta's stats-then-scan file finding, without
    * maintaining per-column stats for every predicate shape). Rows
    * whose predicate evaluates NULL are kept, per SQL DELETE
    * semantics. Untouched files carry over by manifest reference;
    * every earlier version remains readable (time travel). Returns
    * the new version, or the current one if nothing matched.
    * Concurrency: like [[merge]], a concurrent commit aborts the
    * publish (write-skew guard) — rerun the delete. */
  def delete(spark: SparkSession, path: String, predicate: Column,
      partitionCols: Seq[String] = Nil, sqlAlias: Option[String] = None): Long = {
    val rw = openRewrite(spark, path)
    // file finding goes through readWhere, so the manifest's stats
    // triple (min/max, string bounds, blooms, null counts) prunes the
    // SCAN too: a point delete on a stats-covered key opens only the
    // candidate files, not the table. On a tracked table the
    // predicate may name `_row_id` itself — the incremental-consumer
    // correction shape ("delete the row ids I just processed") —
    // which routes file finding and the rewrite through the tracked
    // read frames. sqlAlias: the SQL path may qualify predicate
    // columns with the table name (`DELETE FROM t WHERE t.c = 1`) —
    // aliasing the scan lets both qualified and bare references
    // resolve.
    val wantsRid = rw.ridTracked && mentionsRowId(predicate)
    val rewrite = rw.filesWhere(predicate, sqlAlias, wantsRid)
    if (rewrite.isEmpty) return rw.base
    // keep rows where the predicate is FALSE or NULL
    val survivors = withRowIdAlias(rw.readFiles(rewrite), wantsRid, sqlAlias)
      .filter(!coalesce(predicate, lit(false)))
      .drop(RowIdCol)
    rw.commit(survivors, "delete", rewrite, rw.partitionCols(partitionCols),
      statsFrom = rw.entries)
  }

  /** A rewrite's read of its touched files as a predicate sees it:
    * `_row_id` exposed when the predicate names it, and under the SQL
    * path's table alias. */
  private def withRowIdAlias(df: DataFrame, wantsRid: Boolean,
      sqlAlias: Option[String]): DataFrame = {
    val withId = if (wantsRid) df.withColumn(RowIdCol, col(RidCol)) else df
    sqlAlias.fold(withId)(withId.alias(_))
  }

  /** Distributed key-set DELETE — `MERGE ... WHEN MATCHED THEN
    * DELETE` with no `WHEN NOT MATCHED` branch, and run as exactly
    * that clause merge: every target row whose `keyCols` tuple appears
    * in `source` is removed. Unlike [[delete]]'s predicate form, the
    * match set is a DataFrame, so a MILLION-key delete wave never
    * reaches the driver (it sees at most `KeyTupleCap + 1` distinct
    * key tuples): the rewrite set comes from the same manifest-stats,
    * null-count and bloom pruning as [[merge]] ([[keyRewriteSet]]),
    * survivors come from joining only the touched files with the
    * distinct source keys, and untouched files carry over by
    * reference. Duplicate source keys are harmless; NULL key
    * components never match (SQL equality). The commit records op
    * `delete_keys` and no key columns, so its change feed takes the
    * unkeyed path. Returns the new version, or the current one when
    * no file can contain any source key. */
  def deleteKeys(source: DataFrame, path: String, keyCols: Seq[String],
      partitionCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    refuseReserved("deleteKeys source must not contain", source.columns.toSeq)
    clauseMerge(source, path, keyCols, Seq(MergeDelete()), Nil, Nil, "t", "s",
      partitionCols, None, op = "delete_keys")
  }

  /** Distributed ROW-ID-set DELETE on a tracked table — the
    * incremental-consumer retirement shape at scale: "delete the 10M
    * row ids this batch processed", with the id set as a DataFrame
    * (never collected to the driver). File pruning is FREE metadata:
    * a file that never materialized `__rid` holds exactly the id
    * range `[base, base + rows)` (position-derived), so a broadcast
    * range join of the manifest's bases against the id set yields
    * the candidates without any stats — only files REWRITTEN under
    * tracking (materialized ids, arbitrary values) stay conservative
    * candidates. Survivors are a distributed anti-join of just the
    * touched files on `_row_id`; untouched files carry over by
    * reference; survivor ids are preserved (ridCarried). `ids`'s
    * first column is used, cast to BIGINT; duplicates are harmless.
    */
  def deleteRowIds(ids: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    val spark = ids.sparkSession
    val rw = openRewrite(spark, path)
    // a replayed retirement wave (the foreachBatch consumer's
    // crash-retry shape) skips entirely
    if (rw.replayed(txn)) return rw.base
    require(rw.ridTracked,
      s"row tracking is not enabled at $path — enableRowTracking first")
    val entries = rw.entries
    val idCol = "__graft_del_rid"
    val idsN = ids.select(col(ids.columns.head).cast(LongType).as(idCol))
      .filter(col(idCol).isNotNull).distinct()
    // range-prunable candidates from the manifest alone: positional
    // files hold exactly [base, base + rows), and rewritten files
    // record __rid footer min/max (see commit) — both range-join
    // against the id set with zero data IO. Only mat files whose
    // rewrite PREDATES rid stats fall back to the __rid-column scan.
    val (mat0, positional) = entries.partition(e => e.ridMat || e.rows < 0L)
    val (matStat, mat) = mat0.partition(e =>
      e.stats.exists(_._1 == RidCol) && e.rows >= 0L)
    val rangeRows: Seq[(String, Long, Long)] =
      positional.map(e => (e.filePath, e.rid.get, e.rid.get + e.rows)) ++
        matStat.flatMap { e =>
          val (_, mn, mx) = e.stats.find(_._1 == RidCol).get
          // footer stats are Doubles — exact below 2^53, above which
          // one ulp exceeds 1 — so widen by the ulp at the magnitude
          // plus a unit; rounding can then never skip a live id
          val pad = 1L +
            Math.ulp(Math.max(Math.abs(mn), Math.abs(mx))).toLong
          Seq((e.filePath, mn.floor.toLong - pad, mx.ceil.toLong + pad + 1L),
            // a rewrite can also INSERT rows (merge's not-matched
            // clauses): those carry NULL __rid and read as the
            // file's fresh base + position — values OUTSIDE the
            // carried footer range — so the positional range
            // [base, base + rows) is a candidate range too
            (e.filePath, e.rid.get, e.rid.get + e.rows))
        }
    val hit: Set[String] =
      if (rangeRows.isEmpty) Set.empty
      else {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        val ranges = spark.createDataFrame(
          rangeRows.map(r => Row(r._1, Long.box(r._2), Long.box(r._3))).asJava,
          StructType(Seq(StructField("_file", StringType),
            StructField("_lo", LongType), StructField("_hi", LongType))))
        idsN.join(broadcast(ranges),
            col(idCol) >= col("_lo") && col(idCol) < col("_hi"))
          .select("_file").distinct().collect().map(_.getString(0)).toSet
      }
    // materialized files (arbitrary id values) refine by ONE scan of
    // just their __rid column, semi-joined with the id set — the
    // id-column analogue of exact touched-file finding; without it
    // every wave after the first rewrite would pay a full rewrite of
    // all previously-rewritten files even when no id matches
    val matTouched: Set[String] =
      if (mat.isEmpty) Set.empty
      else {
        val fcol = "__graft_rid_f"
        rw.readFiles(mat)
          .select(col(RidCol), input_file_name().as(fcol))
          .join(idsN, col(RidCol) === col(idCol), "left_semi")
          .select(fcol).distinct()
          .collect().map(r => normInputFile(r.getString(0))).toSet
      }
    val rewrite = entries.filter(e =>
      hit(e.filePath) || matTouched(normFile(e.filePath)))
    if (rewrite.isEmpty) return rw.base
    val survivors = rw.readFiles(rewrite)
      .join(idsN, col(RidCol) === col(idCol), "left_anti")
    rw.commit(survivors, "delete", rewrite, rw.partitionCols(partitionCols),
      statsFrom = entries, txn = txn)
  }

  /** Row-level DELETE via deletion vectors (Delta DV / Iceberg-v3
    * position-delete shape): instead of rewriting every file that
    * holds a matching row, record the matching ROW POSITIONS in a
    * per-file deletion vector and publish a metadata+DV commit — the
    * data files are untouched. This is the small-delete fast path a
    * 100 TB fact table needs: deleting 100 rows from a 1 GB file
    * costs a DV of 100 longs, not a 1 GB rewrite. Readers apply DVs
    * as a broadcast (file, row_index) anti-join (no shuffle);
    * [[compact]] materializes survivors and clears DVs; time travel
    * holds because DV files are immutable (a second delete writes a
    * MERGED replacement DV). The matched-position collect is bounded
    * by `maxDvRows` — past that, a delete is not "small" and the
    * rewriting [[delete]] is the right tool (the error says so).
    * SQL NULL semantics match [[delete]]: predicate NULL keeps rows. */
  def deleteWithVectors(spark: SparkSession, path: String, predicate: Column,
      maxDvRows: Long = 1000000L): Long = {
    val base = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, base)
    requireWriterFeatures(m, path)
    // live rows with positions: existing DVs applied so an already
    // -dead row can never be re-deleted or double-counted
    val withPos = readWithPositions(spark, m.entries, m.schema, m.colmap)
    val keyOf = scanFileKey(spark, withPos, m.entries)
    val live = applyDvFilter(spark, withPos,
      m.entries.filter(_.dv.isDefined), keyOf)
    val matched = live.filter(coalesce(predicate, lit(false)))
      .select(col("__graft_path"), col("__graft_idx"))
    val cnt = matched.count()
    if (cnt == 0L) return base
    require(cnt <= maxDvRows,
      s"deleteWithVectors matched $cnt rows (cap $maxDvRows) at $path — " +
        "this is not a small delete; use delete() (file rewrite) instead")
    val byFile: Map[String, Array[Long]] = matched.collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted).toMap
    // merged DVs are computed ONCE against the planning snapshot; the
    // rebase below only ever republishes them while the touched files'
    // (file, dv) states are PROVABLY unchanged, so the positions stay
    // valid across rebases by construction
    // keyed by the ENTRY path (not the scan key): concurrent-added
    // entries seen on a rebase never pass through keyOf, whose
    // percent-encoded fallback only knows the planning snapshot
    val dvByKey: Map[String, (String, Long)] = m.entries.flatMap { e =>
      byFile.get(keyOf(e.filePath)).map { fresh =>
        val existing = e.dv.map(d => readDv(spark, path, d._1))
          .getOrElse(Array.empty[Long])
        val merged = (existing ++ fresh).distinct.sorted
        e.filePath -> (writeDv(spark, path, merged), merged.length.toLong)
      }
    }.toMap
    val claimed = m.entries.filter(e => byFile.contains(keyOf(e.filePath)))
      .map(e => (e.filePath, e.dv)).toSet
    // OCC with auto-rebase (same WriteSerializable file-granularity
    // contract as rebasingCarryOver): a concurrent commit that touched
    // only OTHER files composes — rebuild the entry list from the new
    // head and retry; a removal or DV change of a file this delete
    // targets aborts loudly (our positions would be stale)
    casRetry(path) {
      val v = latestVersion(spark, path).get
      val cur = if (v == base) m else readManifestFull(spark, path, v)
      val lost = claimed.diff(guardState(cur.entries))
      require(lost.isEmpty,
        s"concurrent commit advanced $path during deleteWithVectors and " +
          s"changed ${lost.size} file(s) this delete also targets " +
          s"(e.g. ${lost.head._1}) — rerun")
      val newEntries = cur.entries.map { e =>
        dvByKey.get(e.filePath) match {
          case None     => e
          case Some(dv) => e.copy(dv = Some(dv))
        }
      }
      Option.when(publishManifest(spark, path, v + 1, cur.copy(
        entries = newEntries, op = Some("delete_dv"), opKeys = Nil)))(v + 1)
    }
  }

  /** Auto-tiered DELETE (Delta's behavior): probe the matched-row
    * count with a `limit(threshold + 1)` bound (the probe never scans
    * past deciding), then route a small delete through
    * [[deleteWithVectors]] (metadata+DV, zero rewrite) and a large one
    * through the rewriting [[delete]]. The threshold is the point
    * where rewriting the touched files costs less than carrying DV
    * anti-joins on every future read. */
  def deleteAuto(spark: SparkSession, path: String, predicate: Column,
      dvThreshold: Long = 100000L,
      partitionCols: Seq[String] = Nil): Long = {
    val base = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    // clamp: a threshold near Long.MaxValue must not overflow the
    // Int-typed limit, and the chosen threshold IS the DV cap (a
    // threshold above deleteWithVectors' default must not trip its
    // cap error instead of the intended auto-routing)
    val probeLimit =
      if (dvThreshold >= Int.MaxValue.toLong) Int.MaxValue
      else (dvThreshold + 1).toInt
    // a `_row_id` predicate routes straight to the rewriting delete —
    // the DV probe frames don't serve row ids, and an id-addressed
    // correction is the rewrite shape anyway
    if (readManifestFull(spark, path, base).rowIdHigh.isDefined &&
        mentionsRowId(predicate))
      return delete(spark, path, predicate, partitionCols)
    // the probe rides readWhere so manifest stats prune its scan too
    // (filter(pred) already excludes NULL evaluations, same row set
    // as the old coalesce(pred, false) form — and a bare predicate
    // keeps the skippers' conjunct extraction effective)
    val matched = readWhere(spark, path, predicate, Some(base))
      .limit(probeLimit).count()
    if (matched == 0L) base
    else if (matched <= dvThreshold)
      deleteWithVectors(spark, path, predicate, maxDvRows = dvThreshold)
    else delete(spark, path, predicate, partitionCols)
  }

  /** Row-level UPDATE: apply `assignments` (column → new-value
    * expression) to the rows matching `predicate` by rewriting ONLY
    * the files that contain at least one matching row — `UPDATE t SET
    * c = e WHERE p`, completing the Iceberg-v2 row-level DML trio
    * (MERGE / DELETE / UPDATE) the reference's gold table declares
    * (reference jobs/ev_sessions_gold_etl.py:147-149,
    * format-version=2). File finding is identical to [[delete]]: one
    * pushdown-pruned scan tags `input_file_name()` on matching rows,
    * yielding the exact minimal rewrite set. Standard SQL UPDATE
    * semantics: every SET expression is evaluated against the
    * PRE-update row (all assignments are applied in one projection,
    * so `SET a = b, b = a` swaps), values are cast to the column's
    * declared type, and rows whose predicate evaluates NULL are left
    * unchanged. Untouched files carry over by manifest reference;
    * every earlier version remains readable. Returns the new version
    * (the current one if nothing matched). Concurrency: like
    * [[merge]], a concurrent commit aborts the publish — rerun. */
  def update(spark: SparkSession, path: String,
      assignments: Seq[(String, Column)], predicate: Column,
      partitionCols: Seq[String] = Nil, sqlAlias: Option[String] = None): Long = {
    require(assignments.nonEmpty, "update needs at least one SET assignment")
    val rw = openRewrite(spark, path)
    // the rewritten frame drops generated columns, so commit()
    // recomputes them from the post-update values
    rw.refuseAssigns("UPDATE SET", assignments, rw.generated ++ rw.identity.map(_._1))
    // stats-pruned file finding, like delete's (see there) — incl.
    // `_row_id` predicates on tracked tables ("update these row ids")
    val wantsRid = rw.ridTracked && (mentionsRowId(predicate) ||
      assignments.exists(a => mentionsRowId(a._2)))
    val rewrite = rw.filesWhere(predicate, sqlAlias, wantsRid)
    if (rewrite.isEmpty) return rw.base
    // rows where the predicate is NULL keep their old values, per SQL
    val fire = coalesce(predicate, lit(false))
    val updated = withRowIdAlias(rw.readFiles(rewrite), wantsRid, sqlAlias)
      .select(rw.fields.map { f =>
        assignments.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, v)) => when(fire, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None         => col(f.name)
        }
      } ++ (if (rw.ridTracked) Seq(col(RidCol)) else Nil): _*)
    rw.commit(updated.drop(rw.generated: _*), "update", rewrite,
      rw.partitionCols(partitionCols), statsFrom = rw.entries)
  }

  /** The candidate entry set a predicate-scoped maintenance
    * operation targets: the manifest-stats pruning file finding uses
    * (numeric/string bounds, blooms, null counts — hive partition
    * values ride along as (v,v) stats), computed WITHOUT scanning
    * any data file. Unlike rows-observed scoping, a file whose
    * bounds could match stays a candidate even when no live row
    * currently matches (e.g. fully DV-deleted). A predicate leaf the
    * skip compiler can't evaluate keeps its files (conservative),
    * and a tracked table's `_row_id` resolves as such a leaf. */
  private[lake] def candidateEntries(spark: SparkSession, m: Manifest,
      predicate: Column): Seq[Entry] =
    if (m.entries.isEmpty) Nil
    else analyzeOn(spark, m, predicate, withRowIds = m.rowIdHigh.isDefined)._2
      .fold(m.entries)(c => m.entries.filter(FileSkipping.compile(c, m.phys)))

  /** Maintenance compaction: rewrite the CURRENT table state into
    * `numFiles` files — optionally range-clustered on `clusterCol`,
    * which (re)builds the file-skipping index — and commit a version
    * whose manifest references only the rewritten files (Iceberg's
    * rewrite_data_files action). Unlike
    * [[LakeWriter.compactPartitions]] (an in-place directory swap
    * needing an exclusive window — and refused on snapshot tables),
    * this is just another commit: concurrent readers keep their
    * version, time travel still serves the old files, and [[vacuum]]
    * reclaims them later. A concurrent writer aborts the commit
    * (write-skew guard) — rerun the compaction. A hive-partitioned
    * table keeps its directory layout automatically: the partition
    * columns are inferred from the live files' paths when
    * `partitionCols` is not given, so [[overwritePartitions]] keeps
    * matching the rewritten files. `zorderCols` (≥2 columns) rewrites
    * into a Z-ORDER layout instead — clustered WITHIN each hive
    * partition when the table is partitioned, which is exactly Delta's
    * `OPTIMIZE t ZORDER BY (...)` scope: a date-partitioned fact gets
    * partition pruning and multi-dimension file skipping from the same
    * maintenance pass.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int = 8,
      clusterCol: Option[String] = None,
      partitionCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      where: Option[Column] = None): Long = {
    require(clusterCol.isEmpty || zorderCols.isEmpty,
      "pass clusterCol (1-D range clustering) OR zorderCols (z-curve), not both")
    val rw = openRewrite(spark, path)
    // `where` (Delta's OPTIMIZE ... WHERE): bound the rewrite to the
    // files whose recorded manifest stats COULD match the predicate —
    // the same candidate set file finding computes, with NO data
    // scan. Scoping by observed matching rows (input_file_name over a
    // filtered read) would silently exclude a file in a targeted
    // partition that holds zero matching LIVE rows — in particular a
    // fully DV-deleted file, which a scoped OPTIMIZE must still be
    // able to compact away; stats-candidate scoping matches Delta's
    // partition-scope contract (all files of matching partitions are
    // rewritten; hive partition values are free (v,v) stats here).
    // Files are rewritten WHOLE (all rows preserved), so a wider
    // candidate set is always safe; partition predicates give exact
    // scoping.
    val scope: Seq[Entry] = where match {
      case None => rw.entries
      case Some(pred) => candidateEntries(spark, rw.m, pred)
    }
    if (scope.isEmpty) return rw.base
    // raw read (hidden partition columns kept): zShape clusters
    // within partitions and needs them present; commit() re-derives
    // them anyway before writing
    val current = rw.readFiles(scope)
    val partCols = rw.partitionCols(partitionCols)
    val shaped =
      if (zorderCols.nonEmpty) zShape(current, zorderCols, numFiles, partCols)
      else clusterCol match {
        case Some(c) => current.repartitionByRange(numFiles, col(c))
          .sortWithinPartitions(c)
        case None => current.repartition(numFiles)
      }
    // a clustered rewrite marks its outputs; only a FULL one records
    // the spec table-wide (a scoped run clusters its slice — the
    // marks still count if the table's spec matches)
    val spec = if (zorderCols.nonEmpty) zorderCols else clusterCol.toSeq
    rw.commit(shaped, "compact", scope, partCols, statsFrom = scope, moreStats = spec,
      clusterTag = if (spec.nonEmpty) Some(clusterTagOf(spec)) else None,
      newClusterCols = if (where.isEmpty) spec else Nil)
  }

  /** `ALTER TABLE t CLUSTER BY (c1, c2)` — record (or change) the
    * clustering spec as ONE metadata commit (Delta liquid
    * clustering's DDL): no data moves here; the next
    * [[optimizeIncremental]] clusters against the new spec, and a
    * spec CHANGE implicitly invalidates every existing `cl=` mark
    * (the mark is the spec's hash) so settled files re-cluster
    * lazily, never eagerly. Columns must exist in the recorded
    * schema. */
  def clusterBy(spark: SparkSession, path: String,
      cols: Seq[String]): Long =
    publishMetadataCommit(spark, path, "clusterBy")(
      clusterByMutation(path, cols))

  private[lake] def clusterByMutation(path: String,
      cols: Seq[String]): Manifest => Manifest = { m =>
    require(cols.nonEmpty, "CLUSTER BY needs at least one column")
    m.schema.foreach { sc =>
      val missing = cols.filterNot(c =>
        sc.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"CLUSTER BY column(s) ${missing.mkString(", ")} not in the " +
          s"schema of $path")
    }
    m.copy(clusterCols = cols)
  }

  /** Spec-hash mark stored per clustered file (`cl=` token): 16 hex
    * chars of xxhash64 over the canonical column list — each column
    * URL-encoded before joining (matching the `#clusterCols=` header
    * encoding), so no legal column name can alias a different spec
    * through the join character. A tag collision would make
    * [[optimizeIncremental]] silently treat files clustered under a
    * DIFFERENT spec as settled forever, hence the 64-bit hash
    * (~2^-64 per spec pair vs ~2^-32 for the 32-bit MurmurHash this
    * replaces). Changing the spec changes the tag, so files
    * clustered under an OLD spec read as unclustered without any
    * entry rewrite. */
  private[lake] def clusterTagOf(cols: Seq[String]): String =
    f"${RidBaseLookup.hash(cols.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))}%016x"

  /** The pre-r18 tag format: 8 hex chars of 32-bit MurmurHash3 over
    * the NUL-joined column list — the EXACT string the 8-hex-era
    * library hashed (its `clusterTagOf` NUL-joined the list;
    * verified against the historic source at commit 0f9f310, and the
    * spec pins the literal hex values that era wrote to disk, NOT
    * values recomputed through this function). Recognized READ-side
    * only (see [[settledUnder]]) so a table clustered by an older
    * library upgrades without a one-time full re-cluster: its settled
    * files keep counting as settled, and the legacy marks age out
    * naturally as DML rewrites drop them. New marks are always
    * written in the 16-hex format — the two formats are
    * length-disjoint, so no 64-bit tag can ever alias a legacy one.
    * The NUL join also keeps multi-column specs unambiguous (a
    * separator-less concat would alias `["ab"]` with `["a","b"]` —
    * no legal column name contains NUL). */
  private[lake] def legacyClusterTagOf(cols: Seq[String]): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(cols.mkString("\u0000")).toLong & 0xffffffffL}%08x"

  /** Is `e` settled under the spec whose current tag is `tag` and
    * whose legacy (pre-r18) tag is `legacyTag`? Length-discriminated:
    * an 8-char mark is compared against the legacy hash of the SAME
    * spec, so upgrading the library never invalidates settled marks
    * (the migration hazard the 16-hex switch otherwise created: every
    * pre-upgrade mark would read as stale and the next incremental
    * pass — or the auto-cluster policy — would rewrite the whole
    * table once). */
  private[lake] def settledUnder(e: Entry, tag: String,
      legacyTag: String): Boolean =
    e.clusterTag.exists(t => t == tag || (t.length == 8 && t == legacyTag))

  /** INCREMENTAL CLUSTERING (the liquid-clustering maintenance
    * shape): rewrite ONLY the files not yet clustered under the
    * table's recorded spec — new appends, DML rewrites (which drop
    * their `cl=` mark), and files from an older spec — z-shaping them
    * against the SAME key space, and leave settled files untouched
    * (their paths stay byte-identical, so 100 TB maintenance cost
    * scales with NEW data, not table size; the stats/skipping benefit
    * still lands because readWhere prunes per file). The spec comes
    * from the last full `OPTIMIZE ... ZORDER BY` / clustered compact,
    * or is (re)recorded by passing `zorderCols`. `numFiles <= 0`
    * sizes the output from the stale row count (~1M rows per file).
    * No-op (returns the current version) when everything is already
    * clustered. `where` (`OPTIMIZE t WHERE p INCREMENTAL`) further
    * scopes the pass to the manifest-stats candidate files of the
    * predicate ([[candidateEntries]] — partition predicates give
    * exact scoping), the per-partition maintenance-wave shape:
    * unmarked files OUTSIDE the scope stay byte-identical and
    * unmarked, to be picked up by their own wave; a scoped pass
    * never (re)records the table-wide spec, exactly like a scoped
    * [[compact]]. */
  def optimizeIncremental(spark: SparkSession, path: String,
      zorderCols: Seq[String] = Nil, numFiles: Int = 0,
      partitionCols: Seq[String] = Nil,
      where: Option[Column] = None): Long = {
    val rw = openRewrite(spark, path)
    val m = rw.m
    val spec = if (zorderCols.nonEmpty) zorderCols else m.clusterCols
    require(spec.nonEmpty,
      s"no clustering columns recorded at $path — run " +
        "OPTIMIZE ... ZORDER BY (...) once or pass zorderCols")
    // a SCOPED wave never records the spec, so an explicit zorderCols
    // that differs from the recorded one would mark its outputs under
    // a tag no future pass computes — a full paid rewrite whose marks
    // never count, re-rewritten by every later pass. Refuse instead.
    require(where.isEmpty || zorderCols.isEmpty ||
        zorderCols == m.clusterCols,
      s"a scoped incremental pass clusters against the RECORDED spec " +
        s"(${m.clusterCols.mkString(", ")}) — change it first with " +
        s"ALTER TABLE ... CLUSTER BY (${zorderCols.mkString(", ")}) or " +
        "run the unscoped pass with zorderCols")
    val tag = clusterTagOf(spec)
    val legacy = legacyClusterTagOf(spec)
    val unmarked = m.entries.filterNot(settledUnder(_, tag, legacy))
    val stale = where match {
      case None => unmarked
      case Some(pred) =>
        // WHERE × INCREMENTAL: the wave touches only unmarked files
        // the predicate's stats-candidate set covers — same file
        // finding as a scoped compact, zero data scanned
        val cand = candidateEntries(spark, m, pred).toSet
        unmarked.filter(cand)
    }
    if (stale.isEmpty && (where.nonEmpty || m.clusterCols == spec)) return rw.base
    if (stale.isEmpty)
      // spec (re)recorded with no files to move: metadata-only commit
      // (unreachable under `where` — a scoped wave never records)
      return publishMetadataCommit(spark, path, "optimize_incremental")(
        cur => cur.copy(clusterCols = spec))
    clusterRewriteCommit(rw, spec, tag, stale, numFiles,
      rw.partitionCols(partitionCols), op = "optimize_incremental",
      // a scoped wave clusters its slice without touching the
      // table-wide spec (the marks still count when the specs match)
      recordSpec = where.isEmpty)
  }

  /** Shared tail of [[optimizeIncremental]] and [[maybeAutoCluster]]:
    * z-shape (≥2-col spec) or range-cluster (1-col) exactly the
    * `stale` entries against the table's key space, mark the outputs
    * with `tag`, and commit with the file-disjoint rebasing guard —
    * settled files carry over by reference, byte-identical. */
  private def clusterRewriteCommit(rw: Rewrite, spec: Seq[String],
      tag: String, stale: Seq[Entry], numFiles: Int, partCols: Seq[String],
      op: String, recordSpec: Boolean): Long = {
    val current = rw.readFiles(stale)
    val staleRows = stale.map(e => math.max(e.rows, 0L)).sum
    val outFiles =
      if (numFiles > 0) numFiles
      else math.max(1L, (staleRows + (1L << 20) - 1) / (1L << 20)).toInt
    val shaped =
      if (spec.size >= 2) zShape(current, spec, outFiles, partCols)
      else current.repartitionByRange(outFiles, col(spec.head))
        .sortWithinPartitions(spec.head)
    rw.commit(shaped, op, stale, partCols, statsFrom = stale, moreStats = spec,
      clusterTag = Some(tag), newClusterCols = if (recordSpec) spec else Nil)
  }

  /** Opt a table into COMMIT-TIME AUTO-CLUSTERING (the liquid-
    * clustering companion of [[setAutoCompact]]): after every data
    * commit, any key region (hive partition; the whole table when
    * unpartitioned) holding at least `minStaleFiles` files NOT
    * marked under the current `#clusterCols=` spec gets exactly
    * those files incrementally clustered — settled files stay
    * byte-identical, best-effort under contention, never failing
    * the user's commit. The trigger is deliberately CLUSTER-AWARE
    * (unmarked-file count), not the small-file count:
    * auto-compaction's whole-partition merge spans its full key
    * range and is left UNMARKED, so this policy is what restores
    * skipping over it. The policy decision is O(live entries)
    * driver work per commit; the pass itself is BOUNDED at
    * `spark.graft.policy.maxFilesPerWave` files (default 100),
    * worst-backlog region first, z-range-contiguous slices within a
    * region — so enabling the policy on a backlogged table never
    * makes the next 1-row append pay a full-backlog rewrite inline,
    * and at 100 TB maintenance cost scales with new data, not table
    * size. Requires a recorded spec
    * ([[clusterBy]] or a full clustered OPTIMIZE) to have any
    * effect. `minStaleFiles <= 0` disables. */
  def setAutoCluster(spark: SparkSession, path: String,
      minStaleFiles: Int): Long =
    publishMetadataCommit(spark, path, "setAutoCluster")(
      setAutoClusterMutation(minStaleFiles))

  private[lake] def setAutoClusterMutation(minStaleFiles: Int)
      : Manifest => Manifest = m =>
    m.copy(autoCluster =
      if (minStaleFiles <= 0) None else Some(minStaleFiles))

  /** Observability for the clustering policies: how many live files
    * are NOT marked under the table's current clustering spec (the
    * set the next incremental pass would rewrite). 0 when no spec is
    * recorded — there is nothing to be stale against. */
  def unclusteredFileCount(spark: SparkSession, path: String): Int = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    if (m.clusterCols.isEmpty) 0
    else {
      val tag = clusterTagOf(m.clusterCols)
      val legacy = legacyClusterTagOf(m.clusterCols)
      m.entries.count(!settledUnder(_, tag, legacy))
    }
  }

  /** Current auto-clustering policy: minimum unmarked files per key
    * region that trigger the commit-time incremental pass. */
  def autoClusterPolicy(spark: SparkSession, path: String): Option[Int] = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).autoCluster
  }

  /** One best-effort auto-clustering round (see [[setAutoCluster]]):
    * incrementally cluster each over-threshold key region's unmarked
    * files. Throws on contention; the caller swallows (the policy
    * re-fires on the next commit anyway). */
  private def maybeAutoCluster(spark: SparkSession, path: String): Unit = {
    val rw = rewriteAt(spark, path).getOrElse(return)
    val m = rw.m
    val minStale = m.autoCluster.getOrElse(return)
    val spec = m.clusterCols
    if (spec.isEmpty) return // no recorded spec: nothing to cluster against
    val tag = clusterTagOf(spec)
    val legacy = legacyClusterTagOf(spec)
    val unmarked = m.entries.filterNot(settledUnder(_, tag, legacy))
    val triggered = unmarked.groupBy(partitionFragmentOf)
      .filter(_._2.size >= minStale)
    if (triggered.isEmpty) return
    // CAP the wave: the pass runs synchronously inside the user's
    // commit call, so on a backlogged table (policy just enabled, or
    // a long policy outage) an uncapped pass would make the very next
    // 1-row append pay a full-backlog rewrite inline — at 100 TB a
    // surprise multi-hour commit. Instead rewrite at most
    // `maxFilesPerWave` files, worst-backlog region first; the policy
    // re-fires on every later non-policy commit, so the remainder
    // drains for free (Delta bounds its auto-compaction passes the
    // same way, by bytes).
    val stale = cappedWave(triggered, policyMaxFilesPerWave(spark),
      zRangeOrder(spec, m.colmap))
    clusterRewriteCommit(rw, spec, tag, stale, numFiles = 0,
      partCols = rw.partitionCols(Nil), op = "autocluster", recordSpec = false)
    ()
  }

  /** Per-pass file cap for the commit-time maintenance policies
    * ([[maybeAutoCluster]] / [[maybeAutoCompact]]). Session conf, not
    * table state — the bound protects THIS writer's commit latency,
    * like Delta's autoCompact.maxCompactBytes. The manifest records
    * only row counts, so the cap is in files; size it against the
    * table's target file size. */
  private def policyMaxFilesPerWave(spark: SparkSession): Int = {
    val v = spark.conf.get("spark.graft.policy.maxFilesPerWave", "100").toInt
    require(v > 0, "spark.graft.policy.maxFilesPerWave must be positive")
    v
  }

  /** Assemble one bounded policy wave from the over-threshold
    * regions: regions ordered worst-backlog-first (the partition
    * hurting most drains first, ties by key for determinism), files
    * taken until `budget` is spent. An over-budget region contributes
    * a slice that is CONTIGUOUS under `order` — for auto-clustering
    * that order is the first clustering column's recorded min stat,
    * so the slice is one z-range bucket of the partition's backlog
    * and the capped rewrite's output covers a narrow key range
    * instead of smearing the whole partition's range across a bounded
    * file budget (the hot-partition ingest shape: one partition's
    * backlog too big to rewrite at once drains as successive
    * key-adjacent buckets). */
  private def cappedWave(triggered: Map[String, Seq[Entry]], budget: Int,
      order: Entry => (Int, Double, String, String)): Seq[Entry] = {
    val worstFirst = triggered.toSeq.sortBy { case (k, es) => (-es.size, k) }
    val wave = Seq.newBuilder[Entry]
    var left = budget
    worstFirst.foreach { case (_, es) =>
      if (left > 0) {
        val take = if (es.size <= left) es else es.sortBy(order).take(left)
        wave ++= take
        left -= take.size
      }
    }
    wave.result()
  }

  /** Z-range ordering for [[cappedWave]] slices: by the first
    * clustering column's recorded min stat (numeric stats first, then
    * string stats, then files with no stat on that column), file path
    * as the deterministic tiebreak. Stats are keyed by PHYSICAL
    * column name, so the spec's logical head maps through the column
    * mapping first. */
  private def zRangeOrder(spec: Seq[String], colmap: Map[String, String])
      : Entry => (Int, Double, String, String) = {
    val phys = colmap.getOrElse(spec.head, spec.head)
    e => e.stats.find(_._1 == phys) match {
      case Some((_, mn, _)) => (0, mn, "", e.filePath)
      case None => e.sstats.find(_._1 == phys) match {
        case Some((_, mn, _)) => (1, 0.0, mn, e.filePath)
        case None             => (2, 0.0, "", e.filePath)
      }
    }
  }

  /** Opt a table into COMMIT-TIME AUTO-COMPACTION (Delta
    * autoOptimize posture): after every data commit, any partition
    * holding at least `minSmallFiles` files with fewer than
    * `smallFileRows` footer rows gets those files rewritten into one
    * — a normal commit (op=autocompact), time travel intact, blooms
    * re-recorded, best-effort under contention (a concurrent writer
    * simply skips this round; the next commit retries). The policy
    * decision reads ONLY the manifest (file counts + footer row
    * counts — no filesystem metadata), so the check is O(live
    * entries) driver work per commit and the rewrite is bounded at
    * `spark.graft.policy.maxFilesPerWave` files per pass
    * (worst-backlog partition first, smallest files first — the
    * remainder drains on later commits). `minSmallFiles <= 0`
    * disables. */
  def setAutoCompact(spark: SparkSession, path: String,
      minSmallFiles: Int, smallFileRows: Long = 100000L): Long =
    publishMetadataCommit(spark, path, "setAutoCompact")(
      setAutoCompactMutation(minSmallFiles, smallFileRows))

  private[lake] def setAutoCompactMutation(minSmallFiles: Int,
      smallFileRows: Long): Manifest => Manifest = m =>
    m.copy(autoCompact =
      if (minSmallFiles <= 0) None
      else Some((minSmallFiles, smallFileRows)))

  /** Current auto-compaction policy: (minSmallFiles, smallFileRows). */
  def autoCompactPolicy(spark: SparkSession, path: String): Option[(Int, Long)] = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readManifestFull(spark, path, v).autoCompact
  }

  private def partitionFragmentOf(e: Entry): String = {
    val rel = e.filePath.stripPrefix(e.commitDir)
    rel.split("/").filter(seg => seg.nonEmpty && seg.contains("=")).mkString("/")
  }

  /** One best-effort auto-compaction round (see [[setAutoCompact]]):
    * rewrite each over-threshold partition's small files into one.
    * Throws on contention; the caller swallows (the policy re-fires
    * on the next commit anyway). */
  private def maybeAutoCompact(spark: SparkSession, path: String): Unit = {
    val rw = rewriteAt(spark, path).getOrElse(return)
    val m = rw.m
    val (minFiles, smallRows) = m.autoCompact.getOrElse(return)
    val small = m.entries.filter(e =>
      e.rows >= 0 && e.rows < smallRows && e.dv.isEmpty)
    val triggered = small.groupBy(partitionFragmentOf)
      .filter(_._2.size >= minFiles)
    if (triggered.isEmpty) return
    // Capped like the auto-cluster wave (see [[maybeAutoCluster]]):
    // worst-backlog partition first, smallest files first within an
    // over-budget partition (merging the smallest buys the most
    // file-count reduction per row rewritten); the remainder drains
    // on later commits.
    val victims = cappedWave(triggered, policyMaxFilesPerWave(spark),
      e => (0, e.rows.toDouble, "", e.filePath))
    val wavePartitions = victims.groupBy(partitionFragmentOf).size
    val partCols = rw.partitionCols(Nil, layout = victims)
    val merged0 = rw.readFiles(victims)
    // one writer task per triggered partition (hash on the partition
    // columns), so each partition's small files collapse to ONE file
    // — a bare coalesce would interleave partitions across tasks and
    // re-fragment the very dirs being compacted
    val merged =
      if (partCols.isEmpty) merged0.coalesce(1)
      else merged0.repartition(wavePartitions, partCols.map(col): _*)
    rw.commit(merged, "autocompact", victims, partCols, statsFrom = victims)
    ()
  }

  /** Expire history: keep only the latest `keepVersions` manifests
    * and delete data files no kept manifest references. Time travel
    * to expired versions is gone afterwards (by design — this is the
    * storage-reclamation half of the snapshot contract).
    *
    * `minAgeMs` is the concurrent-writer guard: versions whose
    * manifest was published within the last `minAgeMs` are never
    * expired, so an in-flight commit that based its carryOver on a
    * recent version cannot have its carried-over files deleted
    * underneath it (the Delta/Iceberg retention-window posture —
    * vacuum with `minAgeMs = 0` assumes a quiesced table). In-flight
    * READS of an expired version are inherently unprotected; size
    * `minAgeMs` beyond the longest expected query.
    *
    * `protectConsumers` closes the retention/consumption gap: each
    * entry is a consumer checkpoint directory — either a
    * [[SnapshotIncremental]] checkpoint or a Structured Streaming
    * checkpointLocation of the `graft-snapshot` source — and no
    * version at or above that consumer's floor (the manifest-diff
    * base of its next batch) is ever expired. A listed checkpoint
    * with no progress yet protects the whole history, so a
    * provisioned-but-never-run consumer cannot silently lose its
    * bootstrap. */
  /** Shared retention planning for [[vacuum]] and [[vacuumDryRun]]:
    * (expired versions, kept versions, data files to delete, DV files
    * to delete) under the same pinning rules — tags, cross-ref shared
    * files, consumer floors, min age (sidecar-aware). Read-only. */
  /** Retention planner shared by [[vacuum]] and [[vacuumDryRun]].
    * Driver-plane cost is MEASURED flat in history depth (ScaleBench
    * `vacuum_plan`, round 14): cold dry-run over a 20k-file history
    * with 2 branches took 4.9s at 250 commits and 17.2s at 1000 —
    * 3.5× for 4× the commits, i.e. linear, checkpoint-amortized by
    * the manifest cache (the ascending candidate walk keeps each
    * version's base cached, so every step is one delta parse + one
    * replay). The same run pins the semantics: branch-shared files
    * pinned every candidate (expired = 0), and after dropping the
    * branches the plan expired all 999 candidates and reported
    * exactly the 998 delta-removed files as dead. */
  private def vacuumPlan(spark: SparkSession, path: String,
      keepVersions: Int, minAgeMs: Long, protectConsumers: Seq[String])
      : (Seq[Long], Seq[Long], Set[String], Set[String]) = {
    val f = fs(spark, path)
    val all = versions(spark, path)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val floor: Long = protectConsumers
      .map(SnapshotIncremental.consumedFloor(spark, _))
      .minOption.getOrElse(Long.MaxValue)
    val (candidates, kept0) = all.splitAt(math.max(0, all.size - keepVersions))
    // tagged versions are pinned: retention never expires them
    val tagged = tags(spark, path).values.toSet
    // On the MAIN handle, a version whose files another ref still
    // references stays in history (the tag posture): branches share
    // the table's data dir, dropBranch deletes the branch log without
    // touching data, and "next vacuum on main reclaims" only works if
    // main still holds a manifest naming those files — expiring it
    // would strand them as unreachable orphans once the branch drops.
    // A BRANCH handle needs no such pin: every file a branch manifest
    // shares with another ref is a fork-ancestry file that main's own
    // (pinned) history also names, so expiring the branch's fork-base
    // manifest cannot orphan anything. Physical deletion is guarded
    // separately below (keptEntries includes refEntries) either way.
    val table = realPathOf(path)
    val self = branchOf(path)
    val otherRefs: Seq[String] =
      (if (self.isDefined) Seq(table) else Nil) ++
        branches(spark, table).filterNot(self.contains)
          .map(branchHandle(table, _))
    // STREAMED plan: the walk holds at most ONE version's entry list
    // at a time; every accumulator is a file-path set bounded by the
    // DISTINCT file count, never (versions x files). The old
    // per-candidate Map materialized every candidate's full entry
    // list simultaneously — at 10k commits x 20k files that is 2x10^8
    // live Entry objects, an OOM the ScaleBench 10k point reproduces.
    val refFiles = scala.collection.mutable.HashSet.empty[String]
    val refDvs = scala.collection.mutable.HashSet.empty[String]
    otherRefs.foreach(h => versions(spark, h).foreach { v =>
      readManifest(spark, h, v).foreach { e =>
        refFiles += e.filePath
        e.dv.foreach(refDvs += _._1)
      }
    })
    val pinSharedFiles = self.isEmpty
    val expiredB = Seq.newBuilder[Long]
    val youngB = Seq.newBuilder[Long]
    val expFiles = scala.collection.mutable.HashSet.empty[String]
    val expDvs = scala.collection.mutable.HashSet.empty[String]
    val keptFiles = scala.collection.mutable.HashSet.empty[String]
    val keptDvs = scala.collection.mutable.HashSet.empty[String]
    def accumulate(es: Seq[Entry], files: scala.collection.mutable.HashSet[String],
        dvs: scala.collection.mutable.HashSet[String]): Unit =
      es.foreach { e =>
        files += e.filePath
        e.dv.foreach(dvs += _._1)
      }
    // ascending walk keeps each version's delta base warm in the
    // manifest cache, so every step is one delta parse + one replay
    candidates.foreach { v =>
      val es = readManifest(spark, path, v)
      val isExpired = v < floor && !tagged(v) &&
        !(pinSharedFiles && es.exists(e => refFiles(e.filePath))) &&
        (minAgeMs <= 0L ||
          // sidecar-aware, like every other version-file stat
          versionFileStatus(f, path, v)._2.getModificationTime <= cutoff)
      if (isExpired) { expiredB += v; accumulate(es, expFiles, expDvs) }
      else { youngB += v; accumulate(es, keptFiles, keptDvs) }
    }
    kept0.foreach(v => accumulate(readManifest(spark, path, v), keptFiles, keptDvs))
    val expired = expiredB.result()
    val kept = youngB.result() ++ kept0
    keptFiles ++= refFiles
    keptDvs ++= refDvs
    // ownership guard: only ever delete files under THIS table's path
    // — a shallow clone's manifests reference the SOURCE table's
    // files, and expiring the clone's history must never reach into
    // the source's data
    def owned(p: String): Boolean =
      new Path(p).toUri.getPath.startsWith(new Path(table).toUri.getPath + "/")
    val dead = (expFiles.toSet -- keptFiles).filter(owned)
    // deletion-vector files referenced only by expired versions go too
    val deadDv = (expDvs.toSet -- keptDvs).filter(owned)
    (expired, kept, dead, deadDv)
  }

  /** What [[vacuum]] WOULD reclaim, deleting nothing (Delta's
    * `VACUUM ... DRY RUN`): (expired versions, data files, DV files)
    * under exactly the same pinning rules — the operator's
    * look-before-you-leap for a destructive retention run. */
  def vacuumDryRun(spark: SparkSession, path: String, keepVersions: Int = 1,
      minAgeMs: Long = 0L, protectConsumers: Seq[String] = Nil)
      : (Seq[Long], Seq[String], Seq[String]) = {
    require(keepVersions >= 1, "must keep at least one version")
    val (expired, _, dead, deadDv) =
      vacuumPlan(spark, path, keepVersions, minAgeMs, protectConsumers)
    (expired, dead.toSeq.sorted, deadDv.toSeq.sorted)
  }

  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
      minAgeMs: Long = 0L, protectConsumers: Seq[String] = Nil): Unit = {
    require(keepVersions >= 1, "must keep at least one version")
    // No writer-features gate here (forward-carry, r17 verdict #3):
    // vacuum changes no logical table state — it deletes only files
    // referenced by EXPIRED versions' entry lines and by no kept
    // version's — and the delta→checkpoint materialization below
    // round-trips manifests LOSSLESSLY (raw `#writerFeatures=`
    // re-emitted verbatim when it lists unknown features, unmodeled
    // `#` headers carried — see headerBlock), so retention can run
    // under a future-library table while data commits stay refused
    // at every DML entry point. Why running is protocol-correct even
    // though an unmodeled KEPT header could in principle name a file
    // whose entry an expired version dropped: in this log design —
    // as in Delta's action model — ENTRY LINES alone define file
    // liveness; any feature that moved liveness into a header would
    // change what READERS must reconstruct and is therefore
    // definitionally a READER feature, and unknown reader features
    // still refuse at parse (vacuum cannot even plan over them). A
    // writer-only feature can constrain how commits are produced,
    // never which files are live.
    val f = fs(spark, path)
    // Complete any crashed checkpoint swap from a previous vacuum on
    // a non-atomic-rename store (see the materialization loop below):
    // a `v<k>.ckpt` sidecar with `v<k>` missing is the staged
    // replacement — rename it into place; a sidecar beside an intact
    // `v<k>` is a pre-delete leftover (same logical content) — drop
    // it so this run's loop re-materializes from a clean slate.
    if (f.exists(new Path(logDir(path))))
      f.listStatus(new Path(logDir(path))).map(_.getPath).foreach { pth =>
        pth.getName match {
          case versionCkptName(n) =>
            val vp = new Path(s"${logDir(path)}/v$n")
            if (!f.exists(vp)) {
              require(f.rename(pth, vp), s"vacuum: cannot repair $vp from $pth")
              clearManifestCacheFor(path, n.toLong)
            } else f.delete(pth, false)
          case _ => ()
        }
      }
    val (expired, kept, dead, deadDv) =
      vacuumPlan(spark, path, keepVersions, minAgeMs, protectConsumers)
    if (expired.isEmpty) return
    dead.foreach(p => f.delete(new Path(p), false))
    deadDv.foreach(p => f.delete(new Path(p), false))
    // Incremental-log invariant: a surviving DELTA manifest must not
    // lose its replay base. Any kept version whose predecessor is
    // expiring is first rewritten as a full checkpoint — same logical
    // content, now self-sufficient. The rewrite goes through a tmp
    // file + rename: a committed version file is never open-for-write
    // in place, so a concurrent reader either sees the old delta
    // (base still present until the delete below) or the complete
    // checkpoint, never a truncated manifest — and a crash leaves the
    // log intact. Checkpoints are left untouched (rewriting would
    // shift history()'s modtime-derived commit timestamp); for
    // rewritten deltas the original mtime is restored where the
    // filesystem supports it.
    val expiredSet = expired.toSet
    kept.filter(k => expiredSet(k - 1)).foreach { k =>
      val vp = new Path(s"${logDir(path)}/v$k")
      val in = f.open(vp)
      val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      if (content.split("\n").exists(_.startsWith("#delta="))) {
        val full = readManifestFull(spark, path, k)
        val mtime = f.getFileStatus(vp).getModificationTime
        val tmp = new Path(
          s"${logDir(path)}/.tmp-ckpt-${java.util.UUID.randomUUID.toString.take(12)}")
        val out = f.create(tmp, true)
        try out.write(manifestBytes(full)) finally out.close()
        if (f.getScheme == "file" && !forceNonAtomic)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(vp.toUri.getPath),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        else {
          // No overwrite-capable atomic rename (object stores, HDFS):
          // a bare delete+rename has a crash window where committed
          // v$k does not exist — later deltas would lose their replay
          // base and a concurrent replay through v$k would hit
          // FileNotFound. Stage the checkpoint at the `v$k.ckpt`
          // sidecar FIRST: readers fall back to the sidecar whenever
          // v$k is missing (versionFileStatus), and the next vacuum
          // completes a crashed swap (repair loop above), so v$k's
          // content is reachable at every instant of the protocol.
          val side = new Path(s"${logDir(path)}/v$k.ckpt")
          f.delete(side, false)
          require(f.rename(tmp, side), s"vacuum: cannot stage checkpoint $side")
          f.delete(vp, false)
          require(f.rename(side, vp), s"vacuum: cannot publish checkpoint $vp")
        }
        // some object-store connectors don't support setTimes; a
        // slightly shifted history() timestamp is the lesser evil
        try f.setTimes(vp, mtime, -1)
        catch { case _: UnsupportedOperationException | _: java.io.IOException => () }
        clearManifestCacheFor(path, k)
      }
    }
    expired.foreach(v => f.delete(new Path(s"${logDir(path)}/v$v"), true))
  }

  /** Read the table at `version` (default: latest). Per-commit
    * basePath reads keep hive partition columns visible. When the
    * manifest records a schema (the normal case), every commit group
    * is read under it directly — no per-file footer sweep to merge
    * schemas, and columns a commit predates surface as NULL. Pre-
    * schema manifests fall back to parquet mergeSchema + unionByName
    * with allowMissingColumns (same observable semantics, footer IO
    * at planning time). */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifestFull(spark, path, v)
    if (m.entries.isEmpty) return emptyFrame(spark, path, v, m)
    val raw = readGroups(spark, m.entries, m.schema, m.colmap)
    // hidden partition columns — CURRENT or retired-era — are an
    // implementation detail of the layout; user reads never see them
    val hiddenCols = raw.columns.filter(_.startsWith("__p_")).toSeq
    if (hiddenCols.isEmpty) raw else raw.drop(hiddenCols: _*)
  }

  /** Zero-row frame in the recorded user schema — what reading a
    * freshly-created (or fully-truncated) table yields. Requires a
    * recorded schema: only pre-schema-recording manifests lack one,
    * and those always have entries. */
  private def emptyFrame(spark: SparkSession, path: String, v: Long,
      m: Manifest): DataFrame = {
    val sch = m.schema.getOrElse(throw new IllegalArgumentException(
      s"empty manifest v$v at $path records no schema"))
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(sch.fields.filterNot(_.name.startsWith("__p_"))))
  }

  /** Change-data feed: the row-level differences the table went
    * through from `fromVersion` (exclusive) to `toVersion` (inclusive)
    * — Iceberg's incremental read / Delta's CDF shape. Each commit in
    * the range contributes rows tagged `_change_type` and
    * `_commit_version`. Plain commits emit 'insert'/'delete'; a
    * commit that records its key columns in the manifest (`#opKeys`
    * — [[merge]] does) emits Delta-CDF-style
    * 'update_preimage'/'update_postimage' pairs for keys changed on
    * both sides of the diff, so consumers can distinguish an UPDATE
    * from an unrelated delete-then-insert. Only the files the commit ADDED or
    * REMOVED are read — the manifest diff scopes IO to the changed
    * data, never the whole table — and within a rewritten file the
    * carried-over rows cancel out via a multiset difference
    * (`EXCEPT ALL`), leaving exactly the changed rows. Pure-layout
    * versions are skipped without reading any data file: a commit
    * whose manifest records `op=compact` rewrites files but preserves
    * the row multiset by construction, so it contributes zero changes
    * and costs zero file reads (no diff of its full rewritten file
    * set); a pure-carryover commit (no files added or removed) is
    * likewise skipped from the manifest alone. The multiset diff
    * shuffles only the changed-file rows, so a stats-pruned merge's
    * feed stays proportional to the touched data at 100 TB. Delta
    * manifests feed the diff directly (O(files touched) per version
    * — see [[readManifestDelta]]); checkpoint versions fall back to
    * a cached full-manifest diff. For histories long enough that a single
    * `changes` plan gets unwieldy (one diff subtree per changed
    * version), consume in bounded sub-ranges via
    * [[SnapshotIncremental.readBatched]]. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame =
    changes(spark, path, fromVersion, toVersion, namesAsOf = None)

  /** As [[changes]], but with every column served under the LOGICAL
    * name it carries at version `namesAsOf` (≥ every version in the
    * range) instead of the name its own commit's schema used — the
    * "read the feed under the current schema" mode a streaming CDF
    * consumer needs: after a metadata-only RENAME, pre-rename commits
    * emit their values under the NEW name (identity = the stable
    * physical name, never reused across renames/drops), and a column
    * DROPPED by `namesAsOf` vanishes from the feed rather than
    * leaking its physical name. `None` keeps per-version names (the
    * batch default — each commit's rows under that commit's schema). */
  /** `includeRowIds`: on a row-tracking table, keep the `_row_id`
    * column in the feed (stable row identity — an update pair shares
    * one id; a delete names the id that died). Default off: the feed
    * schema matches the non-tracking shape. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, namesAsOf: Option[Long],
      includeRowIds: Boolean = false): DataFrame = {
    val avail = versions(spark, path).toSet
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    ((fromVersion + 1) to toVersion).foreach(v => require(avail(v),
      s"version $v of $path is missing (expired or never committed)"))
    require(avail(fromVersion) || fromVersion == 0,
      s"version $fromVersion of $path is missing (expired or never committed)")

    def conform(df: DataFrame, to: StructType): DataFrame =
      df.select(to.fields.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)).toSeq: _*)

    def liveRowsOf(es: Seq[Entry]): Option[Long] =
      if (es.forall(_.rows >= 0L))
        Some(es.map(e => e.rows - e.dv.map(_._2).getOrElse(0L)).sum)
      else None

    // namesAsOf mode: physical name → the logical name it carries at
    // the anchor version. Physical names are stable and never reused
    // (renames are metadata-only; drops tombstone), so routing each
    // step frame's columns through ITS colmap into this map serves
    // every era under one schema; a physical absent here was dropped
    // by the anchor version and vanishes from the feed.
    val targetByPhys: Option[Map[String, String]] = namesAsOf.map { nv =>
      require(nv >= toVersion,
        s"namesAsOf $nv must be >= toVersion $toVersion (its schema names the feed)")
      val m = readManifestFull(spark, path, nv)
      val sch = m.schema.getOrElse(throw new IllegalArgumentException(
        s"version $nv of $path records no schema — namesAsOf needs one"))
      sch.fields.filterNot(_.name.startsWith("__p_"))
        .map(f => m.phys(f.name) -> f.name).toMap
    }
    def translate(df: DataFrame, stepColmap: Map[String, String]): DataFrame =
      targetByPhys match {
        case None => df
        case Some(live) =>
          val cols = df.columns.toSeq.flatMap { c =>
            if (c.startsWith("__p_") || c == "_change_type" ||
                c == "_commit_version" || c == RowIdCol)
              Some(col(c))
            else live.get(stepColmap.getOrElse(c, c)).map(t => col(c).as(t))
          }
          df.select(cols: _*)
      }

    val steps = ((fromVersion + 1) to toVersion).flatMap { v =>
      // Incremental-log fast path: a DELTA manifest already lists
      // exactly the entries its commit touched, so the per-version
      // diff is O(files touched) instead of O(total live files) — at
      // 10⁶ files the old full-list set-diff per version dominated a
      // CDC feed of small commits. Checkpoint versions (periodic,
      // full overwrites, fork bases) fall back to the full multiset
      // diff of two reconstructed manifests (driver-cached). A DV
      // replacement encodes as remove(old)+add(new) on one filePath,
      // which is exactly the old prev-vs-next dv comparison.
      val (m, added, removed, dvChanged, rowsPreserved) =
        readManifestDelta(spark, path, v) match {
          case Some((raw, base, removes)) if base == v - 1 =>
            val adds = raw.entries
            val remByPath = removes.map(e => e.filePath -> e).toMap
            val addPaths = adds.map(_.filePath).toSet
            val dvCh: Seq[(Entry, Option[String], Option[String])] =
              adds.flatMap { e =>
                remByPath.get(e.filePath) match {
                  case Some(o) if o.dv != e.dv =>
                    Some((e, o.dv.map(_._1), e.dv.map(_._1)))
                  case _ => None
                }
              }
            // row preservation from the TOUCHED entries alone:
            // untouched files cancel on both sides of the full-list
            // equality, so equal touched sums ⟺ the old check —
            // and files the commit never touched need no row counts
            val preserved = (for (a <- liveRowsOf(adds); r <- liveRowsOf(removes))
              yield a == r).getOrElse(false)
            (raw,
              adds.filterNot(e => remByPath.contains(e.filePath)),
              removes.filterNot(e => addPaths(e.filePath)),
              dvCh, preserved)
          case _ =>
            val mf = readManifestFull(spark, path, v)
            val prev: Seq[Entry] =
              if (v - 1 == 0) Nil
              else readManifestFull(spark, path, v - 1).entries
            val prevSet = prev.map(_.filePath).toSet
            val nextSet = mf.entries.map(_.filePath).toSet
            val prevByPath = prev.map(e => e.filePath -> e).toMap
            val dvCh: Seq[(Entry, Option[String], Option[String])] =
              mf.entries.flatMap { e =>
                prevByPath.get(e.filePath) match {
                  case Some(p) if p.dv != e.dv =>
                    Some((e, p.dv.map(_._1), e.dv.map(_._1)))
                  case _ => None
                }
              }
            val preserved = (for (a <- liveRowsOf(prev); b <- liveRowsOf(mf.entries))
              yield a == b).getOrElse(false)
            (mf,
              mf.entries.filterNot(e => prevSet(e.filePath)),
              prev.filterNot(e => nextSet(e.filePath)),
              dvCh, preserved)
        }
      // Freshly-dead positions per changed file (new DV minus old DV).
      // A handful of files reads fine on the driver; a wide DV commit
      // (one DV per file across a big table) would serialize that IO,
      // so past the threshold the per-file DV reads run as one
      // distributed pass — same text parse, executor-side.
      val dvDeltas: Seq[(Entry, Array[Long])] =
        if (dvChanged.size <= 8)
          dvChanged.flatMap { case (e, oldP, newP) =>
            val old = oldP.map(readDv(spark, e.filePath, _))
              .getOrElse(Array.empty[Long]).toSet
            val dead = newP.map(readDv(spark, e.filePath, _))
              .getOrElse(Array.empty[Long]).filterNot(old)
            if (dead.isEmpty) None else Some((e, dead))
          }
        else {
          val conf = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          val work = dvChanged.map { case (e, o, n) => (e.filePath, o, n) }
          val deadByFile: Map[String, Array[Long]] = spark.sparkContext
            .parallelize(work, math.min(work.size, 64))
            .map { case (fp, oldP, newP) =>
              def longs(p: String): Array[Long] = {
                val f = new Path(p).getFileSystem(conf.value)
                val in = f.open(new Path(p))
                val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
                s.split("\n").iterator.filter(_.nonEmpty).map(_.toLong).toArray
              }
              val old = oldP.map(longs).getOrElse(Array.empty[Long]).toSet
              fp -> newP.map(longs).getOrElse(Array.empty[Long]).filterNot(old)
            }
            .filter(_._2.nonEmpty).collect().toMap
          dvChanged.flatMap { case (e, _, _) => deadByFile.get(e.filePath).map((e, _)) }
        }
      // op names are advisory elsewhere in this file (file sets are
      // the truth), so the rewrite fast path must not take the label
      // on faith: verify row preservation from the manifest alone
      // (live rows = footer rows − DV'd rows, computed above from
      // either the delta's touched entries or the full lists). A
      // non-row-preserving commit mislabelled with a rewrite op falls
      // through to the multiset diff instead of silently vanishing
      // from the feed. All four maintenance rewrites qualify — the
      // commit-time policies (autocompact/autocluster) and the
      // incremental pass included, or a CDC reader crossing a
      // maintenance version on a continuously-ingesting table would
      // pay a full data diff of the touched files to learn that
      // nothing logically changed.
      val rewriteOps =
        Set("compact", "autocompact", "autocluster", "optimize_incremental")
      val compactPreservesRows = m.op.exists(rewriteOps) && rowsPreserved
      if (compactPreservesRows) None // verified row-preserving
      else if (removed.isEmpty && added.isEmpty && dvDeltas.isEmpty) None
      else if (removed.isEmpty && added.isEmpty) {
        // pure DV commit: deletes only
        import spark.implicits._
        val sch = m.schema
        val dvEntries = dvDeltas.map(_._1)
        val ridStep = m.rowIdHigh.isDefined && dvEntries.forall(_.rid.isDefined)
        val withPos0 = readWithPositions(spark, dvEntries, sch, m.colmap,
          withRid = ridStep)
        val keyOf = scanFileKey(spark, withPos0, dvEntries)
        val deltaPairs = dvDeltas.flatMap { case (e, idxs) =>
          val fname = keyOf(e.filePath)
          idxs.map(fname -> _)
        }.toDF("__dv_fname", "__dv_idx")
        // row tracking: the dying rows' stable ids label the deletes
        val withPos =
          if (!ridStep) withPos0
          else {
            val baseDf = broadcast(
              dvEntries.map(e => (keyOf(e.filePath), e.rid.get))
                .toDF("__rid_fname", "__rid_base"))
            withPos0.join(baseDf,
                col("__graft_path") === col("__rid_fname"), "left")
              .withColumn(RowIdCol,
                coalesce(col(RidCol), col("__rid_base") + col("__graft_idx")))
              .drop(RidCol, "__rid_fname", "__rid_base")
          }
        val dataCols = withPos.columns.filterNot(_.startsWith("__graft_"))
        Some(translate(withPos.join(broadcast(deltaPairs),
            col("__graft_path") === col("__dv_fname") &&
              col("__graft_idx") === col("__dv_idx"), "left_semi")
          .select(dataCols.map(col): _*), m.colmap)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v)))
      }
      else if (removed.isEmpty && dvDeltas.isEmpty) {
        // PURE APPEND: no file left and no DV grew, so every row of
        // the added files is an insert — the general diff below
        // ([[diffImages]]) reduces to exactly this (against an empty
        // side every net count is positive, and no key has a removed
        // side to pair with, so all rows tag 'insert'), but its plan
        // still shuffles every added row through the net aggregate
        // (and the key window on keyed versions) PER VERSION. Append
        // is the dominant CDC shape, so skipping the diff keeps a
        // catch-up feed's plan (and its Catalyst analysis time)
        // proportional to the data actually diffed, not the history
        // length.
        val ridStep = m.rowIdHigh.isDefined && added.forall(_.rid.isDefined)
        val df =
          if (ridStep) readGroupsWithRid(spark, added, m.schema, m.colmap)
            .withColumnRenamed(RidCol, RowIdCol)
          else readGroups(spark, added, m.schema, m.colmap)
        Some(translate(df, m.colmap)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v)))
      }
      else if (added.isEmpty && dvDeltas.isEmpty) {
        // PURE REMOVE (file-drop delete/truncate): every row of the
        // removed files is a delete — same reduction as above, on the
        // other side.
        val ridStep = m.rowIdHigh.isDefined && removed.forall(_.rid.isDefined)
        val df =
          if (ridStep) readGroupsWithRid(spark, removed, m.schema, m.colmap)
            .withColumnRenamed(RidCol, RowIdCol)
          else readGroups(spark, removed, m.schema, m.colmap)
        Some(translate(df, m.colmap)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v)))
      }
      else {
        require(dvDeltas.isEmpty,
          s"version $v of $path changes deletion vectors AND the file set " +
            "in one commit — no supported operation produces this shape")
        val sch = m.schema
        // row tracking: both sides carry the stable `_row_id`, so the
        // diff pairs update images by ROW IDENTITY — exact under ANY
        // rewrite, keyed or not (the opKeys heuristic below stays the
        // fallback for pre-tracking history). Carried-unchanged rows
        // cancel in the multiset diff exactly as before: same values,
        // same id.
        val ridStep = m.rowIdHigh.isDefined &&
          added.forall(_.rid.isDefined) && removed.forall(_.rid.isDefined)
        val sides = Seq(added, removed).map(es =>
          if (es.isEmpty) None
          else Some(
            if (ridStep) readGroupsWithRid(spark, es, sch, m.colmap)
              .withColumnRenamed(RidCol, RowIdCol)
            else readGroups(spark, es, sch, m.colmap)))
        val target = sides.flatten.head.schema
        val Seq(addDf, remDf) = sides.map(
          _.map(conform(_, target)).getOrElse(
            spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), target)))
        // The old diff (±1 net aggregate read by an insert and a
        // delete replica, each split by a semi + anti join against
        // the other side's distinct keys) planned 12 shuffle + 4
        // broadcast exchanges per keyed version and 2 shuffles per
        // unkeyed one; diffImages plans 2 shuffles (net aggregate +
        // key window) and 1 shuffle respectively.
        val pairKeys = if (ridStep) Seq(RowIdCol) else m.opKeys
        Some(translate(diffImages(addDf, remDf, pairKeys), m.colmap)
          .withColumn("_commit_version", lit(v)))
      }
    }
    val feed = steps.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val anchor = namesAsOf.getOrElse(toVersion)
        val sch = schemaOf(spark, path, Some(anchor))
          .getOrElse(read(spark, path, Some(anchor)).schema)
        // the no-change fallback must keep the requested feed shape:
        // with includeRowIds a consumer selects/unions on `_row_id`,
        // so its absence here would throw on any quiet version range
        val out = StructType(sch.fields ++
          (if (includeRowIds)
            Seq(StructField(RowIdCol, LongType, nullable = true))
          else Nil) :+
          StructField("_change_type", org.apache.spark.sql.types.StringType, nullable = false) :+
          StructField("_commit_version", org.apache.spark.sql.types.LongType, nullable = false))
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), out)
      }
    // hidden partition columns (any era) are layout, not data — the
    // change feed exposes the user schema like every other read;
    // `_row_id` (used above for exact pairing) stays only on request
    feed.drop(feed.columns.filter(c => c.startsWith("__p_") ||
      (c == RowIdCol && !includeRowIds)).toSeq: _*)
  }

  /** One version's change rows from the rows its commit ADDED and
    * REMOVED (same columns), each tagged `_change_type`: the
    * multiset difference both ways. Carried-over rows cancel; a row
    * with `n` more copies on one side is emitted `n` times (the
    * EXCEPT ALL multiplicity `max(countA − countB, 0)`).
    *
    * With `pairKeys` (all present in the frame) the feed is
    * Delta-CDF-shaped: a key with rows on BOTH sides was updated —
    * new rows emit `update_postimage`, old rows `update_preimage`;
    * one-sided keys stay insert/delete. A key with a NULL component
    * never pairs (SQL equality); NaN and −0.0/0.0 pair as equi-join
    * keys do, since window partitioning normalizes floats the same
    * way. Plan: one ±1 aggregate over all columns (set-op equality:
    * NULL-safe, NaN grouped; map columns refused), one window over
    * the keys when keyed, one sequence-explode — two shuffles keyed,
    * one unkeyed. */
  private[lake] def diffImages(addDf: DataFrame, remDf: DataFrame,
      pairKeys: Seq[String]): DataFrame = {
    val netC = "__graft_diff_net"
    val dataCols = addDf.columns.toSeq
    val net = addDf.withColumn(netC, lit(1L))
      .unionByName(remDf.withColumn(netC, lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col(netC)).as(netC))
      .filter(col(netC) =!= 0L)
    val isIns = col(netC) > 0L
    val changeType =
      if (pairKeys.nonEmpty && pairKeys.forall(dataCols.contains)) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pairKeys.map(col): _*)
        val pairable = pairKeys.map(col(_).isNotNull).reduce(_ && _)
        when(isIns, when(pairable && max(col(netC) < 0L).over(w), "update_postimage")
            .otherwise("insert"))
          .otherwise(when(pairable && max(isIns).over(w), "update_preimage")
            .otherwise("delete"))
      } else when(isIns, "insert").otherwise("delete")
    net.withColumn("_change_type", changeType)
      .withColumn("__graft_diff_i", explode(sequence(lit(1L), abs(col(netC)))))
      .select((dataCols :+ "_change_type").map(col): _*)
  }
}
