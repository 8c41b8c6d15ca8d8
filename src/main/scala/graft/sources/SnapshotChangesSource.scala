package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Source, Offset => OffsetV1}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types._

import graft.lake.SnapshotTable

/** Structured Streaming CHANGE-DATA-FEED source over a snapshot table
  * — the streaming counterpart of [[SnapshotTable.changes]] (Delta's
  * `readChangeFeed` streaming shape; reference's append-only Iceberg
  * streams never expose row-level changes at all):
  *
  *   spark.readStream.format("graft-changes").load(tablePath)
  *     // schema: table columns + _change_type + _commit_version
  *
  * Each microbatch emits the row-level changes of a VERSION RANGE
  * (offsets are table versions, exactly like the raw
  * `graft-snapshot` source), tagged `insert` / `delete` /
  * `update_preimage` / `update_postimage` — so a downstream consumer
  * (an incremental aggregate, an index maintainer like
  * [[graft.ops.Ivf.sync]], a replicated table) applies deltas instead
  * of rescanning, and a MERGE's updates arrive as image pairs rather
  * than coincidental delete+insert. The per-version diff logic is
  * [[SnapshotTable.changes]] verbatim — manifest-delta scoped IO
  * (O(files touched), never the table), verified-row-preserving
  * compactions contribute nothing, DV deletes read positions
  * distributed — so the streaming feed inherits the batch feed's
  * 100 TB posture unchanged.
  *
  * Options: `startingVersion` — first version whose CHANGES are
  * emitted, inclusive (default 1 = the full history; note the raw
  * source's bootstrap-then-tail pattern maps here to
  * `startingVersion = <version you bootstrapped>+1`);
  * `maxVersionsPerTrigger` — rate limit per microbatch;
  * `includeRowIds` — on a ROW-TRACKING table, carry the stable
  * `_row_id` column (an update's pre/post images share one id; a
  * delete names the id that died; pre-tracking commits serve NULL),
  * so a stateful consumer keys its state by row identity instead of
  * hoping values are unique.
  *
  * SCHEMA LIFECYCLE (the part a naive CDF stream gets silently
  * wrong): the stream's schema is captured once at query (re)start.
  * History is served UNDER THAT SCHEMA via
  * `changes(..., namesAsOf = capture)` — identity is the stable
  * physical name, so a pre-rename commit's rows arrive under the
  * POST-rename column name with their values intact, and a column
  * the capture version dropped vanishes instead of leaking its
  * physical name. A schema change AFTER the capture (rename, drop,
  * type change) fails the query LOUDLY at the first batch that
  * crosses it — restarting from the same checkpoint adopts the new
  * schema and replays exactly-once (same version ranges, values
  * re-served under the new names). Columns added after the capture
  * stay invisible until a restart, matching the raw source. Nothing
  * null-fills silently: a NULL in the feed is a genuine value (or a
  * column genuinely predating the data), never a resolution miss.
  *
  * V1-source note: this source returns each batch as a DataFrame
  * (`getBatch`), because the change diff is inherently a multi-way
  * plan (per-commit net-count aggregate + key window for the image
  * pairs, see `SnapshotTable.diffImages`), not a file
  * scan — the v1 `Source` API is the public seam Spark keeps for
  * exactly this; admission control and Trigger.AvailableNow are wired
  * through the same connector interfaces the DSv2 raw source uses.
  */
class SnapshotChangesSource extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-changes needs the table path: .load(<tablePath>) or .option(\"path\", ...)"))

  private def feedSchema(spark: SparkSession, path: String,
      atVersion: Option[Long] = None,
      includeRowIds: Boolean = false): StructType = {
    require(SnapshotTable.latestVersion(spark, path).nonEmpty,
      s"no committed version at $path — the change feed needs an existing table")
    val s = SnapshotTable.schemaOf(spark, path, atVersion)
      .getOrElse(SnapshotTable.read(spark, path, atVersion).schema)
    // data fields forced NULLABLE like the batch read (a version's
    // rows may predate a column — the schema-evolution NULL must not
    // zero-fill under a non-nullable declared field); the two feed
    // metadata columns are always present. `includeRowIds` adds the
    // stable `_row_id` (nullable: pre-tracking commits have none).
    StructType(s.fields.filterNot(_.name.startsWith("__p_"))
      .map(_.copy(nullable = true)) ++
      (if (includeRowIds)
        Seq(StructField(SnapshotTable.RowIdCol, LongType, nullable = true))
      else Nil) :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
  }

  private def rowIdsOpt(parameters: Map[String, String]): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("includeRowIds") => v.toBoolean
    }.getOrElse(false)

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-changes serves the table's own schema (+ _change_type, _commit_version); " +
        "a user-specified schema is not supported")
    // fail fast at load() — createSource only runs at query start
    require(!(parameters.keys.exists(_.equalsIgnoreCase("startingVersion")) &&
        parameters.keys.exists(_.equalsIgnoreCase("startingTimestamp"))),
      "startingVersion and startingTimestamp are mutually exclusive")
    val path = pathOf(parameters)
    val rid = rowIdsOpt(parameters)
    require(!rid ||
        SnapshotTable.rowTrackingEnabled(sqlContext.sparkSession, path),
      s"includeRowIds needs row tracking enabled at $path — " +
        "SnapshotTable.enableRowTracking (or ALTER TABLE ... ENABLE ROW " +
        "TRACKING) first")
    (shortName(), feedSchema(sqlContext.sparkSession, path,
      includeRowIds = rid))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    def opt(k: String): Option[String] =
      parameters.collectFirst { case (p, v) if p.equalsIgnoreCase(k) => v }
    val ts = opt("startingTimestamp")
    require(ts.isEmpty || opt("startingVersion").isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    val startingVersion = ts.map(StartingTimestamp.resolve(spark, path, _))
      .orElse(opt("startingVersion").map(_.toLong)).getOrElse(1L)
    require(startingVersion >= 1L,
      s"startingVersion must be >= 1 (version 1 is the first commit), got $startingVersion")
    // pin the capture version FIRST, then derive the schema AT it:
    // (version, schema, colmap) must be one atomic capture — a commit
    // landing between an unpinned schema read and the version pin
    // would be <= capturedVersion, invisible to the stability guard,
    // and the stale schema would serve silently. Version files are
    // immutable, so reads at the pinned version are consistent.
    val capturedVersion = SnapshotTable.latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val rid = rowIdsOpt(parameters)
    require(!rid || SnapshotTable.rowTrackingEnabled(spark, path,
        Some(capturedVersion)),
      s"includeRowIds needs row tracking enabled at $path")
    new SnapshotChangesStreamingSource(spark, path,
      feedSchema(spark, path, Some(capturedVersion), includeRowIds = rid),
      startingVersion,
      opt("maxVersionsPerTrigger").map(_.toLong), capturedVersion, rid)
  }
}

/** `startingTimestamp` option parsing + resolution shared by the raw
  * and change-feed streaming sources (Delta's option: emit commits at
  * or after the timestamp). Accepts epoch millis, ISO-8601 instants,
  * or `yyyy-MM-dd HH:mm:ss[.fff]`; resolves against version-file
  * commit times at query start — a timestamp past the newest commit
  * starts an empty stream that tails future commits. */
private[graft] object StartingTimestamp {
  def millis(s: String): Long =
    s.trim.toLongOption.getOrElse {
      scala.util.Try(java.time.Instant.parse(s.trim).toEpochMilli).getOrElse(
        java.sql.Timestamp.valueOf(s.trim.replace('T', ' ')).getTime)
    }

  /** Inclusive starting VERSION equivalent of the timestamp. */
  def resolve(spark: SparkSession, path: String, ts: String): Long =
    SnapshotTable.firstVersionAtOrAfter(spark, path, millis(ts))
      .getOrElse(SnapshotTable.latestVersion(spark, path).getOrElse(0L) + 1L)
}

/** Version offset of the change-feed source ((start, end] ranges,
  * serialized as the bare version number — same wire form as the raw
  * source's offset, checkpoint-compatible across restarts). */
private case class SnapshotChangesOffset(version: Long) extends OffsetV1 {
  override def json(): String = version.toString
}

private class SnapshotChangesStreamingSource(spark: SparkSession, path: String,
    srcSchema: StructType, startingVersion: Long,
    maxVersionsPerTrigger: Option[Long], capturedVersion: Long,
    includeRowIds: Boolean = false) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // schema capture: version + schema + mapping resolved ONCE, as one
  // atomic capture at query (re)start (createSource pins the version
  // and derives srcSchema at it) — the anchor every batch's namesAsOf
  // translation and stability check compare against
  private val capturedColmap: Map[String, String] =
    SnapshotTable.columnMappingAt(spark, path, capturedVersion)

  private def latest: Long =
    SnapshotTable.latestVersion(spark, path).getOrElse(0L)

  private def ver(o: OffsetV2): Long = o match {
    case SnapshotChangesOffset(v) => v
    case other => other.json.trim.toLong
  }

  override def schema: StructType = srcSchema

  override def initialOffset(): OffsetV2 =
    SnapshotChangesOffset(startingVersion - 1)

  override def getOffset: Option[OffsetV1] = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) drives this source (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): OffsetV2 =
    SnapshotChangesOffset(json.trim.toLong)

  // Trigger.AvailableNow drains to the versions present at query
  // start, across as many rate-limited batches as needed
  private var availableAtStart: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableAtStart = Some(latest)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // v1 sources get a NULL start on the query's first batch (the
    // engine's getStartOffset returns orNull for the v1 branch)
    val s = Option(start).map(ver).getOrElse(startingVersion - 1)
    val l = availableAtStart.getOrElse(latest)
    SnapshotChangesOffset(maxVersionsPerTrigger
      .map(m => math.min(l, s + math.max(1L, m))).getOrElse(l))
  }

  override def reportLatestOffset(): OffsetV2 = SnapshotChangesOffset(latest)

  /** A schema change AFTER the capture fails the query loudly — the
    * restart-to-adopt contract (Delta's CDF streaming behavior), and
    * the guarantee that no rename can ever surface as silent NULLs
    * here the way the round-11 raw-source hole did. The check itself
    * is [[SchemaStability.requireStable]], shared with the raw
    * `graft-snapshot` source so both fail the identical DDL events
    * with the identical message. */
  private def requireSchemaStable(to: Long): Unit =
    SchemaStability.requireStable(spark, path, capturedVersion,
      capturedColmap, srcSchema.fields.toSeq.filterNot(f =>
        f.name == "_change_type" || f.name == "_commit_version" ||
          f.name == SnapshotTable.RowIdCol), to)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(o => ver(o)).getOrElse(startingVersion - 1)
    DatasetBridge.asStreamingFrame(batchFor(from, ver(end)))
  }

  /** The BATCH frame getBatch wraps — the whole production path
    * except the final streaming re-tag (which makes the frame
    * uncollectable outside a running query; the DDL fuzz drives this
    * seam directly). */
  private[sources] def batchFor(from: Long, to: Long): DataFrame = {
    if (to <= from)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), srcSchema)
    requireSchemaStable(to)
    // names anchor: the capture covers every pre-capture version; a
    // post-capture `to` passed the stability check, so its names ARE
    // the captured names and anchoring there satisfies namesAsOf's
    // range bound
    val feed = SnapshotTable.changes(spark, path, from, to,
      namesAsOf = Some(math.max(capturedVersion, to)),
      includeRowIds = includeRowIds)
    val out = feed.select(srcSchema.fields.toSeq.map { f =>
      if (!feed.columns.contains(f.name))
        // every range version predates the column — the genuine
        // schema-evolution NULL, same as the batch reader; a column
        // with an INITIAL DEFAULT serves it instead (the current
        // schema's read contract)
        (if (ExistsDefaults.has(f))
          org.apache.spark.sql.functions.expr(
            f.metadata.getString("EXISTS_DEFAULT"))
        else lit(null)).cast(f.dataType).as(f.name)
      else {
        val dt = feed.schema(f.name).dataType
        if (dt == f.dataType) col(f.name)
        else if (Cast.canUpCast(dt, f.dataType)) col(f.name).cast(f.dataType)
        else throw new IllegalStateException(
          s"change feed of $path serves '${f.name}' as ${dt.simpleString} but the " +
            s"stream schema expects ${f.dataType.simpleString} — restart the query")
      }
    }: _*)
    out
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"SnapshotChangesSource[$path]"
}
