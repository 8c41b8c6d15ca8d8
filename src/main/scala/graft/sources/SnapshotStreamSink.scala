package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.lake.SnapshotTable

/** Structured Streaming SINK half of the snapshot table (the
  * `writeStream.format("graft-snapshot")` counterpart of
  * [[SnapshotStreamSource]]):
  *
  *   df.writeStream.format("graft-snapshot")
  *     .option("checkpointLocation", ...).start(tablePath)
  *
  * Exactly-once without foreachBatch bookkeeping: each microbatch's
  * rows are written by EXECUTOR-side parquet writers into a fresh
  * per-epoch commit dir, then the driver publishes them as one
  * manifest commit that also records `(queryId → epochId)` in the
  * manifest's txn-watermark header
  * ([[SnapshotTable.commitStreamEpoch]], the Delta
  * txnAppId/txnVersion pattern). On restart the engine replays the
  * last unacknowledged epoch; the replay's commit sees the watermark
  * already at (or past) its epoch, skips the publish, and the
  * duplicate files are deleted — rows land in the table exactly
  * once no matter where the crash fell:
  *   - crash before sink commit  → files orphaned (no manifest ref),
  *     replay rewrites and commits them;
  *   - crash after sink commit, before checkpoint ack → replay's
  *     commit is skipped by the watermark, its files deleted.
  *
  * Scale posture: data never moves through the driver — N partition
  * writers stream rows straight to parquet (zstd, same codec as the
  * batch writer); the driver's share is one manifest CAS per epoch
  * plus footer-free row counts carried in the commit messages.
  *
  * One commit loop: an epoch publishes through the same
  * `SnapshotTable.commit` as every batch write. On a table without
  * identity or generated columns or partition transforms its files
  * publish as written, after one scan checks every CHECK constraint;
  * otherwise its rows are read back once and written once through the
  * batch write funnel (identity values, generated columns, the
  * transform layout), so `readWhere` pruning and `overwritePartitions`
  * matching hold on streamed data too. Default is reject mode: a
  * violating batch fails the query with zero manifest change.
  * `.option("failMode", "quarantine")` + `.option("quarantinePath",
  * ...)` switches to divert mode (the dead-letter pattern, the same
  * split as [[graft.lake.SnapshotTable.appendQuarantine]]): violators
  * land in the quarantine snapshot table with a `_violated` diagnosis
  * column, compliant rows commit, and BOTH commits carry the epoch
  * watermark so exactly-once holds per table across crash replays. A
  * fully compliant epoch publishes its files as written.
  *
  * Reference basis: the reference lands its streaming-shaped loads
  * through batch Glue jobs + Iceberg commits
  * (jobs/ev_sessions_gold_etl.py:106-156); this sends them through
  * the batch commit too, exactly-once natively, Delta-sink style.
  */
private[sources] class SnapshotStreamingWrite(path: String, schema: StructType,
    queryId: String, failMode: String = "reject",
    quarantinePath: Option[String] = None) extends StreamingWrite {

  require(Set("reject", "quarantine")(failMode),
    s"failMode must be reject|quarantine, got '$failMode'")
  require(failMode == "reject" || quarantinePath.nonEmpty,
    "failMode=quarantine needs .option(\"quarantinePath\", ...)")

  // one txn app id per (streaming query, table): the engine keeps
  // queryId stable across restarts from the same checkpoint, which is
  // exactly the identity exactly-once needs
  private def txnAppId: String = s"stream-$queryId"

  // the column mapping the CURRENT epoch's files were written under:
  // read once per epoch at factory creation, handed to the commit so
  // a rename landing mid-epoch fails the batch (the retry's fresh
  // factory picks the new mapping up) — epochs are serial per query,
  // so one slot suffices
  @volatile private var epochColmap: Map[String, String] = Map.empty

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // column-mapped target: executor writers emit PHYSICAL names so
    // the files match every batch-written file of the table — in both
    // fail modes (the quarantine split translates through the same
    // captured mapping). A NEW column whose identity physical name is
    // taken (re-add after drop, or the freed side of a rename) gets a
    // freshly MINTED name here, the same move the batch write paths
    // make; the commit revalidates and publishes the minted entries.
    val cm = SnapshotTable.streamWriteMapping(spark, path, schema)
    epochColmap = cm
    val physSchema =
      if (cm.isEmpty) schema
      else StructType(schema.fields.map(f =>
        f.copy(name = cm.getOrElse(f.name, f.name))))
    // fresh commit dir per epoch ATTEMPT (factories are per-epoch in
    // microbatch mode): a replayed epoch writes to a new dir and the
    // watermark check discards it, so dirs are never shared
    val commitDir = s"${SnapshotTable.dataDirOf(path)}/c-" +
      java.util.UUID.randomUUID.toString.take(12)
    new SnapshotStreamWriterFactory(commitDir, physSchema,
      new SerializableWriterConf(spark.sessionState.newHadoopConf()))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case m: SnapshotWriteMessage => m }
      .filter(_.filePath.nonEmpty) // empty partitions write no file
    if (files.isEmpty) return // empty microbatch: nothing to commit,
    // and replaying an empty epoch re-produces nothing — exactly-once
    // needs no watermark advance for it
    val commitDirs = files.map(_.commitDir).distinct.toSeq
    val triples = files.map(m => (m.commitDir, m.filePath, m.rows)).toSeq
    val committed =
      if (failMode == "quarantine")
        // the split path deletes the mixed dirs itself when it
        // rewrites; on its no-rewrite fast path (or a replay) the
        // dirs survive to the cleanup below
        SnapshotTable.commitStreamEpochQuarantine(spark, path,
          quarantinePath.get, triples, schema, txnAppId, epochId,
          writtenColmap = epochColmap)._1
      else
        SnapshotTable.commitStreamEpoch(spark, path, triples, schema,
          txnAppId, epochId, writtenColmap = epochColmap)
    if (committed.isEmpty) {
      // replayed epoch: rows are already live from the pre-crash
      // commit — drop the duplicates this attempt wrote
      val conf = spark.sparkContext.hadoopConfiguration
      commitDirs.foreach { d =>
        val p = new Path(d)
        p.getFileSystem(conf).delete(p, true): Unit
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    messages.collect { case m: SnapshotWriteMessage => m.commitDir }.distinct
      .foreach { d =>
        val p = new Path(d)
        p.getFileSystem(conf).delete(p, true): Unit
      }
  }
}

/** Commit dirs with >1 distinct dir would break [[SnapshotTable]]'s
  * Entry(commitDir, file) pairing; keep each file with ITS dir. */
private case class SnapshotWriteMessage(commitDir: String, filePath: String,
    rows: Long) extends WriterCommitMessage

/** Minimal serializable Hadoop-conf carrier for the epoch writers
  * (same concern as the source's reader conf: object-store creds and
  * endpoints must reach executors). */
private class SerializableWriterConf(
    @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private class SnapshotStreamWriterFactory(commitDir: String, schema: StructType,
    conf: SerializableWriterConf) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotParquetDataWriter(commitDir, schema, conf, partitionId, taskId)
}

/** One task's epoch output → one zstd parquet file under the epoch's
  * commit dir. The file is created lazily on the first row, so empty
  * partitions cost nothing; task retries write distinct file names
  * (taskId suffix) and only the committed attempt's message reaches
  * the driver — the loser's file is removed by abort(), or at worst
  * left as an unreferenced orphan (vacuum's concern, same class as a
  * crashed batch commit). */
private class SnapshotParquetDataWriter(commitDir: String, schema: StructType,
    conf: SerializableWriterConf, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val filePath =
    f"$commitDir/part-$partitionId%05d-$taskId-stream.parquet"
  private lazy val msgType = SnapshotParquetCodec.messageTypeOf(schema)
  private lazy val factory = new SimpleGroupFactory(msgType)
  private var writer: ParquetWriter[Group] = _
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      val c = new org.apache.hadoop.conf.Configuration(conf.value)
      writer = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new Path(filePath), c))
        .withConf(c)
        .withType(msgType)
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .build()
    }
    writer.write(SnapshotParquetCodec.toGroup(factory, schema, row))
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    if (rows == 0L) SnapshotWriteMessage(commitDir, "", 0L)
    else SnapshotWriteMessage(commitDir, filePath, rows)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val p = new Path(filePath)
    p.getFileSystem(conf.value).delete(p, false): Unit
  }

  override def close(): Unit = ()
}

/** StructType → parquet MessageType + InternalRow → Group, covering
  * the flat primitive + primitive-list surface the snapshot stream
  * READER decodes
  * ([[SnapshotStreamSource]] extract()) — the two sides stay codec-
  * symmetric by construction. Timestamps are annotated INT64 MICROS
  * (adjusted to UTC), matching what Spark's own parquet writer emits
  * and what the reader's annotation branch expects. */
private[sources] object SnapshotParquetCodec {

  /** The list element types the sink can carry — the vector-column
    * surface an ANN-maintenance pipeline streams (`array<float>`
    * embeddings and friends). Written as the standard 3-level
    * parquet LIST with OPTIONAL elements, decoded index-based on the
    * read side so pyarrow's `item` / Spark's `element` naming both
    * round-trip. */
  private val listElemTypes: Set[DataType] =
    Set(FloatType, DoubleType, IntegerType, LongType)

  def messageTypeOf(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      val t: org.apache.parquet.schema.Type = f.dataType match {
        case ArrayType(et, _) if listElemTypes(et) =>
          val e = et match {
            case FloatType   => Types.optional(PrimitiveTypeName.FLOAT)
            case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE)
            case IntegerType => Types.optional(PrimitiveTypeName.INT32)
            case LongType    => Types.optional(PrimitiveTypeName.INT64)
            case other => throw new IllegalStateException(other.toString)
          }
          Types.buildGroup(rep)
            .as(LogicalTypeAnnotation.listType())
            .addField(Types.repeatedGroup()
              .addField(e.named("element")).named("list"))
            .named(f.name)
        case LongType    => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(f.name)
        case ShortType   => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case ByteType    => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case DoubleType  => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(f.name)
        case FloatType   => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(f.name)
        case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(f.name)
        case StringType  => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType  => Types.primitive(PrimitiveTypeName.BINARY, rep).named(f.name)
        case DateType    => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case other => throw new UnsupportedOperationException(
          s"graft-snapshot streaming sink writes flat primitive (or " +
            s"primitive-list) schemas; column '${f.name}' is ${other.simpleString}")
      }
      b.addField(t)
    }
    b.named("spark_schema")
  }

  def toGroup(factory: SimpleGroupFactory, schema: StructType,
      row: InternalRow): Group = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case ArrayType(et, _) =>
          val arr = row.getArray(i)
          val lg = g.addGroup(i)
          var j = 0
          while (j < arr.numElements()) {
            val entry = lg.addGroup(0) // one repeated "list" wrapper per element
            if (!arr.isNullAt(j)) et match {
              case FloatType   => entry.add(0, arr.getFloat(j))
              case DoubleType  => entry.add(0, arr.getDouble(j))
              case IntegerType => entry.add(0, arr.getInt(j))
              case LongType    => entry.add(0, arr.getLong(j))
              case other => throw new UnsupportedOperationException(
                s"unsupported sink list element ${other.simpleString}")
            }
            j += 1
          }
        case LongType | TimestampType => g.add(i, row.getLong(i))
        case IntegerType | DateType   => g.add(i, row.getInt(i))
        case ShortType                => g.add(i, row.getShort(i).toInt)
        case ByteType                 => g.add(i, row.getByte(i).toInt)
        case DoubleType               => g.add(i, row.getDouble(i))
        case FloatType                => g.add(i, row.getFloat(i))
        case BooleanType              => g.add(i, row.getBoolean(i))
        case StringType               =>
          g.add(i, Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        case BinaryType               =>
          g.add(i, Binary.fromConstantByteArray(row.getBinary(i)))
        case other => throw new UnsupportedOperationException(
          s"unsupported sink type ${other.simpleString}")
      }
      i += 1
    }
    g
  }
}
