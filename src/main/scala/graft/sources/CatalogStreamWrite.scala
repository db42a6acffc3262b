package graft.sources

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Per-version streaming-epoch watermarks — the exactly-once ledger of
  * the NATIVE streaming sink (`writeStream.toTable` on a catalog
  * table). `_stream_commits.tsv` in a version directory maps each
  * streaming queryId to the highest epoch whose rows that snapshot
  * contains; because the ledger rides INSIDE the committed version it
  * is atomic with the data by construction — there is no second file
  * whose crash-window could record an epoch whose rows were lost (or
  * vice versa). Every OTHER commit path (batch appends, merges,
  * procedures) carries the head's ledger forward untouched via the one
  * hook in `commitPointer`, so a restarted stream still sees its high
  * watermark after unrelated commits landed — the same carry discipline
  * as [[MorDeletes]] sidecars. */
private[sources] object StreamEpochs {
  val FileName = "_stream_commits.tsv"

  def read(versionDir: JPath): Map[String, Long] =
    MetaStore.tsvMap(versionDir.resolve(FileName))
      .map { case (q, e) => q -> e.toLong }

  def write(versionDir: JPath, m: Map[String, Long]): Unit =
    MetaStore.write(versionDir.resolve(FileName),
      m.toSeq.sorted.map { case (q, e) => s"$q\t$e" }.mkString("\n"))

  /** Carry the ledger from the outgoing head into a version that did
    * not write its own (the streaming sink's commits do — theirs wins). */
  def carry(from: JPath, to: JPath): Unit = {
    val src = from.resolve(FileName)
    if (Files.exists(src) && !Files.exists(to.resolve(FileName)))
      MetaStore.copy(src, to.resolve(FileName),
        StandardCopyOption.COPY_ATTRIBUTES)
  }
}

/** A task's contribution to a streaming epoch: the parquet file it
  * wrote into the epoch staging area and how many rows it holds. Only
  * files named by SUCCESSFUL task commits reach the snapshot — a
  * speculative or failed attempt's orphan file stays in the epoch dir
  * and dies with it, so the staging directory is never read by glob. */
private[sources] final case class EpochFileMessage(path: String, rows: Long)
    extends WriterCommitMessage

/** NATIVE STREAMING WRITE for a catalog table (`TableCapability
  * .STREAMING_WRITE`): `df.writeStream.toTable("graft.db.t")` without
  * the foreachBatch detour. Executors stream rows straight into
  * per-epoch parquet files under `<table>/_stream_staging/<queryId>/`
  * (same filesystem as the table, so commit hard-links instead of
  * copying); the driver's per-epoch commit folds those files into a
  * fresh snapshot with the SAME fast-append machinery as a batch
  * INSERT — prior files hard-linked, partition layout re-derived from
  * the CURRENT head's spec (a concurrent `evolve_layout` changes where
  * new rows land, exactly as it would for a batch append), and the
  * pointer CAS'd with a bounded rebase loop so a batch writer racing
  * the stream costs a retry, not a failed stream.
  *
  * Exactly-once: each committed snapshot carries the query's epoch
  * high-watermark ([[StreamEpochs]]); a replayed epoch (crash after
  * the commit, before Spark recorded the batch) finds itself at-or-
  * under the watermark and commits NOTHING — the idempotent-sink half
  * of the contract Structured Streaming needs from a sink, with the
  * ledger atomic with the data because it rides inside the version.
  *
  * Scale posture: per epoch the driver does O(new files) link/move
  * work plus one pointer-log read — never an O(table) walk; at 100 TB
  * the stream's cost is the rows it actually admits. The staged
  * re-layout pass for partitioned tables touches only the epoch's own
  * rows (identical to the batch append path's posture). */
private[sources] final class GraftStreamingWrite(
    catalog: AtomicParquetCatalog, ident: Identifier, dir: JPath,
    writeSchema: StructType, queryId: String,
    ref: String = AtomicParquetCatalog.MainRef) extends StreamingWrite {

  private def stagingRoot: JPath =
    dir.resolve("_stream_staging").resolve(queryId)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // ParquetFileFormat.prepareWrite configures the job conf (schema,
    // compression, write support) and returns a serializable factory;
    // executors rebuild a TaskAttemptContext around that conf.
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, writeSchema)
    new EpochFileWriterFactory(
      new SerializableConfiguration(job.getConfiguration), owf,
      writeSchema, stagingRoot.toString)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case m: EpochFileMessage if m.rows > 0L => m.path
    }.toSeq
    val epochDir = stagingRoot.resolve(s"epoch-$epochId")
    try {
      if (files.isEmpty) return // empty batch: no snapshot, nothing to replay
      var attempts = 0
      var committed = false
      while (!committed) {
        val head = catalog.versionLog(dir, ref).headOption.getOrElse(
          throw new IllegalStateException(
            s"$ident: table dropped while a stream was writing to it"))
        val headDir = dir.resolve(head)
        if (StreamEpochs.read(headDir).get(queryId).exists(_ >= epochId)) {
          // replayed epoch (restart after a crash between this commit
          // and Spark's offset record): already inside the snapshot
          committed = true
        } else {
          val (headSchema, headFields) = AtomicParquetCatalog.readMeta(headDir)
          def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
          if (shape(headSchema) != shape(writeSchema))
            throw new IllegalStateException(
              s"$ident: table schema changed under a running stream " +
                s"(stream writes ${writeSchema.simpleString}, table is " +
                s"now ${headSchema.simpleString}); restart the stream " +
                "so it re-binds to the current schema")
          val v = s"v-${UUID.randomUUID()}"
          val nv = dir.resolve(v)
          // staging in its own try: the head VANISHING mid-stage
          // (racing commits pushed it past retention and vacuumed it)
          // is the same event as losing the CAS — drop the partial
          // version, back off, re-read the log. Scoped to EXCLUDE
          // commitVersion: an I/O hiccup after the pointer swap must
          // never drop a version the log now references.
          val stagedOk =
            try {
              MetaStore.carrySpec(headDir, nv)
              if (headFields.isEmpty) {
                // unpartitioned: the staged files ARE the layout —
                // hard-link them in (names embed partition/task/uuid,
                // collision-free)
                files.foreach { f =>
                  val src = Paths.get(f)
                  MetaStore.linkOrCopy(src,
                    nv.resolve(src.getFileName.toString))
                }
              } else {
                // partitioned: one extra pass over the EPOCH's rows
                // only, laid out under the head's CURRENT spec
                // (clustered where the spec's fineness calls for it —
                // same rule as batch)
                val staged = spark.read.schema(writeSchema)
                  .parquet(files: _*)
                AtomicParquetCatalog.writeLayout(spark, dir, nv, staged,
                  headFields, "append")
              }
              catalog.linkDataFiles(headDir, nv)
              catalog.carryLegacySpecs(headDir, nv)
              MorDeletes.carry(headDir, nv)
              StreamEpochs.write(nv,
                StreamEpochs.read(headDir) + (queryId -> epochId))
              true
            } catch {
              case e: java.io.IOException =>
                catalog.dropOrphan(nv)
                attempts += 1
                if (attempts >= 8) throw new IllegalStateException(
                  s"$ident: epoch $epochId could not commit after " +
                    s"$attempts attempts (${e.getMessage})", e)
                Thread.sleep(15L * attempts)
                false
            }
          if (stagedOk) {
            try {
              catalog.commitVersion(dir, v, expectedBase = Some(head),
                ref = ref)
              committed = true
            } catch {
              case e: java.util.ConcurrentModificationException =>
                catalog.dropOrphan(nv)
                attempts += 1
                if (attempts >= 8) throw e // persistent contention
                Thread.sleep(15L * attempts) // de-herd racing writers
              // loop: rebase the epoch onto the new head
            }
          }
        }
      }
    } finally {
      try MetaStore.deleteTree(epochDir)
      catch { case _: java.io.IOException => () }
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    try MetaStore.deleteTree(
      stagingRoot.resolve(s"epoch-$epochId"))
    catch { case _: java.io.IOException => () }
  }
}

/** Executor side of the native streaming sink: each task writes one
  * parquet file per epoch directly into the epoch's staging directory
  * through Spark's own parquet [[OutputWriterFactory]] (codegen'd
  * write path, real compression/encoding — NOT a row-at-a-time
  * re-implementation). The commit message names the file; only
  * committed tasks' files are folded into the snapshot. */
private[sources] final class EpochFileWriterFactory(
    conf: SerializableConfiguration, owf: OutputWriterFactory,
    schema: StructType, stagingRoot: String)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val epochDir = Paths.get(stagingRoot, s"epoch-$epochId")
    MetaStore.mkdirs(epochDir)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-stream", (epochId & 0x7fffffff).toInt),
        TaskType.MAP, partitionId),
      (taskId & 0x7fffffff).toInt)
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    val path = epochDir.resolve(
      s"part-$partitionId-$taskId-${UUID.randomUUID()}" +
        owf.getFileExtension(ctx)).toString
    val writer = owf.newInstance(path, schema, ctx)
    new DataWriter[InternalRow] {
      private var rows = 0L
      override def write(row: InternalRow): Unit = {
        writer.write(row); rows += 1
      }
      override def commit(): WriterCommitMessage = {
        writer.close()
        EpochFileMessage(path, rows)
      }
      override def abort(): Unit = {
        writer.close()
        MetaStore.delete(Paths.get(path)); ()
      }
      override def close(): Unit = ()
    }
  }
}
