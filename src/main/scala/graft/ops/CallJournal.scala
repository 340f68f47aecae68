package graft.ops

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The call journal of a durable run: every answered call's rows, appended
  * by the executor that emits them, so a process kill loses at most the
  * calls in flight instead of the whole uncommitted chunk.
  *
  * Layout: `<runDir>/journal/<attempt>/part-<partition>-<taskAttempt>.json`,
  * one JSON object per row with exactly the ledger's columns (the Invoke
  * output plus `_attempt`), so folding a journal into `responses/` needs no
  * mapping and the ledger's dedup rules apply unchanged. Each call's rows go
  * out in one write, flushed to the OS before the task emits them; on a
  * local path through the raw (checksum-free) file system, so no `.crc`
  * buffer holds lines back. There is no fsync: the parquet chunk commit
  * stays the strong boundary. On an object store a file only appears when
  * it is closed, so there the journal degrades to task granularity.
  */
private[graft] object CallJournal {
  val DirName = "journal"

  /** Where one Invoke appends: `dir` (one attempt's journal directory),
    * the `_attempt` stamped on every row, and the Hadoop conf to reach it. */
  final case class Target(dir: String, attempt: Long,
                          conf: SerializableConfiguration)

  /** The journal's (and the ledger's) columns for an Invoke over `in`. */
  def schema(in: StructType): StructType =
    StructType(in.fields ++ Invoke.appendedFields :+
      StructField("_attempt", LongType, nullable = false))

  private val json = new JsonFactory()

  /** One task attempt's journal file, opened at its first call and closed
    * when the task completes. */
  final class Writer(t: Target, rowSchema: StructType) {
    private var out: FSDataOutputStream = _

    private def open(): FSDataOutputStream = {
      val task = TaskContext.get()
      val path = new Path(t.dir,
        s"part-${task.partitionId()}-${task.taskAttemptId()}.json")
      val fs = path.getFileSystem(t.conf.value) match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }
      val s = fs.create(path, false)
      task.addTaskCompletionListener[Unit](_ => close())
      s
    }

    /** Append one call's rows in one write and flush it to the OS. */
    def append(rows: Seq[Row]): Unit = if (rows.nonEmpty) {
      val buf = new ByteArrayOutputStream(256 * rows.size)
      val g = json.createGenerator(buf)
      g.setRootValueSeparator(null)
      rows.foreach { r => writeRow(g, r); g.writeRaw('\n') }
      g.close()
      if (out == null) out = open()
      out.write(buf.toByteArray)
      out.hflush()
    }

    private def writeRow(g: JsonGenerator, r: Row): Unit = {
      g.writeStartObject()
      var i = 0
      while (i < rowSchema.size) {
        val f = rowSchema(i)
        g.writeFieldName(f.name)
        if (r.isNullAt(i)) g.writeNull()
        else f.dataType match {
          case LongType => g.writeNumber(r.getLong(i))
          case IntegerType => g.writeNumber(r.getInt(i))
          case DoubleType => g.writeNumber(r.getDouble(i))
          case BooleanType => g.writeBoolean(r.getBoolean(i))
          case StringType => g.writeString(r.getString(i))
          case _: DecimalType => g.writeNumber(r.getDecimal(i))
          case other => throw new IllegalArgumentException(
            s"call journal cannot hold column ${f.name}: $other")
        }
        i += 1
      }
      g.writeNumberField("_attempt", t.attempt)
      g.writeEndObject()
    }

    def close(): Unit = if (out != null) {
      try out.close() finally out = null
    }
  }

  /** The journal rows under `dirs` (attempt directories), read with the
    * ledger's explicit schema; a torn trailing line (a kill mid-write) is
    * malformed JSON and is dropped. */
  def read(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "DROPMALFORMED").json(dirs: _*)

  /** Append every journal under `root` to the parquet ledger at `ledger`
    * (one Spark job, and only when some journal file holds bytes), then
    * delete `root`. Assumes no other attempt writes to this run dir at
    * the same time (one live run per run dir). */
  def fold(spark: SparkSession, conf: Configuration, root: String,
           ledger: String, schema: StructType): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (fs.exists(rootPath)) {
      val dirs = fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      if (dirs.exists(d => fs.listStatus(d).exists(_.getLen > 0)))
        read(spark, dirs.map(_.toString).toSeq, schema)
          .write.mode("append").parquet(ledger)
      fs.delete(rootPath, true)
    }
  }

  /** Delete one attempt's journal `dir`, and its parent `journal/` when
    * nothing else is left in it. */
  def delete(conf: Configuration, dir: String): Unit = {
    val path = new Path(dir)
    val fs: FileSystem = path.getFileSystem(conf)
    fs.delete(path, true)
    val root = path.getParent
    if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, false)
  }
}
