package graft.io

import java.io.IOException
import java.util.UUID

import scala.util.DynamicVariable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.types.StructType

/** Control-plane writes of rows the driver already holds, with no Spark
  * job.
  *
  * Rows the driver holds (a small upload parsed on the driver and
  * folded through `cleanAi`, or a small catalog table collected before
  * its rewrite) are written by the format's own
  * `FileFormat.prepareWrite` and `OutputWriter`, called on the driver:
  * the same writer a write task runs, so the file holds the same bytes
  * a one-task distributed write of the same rows produces. The rows go
  * to a hidden temporary name, which is renamed to
  * `part-00000-<uuid>-c000<ext>` once the writer closes; `_SUCCESS`
  * follows, as the job commit writes it. Like `mode("overwrite")`, the
  * target directory is cleared first. */
object LocalWrite {

  /** The largest control-plane input, in bytes, read and written on the
    * driver: 2 MiB, graft's own cutoff, apart from Spark's join
    * settings. Measured on a 4-core box (`local[4]`), median
    * `startEtl` wall per upload in the benchmark's shape, driver path
    * vs distributed path: 1 MiB 0.72 vs 1.33 s, 2 MiB 1.04 vs 1.22 s,
    * 4 MiB 1.37 vs 2.05 s, 8 MiB 2.46 vs 2.06 s. The driver path wins
    * to 4 MiB and loses by 8 MiB, where one driver thread parses and
    * scores every row; the cutoff stays at 2 MiB, below that
    * crossover and close to the benchmark's largest upload (5 000
    * rows, about 1.4 MB), until benchmark runs cover sizes near it. */
  val DriverBytes: Long = 2L << 20

  private val driverPathOff = new DynamicVariable(false)

  /** The driver-path cutoff in force on this thread: [[DriverBytes]],
    * or None inside [[distributedOnly]]. */
  private[graft] def driverLimit: Option[Long] =
    if (driverPathOff.value) None else Some(DriverBytes)

  /** Runs `body` on this thread with every driver path off, so the
    * specs can compare both paths on one small input. */
  private[graft] def distributedOnly[T](body: => T): T =
    driverPathOff.withValue(true)(body)

  /** Writes `df` to the directory `path` as one part file when its
    * optimized plan is a local relation the format can hold; false,
    * with nothing written, otherwise (the caller then writes through
    * Spark). */
  def write(df: DataFrame, format: FileFormat, path: String,
      options: Map[String, String]): Boolean =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming && writable(format, r.schema) =>
        writeRows(df.sparkSession, format, options, r.schema, r.data, path)
        true
      case _ => false
    }

  /** True when Spark's own write of `schema` in `format` passes its
    * schema checks: no empty struct at any depth (an empty schema is
    * refused unless a session setting allows it, so it always goes to
    * Spark, which decides), every type and field name supported, and
    * no duplicate column unless the format allows it. Anything else
    * goes to Spark's write, which raises the format's own error. */
  def writable(format: FileFormat, schema: StructType): Boolean = {
    def hasEmpty(s: StructType): Boolean = s.isEmpty || s.exists(_.dataType match {
      case t: StructType => hasEmpty(t)
      case _ => false
    })
    !hasEmpty(schema) &&
      schema.forall(f => format.supportDataType(f.dataType) && format.supportFieldName(f.name)) &&
      (format.allowDuplicatedColumnNames ||
        schema.names.map(_.toLowerCase).distinct.length == schema.length)
  }

  /** `df`'s rows on the driver, as `Dataset.collect` runs them (one
    * tracked SQL execution) but without the conversion to external
    * rows. */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Writes `rows` of `schema` to the directory `path` as one part file
    * of `format`. The caller checks [[writable]] first. */
  def writeRows(spark: SparkSession, format: FileFormat,
      options: Map[String, String], schema: StructType,
      rows: Seq[InternalRow], path: String): Unit = {
    val dir = new Path(path)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val factory = format.prepareWrite(spark, job, options, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("local", 0), TaskType.MAP, 0), 0))
    val fs = dir.getFileSystem(job.getConfiguration)
    if (fs.exists(dir) && !fs.delete(dir, true))
      throw new IOException(s"cannot clear $dir before the write")
    fs.mkdirs(dir)
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(dir, s".$name.inprogress")
    val w = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(w.write)
    catch { case e: Throwable =>
      scala.util.Try(w.close())
      fs.delete(tmp, false)
      throw e
    }
    w.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new IOException(s"cannot publish $name in $dir")
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }
}
