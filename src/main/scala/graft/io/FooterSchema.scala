package graft.io

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Opens persisted parquet artifacts without Spark's schema-inference
  * job.
  *
  * A plain `spark.read.parquet(dir)` infers the schema by reading a
  * part file's footer in a one-task Spark job (~30–40 ms of scheduling
  * for a few KB of metadata), and the index families open three or
  * four artifacts per probe and read their append scratch back three
  * times — three to six such jobs per serving-path op — and the parquet
  * control-plane catalog opens `users` once and `jobs` twice per
  * `JobService.startEtl`. Here the
  * footer is read on the driver (one open of the file tail — the same
  * bytes the inference task reads) and the frame is opened with that
  * schema. The schema always comes from the
  * artifact itself, never from code: a pre-`fp` text index, or a
  * republished generation whose schema changed, opens with the schema
  * it was written with. No cache — each open re-reads one footer, so
  * nothing can go stale.
  *
  * The footer read is the OLDEST data file's (mtime, then name): the
  * schema the artifact was created with. Appends add files written
  * with the current code's schema, so a directory can hold two shapes
  * only across a schema change (the text index's `fp` column), and
  * the creation schema is the one whose compatibility branch reads
  * every file correctly. Spark's own inference reads whichever file
  * the listing happens to return first. */
object FooterSchema {

  /** The schema of `dir`'s oldest data file, decoded as Spark's
    * inference decodes it (the Spark row metadata Spark writes into
    * every footer, else the parquet schema converted under the session's
    * settings); None when the directory holds no data file. */
  def of(s: SparkSession, dir: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val data = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    if (data.isEmpty) None
    else {
      val first = data.minBy(st => (st.getModificationTime, st.getPath.getName))
      val r = ParquetFileReader.open(
        HadoopInputFile.fromStatus(first, s.sparkContext.hadoopConfiguration))
      val meta = try r.getFooter.getFileMetaData finally r.close()
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson).collect { case st: StructType => st }
        .orElse(Some(new ParquetToSparkSchemaConverter(SQLConf.get)
          .convert(meta.getSchema)))
    }
  }

  /** `spark.read.parquet(dir)` with the footer schema — no Spark job. */
  def read(s: SparkSession, dir: String): DataFrame =
    of(s, dir).fold(s.read.parquet(dir))(s.read.schema(_).parquet(dir))
}
