package graft.io

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVInferSchema, CSVOptions, DriverCsv, UnivocityParser}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader, HadoopFsRelation, LogicalRelation, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat, CSVUtils}
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** CSV source/sink with the reference's option semantics:
  * header row + full schema inference on read (reference: pandas
  * `pd.read_csv`, app.py:49 / etl_core.py:27); header + no index on write
  * (app.py:55, etl_core.py:68).
  *
  * Two paths, chosen by the input's own bytes against graft's
  * driver-path cutoff ([[LocalWrite.DriverBytes]], 2 MiB, measured):
  *
  *  - **driver** — an upload of at most that many bytes, uncompressed
  *    and without partition directories, is read, inferred and parsed
  *    on the driver by Spark's own CSV classes, in the scan's own split
  *    and partition order, and becomes a local relation: no Spark job.
  *    Transforms over it fold on the driver (`ConvertToLocalRelation`),
  *    and `writeSingle` then writes it through [[LocalWrite]], again
  *    with no job. The reference reads each upload into memory with
  *    pandas, so this is its shape at control-plane sizes.
  *  - **distributed** — anything larger: Spark's CSV scan with schema
  *    inference (a header job and an inference job) over the files
  *    already listed, and a `repartition(1)` write.
  *
  * Both paths give the same schema, the same rows in the same order,
  * byte-identical output files and the same errors (CsvDriverPathSpec).
  *
  * The reference emits ONE object per job (app.py:53-62) — `writeSingle`
  * preserves that contract. At 100 TB that contract is wrong, so `write`
  * (partitioned, the default for engine users) exists alongside it.
  */
object Csv {
  private val ReadOptions = Map("header" -> "true", "inferSchema" -> "true")
  private val WriteOptions = Map("header" -> "true")

  def read(spark: SparkSession, path: String): DataFrame =
    LocalWrite.driverLimit match {
      case None => spark.read.options(ReadOptions).csv(path)
      case Some(limit) =>
        val listed = listing(spark, path)
        driverPartitions(spark, listed, limit) match {
          case Some(parts) => readOnDriver(spark, parts)
          case None => scan(spark, listed)
        }
    }

  /** Partitioned CSV write — the 100 TB default. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").options(WriteOptions).csv(path)

  /** Single-object CSV write — reference parity (one S3 object per job).
    *
    * A frame the driver holds (a local relation after optimization) is
    * written by [[LocalWrite]] with no Spark job. Anything else goes
    * through repartition(1), NOT coalesce(1): coalesce collapses the
    * WHOLE upstream plan onto the one write task — measured at the 100×
    * corpus (SERIAL.md stage decomposition): the full-etl transform runs
    * 1.25 s on 32 threads but 25.8 s when coalesce(1) single-threads
    * it into the result write. repartition inserts a 1-partition
    * shuffle instead, so the transform keeps its parallelism and only
    * the write (plus one pass of the output bytes — which the lone
    * coalesce task would have pulled anyway) is serial. Row order
    * inside the object is not part of the contract (every consumer
    * re-sorts; the reference's pandas CSV has its own order). */
  def writeSingle(df: DataFrame, path: String): Unit =
    if (!LocalWrite.write(df, new CSVFileFormat, path, WriteOptions))
      df.repartition(1).write.mode("overwrite").options(WriteOptions).csv(path)

  /** Fault-tolerant CSV scan (the engine's version of the reference's
    * try/except ingestion, etl_core.py:21-29): PERMISSIVE mode with an
    * explicit schema; malformed rows land whole in `_corrupt_record`
    * instead of failing the job, so one bad row in 100 TB doesn't kill
    * the pipeline and the rejects are queryable. */
  def readPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)

  /** The files under `path`, listed once by the file index a read
    * of `path` resolves (Spark's own listing: hidden files dropped,
    * partition directories found). */
  private def listing(spark: SparkSession, path: String): HadoopFsRelation =
    spark.read.text(path).queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.get

  /** The file splits a CSV scan of `listed` would run, grouped by scan
    * partition in the scan's order — when the driver path applies: at
    * most `limit` bytes of data files, none compressed, no partition
    * directories. The splits and partitions are cut as
    * `FileSourceScanExec` cuts them: largest split first, packed up to
    * `maxSplitBytes`. */
  private def driverPartitions(spark: SparkSession, listed: HadoopFsRelation,
      limit: Long): Option[Seq[Seq[PartitionedFile]]] = {
    val dirs = listed.location.listFiles(Nil, Nil)
    val files = dirs.flatMap(_.files)
    val codecs = new CompressionCodecFactory(spark.sessionState.newHadoopConf())
    // no data file: Spark's scan raises its own "unable to infer"
    if (listed.partitionSchema.nonEmpty || files.isEmpty ||
        files.map(_.getLen).sum > limit ||
        files.exists(f => codecs.getCodec(f.getPath) != null)) None
    else {
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = files.flatMap(f => PartitionedFileUtil.splitFiles(
          f, f.getPath, isSplitable = true, maxSplit, InternalRow.empty))
        .sortBy(_.length)(Ordering[Long].reverse)
      Some(FilePartition.getFilePartitions(spark, splits, maxSplit)
        .map(_.files.toSeq))
    }
  }

  /** Spark's CSV scan over the files `listed` holds, as
    * `spark.read.csv` resolves it (inference over every listed file,
    * the same relation with the CSV format) but without listing the
    * input a second time. */
  private def scan(spark: SparkSession, listed: HadoopFsRelation): DataFrame = {
    val format = new CSVFileFormat
    // a path's read resolves an InMemoryFileIndex
    val files = listed.location match { case i: PartitioningAwareFileIndex => i.allFiles() }
    val schema = format.inferSchema(spark, ReadOptions, files)
      .getOrElse(throw DriverCsv.noSchemaError(format.toString))
    spark.baseRelationToDataFrame(listed.copy(dataSchema = schema,
      fileFormat = format, options = ReadOptions)(spark))
  }

  /** Each split's lines as Hadoop's `LineRecordReader` cuts them for a
    * scan task (a split not at offset 0 skips its first partial line
    * and every split finishes its last line), decoded as the scan
    * decodes them. */
  private def lines(file: PartitionedFile, options: CSVOptions,
      conf: Configuration): Array[String] = {
    val reader = new HadoopFileLinesReader(file, options.lineSeparatorInRead, conf)
    try reader.map(t => new String(t.getBytes, 0, t.getLength, options.charset)).toArray
    finally reader.close()
  }

  /** The distributed read's two halves, on the driver. Inference is
    * `TextInputCSVDataSource.infer`: the first non-empty line of the
    * first partition is the header (`makeSafeHeader`), every partition
    * folds `inferRowType` over its lines without the header line, and
    * the partition results merge into all-`NullType` in partition
    * order. Rows are `CSVFileFormat.buildReader`'s: one parser and
    * header checker per split, the header dropped at each file's
    * offset 0. */
  private def readOnDriver(spark: SparkSession,
      parts: Seq[Seq[PartitionedFile]]): DataFrame = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val inferOptions = new CSVOptions(ReadOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    val text = parts.map(_.map(f => f -> lines(f, inferOptions, hadoopConf)))
    def partLines(p: Seq[(PartitionedFile, Array[String])]) =
      p.iterator.flatMap(_._2.iterator)

    val firstLine = CSVUtils.filterCommentAndEmpty(
      text.iterator.flatMap(partLines), inferOptions).nextOption()
    val schema = firstLine.map(new CsvParser(inferOptions.asParserSettings).parseLine) match {
      case Some(firstRow) if firstRow != null =>
        val header = CSVUtils.makeSafeHeader(firstRow, conf.caseSensitiveAnalysis,
          inferOptions)
        val infer = new CSVInferSchema(inferOptions)
        def nulls = Array.fill[DataType](header.length)(NullType)
        val types = text.foldLeft(nulls) { (merged, p) =>
          val tokenizer = new CsvParser(inferOptions.asParserSettings)
          val tokens = CSVUtils.filterHeaderLine(
            CSVUtils.filterCommentAndEmpty(partLines(p), inferOptions),
            firstLine.get, inferOptions).map(tokenizer.parseLine)
          infer.mergeRowTypes(merged, tokens.foldLeft(nulls)(infer.inferRowType))
        }
        StructType(infer.toStructFields(types, header))
      case _ => StructType(Nil)
    }

    val parseOptions = new CSVOptions(ReadOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val rows = text.flatten.flatMap { case (file, ls) =>
      val checker = new CSVHeaderChecker(schema, parseOptions,
        s"CSV file: ${file.urlEncodedPath}", file.start == 0)
      // the parser refills one row object: copy each as it comes
      DriverCsv.parseIterator(ls.iterator,
          new UnivocityParser(schema, schema, parseOptions, Nil), checker, schema)
        .map(_.copy()).toVector
    }
    DriverCsv.localFrame(spark, schema, rows)
  }
}
