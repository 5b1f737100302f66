package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat, CSVUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}

/** The reference's Tableau-grade CSV I/O contract (S4/S5/S6/S7):
  * tab-delimited, QUOTE_ALL, UTF-8 with BOM, nulls as empty-quoted fields,
  * timestamps `yyyy-MM-dd HH:mm:ssxx` (`%z` offset, no colon), `\n`
  * terminator, backslash escape (run_exports_query.py:75-89;
  * merge_all_lenders.py:34-49,63-77).
  */
object Csv {

  /** The writer options of the reference dialect. */
  private val WriteOptions = Map(
    "sep" -> "\t", "header" -> "true", "quoteAll" -> "true",
    "nullValue" -> "", "emptyValue" -> "\"\"", "escape" -> "\\",
    "lineSep" -> "\n", "timestampFormat" -> "yyyy-MM-dd HH:mm:ssxx",
    // NTZ columns (parquet timestamps without UTC adjustment) take the
    // same human shape minus the meaningless offset.
    "timestampNTZFormat" -> "yyyy-MM-dd HH:mm:ss")

  /** A writer of `df` in the reference dialect through
    * [[BomCsvFileFormat]]: every file it writes starts with the BOM, then
    * the header and rows Spark's CSV writer renders. */
  def tabCsvWriter(df: DataFrame): DataFrameWriter[Row] =
    df.write.format(classOf[BomCsvFileFormat].getName).options(WriteOptions)

  /** Write the reference per-lender/consolidated CSV shape through
    * [[tabCsvWriter]], one file per partition, each BOM first.
    * `singleFile` gives the reference's one-file-per-output contract (S7):
    * the partitions are written in parallel and joined on the driver
    * behind one BOM and one header, in partition order — the file
    * coalesce(1) would write, without funnelling the whole input through
    * one task.
    *
    * @return the written files with their statuses. */
  def writeTabCsv(df: DataFrame, path: String,
                  singleFile: Boolean = false): Seq[FileStatus] = {
    val spark = df.sparkSession
    tabCsvWriter(df).mode("overwrite").save(path)
    val parts = partFiles(spark, path)
    if (!singleFile) parts
    else {
      val paths = parts.map(_.getPath)
      val target = paths.headOption.getOrElse(new Path(path, "part-00000-joined.csv"))
      val tmp = new Path(path, s"${target.getName}.joined")
      joinInto(spark, paths, df.schema, tmp)
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      paths.foreach(fs.delete(_, false))
      fs.rename(tmp, target)
      Seq(fs.getFileStatus(target))
    }
  }

  /** Replace the directory `path` with one consolidated file of `files`,
    * the files of one [[tabCsvWriter]] write of `schema`: one BOM and one
    * header, then each file's rows in the order of `files`, joined on the
    * driver ([[joinInto]]) — no Spark job. A `_SUCCESS` marker follows
    * the file, as after a Spark write.
    *
    * @return the consolidated file's status. */
  def joinTabCsv(spark: SparkSession, files: Seq[FileStatus], schema: StructType,
                 path: String): FileStatus = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    val joined = joinInto(spark, files.map(_.getPath), schema,
      new Path(dir, "part-00000.csv"))
    fs.create(new Path(dir, "_SUCCESS"), true).close()
    joined
  }

  /** The part files a write left directly under `dir`, sorted by path —
    * for Spark's `part-NNNNN-…` names, by partition. */
  def partFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.toString)
      .toSeq
  }

  /** Write `target`: the BOM, the header Spark's CSV writer renders for
    * `schema` in the reference dialect, then the rows of each of `files`
    * in order — driver-side via the Hadoop FileSystem, so it works on
    * distributed filesystems too. Each file must be a [[tabCsvWriter]]
    * file of `schema`, starting with that same BOM and header; they are
    * checked and skipped. */
  private def joinInto(spark: SparkSession, files: Seq[Path], schema: StructType,
                       target: Path): FileStatus = {
    val header = new java.io.StringWriter
    val gen = new UnivocityGenerator(schema, header, new CSVOptions(
      WriteOptions, false, spark.sessionState.conf.sessionLocalTimeZone))
    gen.writeHeaders()
    gen.flush()
    val prefix = BomCsvFileFormat.Bom ++
      header.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(target, true)
    try {
      out.write(prefix)
      files.foreach { p =>
        val in = fs.open(p)
        try {
          val head = new Array[Byte](prefix.length)
          in.readFully(head)
          require(head.sameElements(prefix),
            s"$p does not start with the BOM and the header of $schema")
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        } finally in.close()
      }
    } finally out.close()
    fs.getFileStatus(target)
  }

  /** The reader options of the reference dialect: tab-separated, header
    * line, backslash escape, no type inference. */
  private val ReadOptions = Map("sep" -> "\t", "header" -> "true",
    "inferSchema" -> "false", "escape" -> "\\")

  /** S6: read a glob of CSVs with an all-string schema (pandas
    * `dtype=str`): no inference, empty fields → null. */
  def readTabCsvAllString(spark: SparkSession, glob: String): DataFrame =
    spark.read.options(ReadOptions).csv(glob)

  /** `f` over `items` on a driver pool of min(items, available
    * processors) threads; results in the order of `items`. */
  private def onDriverPool[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val threads = math.min(items.size, Runtime.getRuntime.availableProcessors)
    if (threads <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try items.map(a => pool.submit(() => f(a))).map(_.get)
      finally pool.shutdown()
    }
  }

  /** The headers of files in the reference dialect, read on the driver
    * pool: Spark's own first-line read, the BOM stripped, then parsed and
    * made safe as Spark's CSV header inference does — the names
    * [[readTabCsvAllString]] would infer from each file, without a job. */
  def readHeaders(spark: SparkSession, files: Seq[Path]): Seq[Seq[String]] = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(ReadOptions, false, conf.sessionLocalTimeZone)
    val hadoopConf = spark.sessionState.newHadoopConf()
    onDriverPool(files) { file =>
      val line = CSVUtils.readHeaderLine(file, opts, hadoopConf)
        .getOrElse(throw new IllegalArgumentException(s"$file has no header line"))
        .stripPrefix("\uFEFF")
      val row = new com.univocity.parsers.csv.CsvParser(opts.asParserSettings)
        .parseLine(line)
      CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, opts).toSeq
    }
  }

  /** [[readTabCsvAllString]] over files the caller already holds, all of
    * whose headers are `columns`: a [[KnownFiles]] read, so it lists no
    * files and infers no header — no Spark job until an action. */
  def readKnownTabCsv(spark: SparkSession, files: Seq[FileStatus],
                      columns: Seq[String]): DataFrame =
    KnownFiles.read(spark, new CSVFileFormat, files, ReadOptions,
      Some(StructType(columns.map(StructField(_, StringType)))))

  /** S5: the reference's write-then-re-read validation — header equality
    * and first-row arity (run_exports_query.py:91-104). Returns the list of
    * problems, empty when valid. */
  def validateWritten(spark: SparkSession, path: String,
                      expectedColumns: Seq[String]): Seq[String] = {
    val back = readTabCsvAllString(spark, path)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    if (back.columns.toSeq != expectedColumns)
      problems += s"header mismatch: ${back.columns.toSeq} != $expectedColumns"
    if (back.head(1).exists(_.length != expectedColumns.length))
      problems += "first-row arity mismatch"
    problems.toSeq
  }
}

/** Spark's CSV source, writing the reference dialect's UTF-8 BOM: each
  * file starts with the three BOM bytes, then exactly what Spark's own
  * `CsvOutputWriter` writes — the header when asked, then the rows
  * through `UnivocityGenerator`. The BOM is written in the task, so every
  * byte reaches the disk once. Reads are Spark's CSV reads. Named by
  * class: `df.write.format(classOf[BomCsvFileFormat].getName)`. */
class BomCsvFileFormat extends CSVFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val csv = super.prepareWrite(spark, job, options, dataSchema)
    val conf = spark.sessionState.conf
    val params = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String =
        csv.getFileExtension(context)
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new BomCsvFileFormat.Writer(path, dataSchema, context, params)
    }
  }
}

object BomCsvFileFormat {
  private[operators] val Bom: Array[Byte] = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** `CsvOutputWriter` with the BOM written before the generator's first
    * byte. */
  private class Writer(val path: String, dataSchema: StructType,
                       context: TaskAttemptContext, params: CSVOptions)
      extends OutputWriter {
    private val gen = {
      val out = CodecStreams.createOutputStream(context, new Path(path))
      out.write(Bom)
      val charset = java.nio.charset.Charset.forName(params.charset)
      new UnivocityGenerator(dataSchema, new java.io.OutputStreamWriter(out, charset),
        params)
    }
    if (params.headerFlag) gen.writeHeaders()

    override def write(row: InternalRow): Unit = gen.write(row)
    override def close(): Unit = gen.close()
  }
}

/** A file-source read of files the caller already holds — a write just
  * produced them, or a manifest pins them. It builds Spark's own
  * `InMemoryFileIndex` over a status cache pre-filled with `files`, so
  * planning lists nothing (no parallel-listing job past Spark's 32-path
  * threshold), and with a `schema` it infers nothing either. The relation
  * is built the way `DataSource.resolveRelation` builds one — nullable
  * data schema, case-insensitive options, partition columns discovered
  * from the paths (`basePath` in `options`) — so the scan node is the one
  * `spark.read.format(..).options(options).load(paths)` plans. `files`
  * must carry qualified paths, as `FileSystem.getFileStatus` and
  * `listStatus` return them. */
object KnownFiles {
  def read(spark: SparkSession, format: FileFormat, files: Seq[FileStatus],
           options: Map[String, String],
           schema: Option[StructType] = None): DataFrame = {
    require(files.nonEmpty, "a known-files read needs at least one file")
    val byPath = files.map(st => st.getPath -> Array(st)).toMap
    val known = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), options,
      schema, known)
    val caseInsensitive = CaseInsensitiveMap(options)
    val partitionSchema = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val dataSchema = schema
      .map(s => StructType(s.filterNot(f =>
        partitionSchema.exists(p => resolver(p.name, f.name)))))
      .orElse(format.inferSchema(spark, caseInsensitive, index.allFiles()))
      .getOrElse(throw new IllegalArgumentException(
        s"no schema given or inferable for ${files.head.getPath} and " +
          s"${files.size - 1} more files"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      asNullable(dataSchema).asInstanceOf[StructType], None, format,
      caseInsensitive)(spark))
  }

  /** Spark's `DataType.asNullable` (internal to Spark): every field,
    * element and map value nullable, at every depth. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}

/** O2: the merge job's union semantics (merge_all_lenders.py:55) — align by
  * column NAME, missing columns become null; positional `union` would
  * silently misalign drifted files. */
object UnionByName {
  def all(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
}
