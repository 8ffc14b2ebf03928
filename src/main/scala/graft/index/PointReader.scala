package graft.index

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, InputFile, LocalInputFile, RecordReader}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration

/** Driver-side point reads of one parquet table, with no Spark job — the
  * in-memory terms-index role of Lucene's BlockTree `.tip` (SURVEY.md
  * §2.3): the files' footers are the index, their row-group and page
  * min/max statistics do the seek.
  *
  * The reader serves exactly the files it is given — a commit's list, so
  * it never lists a directory and is a point-in-time view like the
  * searcher that owns it — and reads every footer ONCE, on first use; a
  * missing file surfaces then. Each read projects only the columns it
  * names and filters on `pred` at three levels: row groups whose footer
  * statistics exclude it are skipped before the file is opened, parquet's
  * column index skips pages inside the surviving row groups, and the
  * record filter drops the remaining non-matching rows — so the result
  * equals `spark.read.parquet(paths: _*).where(pred)`. Local files open
  * through parquet's `LocalInputFile` (Hadoop's checksummed local file
  * system made each read about three times slower), others through
  * Hadoop. Footers decode with options built once from `conf`.
  * Thread-safe: reads share only the immutable footers.
  *
  * The same per-file read also runs on executors ([[rdd]]): the footers
  * pick the files that can match, and one task per file reads it, so a
  * distributed scan of the table needs no Catalyst plan.
  */
final class PointReader(conf: Configuration, val paths: Seq[String]) {
  private lazy val files: Vector[(String, InputFile, ParquetMetadata)] = {
    val options = HadoopReadOptions.builder(conf).build()
    paths.toVector.map { path =>
      val in = PointReader.inputFile(path, conf)
      val stream = in.newStream()
      (path, in, try ParquetFileReader.readFooter(in, options, stream) finally stream.close())
    }
  }

  private def canMatch(filter: FilterCompat.Filter, footer: ParquetMetadata): Boolean =
    !RowGroupFilter.filterRowGroups(filter, footer.getBlocks,
      footer.getFileMetaData.getSchema).isEmpty

  /** Rows matching `pred` (every row when None), each as a [[Group]] holding
    * the `columns` its file has; `row` converts it. `columns` must include
    * every column `pred` names (the record filter evaluates projected
    * columns only). At most `limitPerFile` rows come from each file, in the
    * file's order.
    */
  def read[T](columns: Seq[String], pred: Option[FilterPredicate],
      limitPerFile: Int = Int.MaxValue)(row: Group => T): Vector[T] = {
    val filter = pred.fold(FilterCompat.NOOP)(FilterCompat.get)
    files.flatMap { case (_, in, footer) =>
      if (!canMatch(filter, footer)) Vector.empty
      else {
        val rows = new PointReader.FileRows(new ParquetFileReader(in, footer,
          HadoopReadOptions.builder(conf).withRecordFilter(filter).build(), in.newStream()),
          columns, filter)
        try rows.take(limitPerFile).map(row).toVector finally rows.close()
      }
    }
  }

  /** Paths of the files whose footers leave a row group `pred` can match. */
  private def filesFor(pred: FilterPredicate): Vector[String] = {
    val filter = FilterCompat.get(pred)
    files.collect { case (path, _, footer) if canMatch(filter, footer) => path }
  }

  @volatile private var confB: Broadcast[SerializableConfiguration] = _

  /** The rows [[read]] returns, as an RDD with one partition per file that
    * can match `pred` ([[filesFor]]): each task opens its file on the
    * executor and streams it through the same per-file reader, so the
    * driver plans nothing beyond the file list, and keeps at most
    * `limitPerFile` of its rows.
    */
  def rdd[T: ClassTag](sc: SparkContext, columns: Seq[String], pred: FilterPredicate,
      limitPerFile: Int = Int.MaxValue)(row: Group => T): RDD[T] = {
    val paths = filesFor(pred)
    if (confB == null) synchronized {
      if (confB == null) confB = sc.broadcast(new SerializableConfiguration(conf))
    }
    val cb = confB
    sc.parallelize(paths, math.max(paths.size, 1)).mapPartitions(_.flatMap { path =>
      val c = cb.value.value
      val filter = FilterCompat.get(pred)
      val rows = new PointReader.FileRows(ParquetFileReader.open(PointReader.inputFile(path, c),
        HadoopReadOptions.builder(c).withRecordFilter(filter).build()), columns, filter)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => rows.close()))
      rows.take(limitPerFile).map(row)
    })
  }
}

object PointReader {
  /** `path` as parquet input: local files through [[LocalInputFile]]
    * (Hadoop's checksummed local file system reads about three times
    * slower), others through Hadoop.
    */
  private def inputFile(path: String, conf: Configuration): InputFile = {
    val raw = new Path(path)
    val p = raw.getFileSystem(conf).makeQualified(raw)
    if (p.toUri.getScheme == "file") new LocalInputFile(java.nio.file.Paths.get(p.toUri))
    else HadoopInputFile.fromPath(p, conf)
  }

  /** The rows of one open file that pass the record filter, projected to
    * the `columns` the file has, read one row group at a time; closes the
    * file when exhausted. The one per-file read of both the driver and the
    * executor paths.
    */
  private final class FileRows(reader: ParquetFileReader, columns: Seq[String],
      filter: FilterCompat.Filter) extends Iterator[Group] with java.io.Closeable {
    private val schema = reader.getFooter.getFileMetaData.getSchema
    private val requested = new MessageType(schema.getName,
      columns.filter(schema.containsField).map(c => schema.getType(schema.getFieldIndex(c))): _*)
    reader.setRequestedSchema(requested)
    private val io = new ColumnIOFactory().getColumnIO(requested, schema, true)
    private var open = true
    private var records: RecordReader[Group] = _
    private var left = 0L // records of the current row group not yet read
    private var pending: Group = _
    try advance() catch { case e: Throwable => reader.close(); throw e }

    private def advance(): Unit = {
      pending = null
      while (pending == null && open) {
        if (left == 0) {
          val pages = reader.readNextFilteredRowGroup()
          if (pages == null) close()
          else {
            records = io.getRecordReader(pages, new GroupRecordConverter(requested), filter)
            left = pages.getRowCount
          }
        } else {
          val g = records.read()
          left -= 1
          if (g != null && !records.shouldSkipCurrentRecord()) pending = g
        }
      }
    }

    def hasNext: Boolean = pending != null
    def next(): Group = {
      if (pending == null) throw new NoSuchElementException("no more rows")
      val g = pending
      advance()
      g
    }
    def close(): Unit = if (open) { open = false; pending = null; reader.close() }
  }

  /** `c IN vs` as a balanced OR of equalities (vs non-empty): parquet's
    * column-index filter prunes pages for `eq` but keeps every row for its
    * `in` operator.
    */
  private def anyOf(eqs: Seq[FilterPredicate]): FilterPredicate =
    if (eqs.size == 1) eqs.head
    else { val (a, b) = eqs.splitAt(eqs.size / 2); FilterApi.or(anyOf(a), anyOf(b)) }

  def stringIn(c: String, vs: Iterable[String]): FilterPredicate =
    anyOf(vs.toSeq.distinct.map(v => FilterApi.eq[Binary, Operators.BinaryColumn](
      FilterApi.binaryColumn(c), Binary.fromString(v))))

  def longIn(c: String, vs: Iterable[Long]): FilterPredicate =
    anyOf(vs.toSeq.distinct.map(v => FilterApi.eq[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn(c), java.lang.Long.valueOf(v))))

  /** One `field = f AND term IN (...)` disjunct per field of `keys`
    * (non-empty) — the searcher's pair predicate in parquet's filter API.
    */
  def pairs(keys: Seq[(String, String)]): FilterPredicate =
    keys.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, ks) =>
      FilterApi.and(
        FilterApi.eq[Binary, Operators.BinaryColumn](FilterApi.binaryColumn("field"),
          Binary.fromString(f)),
        stringIn("term", ks.map(_._2)))
    }.reduce(FilterApi.or)

  /** The least UTF-8 byte string above every string that starts with
    * `prefix` (non-empty): the prefix's bytes with the last byte below 0xff
    * incremented and the rest cut off; None when every byte is 0xff (never,
    * for valid UTF-8). With the prefix itself it bounds a starts-with seek
    * in the byte order parquet compares UTF-8 strings in.
    */
  def utf8Successor(prefix: String): Option[Binary] = {
    val b = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val i = b.lastIndexWhere(_ != 0xff.toByte)
    if (i < 0) None
    else {
      val succ = java.util.Arrays.copyOf(b, i + 1)
      succ(i) = (succ(i) + 1).toByte
      Some(Binary.fromConstantByteArray(succ))
    }
  }

  /** Value of an optional column: None when null or absent from the file. */
  def opt[T](g: Group, c: String)(get: => T): Option[T] =
    if (g.getType.containsField(c) && g.getFieldRepetitionCount(c) > 0) Some(get) else None

  /** Bytes of an optional binary column, null when null or absent. */
  def bytesOrNull(g: Group, c: String): Array[Byte] =
    opt(g, c)(g.getBinary(c, 0).getBytes).orNull
}
