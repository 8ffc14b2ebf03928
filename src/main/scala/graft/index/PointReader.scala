package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, InputFile, LocalInputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType

/** Driver-side point reads of one parquet table directory, with no Spark
  * job — the in-memory terms-index role of Lucene's BlockTree `.tip`
  * (SURVEY.md §2.3): the files' footers are the index, their row-group and
  * page min/max statistics do the seek.
  *
  * The table is listed (`listStatus`, recursively through `wave=N`
  * partition dirs, skipping `_`/`.` entries as Spark does) and every
  * footer read ONCE, on first use; a reader is a point-in-time view, like
  * the searcher that owns it. Each read projects only the columns it names
  * and filters on `pred` at three levels: row groups whose footer
  * statistics exclude it are skipped before the file is opened, parquet's
  * column index skips pages inside the surviving row groups, and the
  * record filter drops the remaining non-matching rows — so the result
  * equals `spark.read.parquet(dir).where(pred)`. Files open from the
  * listed statuses, never from a per-file status call: local files through
  * parquet's `LocalInputFile` (Hadoop's checksummed local file system made
  * each read about three times slower), others through
  * `HadoopInputFile.fromStatus`. Footers decode with options built once
  * from `conf`. Thread-safe: reads share only the immutable footers.
  */
final class PointReader(conf: Configuration, dir: String) {
  private lazy val files: Vector[(InputFile, ParquetMetadata)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    def list(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath))
        .flatMap(s => if (s.isDirectory) list(s.getPath) else Seq(s))
    val options = HadoopReadOptions.builder(conf).build()
    list(root).toVector.map { st => // a missing table fails here, loudly
      val in: InputFile =
        if (st.getPath.toUri.getScheme == "file")
          new LocalInputFile(java.nio.file.Paths.get(st.getPath.toUri))
        else HadoopInputFile.fromStatus(st, conf)
      val stream = in.newStream()
      in -> (try ParquetFileReader.readFooter(in, options, stream) finally stream.close())
    }
  }

  /** Rows matching `pred` (every row when None), each as a [[Group]] holding
    * the `columns` its file has; `row` converts it. `columns` must include
    * every column `pred` names (the record filter evaluates projected
    * columns only).
    */
  def read[T](columns: Seq[String], pred: Option[FilterPredicate])(row: Group => T): Vector[T] = {
    val filter = pred.fold(FilterCompat.NOOP)(FilterCompat.get)
    val out = Vector.newBuilder[T]
    for ((in, footer) <- files) {
      val schema = footer.getFileMetaData.getSchema
      if (!RowGroupFilter.filterRowGroups(filter, footer.getBlocks, schema).isEmpty) {
        val requested = new MessageType(schema.getName,
          columns.filter(schema.containsField).map(c => schema.getType(schema.getFieldIndex(c))): _*)
        val reader = new ParquetFileReader(in, footer,
          HadoopReadOptions.builder(conf).withRecordFilter(filter).build(), in.newStream())
        try {
          reader.setRequestedSchema(requested)
          val io = new ColumnIOFactory().getColumnIO(requested, schema, true)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val records = io.getRecordReader(pages, new GroupRecordConverter(requested), filter)
            var i = 0L
            while (i < pages.getRowCount) {
              val g = records.read()
              if (g != null && !records.shouldSkipCurrentRecord()) out += row(g)
              i += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
      }
    }
    out.result()
  }
}

object PointReader {
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

  /** Value of an optional column: None when null or absent from the file. */
  def opt[T](g: Group, c: String)(get: => T): Option[T] =
    if (g.getType.containsField(c) && g.getFieldRepetitionCount(c) > 0) Some(get) else None

  /** Bytes of an optional binary column, null when null or absent. */
  def bytesOrNull(g: Group, c: String): Array[Byte] =
    opt(g, c)(g.getBinary(c, 0).getBytes).orNull
}
