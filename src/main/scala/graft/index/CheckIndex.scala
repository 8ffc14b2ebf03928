package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.codec.PostingsCodec

/** Offline index validator (reference CheckIndex,
  * core/index/checkIndex.go:17-509): checks that every file
  * the commit lists exists with its recorded size, recomputes doc/term
  * counts and stats from the listed postings and docs, and cross-checks the
  * published manifest/terms/fieldstats (and the manifest's copy of the
  * field stats) — the "doc-count/term-count metrics" leg of the north-star
  * checkpoint story.
  */
object CheckIndex {
  /** `unlisted`: files under `postings/`, `docs/`, `termsPartial/`, `terms*`
    * and `fieldstats*` the live commit does not name — not problems: the
    * previous commit's files and a crash's leftovers stay until the next commit.
    */
  final case class Report(
      maxDoc: Long,
      docCount: Long,
      termCount: Long,
      sumDocFreq: Long,
      sumTotalTermFreq: Long,
      postingRows: Long,
      problems: Seq[String],
      unlisted: Seq[String] = Nil) {
    def ok: Boolean = problems.isEmpty
  }

  def run(spark: SparkSession, indexPath: String): Report = {
    import spark.implicits._
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    val manifest = IndexManifest.load(spark, indexPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(indexPath).getFileSystem(conf)
    val listed = manifest.waves.flatMap(_.files) ++ manifest.termsFiles
    listed.foreach { f =>
      scala.util.Try(fs.getFileStatus(new Path(s"$indexPath/${f.path}")).getLen).toOption match {
        case Some(n) if n == f.bytes => ()
        case n => problems += s"listed file ${f.path} " +
          n.fold("is missing")(b => s"has $b bytes, the commit says ${f.bytes}")
      }
    }
    val names = listed.map(_.path).toSet
    val statsRel = IndexManifest.generationRel("fieldstats", manifest.termsGen)
    val unlisted = (IndexManifest.WaveTables ++ fs.listStatus(new Path(indexPath))
        .map(_.getPath.getName).filter(n => IndexManifest.generationOf(n).isDefined && n != statsRel))
      .flatMap(IndexManifest.listFiles(conf, indexPath, _)).map(_.path).filterNot(names).sorted
    if (manifest.waves.isEmpty) problems += s"the commit lists no waves (manifest.maxDoc ${manifest.maxDoc})"
    if (problems.nonEmpty) return Report(0, 0, 0, 0, 0, 0, problems.toSeq, unlisted)

    val docs = spark.read.parquet(manifest.paths("docs"): _*)
    // format gate (advisor round-3 fix): a pre-fieldDls index must produce a
    // clean 'rebuild required' report, not an AnalysisException mid-run
    if (manifest.formatVersion < IndexManifest.CurrentFormat ||
        manifest.formatVersion > IndexManifest.FormatOffsets ||
        !docs.columns.contains("fieldDls"))
      return Report(0, 0, 0, 0, 0, 0, Seq(
        s"index format version ${manifest.formatVersion} outside supported " +
          s"[${IndexManifest.CurrentFormat}, ${IndexManifest.FormatOffsets}] " +
          s"(docs ${if (docs.columns.contains("fieldDls")) "have" else "LACK"} " +
          "per-field dls) — rebuild the index with the current builder"), unlisted)
    val postings = spark.read.parquet(manifest.paths("postings"): _*)
    val terms = spark.read.parquet(manifest.termsPaths: _*)
    val stats = spark.read.parquet(manifest.statsLocation)

    val nDocs = docs.count()
    if (nDocs != manifest.maxDoc)
      problems += s"docs count $nDocs != manifest.maxDoc ${manifest.maxDoc}"
    val dupIds = docs.groupBy("docId").count().where(col("count") > 1).count()
    if (dupIds > 0) problems += s"$dupIds duplicate docIds"

    // decode-level invariants, distributed: every posting row re-decoded;
    // per-field sums kept so fieldstats verify FIELD BY FIELD (compensating
    // errors across fields must not cancel — advisor round-2 fix)
    val rowChecks = postings
      .select("field", "term", "rangeId", "firstDocId", "lastDocId", "docFreq", "ttf", "payload")
      .as[(String, String, Long, Long, Long, Int, Long, Array[Byte])]
      .map { case (field, term, rangeId, first, last, df, ttf, payload) =>
        val dec = PostingsCodec.decode(payload)
        var bad: String = null
        if (dec.length != df) bad = s"docFreq mismatch $field:$term@$rangeId"
        else if (dec.docIds.head != first || dec.docIds.last != last)
          bad = s"first/last docId mismatch $field:$term@$rangeId"
        else if (dec.freqs.map(_.toLong).sum != ttf) bad = s"ttf mismatch $field:$term@$rangeId"
        else {
          var i = 1
          while (bad == null && i < dec.length) {
            if (dec.docIds(i) <= dec.docIds(i - 1)) bad = s"unsorted docIds $field:$term@$rangeId"
            i += 1
          }
        }
        (field, if (bad == null) "" else bad, dec.length.toLong, dec.freqs.map(_.toLong).sum, 1L)
      }
      .toDF("field", "bad", "df", "ttf", "rows")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = rowChecks
      .agg(
        sum(when(col("bad") =!= "", 1L).otherwise(0L)).as("badRows"),
        sum("df").as("sumDf"), sum("ttf").as("sumTtf"), sum("rows").as("rows"),
        max("bad").as("sampleBad"))
      .collect()(0)
    if (agg.getLong(0) > 0)
      problems += s"${agg.getLong(0)} bad posting rows (e.g. ${agg.getString(4)})"

    // terms dict vs postings aggregate (global)
    val t = terms.agg(sum("docFreq"), sum("totalTermFreq"), count(lit(1))).collect()(0)
    if (t.getLong(0) != agg.getLong(1))
      problems += s"terms.sumDocFreq ${t.getLong(0)} != postings ${agg.getLong(1)}"
    if (t.getLong(1) != agg.getLong(2))
      problems += s"terms.sumTtf ${t.getLong(1)} != postings ${agg.getLong(2)}"

    // published field stats vs PER-FIELD recomputation: sums from decoded
    // postings, termCount from the terms dict, docCount from the stored
    // per-field dls (docs with ≥1 token in that field)
    val perFieldPostings = rowChecks.groupBy("field")
      .agg(sum("df").as("pSumDf"), sum("ttf").as("pSumTtf"))
    val perFieldTerms = terms.groupBy("field").agg(count(lit(1)).as("pTermCount"))
    val perFieldDocs = docs
      .select(explode(col("fieldDls")).as(Seq("field", "fdl")))
      .where(col("fdl") > 0)
      .groupBy("field").agg(count(lit(1)).as("pDocCount"))
    val fieldRows = stats
      .join(perFieldPostings, Seq("field"), "full_outer")
      .join(perFieldTerms, Seq("field"), "full_outer")
      .join(perFieldDocs, Seq("field"), "full_outer")
      .collect()
    // the manifest's copy of the stats (manifests that have one) must equal
    // the table row AND the recomputation, field by field
    val copy = manifest.fieldStats.map(_.map(fs => fs.field -> fs).toMap)
    fieldRows.foreach { r =>
      val f = r.getAs[String]("field")
      def v(c: String): Long = if (r.isNullAt(r.fieldIndex(c))) -1L else r.getAs[Long](c)
      val entry = copy.map(_.get(f))
      def cmp(published: String, recomputed: String, inCommit: FieldStats => Long): Unit = {
        if (v(published) != v(recomputed))
          problems += s"fieldstats[$f].$published ${v(published)} != recomputed ${v(recomputed)}"
        entry.map(_.fold(-1L)(inCommit)).filter(c => c != v(published) || c != v(recomputed))
          .foreach(c => problems += s"commit.json fieldStats[$f].$published $c != " +
            s"fieldstats ${v(published)} / recomputed ${v(recomputed)}")
      }
      cmp("sumTotalTermFreq", "pSumTtf", _.sumTotalTermFreq)
      cmp("sumDocFreq", "pSumDf", _.sumDocFreq)
      cmp("termCount", "pTermCount", _.termCount)
      cmp("docCount", "pDocCount", _.docCount)
      if (v("maxDoc") != nDocs) problems += s"fieldstats[$f].maxDoc stale"
      if (entry.exists(_.fold(-1L)(_.maxDoc) != nDocs))
        problems += s"commit.json fieldStats[$f].maxDoc stale"
    }
    copy.foreach(c => (c.keySet -- fieldRows.map(_.getAs[String]("field"))).foreach(f =>
      problems += s"commit.json fieldStats[$f] names no indexed field"))
    rowChecks.unpersist()

    val docCount = stats.agg(max("docCount")).collect()(0).getLong(0)
    Report(nDocs, docCount, t.getLong(2), t.getLong(0), t.getLong(1),
      agg.getLong(3), problems.toSeq, unlisted)
  }
}
