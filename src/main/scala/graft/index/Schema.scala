package graft.index

import graft.analysis.{Analyzer, StandardCodeAnalyzer}

/** Input row shape (BASELINE.json input_hint): an Iceberg/Parquet table of
  * source files.
  */
final case class CodeFile(repo: String, path: String, commit: String, lang: String, content: String)

/** Stored-fields row: one per document. `contentSha` carries the per-row
  * invariant (sha256 equality vs the corpus); `dl`/`norm` are the primary
  * field's BM25 document length and its byte315 quantization. `fieldDls`
  * holds EVERY indexed field's per-doc length — analyzed fields' token
  * counts, keyword fields' presence (1) — feeding per-field docCount stats
  * and the singleton-pulsing read path (which reconstructs dl/norm without
  * touching postings).
  */
final case class DocRow(
    docId: Long,
    segId: Int,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    contentSha: String,
    dl: Int,
    norm: Byte,
    fieldDls: Map[String, Int] = Map.empty)

/** One posting-list slice: all docs of `term` within docId range `rangeId`
  * (rangeId = docId / docsPerRange). Hot terms (df≈N) are thereby range-split
  * across many bounded rows — the "salted shuffle with hot-term range
  * splitting" of the north star, with a deterministic range salt instead of a
  * random one so ranges stay docId-sorted and merge-free at read time.
  */
final case class PostingRow(
    segId: Int,
    field: String,
    term: String,
    rangeId: Long,
    firstDocId: Long,
    lastDocId: Long,
    docFreq: Int,
    ttf: Long,
    maxFreq: Int,
    minDl: Int,
    payload: Array[Byte],
    posPayload: Array[Byte], // null when positions disabled
    skipLastDoc: Array[Long],
    skipOffset: Array[Int],
    skipPosOffset: Array[Int],
    skipMaxFreq: Array[Int],
    skipMinDl: Array[Int],
    /** Offsets stream (format 3, IndexConfig.withOffsets); null otherwise —
      * a retrieval-time column the scoring path never reads (parquet prunes
      * it away unless offsets() asks).
      */
    offPayload: Array[Byte] = null)

/** Global term-dictionary row (the BlockTree terms dict of the reference,
  * /root/reference/core/codec/blocktree/termsWriter.go, reduced to a Parquet
  * table — query-time term seek is a broadcast join of the few query terms).
  * `singletonDocId` >= 0 iff docFreq == 1 (singleton pulsing,
  * /root/reference/core/codec/lucene41/postingsWriter.go:412-417).
  */
final case class TermRow(
    field: String,
    term: String,
    docFreq: Long,
    totalTermFreq: Long,
    singletonDocId: Long)

/** Published collection statistics of one indexed field (the reference
  * computes these at flush, core/index/termsHashConsumerPerField.go:513-516,
  * 657-668):
  * one row of the `fieldstats` table and one entry of the manifest's
  * `fieldStats`. `docCount` counts docs with ≥1 token in the field.
  */
final case class FieldStats(
    field: String,
    sumTotalTermFreq: Long,
    sumDocFreq: Long,
    termCount: Long,
    maxDoc: Long,
    docCount: Long)

/** Explicit read schemas of the index tables, so opening one launches no
  * parquet schema-inference job. The `wave` partition column is discovered
  * from the directory names as before.
  */
object TableSchemas {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.types.StructType

  private def nullable(s: StructType) = StructType(s.map(_.copy(nullable = true)))

  val terms: StructType = nullable(Encoders.product[TermRow].schema)

  /** Per-wave dictionary partials (`termsPartial/wave=N`); `ttf` is the
    * terms table's `totalTermFreq`.
    */
  val termsPartial: StructType =
    StructType.fromDDL("field STRING, term STRING, docFreq BIGINT, ttf BIGINT, singletonDocId BIGINT")

  /** Stored docs as the current builder writes them (with `fieldDls`). */
  val docs: StructType = nullable(Encoders.product[DocRow].schema)

  /** Posting rows; `offPayload` exists from format 3 (offsets) on. */
  def postings(formatVersion: Int): StructType = {
    val all = nullable(Encoders.product[PostingRow].schema)
    if (formatVersion >= IndexManifest.FormatOffsets) all
    else StructType(all.filterNot(_.name == "offPayload"))
  }
}

/** Segment metadata for the manifest (SegmentInfos analogue,
  * /root/reference/core/index/segmentInfos.go:297-340). A segment is a
  * contiguous docId range [docLo, docHi] built by one resumable job.
  */
final case class SegmentMeta(
    segId: Int,
    docLo: Long,
    docHi: Long,
    docCount: Long,
    generation: Int,
    lineage: String)

final case class IndexConfig(
    field: String = "content",
    analyzer: Analyzer = new StandardCodeAnalyzer(),
    withPositions: Boolean = true,
    /** posting-row docId range width: bounds every build/query shuffle group */
    docsPerRange: Int = 8192,
    /** number of hash buckets = segments (contiguous docId ranges) */
    numSegments: Int = 32,
    /** segments built per resumable wave job (checkpoint granularity) */
    segmentsPerWave: Int = 8,
    /** shuffle parallelism for the postings aggregation */
    buildPartitions: Int = 32,
    /** store per-occurrence character offsets next to positions
      * (IndexOptions=4 analogue — highlighting/snippets without
      * re-tokenizing stored content). Indexes built with this stamp
      * manifest formatVersion 3; readers without offset needs are
      * unaffected (the column prunes away). */
    withOffsets: Boolean = false,
    /** when set, take docIds from this input column (must be unique,
      * non-negative longs) instead of assigning rank-based ids */
    explicitDocIdCol: Option[String] = None,
    /** input columns additionally indexed as KEYWORD fields: the whole
      * column value becomes one unanalyzed term (the reference's
      * StringField, /root/reference/core/document/field.go:16-48) with
      * dl=1 — `field:value` queries route here. Metadata columns or any
      * other input column (stringified; carried through staging). */
    keywordFields: Seq[String] = Nil,
    /** input columns additionally indexed as ANALYZED text fields (the
      * reference's TextField on ARBITRARY named fields, field.go:16-48,
      * fieldInfos.go:187): each is tokenized by the same analyzer with its
      * own per-doc length/norm and positions — `field:term` queries and
      * fielded phrases route here. Metadata columns or any other input
      * column; disjoint from keywordFields. */
    analyzedFields: Seq[String] = Nil) {

  // Field names persist in commit.json (escaped by its JSON writer) and are
  // named again in comma-separated field lists (the graft-search source's
  // keywordFields option) and in query syntax, where quotes and
  // backslashes delimit and escape: a name holding a quote, comma or
  // backslash could be stored but never named back. Gate at construction —
  // the one entry point every build path shares.
  for (f <- (field +: (analyzedFields ++ keywordFields)))
    require(f.nonEmpty && !f.exists(c => c == '"' || c == ',' || c == '\\'),
      s"""field name '$f' must be non-empty and contain no '"', ',' or '\\' """ +
        "(names are named back in comma-separated field lists and query syntax)")
}
