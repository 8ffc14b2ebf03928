package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{PostingEntry, PostingsCodec, SmallFloat}

/** Distributed inverted-index builder.
  *
  * Restates the reference's write path (/root/repo/SURVEY.md §3.1) as three
  * Spark stages, each independently resumable:
  *
  *  1. '''stage''': deterministic docId assignment. Documents are hashed into
  *     `numSegments` buckets; within a bucket docIds are the rank over
  *     (repo, path). Bucket offsets make per-bucket id spaces contiguous, so
  *     a segment ≙ a contiguous docId range (the reference's per-DWPT docBase,
  *     /root/reference/core/index/segments.go:26-89). Ids are a pure function
  *     of the input — stable across task retries AND job reruns (the
  *     north-star checkpoint requirement; `monotonically_increasing_id` would
  *     violate it).
  *  2. '''invert + flush''' (per segment, skippable when its `_SUCCESS`
  *     exists): tokenize → per-doc term freq/positions (no shuffle — the
  *     reference's whole in-RAM hash,
  *     /root/reference/core/index/termsHashConsumerPerField.go:288-369, is
  *     local to a row here) → ONE shuffle keyed (field, term, rangeId) →
  *     sorted, delta+FOR-packed posting rows. The rangeId key range-splits
  *     hot terms (`import`, `func`, df≈N) into bounded groups: no shuffle
  *     group ever exceeds docsPerRange docs, at any corpus size.
  *  3. '''publish''': global term dictionary + per-field stats + manifest
  *     (two-phase: parquet dirs first, then a commit marker — SegmentInfos
  *     semantics, /root/reference/core/index/segmentInfos.go:747-851).
  */
final class IndexBuilder(spark: SparkSession, val config: IndexConfig = IndexConfig()) {
  import spark.implicits._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(path: String): Boolean = fs(path).exists(new Path(path))

  /** Input columns indexed as analyzed/keyword fields BEYOND the four stored
    * metadata columns — arbitrary named fields (reference TextField/
    * StringField on any field name, /root/reference/core/document/field.go:
    * 16-48, fieldInfos.go:187). They are carried through staging so waves
    * invert them with their own per-field dl/norm/positions.
    */
  def extraFieldCols: Seq[String] =
    (config.analyzedFields ++ config.keywordFields).distinct
      .filterNot(c => IndexBuilder.MetaCols.contains(c) || c == "content" || c == config.field)

  /** The staged-row column order shared by the batch builder and the
    * streaming appender.
    */
  def stagedColumns: Seq[String] =
    Seq("docId", "segId", "repo", "path", "commit", "lang", "content") ++ extraFieldCols

  def build(corpus: DataFrame, indexPath: String, resume: Boolean = true): IndexManifest = {
    val stagedPath = s"$indexPath/staged"
    val docsPath = s"$indexPath/docs"
    val postingsRoot = s"$indexPath/postings"

    // ---- stage 1: deterministic docIds -------------------------------
    val extras = extraFieldCols
    val sc = spark.sparkContext
    if (!resume || !exists(s"$stagedPath/_SUCCESS"))
        Jobs.describe(sc, s"graft build stage 1: docIds of $indexPath") {
      extras.foreach(c => require(corpus.columns.contains(c),
        s"analyzed/keyword field '$c' is not a column of the input (have: ${corpus.columns.mkString(",")})"))
      val staged = config.explicitDocIdCol match {
        case Some(idCol) =>
          // caller-supplied ids: segment by docId range (stays contiguous);
          // range-repartitioned + segId-sorted so every staged file carries
          // tight segId min/max stats for the wave filter's pushdown
          val maxId = corpus.agg(max(col(idCol).cast("long"))).collect()(0).getLong(0)
          val perSeg = math.max(1L, (maxId + config.numSegments.toLong) / config.numSegments)
          corpus
            .withColumn("docId", col(idCol).cast("long"))
            .withColumn("segId", (col("docId") / perSeg).cast("int"))
            .repartitionByRange(col("segId"), col("docId"))
            .sortWithinPartitions("segId")
        case None =>
          // docId = rank in the total order (segId, repo, path, h). Ranks in
          // a total key order are partitioning-independent, so docIds stay a
          // pure function of the input; h = xxhash64(commit, content) breaks
          // (repo, path) ties deterministically. Extra field columns ride
          // along as payload (never sort keys).
          //
          // Round-5 scaling rework (stage-1 measured ~0.61 at 2→8 cores —
          // memory-bandwidth-bound, so PASSES over the wide content rows are
          // the cost unit): ONE range exchange whose shuffle files feed two
          // jobs — (1) a count-only pass over the UNSORTED partitions
          // (partition sizes don't depend on sort order), (2) an IN-MEMORY
          // per-partition sort + id assignment from the cumulative offsets.
          // The previous zipWithIndex ran Spark's external sort in BOTH its
          // count job and its assignment pass, and the partitionBy(segId)
          // write added a third (dynamic-partition) sort plus a
          // segments×tasks small-file explosion. Sort-task size stays
          // corpus/buildPartitions (the same bounded-partition contract the
          // invert map stage's in-RAM accumulator already requires).
          val bucketed = corpus
            .withColumn("segId", pmod(xxhash64(col("repo"), col("path")), lit(config.numSegments)).cast("int"))
            .withColumn("h", xxhash64(col("commit"), col("content")))
          val parts = math.max(config.buildPartitions, spark.sparkContext.defaultParallelism)
          val dataCols = Seq("segId", "repo", "path", "commit", "lang", "content") ++ extras
          val exchanged = bucketed
            .select((dataCols :+ "h").map(col): _*)
            .repartitionByRange(parts, col("segId"), col("repo"), col("path"), col("h"))
          val exRdd = exchanged.rdd // ONE lineage: both jobs reuse the shuffle files
          val counts = exRdd
            .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
            .collect().sortBy(_._1).map(_._2)
          val offsets = counts.scanLeft(0L)(_ + _)
          val offB = spark.sparkContext.broadcast(offsets)
          val hIdx = dataCols.length // h rides last, dropped after sorting
          val schema = org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("docId",
              org.apache.spark.sql.types.LongType, nullable = false) +:
              exchanged.schema.fields.dropRight(1)) // h dropped
          spark.createDataFrame(
            exRdd.mapPartitionsWithIndex { (pi, it) =>
              val arr = it.toArray
              java.util.Arrays.sort(arr, IndexBuilder.StageKeyOrder(hIdx))
              var id = offB.value(pi) - 1
              arr.iterator.map { row =>
                id += 1
                org.apache.spark.sql.Row.fromSeq(id +: row.toSeq.dropRight(1))
              }
            }, schema)
      }
      // no partitionBy: files come from range-ordered partitions, so their
      // segId min/max row-group stats are tight and the wave filter prunes
      // via predicate pushdown — without the dynamic-partition sort or the
      // segments×tasks file explosion
      staged
        .select(stagedColumns.map(col): _*)
        .write.mode("overwrite").parquet(stagedPath)
    }

    // ---- stage 2: invert + flush, in resumable waves of segments ------
    // distinct over the parquet segId column (one narrow-column job) — works
    // for both the current flat layout and older partitionBy(segId=) dirs
    val segIds = Jobs.describe(sc, s"graft build segments of $indexPath") {
      spark.read.parquet(stagedPath).select("segId").distinct()
        .collect().map(_.getInt(0)).sorted
    }

    // waves the commit covers through a merged wave: their postings live in
    // the merge output — re-inverting them would duplicate postings
    val committed = if (resume) IndexManifest.current(spark, indexPath) else None
    val retired = committed.fold(Set.empty[Int])(_.retired)
    val waveSegs = segIds.grouped(config.segmentsPerWave).toSeq
    var invertedAny = false
    for ((segs, wave) <- waveSegs.zipWithIndex) {
      val wavePostings = s"$postingsRoot/wave=$wave"
      val waveDocs = s"$docsPath/wave=$wave"
      if (!retired.contains(wave) &&
        (!resume || !exists(s"$wavePostings/_SUCCESS") || !exists(s"$waveDocs/_SUCCESS"))) {
        Jobs.describe(sc, s"graft invert wave $wave: staged rows") {
          invertWave(spark.read.parquet(stagedPath)
            .where(col("segId").isin(segs.map(Integer.valueOf): _*)), wave, indexPath) // partition-pruned
        }
        invertedAny = true
      }
    }

    // Resume NO-OP fast path: nothing was (re)inverted and the commit
    // covers every wave of this build under the same field config, so a full
    // publish would re-aggregate identical outputs. Any mismatch — no commit,
    // config drift, a wave written but never committed — publishes.
    if (resume && !invertedAny) {
      committed match {
        case Some(m) if m.waves.nonEmpty &&
            waveSegs.indices.toSet.subsetOf(m.waves.flatMap(_.covers).toSet) &&
            m.formatVersion == formatVersion &&
            m.field == config.field &&
            m.analyzedFields == config.analyzedFields &&
            m.keywordFields == config.keywordFields &&
            m.docsPerRange == config.docsPerRange =>
          return m
        case _ => ()
      }
    }
    publish(indexPath)
  }

  /** Invert + flush one wave of docId-assigned rows: the reusable unit shared
    * by the batch build and the streaming appender. Expects columns
    * (docId, segId, repo, path, commit, lang, content). Returns the number
    * of docs written, observed on the docs write.
    */
  def invertWave(stagedDf: DataFrame, wave: Int, indexPath: String): Long = {
    val sc = spark.sparkContext
    val analyzerB = sc.broadcast(config.analyzer)
    val fieldName = config.field
    val withPositions = config.withPositions
    val withOffsets = config.withOffsets
    val docsPerRange = config.docsPerRange
    val keywordFields = config.keywordFields
    val analyzedExtras = config.analyzedFields
    require(analyzedExtras.intersect(keywordFields).isEmpty,
      s"a field cannot be both analyzed and keyword: ${analyzedExtras.intersect(keywordFields)}")
    require(!analyzedExtras.contains(fieldName) && !keywordFields.contains(fieldName),
      s"'$fieldName' is the primary analyzed field; don't list it again")
    val cols = stagedColumns
    cols.foreach(c => require(stagedDf.columns.contains(c),
      s"staged rows lack column '$c' (have: ${stagedDf.columns.mkString(",")})"))
    // arbitrary extra field columns are stringified here (the analyzer/
    // keyword term space is strings); the four metadata columns are already
    // strings
    val staged = stagedDf.select(
      Seq(col("docId"), col("segId"), col("repo"), col("path"), col("commit"),
        col("lang"), col("content")) ++
        extraFieldCols.map(c => col(c).cast("string").as(c)): _*)
    // named-field value accessor over the staged row layout (metadata
    // columns or extra field columns alike)
    val colIdx: Map[String, Int] = cols.zipWithIndex.toMap
    def fv(row: org.apache.spark.sql.Row, f: String): String = {
      val i = colIdx(f)
      if (row.isNullAt(i)) null else row.getString(i)
    }

    // docs (stored fields + per-row sha256 invariant + per-field dls) —
    // submitted concurrently with the postings job below: the two jobs'
    // tasks backfill each other's stage tails, removing a serial stage
    // boundary
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val docCount = new org.apache.spark.sql.Observation()
    val docsJob = Future(Jobs.describe(sc, s"graft invert wave $wave: docs") {
      staged.map { row =>
        val docId = row.getLong(0)
        val segId = row.getInt(1)
        val content = row.getString(6)
        def count(s: String): Int = analyzerB.value match {
          case std: graft.analysis.StandardCodeAnalyzer => std.countTokens(s)
          case a => var c = 0; a.tokenize(s)((_, _) => c += 1); c
        }
        val dl = count(content)
        val fieldDls = Map.newBuilder[String, Int]
        fieldDls += fieldName -> dl
        analyzedExtras.foreach { af =>
          val v = fv(row, af)
          if (v != null && v.nonEmpty) fieldDls += af -> count(v)
        }
        keywordFields.foreach { kf =>
          val v = fv(row, kf)
          if (v != null && v.nonEmpty) fieldDls += kf -> 1
        }
        DocRow(docId, segId, row.getString(2), row.getString(3), row.getString(4),
          row.getString(5), Hashing.sha256Hex(content), dl,
          SmallFloat.encodeNorm(dl, 0), fieldDls.result())
      }.observe(docCount, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$indexPath/docs/wave=$wave")
    })

    // postings, two-level (the reference's DWPT design restated):
    //  map side — one in-RAM inverted index PER PARTITION, flushed as
    //  encoded partial posting rows (delta+FOR packed). The shuffle then
    //  moves COMPRESSED blocks (~2-4 B/posting), not raw term-doc tuples
    //  (~70 B/posting): at 10^12 docs this is the difference between
    //  shuffling ~3 TB and ~60 TB per build wave.
    //  reduce side — merge the few partial rows per (term, rangeId)
    //  (bounded: ranges span ≤ docsPerRange docs; a partition covers a
    //  contiguous docId slice, so each range meets ~1-3 partitions).
    val partial = staged.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, String, Long), scala.collection.mutable.ArrayBuffer[PostingEntry]]
      val m = new java.util.HashMap[String, IntsBuf]() // positions, reused per doc
      val mo = new java.util.HashMap[String, IntsBuf]() // offsets (withOffsets only)
      val kwNorm = SmallFloat.encodeNorm(1, 0)
      // one tokenize pass filling m (positions) and mo (offsets when stored);
      // returns the field dl
      def invertField(text: String): Int = {
        m.clear()
        var dl = 0
        if (withOffsets) {
          mo.clear()
          analyzerB.value.tokenizeWithOffsets(text) { (term, p, so, eo) =>
            dl += 1
            var b = m.get(term)
            if (b == null) { b = new IntsBuf; m.put(term, b) }
            b.add(p)
            var o = mo.get(term)
            if (o == null) { o = new IntsBuf; mo.put(term, o) }
            o.add(so); o.add(eo)
          }
        } else analyzerB.value.tokenize(text) { (term, p) =>
          dl += 1
          var b = m.get(term)
          if (b == null) { b = new IntsBuf; m.put(term, b) }
          b.add(p)
        }
        dl
      }
      def offsetsOf(term: String): Array[Int] =
        if (withOffsets) mo.get(term).toArray else Array.emptyIntArray
      it.foreach { row =>
        val docId = row.getLong(0)
        val content = row.getString(6)
        val dl = invertField(content)
        val norm = SmallFloat.encodeNorm(dl, 0)
        val rangeId = docId / docsPerRange
        val mit = m.entrySet().iterator()
        while (mit.hasNext) {
          val e = mit.next()
          acc.getOrElseUpdate((fieldName, e.getKey, rangeId), scala.collection.mutable.ArrayBuffer.empty) +=
            PostingEntry(docId, e.getValue.n, dl, norm,
              if (withPositions) e.getValue.toArray else Array.emptyIntArray,
              offsetsOf(e.getKey))
        }
        // extra ANALYZED fields: tokenized with their own per-field dl/norm
        // and positions (TextField on a named field — the searcher's
        // per-field dl/norm arrays were already multi-field-ready)
        analyzedExtras.foreach { af =>
          val v = fv(row, af)
          if (v != null && v.nonEmpty) {
            val adl = invertField(v)
            if (adl > 0) {
              val anorm = SmallFloat.encodeNorm(adl, 0)
              val arId = docId / docsPerRange
              val ait = m.entrySet().iterator()
              while (ait.hasNext) {
                val e = ait.next()
                acc.getOrElseUpdate((af, e.getKey, arId), scala.collection.mutable.ArrayBuffer.empty) +=
                  PostingEntry(docId, e.getValue.n, adl, anorm,
                    if (withPositions) e.getValue.toArray else Array.emptyIntArray,
                    offsetsOf(e.getKey))
              }
            }
          }
        }
        // keyword fields: whole value = one unanalyzed term, dl = 1
        // (StringField semantics — field.go:16-48); no positions
        keywordFields.foreach { kf =>
          val v = fv(row, kf)
          if (v != null && v.nonEmpty)
            acc.getOrElseUpdate((kf, v, rangeId), scala.collection.mutable.ArrayBuffer.empty) +=
              PostingEntry(docId, 1, 1, kwNorm, Array.emptyIntArray,
                if (withOffsets) Array(0, v.length) else Array.emptyIntArray)
        }
      }
      val analyzedSet = analyzedExtras.toSet + fieldName
      acc.iterator.map { case ((f, term, rangeId), entries) =>
        PostingRows.fromEntries(entries.toArray.sortBy(_.docId), wave, f,
          term, rangeId, withPositions && analyzedSet.contains(f), withOffsets)
      }
    }

    val postingRows = partial
      .groupByKey(r => (r.field, r.term, r.rangeId))
      .mapGroups { (_: (String, String, Long), it: Iterator[PostingRow]) =>
        PostingRows.merge(it.toArray, wave)
      }
    Jobs.describe(sc, s"graft invert wave $wave: postings") {
      IndexBuilder.writeSorted(postingRows, s"$indexPath/postings/wave=$wave",
        "field", "term", "rangeId")
    }

    Await.result(docsJob, scala.concurrent.duration.Duration.Inf)
    docCount.get("n").asInstanceOf[Long]
  }

  /** The manifest format this builder writes: 3 with offsets, else 2. */
  private def formatVersion: Int =
    if (config.withOffsets) IndexManifest.FormatOffsets else IndexManifest.CurrentFormat

  /** Stage 3: commit the whole index — the commit's merged waves plus
    * every complete built wave they do not cover, folded onto no base; an
    * uncommitted merge output is never adopted. Generation 0 when the index
    * has no commit, else the live one + 1. Merges must not run concurrently.
    */
  def publish(indexPath: String): IndexManifest = {
    val prev = IndexManifest.current(spark, indexPath)
    val retired = prev.fold(Set.empty[Int])(_.retired)
    fold(indexPath, prev, base = None,
      prev.fold(Seq.empty[WaveEntry])(_.waves.filter(_.wave >= TieredMerge.MergeWaveBase)) ++
        IndexManifest.builtWaves(conf, indexPath).filterNot(e => retired(e.wave)))
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  /** INCREMENTAL publish for streaming append cadence: the committed index
    * plus ONE new wave's deltas. Cost is O(new wave) + O(vocabulary
    * rewrite) — never a full postings or docs scan, so per-batch publish
    * stays flat as the index grows.
    *
    * Replays (at-least-once foreachBatch): a batch whose wave the commit
    * lists re-lists its rewritten files under the same generation when its
    * docs match the committed segment row, else (a checkpoint-less restart
    * reusing a batch id) falls back to a full publish.
    */
  def publishIncremental(indexPath: String, wave: Int): IndexManifest = {
    val prev = IndexManifest.current(spark, indexPath)
      .getOrElse(return publish(indexPath)) // first commit: nothing to increment on
    val entry = IndexManifest.listWave(conf, indexPath, wave)
    prev.waves.find(_.wave == wave) match {
      case None => fold(indexPath, Some(prev), base = Some(prev), Seq(entry))
      case Some(_) =>
        val r = Jobs.describe(spark.sparkContext, s"graft commit: replay check of wave $wave") {
          spark.read.schema(TableSchemas.docs).parquet(IndexManifest.resolve(indexPath, entry.of("docs")): _*)
            .agg(count(lit(1)), min("docId"), max("docId")).collect()(0)
        }
        val sameContent = IndexManifest.readSegments(spark, indexPath).find(_.segId == wave)
          .exists(s => s.docCount == r.getLong(0) && s.docLo == r.getLong(1) && s.docHi == r.getLong(2))
        // same content: same generation, so no sweep — sweeping here would
        // count the replay as a commit and drop the generation before it
        if (!sameContent) publish(indexPath)
        else IndexManifest.commit(spark,
          prev.copy(waves = prev.waves.map(e => if (e.wave == wave) entry else e)))
    }
  }

  /** The one two-phase commit through a fold: generation g+1 (g = `prev`'s,
    * none → 0) is `base` — its waves, dictionary, doc totals, field
    * docCounts and segment rows; None starts empty — plus the deltas of
    * `waves`. Data dirs are written first, then `commit.json` lists the
    * commit's files and flips the pointer ([[IndexBuilder.commit]]).
    */
  private[index] def fold(indexPath: String, prev: Option[IndexManifest],
      base: Option[IndexManifest], waves: Seq[WaveEntry]): IndexManifest = {
    require(waves.nonEmpty, s"no postings waves to publish under $indexPath")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    val gen = prev.fold(0)(_.termsGen + 1)

    // docs: one rollup over the waves' listed docs files gives the segment
    // rows, the totals row and every field's docCount. A non-reclaiming
    // merged wave lists its sources' docs files. Runs concurrently with the
    // dictionary write below.
    val docsRoot = s"$indexPath/docs"
    val docs = spark.read.schema(TableSchemas.docs).option("basePath", docsRoot)
      .parquet(IndexManifest.resolve(indexPath, waves.flatMap(_.of("docs"))): _*)
    val fields = (Seq(config.field) ++ config.analyzedFields ++ config.keywordFields).distinct
    // the PRIMARY field's docCount is just dl > 0 — only EXTRA fields touch
    // the fieldDls map column, whose row-by-row decode was the single largest
    // publish cost (~2.6 s of a 3 s publish at 8 cores on the 2^21-doc
    // scaling corpus)
    def present(f: String) =
      if (f == config.field) col("dl") > 0 else element_at(col("fieldDls"), f) > 0
    val aggs = Seq(min("docId"), max("docId"), count(lit(1)), min("wave")) ++
      fields.map(f => sum(when(present(f), 1L).otherwise(0L)))
    val rollup = Future(Jobs.describe(sc, s"graft commit gen $gen: docs rollup") {
      docs.rollup("segId").agg(aggs.head, aggs.tail: _*).collect()
    })

    // dictionary: base rows + every wave's delta, one group per (field, term).
    // Each field's sums ride along the write as observed metrics, so nothing
    // re-reads the written dictionary.
    val sums = new org.apache.spark.sql.Observation()
    val sumCols = fields.zipWithIndex.flatMap { case (f, i) =>
      def of(c: org.apache.spark.sql.Column) = sum(when(col("field") === f, c).otherwise(0L))
      Seq(of(col("totalTermFreq")).as(s"ttf$i"), of(col("docFreq")).as(s"df$i"), of(lit(1L)).as(s"n$i"))
    }
    val dict = IndexBuilder.foldTerms(
      (base.map(b => spark.read.schema(TableSchemas.terms).parquet(b.termsPaths: _*)).toSeq ++
        IndexBuilder.waveDeltas(spark, indexPath, waves, formatVersion)).reduce(_ unionByName _))
    val termsRel = IndexManifest.generationRel("terms", gen)
    Jobs.describe(sc, s"graft commit gen $gen: dictionary") {
      IndexBuilder.writeSorted(dict.observe(sums, sumCols.head, sumCols.tail: _*),
        s"$indexPath/$termsRel", "field", "term")
    }

    val (totals, segRows) = Await.result(rollup, Duration.Inf).partition(_.isNullAt(0))
    val total = totals.head
    val added = fields.zipWithIndex.map { case (f, i) => f -> total.getLong(5 + i) }.toMap
    val baseDc = base.fold(Map.empty[String, Long])(
      _.fieldStatsOrTable(conf).map(s => s.field -> s.docCount).toMap)
    val maxDoc = base.fold(0L)(_.maxDoc) + total.getLong(3)
    val maxDocId = math.max(base.fold(-1L)(_.maxDocId), total.getLong(2))

    // segment rows: the waves' rows replace any same-segId row of the base
    // (a crash between this write and the commit leaves them behind)
    val segs = segRows.map(r => SegmentMeta(r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3), generation = 1, lineage = s"$docsRoot/wave=${r.get(4)}")).toSeq
    val kept = if (base.isEmpty) Nil
      else IndexManifest.readSegments(spark, indexPath).filterNot(s => segs.exists(_.segId == s.segId))
    IndexManifest.writeSegments(spark, indexPath, (kept ++ segs).sortBy(_.segId))

    // one row per field the dictionary holds; the table and the manifest
    // carry the same rows, so searchers read collection stats with no I/O
    val observed = sums.get
    def sumOf(k: String): Long = observed.get(k).collect { case v: Long => v }.getOrElse(0L)
    val stats = fields.zipWithIndex.filter { case (_, i) => sumOf(s"n$i") > 0 }.map { case (f, i) =>
      FieldStats(f, sumOf(s"ttf$i"), sumOf(s"df$i"), sumOf(s"n$i"), maxDoc,
        baseDc.getOrElse(f, 0L) + added(f))
    }.sortBy(_.field)
    Jobs.describe(sc, s"graft commit gen $gen: fieldstats") {
      stats.toDS().coalesce(1).write.mode("overwrite")
        .parquet(s"$indexPath/${IndexManifest.generationRel("fieldstats", gen)}")
    }

    IndexBuilder.commit(spark, prev, IndexManifest(indexPath, maxDoc,
      base.fold(0L)(_.docCount) + added(config.field), config.docsPerRange, maxDocId,
      termsGen = gen, waves = (base.fold(Seq.empty[WaveEntry])(_.waves) ++ waves).sortBy(_.age),
      termsFiles = IndexManifest.listFiles(conf, indexPath, termsRel), formatVersion = formatVersion,
      field = config.field, analyzedFields = config.analyzedFields,
      keywordFields = config.keywordFields, fieldStats = Some(stats)))
  }

}

object IndexBuilder {
  /** The four stored metadata columns of the CodeFile input shape. */
  val MetaCols = Seq("repo", "path", "commit", "lang")

  /** Writes a terms or postings table: rows sorted by `keys` within each
    * file, in parquet pages of at most 1024 rows. Footer and column-index
    * min/max statistics then narrow a (field, term) seek — Spark's
    * pushdown and the searcher's driver-side [[PointReader]] — to the
    * pages holding the key, like Lucene's BlockTree term blocks. (With
    * parquet's default of 20,000 rows per page, a seek in a 200k-doc
    * dictionary decoded most of every file.)
    */
  private[index] def writeSorted(ds: Dataset[_], path: String, keys: String*): Unit =
    ds.sortWithinPartitions(keys.map(col): _*).write.mode("overwrite")
      .option("parquet.page.row.count.limit", 1024L).parquet(path)

  /** Row order of the stage-1 key (segId, repo, path, h) matching Spark's
    * own sort semantics EXACTLY: strings compare in UTF-8 BINARY order (the
    * published UTF16-in-UTF8-order adjustment for surrogate pairs — Spark's
    * UTF8String.compare is byte-wise), nulls first. Required because range
    * partition boundaries come from Spark's ordering while the in-partition
    * sort is ours: any disagreement at a partition boundary would make
    * docIds depend on the (sampled) boundaries instead of the input alone.
    */
  /** UTF-8 binary string order expressed over UTF-16 chars (surrogate
    * adjustment) — matches Spark's UTF8String comparison exactly. Shared by
    * [[StageKeyOrder]] (stage-1 docId assignment) and, as [[utf8Order]], by
    * every driver-side term sort that must agree with a dictionary scan's
    * orderBy("term"): prefix expansion, MultiSearcher.expandAcrossShards
    * (otherwise the float64 disjunction sum order diverges for
    * supplementary-plane vocabularies) and the suggestion merge.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int = {
    if (a == null || b == null) return java.lang.Boolean.compare(b == null, a == null)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        if (ca >= 0xD800 && cb >= 0xD800) {
          val fa = if (ca >= 0xE000) ca - 0x800 else ca + 0x2000
          val fb = if (cb >= 0xE000) cb - 0x800 else cb + 0x2000
          return fa - fb
        }
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }

  /** [[utf8Cmp]] as an Ordering (Ordering.String is UTF-16 code-unit order). */
  private[graft] val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = utf8Cmp(a, b)
  }

  private final case class StageKeyOrder(hIdx: Int)
      extends java.util.Comparator[org.apache.spark.sql.Row] with Serializable {
    private def utf8Cmp(a: String, b: String): Int = IndexBuilder.utf8Cmp(a, b)
    def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int = {
      var c = Integer.compare(a.getInt(0), b.getInt(0))
      if (c == 0) c = utf8Cmp(a.getString(1), b.getString(1))
      if (c == 0) c = utf8Cmp(a.getString(2), b.getString(2))
      if (c == 0) c = java.lang.Long.compare(a.getLong(hIdx), b.getLong(hIdx))
      c
    }
  }

  /** The dictionary fold: rows of (field, term, docFreq, totalTermFreq,
    * singletonDocId) — posting rows, per-wave partials or a committed
    * dictionary alike — summed per (field, term). A term keeps a singleton
    * docId only while its summed df is 1, taken from the one row that holds it.
    */
  private[index] def foldTerms(rows: DataFrame): DataFrame =
    rows.groupBy("field", "term").agg(
      sum("docFreq").as("docFreq"),
      sum("totalTermFreq").as("totalTermFreq"),
      when(sum("docFreq") === 1L, max("singletonDocId")).otherwise(-1L).as("singletonDocId"))

  /** Posting rows of some files as [[foldTerms]] input (a row's
    * firstDocId is its doc when its df is 1).
    */
  private def postingDeltas(spark: SparkSession, paths: Seq[String],
      formatVersion: Int): DataFrame =
    spark.read.schema(TableSchemas.postings(formatVersion)).parquet(paths: _*)
      .select(col("field"), col("term"), col("docFreq").cast("long").as("docFreq"),
        col("ttf").as("totalTermFreq"), col("firstDocId").as("singletonDocId"))

  /** The waves' dictionary deltas as [[foldTerms]] input: a wave's
    * `termsPartial` files when it lists them, else its posting rows.
    */
  private[index] def waveDeltas(spark: SparkSession, indexPath: String, waves: Seq[WaveEntry],
      formatVersion: Int): Seq[DataFrame] = {
    val (partial, raw) = waves.partition(_.of("termsPartial").nonEmpty)
    def paths(ws: Seq[WaveEntry], table: String) = IndexManifest.resolve(indexPath, ws.flatMap(_.of(table)))
    val partials = if (partial.isEmpty) Nil else Seq(
      spark.read.schema(TableSchemas.termsPartial).parquet(paths(partial, "termsPartial"): _*)
        .withColumnRenamed("ttf", "totalTermFreq"))
    partials ++ (if (raw.isEmpty) Nil else Seq(postingDeltas(spark, paths(raw, "postings"), formatVersion)))
  }

  /** Writes a merge output's `termsPartial/wave=N`: the fold of the posting
    * rows in its `postings/wave=N` dir, the wave's dictionary delta —
    * vocabulary-sized instead of (field, term, rangeId)-sized — which a full
    * fold reads in place of its posting rows. The batch invert writes none:
    * measured on the scaling corpus, it double-pays the dictionary
    * aggregation the publish fold does anyway.
    */
  private[index] def writeTermsPartial(spark: SparkSession, indexPath: String, wave: Int): Unit =
    foldTerms(postingDeltas(spark, Seq(s"$indexPath/postings/wave=$wave"), IndexManifest.CurrentFormat))
      .withColumnRenamed("totalTermFreq", "ttf")
      .write.mode("overwrite").parquet(s"$indexPath/termsPartial/wave=$wave")

  /** Makes `next` the live commit, then sweeps — the one place wave dirs
    * and terms/fieldstats generations are deleted: whatever neither `next`
    * nor `prev` lists goes (Lucene's keep-last-two-commits
    * `IndexDeletionPolicy`), so readers of `prev` keep their files. The
    * merge logs and delete stages of the format before listed commits go too.
    */
  private[index] def commit(spark: SparkSession, prev: Option[IndexManifest],
      next: IndexManifest): IndexManifest = {
    val keep = IndexManifest.commit(spark, next) +: prev.toSeq
    val dirs = keep.flatMap(_.waves.flatMap(_.files)).map(f => f.path.split('/').take(2).mkString("/")).toSet
    val gens = keep.map(_.termsGen).toSet
    val root = new Path(next.indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(p: Path) = scala.util.Try(fs.listStatus(p).toSeq).getOrElse(Nil)
    (IndexManifest.WaveTables.flatMap(t => ls(new Path(root, t))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("wave=") &&
          !dirs(s"$t/${st.getPath.getName}"))) ++
      ls(root).filter { st =>
        val name = st.getPath.getName
        IndexManifest.generationOf(name).exists(g => !gens(g)) ||
          name.matches("merges_\\d+\\.json") || name.startsWith("deletes_stage_")
      })
      .foreach(st => fs.delete(st.getPath, true))
    next
  }

  /** A builder whose field config MATCHES an existing committed index —
    * the only safe way to republish one you didn't just build (advisor
    * round-4 fix: Cli merge/expunge used a default IndexConfig, stamping
    * docsPerRange=8192 into a manifest built with another range width and
    * zeroing the extra fields' docCounts). The analyzer is caller-supplied
    * (publish itself never tokenizes).
    */
  def forExisting(spark: SparkSession, indexPath: String,
      analyzer: graft.analysis.Analyzer = new graft.analysis.StandardCodeAnalyzer())
      : IndexBuilder = {
    val m = IndexManifest.load(spark, indexPath)
    new IndexBuilder(spark, IndexConfig(
      field = m.field, analyzer = analyzer, docsPerRange = m.docsPerRange,
      // a republish must keep the committed format: downgrading a format-3
      // (offsets) manifest to 2 would hide the offPayload column from readers
      withOffsets = m.formatVersion >= IndexManifest.FormatOffsets,
      analyzedFields = m.analyzedFields, keywordFields = m.keywordFields))
  }
}

object Hashing {
  private val hex = "0123456789abcdef".toCharArray
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  def sha256Hex(s: String): String = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hex((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

/** One committed data file: its path under the index root and its size. */
final case class IndexFile(path: String, bytes: Long)

/** One live wave of a commit: its number, the original (built or streamed)
  * waves it covers — itself, or every source of a merge — and its files:
  * postings, docs and `termsPartial`. A non-reclaiming merge leaves its
  * sources' docs files where they are and lists them.
  */
final case class WaveEntry(wave: Int, covers: Seq[Int], files: Seq[IndexFile]) {
  /** The files of one table ("postings", "docs" or "termsPartial"). */
  def of(table: String): Seq[IndexFile] = files.filter(_.path.startsWith(s"$table/"))

  /** Arrival position: a merged wave sorts at its oldest source's age. */
  def age: Int = covers.min
}

/** The commit point, the `segments_N` analogue: it names every file a
  * reader opens — each live wave's files in age order and the terms
  * generation's files — so readers never list a directory. `maxDocId` is
  * the true max assigned id — the append base for streaming (NOT maxDoc,
  * which is the doc COUNT and collides under sparse explicit id spaces).
  */
final case class IndexManifest(indexPath: String, maxDoc: Long, docCount: Long,
    docsPerRange: Int, maxDocId: Long = -1L,
    termsGen: Int = 0, waves: Seq[WaveEntry] = Nil, termsFiles: Seq[IndexFile] = Nil,
    /** On-disk index schema generation (advisor round-3 fix: readers gate on
      * this instead of crashing mid-run on a missing column). Manifests
      * written before the field existed load as version 1.
      */
    formatVersion: Int = IndexManifest.CurrentFormat,
    /** Persisted FIELD CONFIG (advisor round-4 fix): a republish of an
      * existing index (Cli merge/expunge) must aggregate the SAME field set
      * and stamp the SAME docsPerRange the index was built with — a default
      * IndexConfig would durably corrupt rangeId-based paths and zero the
      * extra fields' docCounts. Manifests written before these fields
      * existed load with the historical defaults.
      */
    field: String = "content",
    analyzedFields: Seq[String] = Nil,
    keywordFields: Seq[String] = Nil,
    /** The committed `fieldstats` table's rows, so reading collection
      * statistics costs no I/O. None for manifests written before the copy
      * existed: read the table ([[fieldStatsOrTable]]).
      */
    fieldStats: Option[Seq[FieldStats]] = None) {

  /** Committed terms-dictionary dir. Every commit writes a fresh
    * generation and flips the pointer at manifest commit (the atomic step),
    * so a crash mid-write never corrupts the live dictionary and readers of
    * the previous commit keep theirs.
    */
  def termsLocation: String = s"$indexPath/${IndexManifest.generationRel("terms", termsGen)}"

  /** Committed fieldstats dir (same generation discipline as terms). */
  def statsLocation: String = s"$indexPath/${IndexManifest.generationRel("fieldstats", termsGen)}"

  /** Per-field statistics: the manifest's copy, else the fieldstats table
    * read on the driver (no Spark job).
    */
  def fieldStatsOrTable(conf: org.apache.hadoop.conf.Configuration): Seq[FieldStats] =
    fieldStats.getOrElse(IndexManifest.readFieldStats(conf, statsLocation))

  /** Paths of the live waves' files of one table. */
  def paths(table: String): Seq[String] = IndexManifest.resolve(indexPath, waves.flatMap(_.of(table)))

  /** Paths of the terms generation's files. */
  def termsPaths: Seq[String] = IndexManifest.resolve(indexPath, termsFiles)

  /** Original waves whose postings live in a merged wave. */
  def retired: Set[Int] = waves.flatMap(e => e.covers.filterNot(_ == e.wave)).toSet
}

object IndexManifest {
  /** Current index schema generation: 2 = per-field dls on doc rows
    * (`fieldDls`), generational terms dirs. Version-1 indexes (round-1
    * layout) must be rebuilt — CheckIndex reports this cleanly.
    */
  val CurrentFormat = 2

  /** Format 3 = format 2 + per-occurrence character offsets on posting rows
    * (`offPayload`, IndexConfig.withOffsets). Readers that never ask for
    * offsets treat a format-3 index exactly like format 2 (the column prunes
    * away); CheckIndex accepts both.
    */
  val FormatOffsets = 3

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Generation `gen`'s dir of a generational table ("terms" or
    * "fieldstats") under the index root: the bare name for the first
    * commit, `<table>_g<gen>` after it.
    */
  def generationRel(table: String, gen: Int): String =
    if (gen <= 0) table else s"${table}_g$gen"

  /** The tables written per wave, in `<table>/wave=N` dirs. */
  val WaveTables: Seq[String] = Seq("postings", "docs", "termsPartial")

  /** Absolute paths of committed files. */
  def resolve(indexPath: String, files: Seq[IndexFile]): Seq[String] =
    files.map(f => s"$indexPath/${f.path}")

  /** The data files under `rel` (relative to the index root), recursively,
    * skipping `_` and `.` entries as Spark does. Only writers and the
    * upgrade of a manifest without a file list look at directories.
    */
  def listFiles(conf: org.apache.hadoop.conf.Configuration, indexPath: String,
      rel: String): Seq[IndexFile] = {
    val fs = new Path(indexPath).getFileSystem(conf)
    def list(r: String): Seq[IndexFile] =
      (try fs.listStatus(new Path(s"$indexPath/$r")).toSeq
       catch { case _: java.io.FileNotFoundException => Nil })
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val sub = s"$r/${st.getPath.getName}"
          if (st.isDirectory) list(sub) else Seq(IndexFile(sub, st.getLen))
        }
    list(rel).sortBy(_.path)
  }

  /** One original wave as its dirs hold it now. */
  def listWave(conf: org.apache.hadoop.conf.Configuration, indexPath: String, wave: Int): WaveEntry =
    WaveEntry(wave, Seq(wave),
      WaveTables.flatMap(t => listFiles(conf, indexPath, s"$t/wave=$wave")))

  /** Every complete built or streamed wave on disk (postings and docs both
    * carry `_SUCCESS`; merge outputs excluded), listed — what a full
    * publish adopts.
    */
  def builtWaves(conf: org.apache.hadoop.conf.Configuration, indexPath: String): Seq[WaveEntry] = {
    val fs = new Path(indexPath).getFileSystem(conf)
    def done(t: String, w: Int) = fs.exists(new Path(s"$indexPath/$t/wave=$w/_SUCCESS"))
    wavesOnDisk(conf, indexPath).toSeq.sortBy(_._1).collect {
      case (w, files) if w < TieredMerge.MergeWaveBase && done("postings", w) && done("docs", w) =>
        WaveEntry(w, Seq(w), files)
    }
  }

  /** The files of every `wave=N` dir of postings, docs and termsPartial. */
  private def wavesOnDisk(conf: org.apache.hadoop.conf.Configuration,
      indexPath: String): Map[Int, Seq[IndexFile]] =
    WaveTables.flatMap(t => listFiles(conf, indexPath, t))
      .groupBy(_.path.split('/')(1)).collect {
        case (dir, files) if dir.startsWith("wave=") && dir.drop(5).toIntOption.isDefined =>
          dir.drop(5).toInt -> files
      }

  /** `commit.json` and the file system it goes through: the raw one, with
    * no checksum side file, so a rename replaces the commit in one step.
    */
  private def commitFile(conf: org.apache.hadoop.conf.Configuration,
      indexPath: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(s"$indexPath/commit.json")
    (p.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }, p)
  }

  /** The live commit's text, None when the index has none. */
  def commitText(conf: org.apache.hadoop.conf.Configuration, indexPath: String): Option[String] = {
    val (fs, p) = commitFile(conf, indexPath)
    val in = try fs.open(p) catch { case _: java.io.FileNotFoundException => return None }
    try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
  }

  /** The live commit, None when the index has none. */
  def current(spark: SparkSession, indexPath: String): Option[IndexManifest] =
    commitText(spark.sparkContext.hadoopConfiguration, indexPath).map(parse(spark, indexPath, _))

  /** The generation a dir name of [[generationRel]] holds; None for others. */
  def generationOf(name: String): Option[Int] = name match {
    case "terms" | "fieldstats" => Some(0)
    case _ => Seq("terms_g", "fieldstats_g").find(name.startsWith)
      .flatMap(p => name.stripPrefix(p).toIntOption)
  }

  private def segmentsPath(spark: SparkSession, indexPath: String) = {
    val p = new Path(s"$indexPath/segments.json")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Writes `segments.json`: one JSON object per segment and line. */
  def writeSegments(spark: SparkSession, indexPath: String, segs: Seq[SegmentMeta]): Unit = {
    val (p, fs) = segmentsPath(spark, indexPath)
    val out = fs.create(p, true)
    try segs.foreach { s =>
      val o = json.createObjectNode()
      o.put("segId", s.segId)
      o.put("docLo", s.docLo)
      o.put("docHi", s.docHi)
      o.put("docCount", s.docCount)
      o.put("generation", s.generation)
      o.put("lineage", s.lineage)
      out.write(json.writeValueAsBytes(o))
      out.write('\n')
    } finally out.close()
  }

  /** The rows of `segments.json`; empty when the index has none. */
  def readSegments(spark: SparkSession, indexPath: String): Seq[SegmentMeta] = {
    val (p, fs) = segmentsPath(spark, indexPath)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    txt.linesIterator.filter(_.nonEmpty).map { line =>
      val o = json.readTree(line)
      SegmentMeta(o.get("segId").asInt, o.get("docLo").asLong, o.get("docHi").asLong,
        o.get("docCount").asLong, o.get("generation").asInt, o.get("lineage").asText)
    }.toSeq
  }

  /** Every row of a fieldstats table, read on the driver. */
  def readFieldStats(conf: org.apache.hadoop.conf.Configuration, dir: String): Seq[FieldStats] = {
    val (root, rel) = (new Path(dir).getParent.toString, new Path(dir).getName)
    new PointReader(conf, resolve(root, listFiles(conf, root, rel))).read(
      Seq("field", "sumTotalTermFreq", "sumDocFreq", "termCount", "maxDoc", "docCount"), None) { g =>
      FieldStats(g.getString("field", 0), g.getLong("sumTotalTermFreq", 0),
        g.getLong("sumDocFreq", 0), g.getLong("termCount", 0), g.getLong("maxDoc", 0),
        g.getLong("docCount", 0))
    }.sortBy(_.field)
  }

  /** Writes `commit.json` — a JSON object with one key per manifest field
    * (strings escaped by the JSON writer); `fieldStats` is an array of
    * per-field objects, omitted when None.
    */
  def commit(spark: SparkSession, m: IndexManifest): IndexManifest = {
    val root = json.createObjectNode()
    root.put("maxDoc", m.maxDoc)
    root.put("docCount", m.docCount)
    root.put("docsPerRange", m.docsPerRange)
    root.put("maxDocId", m.maxDocId)
    root.put("termsGen", m.termsGen)
    def putFiles(arr: com.fasterxml.jackson.databind.node.ArrayNode, files: Seq[IndexFile]): Unit =
      files.foreach { f =>
        val o = arr.addObject()
        o.put("path", f.path)
        o.put("bytes", f.bytes)
      }
    val waves = root.putArray("waves")
    m.waves.foreach { e =>
      val o = waves.addObject()
      o.put("wave", e.wave)
      val covers = o.putArray("covers")
      e.covers.foreach(w => covers.add(w))
      putFiles(o.putArray("files"), e.files)
    }
    putFiles(root.putArray("termsFiles"), m.termsFiles)
    root.put("formatVersion", m.formatVersion)
    root.put("field", m.field)
    val analyzed = root.putArray("analyzedFields")
    m.analyzedFields.foreach(f => analyzed.add(f))
    val keyword = root.putArray("keywordFields")
    m.keywordFields.foreach(f => keyword.add(f))
    m.fieldStats.foreach { fss =>
      val arr = root.putArray("fieldStats")
      fss.foreach { fs =>
        val o = arr.addObject()
        o.put("field", fs.field)
        o.put("sumTotalTermFreq", fs.sumTotalTermFreq)
        o.put("sumDocFreq", fs.sumDocFreq)
        o.put("termCount", fs.termCount)
        o.put("maxDoc", fs.maxDoc)
        o.put("docCount", fs.docCount)
      }
    }
    // written aside, then renamed over the live commit: a reader sees the
    // old commit or the new one, never a partial file. A file system whose
    // plain rename never replaces (HDFS) replaces through its atomic
    // overwriting rename.
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, p) = commitFile(conf, m.indexPath)
    val tmp = new Path(s"${m.indexPath}/.commit.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.writeValueAsBytes(root)) finally out.close()
    if (!fs.rename(tmp, p))
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    m
  }

  def load(spark: SparkSession, indexPath: String): IndexManifest =
    current(spark, indexPath).getOrElse(throw new java.io.FileNotFoundException(s"$indexPath/commit.json"))

  private def parse(spark: SparkSession, indexPath: String, text: String): IndexManifest = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    val root = json.readTree(text)
    def node(k: String): Option[JsonNode] = Option(root.get(k)).filterNot(_.isNull)
    def long(k: String): Option[Long] = node(k).map(_.asLong)
    def strs(k: String): Seq[String] =
      node(k).fold(Seq.empty[String])(_.elements().asScala.map(_.asText).toSeq)
    def files(n: JsonNode): Seq[IndexFile] =
      n.elements().asScala.map(o => IndexFile(o.get("path").asText, o.get("bytes").asLong)).toSeq
    val maxDoc = long("maxDoc").get
    val m = IndexManifest(indexPath, maxDoc, long("docCount").get,
      long("docsPerRange").get.toInt,
      // manifests written before maxDocId existed: dense 0-based ids only
      long("maxDocId").getOrElse(maxDoc - 1),
      long("termsGen").map(_.toInt).getOrElse(0),
      node("waves").fold(Seq.empty[WaveEntry])(_.elements().asScala.map(o => WaveEntry(
        o.get("wave").asInt, o.get("covers").elements().asScala.map(_.asInt).toSeq,
        files(o.get("files")))).toSeq),
      node("termsFiles").fold(Seq.empty[IndexFile])(files),
      long("formatVersion").map(_.toInt).getOrElse(1),
      field = node("field").map(_.asText).getOrElse("content"),
      analyzedFields = strs("analyzedFields"),
      keywordFields = strs("keywordFields"),
      fieldStats = node("fieldStats").map(_.elements().asScala.map { o =>
        FieldStats(o.get("field").asText, o.get("sumTotalTermFreq").asLong,
          o.get("sumDocFreq").asLong, o.get("termCount").asLong, o.get("maxDoc").asLong,
          o.get("docCount").asLong)
      }.toSeq))
    if (node("waves").isDefined) m else upgraded(spark.sparkContext.hadoopConfiguration, m)
  }

  /** A manifest written before commits listed their files, with its files
    * as the dirs and that format's merge logs (`merges_N.json`: `into`, its
    * `merged` sources, and the `docsFrom` docs dirs a reclaiming merge
    * rewrote) hold them. Every `postings/wave=N` dir is a live wave unless
    * a log retired it or it is a merge output no log names (both crash
    * leftovers); a merged wave covers its sources' original waves and lists
    * their docs dirs, or its own when it reclaimed. The next commit writes
    * the list, and its sweep removes the leftovers and the logs.
    */
  private def upgraded(conf: org.apache.hadoop.conf.Configuration, m: IndexManifest): IndexManifest = {
    import scala.jdk.CollectionConverters._
    val root = new Path(m.indexPath)
    val fs = root.getFileSystem(conf)
    def ls(p: Path) = scala.util.Try(fs.listStatus(p).toSeq).getOrElse(Nil)
    def ints(n: com.fasterxml.jackson.databind.JsonNode) =
      Option(n).fold(Seq.empty[Int])(_.elements().asScala.map(_.asInt).toSeq)
    // into → (merged, docsFrom)
    val logs = ls(root).filter(st => st.getPath.getName.matches("merges_\\d+\\.json")).map { st =>
      val in = fs.open(st.getPath)
      val o = try json.readTree(in) finally in.close()
      o.get("into").asInt -> (ints(o.get("merged")), ints(o.get("docsFrom")))
    }.toMap
    val retired = logs.values.flatMap(_._1).toSet
    def dirs(t: String) = ls(new Path(root, t)).map(_.getPath.getName)
      .collect { case d if d.startsWith("wave=") && d.drop(5).toIntOption.isDefined => d.drop(5).toInt }.toSet
    val docDirs = dirs("docs") -- logs.values.flatMap(_._2)
    def covers(w: Int): Seq[Int] = logs.get(w).fold(Seq(w))(_._1.flatMap(covers))
    def docsOf(w: Int): Seq[Int] =
      if (docDirs(w)) Seq(w) else logs.get(w).fold(Seq.empty[Int])(_._1.flatMap(docsOf))
    def files(t: String, w: Int) = listFiles(conf, m.indexPath, s"$t/wave=$w")
    val live = dirs("postings").filter(w => !retired(w) && (w < TieredMerge.MergeWaveBase || logs.contains(w)))
    m.copy(
      waves = live.toSeq.map(w => WaveEntry(w, covers(w).distinct.sorted,
        files("postings", w) ++ docsOf(w).distinct.sorted.flatMap(files("docs", _)) ++
          files("termsPartial", w))).sortBy(_.age),
      termsFiles = listFiles(conf, m.indexPath, generationRel("terms", m.termsGen)))
  }
}
