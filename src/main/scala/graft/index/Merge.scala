package graft.index

import org.apache.spark.sql.SparkSession

/** Tiered merge over build waves.
  *
  * Policy: the budget math of the reference's TieredMergePolicy
  * (/root/reference/core/index/merge.go:355-380,496-643 — segsPerTier=10,
  * maxMergeAtOnce=10, 2MB size floor, tiers by log_mergeFactor of size): when
  * a tier holds more than segsPerTier members, its smallest maxMergeAtOnce
  * members merge into one. The reference's merge *execution* is a stub
  * (writer.go:1420-1422 panics), so execution here is designed from scratch
  * per the north star: a salted-shuffle merge — the shuffle key
  * (field, term, rangeId) carries the deterministic range salt assigned at
  * build time, so a hot term's postings (df ≈ N) merge as many independent
  * bounded groups instead of one multi-GB group, and no executor ever
  * materializes a full hot-term posting list.
  *
  * Invariant (property-tested): merge(build waves) ≡ build(union of docs) on
  * decoded postings and stats.
  */
object TieredMerge {
  /** Merge output waves live in their own namespace, disjoint from batch
    * waves (0..nWaves) AND streaming waves (StreamingIndexer.StreamingWaveBase
    * + batchId): a merged wave numbered max+1 in the shared space would be
    * overwritten by the next streaming micro-batch (mode=overwrite), silently
    * dropping every retired wave's postings.
    */
  val MergeWaveBase = 1000000

  final case class WaveInfo(wave: Int, bytes: Long)

  /** The live commit's waves in age order (a merged wave at its oldest
    * source's position — LogMergePolicy's positional selection assumes it),
    * each with its postings bytes; none before the first commit.
    */
  def waves(spark: SparkSession, indexPath: String): Seq[WaveInfo] =
    IndexManifest.current(spark, indexPath).fold(Seq.empty[WaveInfo])(infos)

  private def infos(m: IndexManifest): Seq[WaveInfo] =
    m.waves.map(e => WaveInfo(e.wave, e.of("postings").map(_.bytes).sum))

  /** Reference budget math, reduced to the append-only case.
    *
    * `delFracByWave` (deleted-doc fraction per wave) is the
    * `reclaimedDeletes` term of the reference's candidate scoring
    * (/root/reference/core/index/merge.go:327-380): a wave's EFFECTIVE size
    * is its live fraction of bytes, so delete-heavy waves tier lower and
    * sort earlier in the smallest-first candidate pick — merges preferently
    * select the waves whose rewrite reclaims the most dead postings.
    */
  def plan(segs: Seq[WaveInfo], segsPerTier: Int = 10, maxMergeAtOnce: Int = 10,
      floorBytes: Long = 2L << 20, maxMergedBytes: Long = 5L << 30,
      delFracByWave: Map[Int, Double] = Map.empty): Seq[Seq[WaveInfo]] = {
    def effective(s: WaveInfo): Long = {
      val live = 1.0 - math.min(1.0, math.max(0.0, delFracByWave.getOrElse(s.wave, 0.0)))
      math.max(1L, (s.bytes * live).toLong)
    }
    // tier = floor(log_10(max(size, floor)))  (mergeFactor-base log buckets)
    def tier(b: Long): Int =
      math.floor(math.log10(math.max(b, floorBytes).toDouble)).toInt
    segs.groupBy(s => tier(effective(s))).values.toSeq.flatMap { members =>
      if (members.size <= segsPerTier) Nil
      else {
        val sorted = members.sortBy(effective)
        val cand = sorted.take(maxMergeAtOnce)
        if (cand.map(_.bytes).sum > maxMergedBytes) Nil else Seq(cand)
      }
    }
  }

  /** LogByteSizeMergePolicy budget math (reference merge.go:680-996:
    * LEVEL_LOG_SPAN=0.75, mergeFactor=10): level = ln(bytes)/ln(mergeFactor)
    * floored at the min-size level; scanning left-to-right (waves keep
    * arrival order), each level window spans LOG_SPAN below the remaining
    * max level, and windows merge ADJACENT groups of `mergeFactor` members —
    * unlike tiered, selection is positional, never by size rank. Segments
    * at or above `maxMergeBytes` never merge.
    */
  def planLog(segs: Seq[WaveInfo], mergeFactor: Int = 10,
      minMergeBytes: Long = 2L << 20, maxMergeBytes: Long = 5L << 30): Seq[Seq[WaveInfo]] = {
    if (segs.size < mergeFactor) return Nil
    val norm = math.log(mergeFactor.toDouble)
    val levelFloor = math.log(minMergeBytes.toDouble) / norm
    val levels = segs.map(s =>
      math.max(math.log(math.max(s.bytes, 1L).toDouble) / norm, levelFloor)).toArray
    val out = Seq.newBuilder[Seq[WaveInfo]]
    var start = 0
    while (start < segs.length) {
      val maxLevel = levels.drop(start).max
      val levelBottom =
        if (maxLevel <= levelFloor) -1.0
        else math.max(maxLevel - 0.75, levelFloor)
      // window = [start, upto]: the longest prefix tail whose levels reach
      // down to levelBottom (reference scans backward from the end)
      var upto = segs.length - 1
      while (upto >= start && levels(upto) < levelBottom) upto -= 1
      // any FULL group of mergeFactor within the window merges (reference
      // loop bound `end <= 1+upto`, merge.go:922-926) — a window of exactly
      // mergeFactor members merges too
      if (upto - start + 1 >= mergeFactor) {
        var g = start
        while (g + mergeFactor <= upto + 1) {
          val group = segs.slice(g, g + mergeFactor)
          if (!group.exists(_.bytes >= maxMergeBytes)) out += group
          g += mergeFactor
        }
      }
      start = upto + 1
    }
    out.result()
  }

  /** Execute one merge: bounded-group re-encode of the selected waves'
    * listed postings into a new wave, committed in place of its sources
    * ([[mergeRound]]). Returns the new wave.
    */
  def execute(spark: SparkSession, indexPath: String, group: Seq[WaveInfo],
      reclaimDeletes: Boolean = true): Int =
    mergeRound(spark, indexPath, IndexManifest.load(spark, indexPath), Seq(group), reclaimDeletes).head

  /** Rewrite every live wave whose deleted-doc fraction is at least
    * `minDeletedFraction` as a single-member reclaiming merge — the
    * reference's expungeDeletes — in one round, so the survivors' stats are
    * folded once. Returns the new wave ids.
    */
  def expungeDeletes(spark: SparkSession, indexPath: String,
      minDeletedFraction: Double = 0.1): Seq[Int] = {
    val fracs = deletedFractions(spark, indexPath)
    IndexManifest.current(spark, indexPath).fold(Seq.empty[Int])(m => mergeRound(spark, indexPath, m,
      infos(m).filter(w => fracs.getOrElse(w.wave, 0.0) >= minDeletedFraction).map(Seq(_))))
  }

  /** One merge output, written and not yet committed: its sources, its
    * wave entry and the delete ids it reclaimed (None: a plain merge).
    */
  private final case class Written(sources: Seq[WaveEntry], out: WaveEntry,
      applied: Option[org.apache.spark.sql.DataFrame])

  /** Merges disjoint groups of `prev`'s waves, then commits every output in
    * place of its sources in one commit. It deletes nothing: the next
    * commit's sweep removes the sources ([[IndexBuilder.commit]]), and an
    * output a crash left uncommitted is never read. Plain merges change no
    * term's stats, so their commit keeps the live dictionary. When a merge
    * reclaimed deletes, the commit folds every live wave afresh (survivor
    * stats) and the reclaimed ids leave the deletes table.
    */
  private def mergeRound(spark: SparkSession, indexPath: String, prev: IndexManifest,
      groups: Seq[Seq[WaveInfo]], reclaimDeletes: Boolean = true): Seq[Int] = {
    import spark.implicits._
    if (groups.isEmpty) return Nil
    val first = math.max(prev.waves.map(_.wave).max + 1, MergeWaveBase)
    val written = groups.zipWithIndex.map { case (g, i) =>
      write(spark, indexPath, prev, g, first + i, reclaimDeletes)
    }
    val sources = written.flatMap(_.sources).toSet
    val waves = (prev.waves.filterNot(sources) ++ written.map(_.out)).sortBy(_.age)
    written.flatMap(_.applied).reduceOption(_ union _) match {
      case None => IndexBuilder.commit(spark, Some(prev), prev.copy(waves = waves))
      case Some(applied) =>
        IndexBuilder.forExisting(spark, indexPath).fold(indexPath, Some(prev), base = None, waves)
        // post-reclaim deletes = CURRENT deletes minus the applied sets:
        // deletes appended during the merge survive (their postings were
        // NOT filtered). A crash before the swap leaves reclaimed ids as
        // harmless no-ops; a writer racing the swap needs the single-writer
        // rule that covers merge-vs-publish.
        Jobs.describe(spark.sparkContext, s"graft merge: deletes left after waves ${written.map(_.out.wave).mkString(",")}") {
          Deletes.swapIn(spark, indexPath, Deletes.df(spark, indexPath) match {
            case Some(cur) => cur.join(applied, Seq("docId"), "left_anti")
            case None => Seq.empty[Long].toDF("docId")
          })
        }
    }
    written.map(_.out.wave)
  }

  /** Writes the merge of `group` as wave `newWave`: its postings and
    * `termsPartial`. When deletes hit the group's docs (reference
    * TieredMergePolicy scores `reclaimedDeletes`,
    * /root/reference/core/index/merge.go:327-380; Lucene drops per-segment
    * liveDocs at merge), their postings entries are dropped and the group's
    * docs minus them go to `docs/wave=<new>`; else the merged wave lists its
    * sources' docs.
    */
  private def write(spark: SparkSession, indexPath: String, prev: IndexManifest,
      group: Seq[WaveInfo], newWave: Int, reclaimDeletes: Boolean): Written = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sources = group.map(g => prev.waves.find(_.wave == g.wave)
      .getOrElse(sys.error(s"wave ${g.wave} is not live under $indexPath")))
    def paths(table: String) = IndexManifest.resolve(indexPath, sources.flatMap(_.of(table)))
    Jobs.describe(spark.sparkContext, s"graft merge waves ${group.map(_.wave).mkString(",")} into $newWave") {
      lazy val docsUnion = spark.read.parquet(paths("docs"): _*)
      // the ids this merge reclaims: the deletes ∩ the group's docs, as a
      // point-in-time snapshot (localCheckpoint), so the postings filter, the
      // docs anti-join and the swap below see the same set even if deletes
      // are appended during the merge. None of them: a plain merge.
      val applied = (if (reclaimDeletes) Deletes.df(spark, indexPath) else None)
        .map(_.join(docsUnion.select(col("docId")), Seq("docId"), "left_semi").distinct().localCheckpoint())
        .filterNot(_.isEmpty)

      // indexes written before format 3 lack the offPayload column — degrade
      // to null (no offsets) instead of an AnalysisException on as[PostingRow]
      val rawRows = spark.read.parquet(paths("postings"): _*)
      val rows = (if (rawRows.columns.contains("offPayload")) rawRows
        else rawRows.withColumn("offPayload",
          org.apache.spark.sql.functions.lit(null).cast("binary"))).as[PostingRow]
      val merged = applied match {
        case None =>
          rows.groupByKey(r => (r.field, r.term, r.rangeId))
            .mapGroups { (_: (String, String, Long), it: Iterator[PostingRow]) =>
              // rows of later merge generations cover non-contiguous doc ranges
              // (tier selection is by size, not adjacency) → PostingRows.merge
              // does a full entry sort, not just a row-order concat
              PostingRows.merge(it.toArray, newWave)
            }
        case Some(dels) =>
          // per-rangeId sorted delete arrays joined onto the group's rows: the
          // same bounded-buffer shape as the searcher's ranged-delete path —
          // nothing delete-sized ever reaches the driver
          val byRange = Deletes.byRange(dels, prev.docsPerRange).as[(Long, Array[Long])]
          rows.joinWith(byRange, rows("rangeId") === byRange("rangeId"), "left_outer")
            .groupByKey { case (r, _) => (r.field, r.term, r.rangeId) }
            .flatMapGroups { (_: (String, String, Long), it: Iterator[(PostingRow, (Long, Array[Long]))]) =>
              val buf = it.toArray
              val ds = buf.collectFirst { case (_, d) if d != null => d._2 }
                .getOrElse(Array.emptyLongArray)
              PostingRows.mergeFiltered(buf.map(_._1), newWave, ds).iterator
            }
      }
      // same file order and page size as invertWave → tight (field, term)
      // statistics survive merges
      IndexBuilder.writeSorted(merged, s"$indexPath/postings/wave=$newWave", "field", "term", "rangeId")
      applied.foreach(dels => docsUnion.join(dels, Seq("docId"), "left_anti")
        .write.mode("overwrite").parquet(s"$indexPath/docs/wave=$newWave"))
      IndexBuilder.writeTermsPartial(spark, indexPath, newWave)
      def written(t: String) =
        IndexManifest.listFiles(spark.sparkContext.hadoopConfiguration, indexPath, s"$t/wave=$newWave")
      Written(sources, WaveEntry(newWave, sources.flatMap(_.covers).distinct.sorted, written("postings") ++
        (if (applied.isEmpty) sources.flatMap(_.of("docs")) else written("docs")) ++ written("termsPartial")), applied)
    }
  }

  /** Deleted-doc fraction per live wave (feeds [[plan]]'s reclaim scoring
    * and [[expungeDeletes]]): TWO bounded jobs over the commit's docs ⋈
    * deletes, grouped by the docs dirs' wave partition — nothing per-doc
    * reaches the driver. A docs dir counts toward the live wave that lists
    * it (a non-reclaiming merged wave lists its sources' docs).
    */
  def deletedFractions(spark: SparkSession, indexPath: String): Map[Int, Double] = {
    import org.apache.spark.sql.functions.{count, lit}
    if (!Deletes.exists(spark, indexPath)) return Map.empty
    val m = IndexManifest.load(spark, indexPath)
    val dels = Deletes.df(spark, indexPath).get.distinct()
    val owner = m.waves.flatMap(e => e.of("docs").map(f =>
      f.path.split('/')(1).stripPrefix("wave=").toInt -> e.wave)).toMap
    val docs = spark.read.option("basePath", s"$indexPath/docs").parquet(m.paths("docs"): _*)
    def perWave(d: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      Jobs.describe(spark.sparkContext, s"graft deleted fractions of $indexPath") {
        d.groupBy("wave").agg(count(lit(1)).as("n")).collect()
      }.toSeq.map(r => owner(r.getInt(0)) -> r.getLong(1)).groupMapReduce(_._1)(_._2)(_ + _)
    val tot = perWave(docs)
    val del = perWave(docs.join(dels, Seq("docId"), "left_semi"))
    m.waves.map { e =>
      val t = tot.getOrElse(e.wave, 0L)
      e.wave -> (if (t == 0) 0.0 else del.getOrElse(e.wave, 0L).toDouble / t)
    }.toMap
  }

  /** Merge driver loop: plan + execute until the tier budget is satisfied. */
  def maybeMerge(spark: SparkSession, indexPath: String,
      segsPerTier: Int = 10, maxMergeAtOnce: Int = 10): Seq[Int] =
    maybeMergeWith(spark, indexPath, plan(_, segsPerTier, maxMergeAtOnce))

  /** [[maybeMerge]] with reclaim-aware candidate scoring: deleted-doc
    * fractions recompute each planning round (reclaiming merges shrink the
    * deletes table as they go), so delete-heavy waves keep tiering lower
    * until their dead postings are gone.
    */
  def maybeMergeReclaim(spark: SparkSession, indexPath: String,
      segsPerTier: Int = 10, maxMergeAtOnce: Int = 10): Seq[Int] =
    maybeMergeWith(spark, indexPath, segs =>
      plan(segs, segsPerTier, maxMergeAtOnce,
        delFracByWave = deletedFractions(spark, indexPath)))

  /** Merge driver loop with a pluggable policy; each planning round's
    * merges commit together ([[mergeRound]]) before the next round plans.
    * Size-based policies (tiered) see waves in number order; POSITIONAL
    * policies (planLog) must receive generational order, the commit's own
    * ([[waves]]).
    */
  def maybeMergeWith(spark: SparkSession, indexPath: String,
      policy: Seq[WaveInfo] => Seq[Seq[WaveInfo]],
      positional: Boolean = false): Seq[Int] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Int]
    var round = IndexManifest.current(spark, indexPath)
    while (round.isDefined) {
      val ws = infos(round.get)
      val merged = mergeRound(spark, indexPath, round.get, policy(if (positional) ws else ws.sortBy(_.wave)))
      done ++= merged
      round = if (merged.isEmpty) None else IndexManifest.current(spark, indexPath)
    }
    done.toSeq
  }
}
