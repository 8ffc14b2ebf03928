package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.codec.{PostingEntry, PostingsCodec}

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

  final case class WaveInfo(wave: Int, bytes: Long, path: String)

  /** One committed merge. `docsFrom` lists the ORIGINAL doc-wave dirs this
    * merge folded into `docs/wave=<into>` while reclaiming deletes (empty for
    * non-reclaiming merges, whose docs stay at their original wave dirs).
    */
  final case class MergeRecord(into: Int, merged: Seq[Int], docsFrom: Seq[Int])

  def mergeRecords(spark: SparkSession, indexPath: String): Seq[MergeRecord] = {
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.getPath.getName.startsWith("merges_") && s.getPath.getName.endsWith(".json"))
      .flatMap { s =>
        val in = fs.open(s.getPath)
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        def ints(key: String): Seq[Int] =
          (s""""$key":\\[([0-9,]*)\\]""").r.findFirstMatchIn(txt)
            .map(_.group(1).split(',').filter(_.nonEmpty).map(_.toInt).toSeq)
            .getOrElse(Nil)
        """"into":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
          .map(into => MergeRecord(into, ints("merged"), ints("docsFrom")))
      }
  }

  /** (mergedInto → sources) pairs from the merges_N.json logs. */
  def mergeLog(spark: SparkSession, indexPath: String): Map[Int, Seq[Int]] =
    mergeRecords(spark, indexPath).map(r => r.into -> r.merged).toMap

  /** Waves retired by past merges: build resume must NOT re-invert segments
    * whose wave was folded into a merged wave — the postings already live
    * there.
    */
  def retiredWaves(spark: SparkSession, indexPath: String): Set[Int] =
    mergeLog(spark, indexPath).values.flatten.toSet

  /** Waves in GENERATIONAL (arrival) order: a merged wave sorts at its
    * OLDEST source's position, resolved transitively from the merge logs.
    * LogMergePolicy's positional selection assumes this order — raw wave
    * numbers would sort merged waves (≥ MergeWaveBase) after newer
    * streaming waves, repeatedly re-merging the big merged wave with
    * handfuls of fresh tiny ones (quadratic write amplification).
    */
  def wavesByAge(spark: SparkSession, indexPath: String): Seq[WaveInfo] = {
    val ws = waves(spark, indexPath)
    val logs = mergeLog(spark, indexPath)
    def oldest(w: Int, depth: Int): Double = logs.get(w) match {
      case Some(srcs) if srcs.nonEmpty && depth < 64 => srcs.map(oldest(_, depth + 1)).min
      case _ => w.toDouble
    }
    ws.sortBy(w => oldest(w.wave, 0))
  }

  /** Live waves. Two-phase-commit discipline (the merges_N.json log is the
    * commit point of a merge):
    *  - a wave listed as `merged` in any log is DEAD even if its dir still
    *    exists (crash after log write, before source deletion) — its postings
    *    live in the merged wave; reading both would double df/freq/scores;
    *  - a merge-numbered wave (≥ MergeWaveBase) with NO log is an UNCOMMITTED
    *    merge output (crash after the merged wave's _SUCCESS, before the log)
    *    — its sources are still live, so reading it would double postings.
    * Both kinds of leftover are deleted here on load, restoring the invariant
    * that the postings dir holds exactly the committed wave set.
    */
  def waves(spark: SparkSession, indexPath: String): Seq[WaveInfo] = {
    val root = new Path(s"$indexPath/postings")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val records = mergeRecords(spark, indexPath)
    val retired = records.flatMap(_.merged).toSet
    val committedMerges = records.map(_.into).toSet
    // doc-wave dirs folded into a reclaiming merge's docs/wave=<into>:
    // leftovers (crash between log commit and source deletion) are dead —
    // reading them would resurrect reclaimed docs in publish's doc stats
    val deadDocWaves = records.flatMap(_.docsFrom).toSet
    deadDocWaves.foreach { w =>
      val d = new Path(s"$indexPath/docs/wave=$w")
      if (fs.exists(d)) fs.delete(d, true)
    }
    // staged applied-delete sets from an interrupted reclaiming merge are
    // NEVER applied at recovery (subtracting a set whose merge never
    // committed would resurrect those docs) — lingering reclaimed ids in the
    // live table are harmless no-ops, so the stage is simply discarded
    fs.listStatus(new Path(indexPath)).toSeq
      .filter(_.getPath.getName.startsWith("deletes_stage_"))
      .foreach(s => fs.delete(s.getPath, true))
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("wave="))
      .flatMap { s =>
        val w = s.getPath.getName.stripPrefix("wave=").toInt
        val dead = retired.contains(w) ||
          (w >= MergeWaveBase && !committedMerges.contains(w))
        if (dead) {
          fs.delete(s.getPath, true)
          val partial = new Path(s"$indexPath/termsPartial/wave=$w")
          if (fs.exists(partial)) fs.delete(partial, true)
          // an UNCOMMITTED merge output may have written its docs dir too
          // (reclaiming merges write docs before the log commit point)
          if (w >= MergeWaveBase && !committedMerges.contains(w)) {
            val orphanDocs = new Path(s"$indexPath/docs/wave=$w")
            if (fs.exists(orphanDocs)) fs.delete(orphanDocs, true)
          }
          None
        } else {
          val size = fs.getContentSummary(s.getPath).getLength
          Some(WaveInfo(w, size, s.getPath.toString))
        }
      }
      .sortBy(_.wave)
  }

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

  /** The doc-wave dirs holding wave `w`'s documents: its own `docs/wave=w`
    * when present (original waves; reclaiming merge outputs), else the
    * transitive ORIGINAL sources from the merge logs (non-reclaiming merges
    * leave docs at their original dirs).
    */
  def docWaveDirs(spark: SparkSession, indexPath: String, w: Int,
      logs: Map[Int, Seq[Int]]): Seq[Int] = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(v: Int, depth: Int): Seq[Int] =
      if (fs.exists(new Path(s"$indexPath/docs/wave=$v"))) Seq(v)
      else if (depth < 64) logs.get(v).toSeq.flatten.flatMap(walk(_, depth + 1))
      else Nil
    walk(w, 0)
  }

  /** Execute one merge: bounded-group re-encode of the selected waves into a
    * new wave dir, then atomically retire the sources.
    *
    * '''Delete reclamation''' (reference TieredMergePolicy scores
    * `reclaimedDeletes`, /root/reference/core/index/merge.go:327-380; Lucene
    * drops per-segment liveDocs at merge): when the index has a committed
    * manifest and a deletes table, the re-encode DROPS deleted entries, the
    * group's doc waves are rewritten minus deleted rows into
    * `docs/wave=<new>`, and the reclaimed ids are cleared from the deletes
    * table (crash-safe [[Deletes.swapIn]]). Callers must `publish()` after
    * a reclaiming merge so df/ttf/docCount reflect the survivors. With
    * `reclaimDeletes=false` (or no deletes) behavior is the round-3
    * verbatim re-encode.
    */
  def execute(spark: SparkSession, indexPath: String, group: Seq[WaveInfo],
      reclaimDeletes: Boolean = true): Int = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = waves(spark, indexPath)
    val newWave = math.max(all.map(_.wave).max + 1, MergeWaveBase)
    val target = s"$indexPath/postings/wave=$newWave"
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val manifest =
      if (fs.exists(new Path(s"$indexPath/commit.json")))
        scala.util.Try(IndexManifest.load(spark, indexPath)).toOption
      else None
    // localCheckpoint = a TRUE point-in-time snapshot: the postings filter,
    // the docs anti-join, and the applied-set staging below must all see the
    // SAME delete set even if appends race the merge (a lazy DataFrame would
    // re-read the live dir per job and could stage an id the postings job
    // never filtered)
    val delDf = if (reclaimDeletes && manifest.isDefined)
      Deletes.df(spark, indexPath).map(_.distinct().localCheckpoint()) else None

    // indexes written before format 3 lack the offPayload column — degrade
    // to null (no offsets) instead of an AnalysisException on as[PostingRow]
    val rawRows = spark.read.parquet(group.map(_.path): _*)
    val rows = (if (rawRows.columns.contains("offPayload")) rawRows
      else rawRows.withColumn("offPayload",
        org.apache.spark.sql.functions.lit(null).cast("binary"))).as[PostingRow]
    val logs = mergeLog(spark, indexPath)
    // the group's doc coverage (original wave dirs) — reclamation folds these
    // into docs/wave=<new>; empty when not reclaiming
    val docsFrom: Seq[Int] =
      if (delDf.isDefined) group.flatMap(w => docWaveDirs(spark, indexPath, w.wave, logs)).distinct.sorted
      else Nil

    delDf match {
      case None =>
        // same file order and page size as invertWave → tight (field, term)
        // statistics survive merges
        val merged = rows
          .groupByKey(r => (r.field, r.term, r.rangeId))
          .mapGroups { (_: (String, String, Long), it: Iterator[PostingRow]) =>
            // rows of later merge generations cover non-contiguous doc ranges
            // (tier selection is by size, not adjacency) → PostingRows.merge
            // does a full entry sort, not just a row-order concat
            PostingRows.merge(it.toArray, newWave)
          }
        IndexBuilder.writeSorted(merged, target, "field", "term", "rangeId")
      case Some(dels) =>
        // per-rangeId sorted delete arrays joined onto the group's rows: the
        // same bounded-buffer shape as the searcher's ranged-delete path —
        // nothing delete-sized ever reaches the driver
        val byRange = Deletes.byRange(dels, manifest.get.docsPerRange)
          .as[(Long, Array[Long])]
        val reclaimed = rows.joinWith(byRange, rows("rangeId") === byRange("rangeId"), "left_outer")
          .groupByKey { case (r, _) => (r.field, r.term, r.rangeId) }
          .flatMapGroups { (_: (String, String, Long), it: Iterator[(PostingRow, (Long, Array[Long]))]) =>
            val buf = it.toArray
            val ds = buf.collectFirst { case (_, d) if d != null => d._2 }
              .getOrElse(Array.emptyLongArray)
            PostingRows.mergeFiltered(buf.map(_._1), newWave, ds).iterator
          }
        IndexBuilder.writeSorted(reclaimed, target, "field", "term", "rangeId")
        // docs of the group minus deleted rows → the merged wave's docs dir
        // (written BEFORE the log commit point; an orphan is swept by waves())
        if (docsFrom.nonEmpty) {
          val docsUnion = spark.read.parquet(
            docsFrom.map(w => s"$indexPath/docs/wave=$w"): _*)
          docsUnion.join(dels, Seq("docId"), "left_anti")
            .write.mode("overwrite").parquet(s"$indexPath/docs/wave=$newWave")
          // stage the APPLIED set (snapshot ∩ group coverage) — the ids this
          // merge physically reclaimed. The swap below subtracts it from the
          // CURRENT table, so deletes appended DURING the merge survive
          // instead of being silently discarded by a stale survivor snapshot
          // (advisor round-4 fix): an id deleted mid-merge keeps its row
          // (its postings were NOT filtered) and stays query-time-filtered.
          // Coverage must be read from the SOURCE doc dirs (still present),
          // hence staging now, applying only after the log commit point.
          dels.join(docsUnion.select(col("docId")), Seq("docId"), "left_semi")
            .write.mode("overwrite").parquet(s"$indexPath/deletes_stage_$newWave")
        }
    }

    // merged wave's terms partial (publish folds partials tree-wise): from
    // the POST-FILTER postings, so reclaimed entries are already excluded.
    // Written before the commit point — an orphan's partial is swept with it.
    IndexBuilder.writeTermsPartial(spark, indexPath, newWave)

    // Two-phase commit (advisor round-2 fix): the merges log is written
    // DURABLY before any source deletion. Crash windows:
    //  - before the log: the merged wave (postings AND docs) is an
    //    uncommitted orphan — waves() deletes it on next load, sources stay
    //    live (no double postings); a staged deletes snapshot is swept;
    //  - after the log, before deletions: sources are logged-retired —
    //    waves() treats them as dead and deletes the leftovers on load
    //    (including docsFrom doc dirs);
    //  - after the log, before the deletes swap: reclaimed ids linger in the
    //    deletes table — harmless (their postings are gone; filtering is a
    //    no-op) until the next reclaiming merge's swap sweeps them.
    val docsFromJson = if (docsFrom.nonEmpty) s""","docsFrom":[${docsFrom.mkString(",")}]""" else ""
    val log = fs.create(new Path(s"$indexPath/merges_$newWave.json"), true)
    log.write(
      (s"""{"merged":[${group.map(_.wave).mkString(",")}],"into":$newWave,""" +
        s""""bytes":${group.map(_.bytes).sum}$docsFromJson}""").getBytes("UTF-8"))
    log.close()
    group.foreach(w => fs.delete(new Path(w.path), true))
    docsFrom.foreach(w => fs.delete(new Path(s"$indexPath/docs/wave=$w"), true))

    val stage = new Path(s"$indexPath/deletes_stage_$newWave")
    if (docsFrom.nonEmpty && fs.exists(stage)) {
      // post-reclaim table = CURRENT deletes minus the applied set: computed
      // at swap time, not merge-start time, so appends that raced the merge
      // are preserved. (A writer racing the swap itself still needs the
      // single-writer rule that already covers merge-vs-publish.)
      val applied = spark.read.parquet(stage.toString).select("docId")
      val survivors = Deletes.df(spark, indexPath) match {
        case Some(cur) => cur.join(applied, Seq("docId"), "left_anti")
        case None => Seq.empty[Long].toDF("docId")
      }
      Deletes.swapIn(spark, indexPath, survivors)
      fs.delete(stage, true)
    }
    newWave
  }

  /** Rewrite every live wave whose deleted-doc fraction is at least
    * `minDeletedFraction` as a single-member reclaiming merge — the
    * reference's expungeDeletes. Returns the new wave ids; callers must
    * `publish()` afterwards so stats reflect the survivors.
    */
  def expungeDeletes(spark: SparkSession, indexPath: String,
      minDeletedFraction: Double = 0.1): Seq[Int] = {
    val fracs = deletedFractions(spark, indexPath)
    waves(spark, indexPath)
      .filter(w => fracs.getOrElse(w.wave, 0.0) >= minDeletedFraction)
      .map(w => execute(spark, indexPath, Seq(w)))
  }

  /** Deleted-doc fraction per live wave (feeds [[plan]]'s reclaim scoring
    * and [[expungeDeletes]]): TWO bounded jobs over docs ⋈ deletes, grouped
    * by the docs dirs' wave partition — nothing per-doc reaches the driver.
    */
  def deletedFractions(spark: SparkSession, indexPath: String): Map[Int, Double] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    if (!Deletes.exists(spark, indexPath)) return Map.empty
    val dels = Deletes.df(spark, indexPath).get.distinct()
    val docsAll = spark.read.parquet(s"$indexPath/docs")
    val tot = docsAll.groupBy("wave").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val del = docsAll.join(dels, Seq("docId"), "left_semi")
      .groupBy("wave").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // doc-wave fractions are re-keyed to the OWNING live postings wave
    // (non-reclaiming merges leave docs at original wave dirs)
    val logs = mergeLog(spark, indexPath)
    waves(spark, indexPath).map { w =>
      val dirs = docWaveDirs(spark, indexPath, w.wave, logs)
      val t = dirs.map(d => tot.getOrElse(d, 0L)).sum
      val d = dirs.map(x => del.getOrElse(x, 0L)).sum
      w.wave -> (if (t == 0) 0.0 else d.toDouble / t)
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

  /** Merge driver loop with a pluggable policy. Size-based policies (tiered)
    * see waves in number order; POSITIONAL policies (planLog) must receive
    * generational order, so the driver feeds them [[wavesByAge]].
    */
  def maybeMergeWith(spark: SparkSession, indexPath: String,
      policy: Seq[WaveInfo] => Seq[Seq[WaveInfo]],
      positional: Boolean = false): Seq[Int] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Int]
    var continue = true
    while (continue) {
      val ws =
        if (positional) wavesByAge(spark, indexPath) else waves(spark, indexPath)
      val p = policy(ws)
      if (p.isEmpty) continue = false
      else p.foreach(g => done += execute(spark, indexPath, g))
    }
    done.toSeq
  }
}
