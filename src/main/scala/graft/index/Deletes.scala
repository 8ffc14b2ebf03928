package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deletes — the liveDocs of this engine (reference applies
  * per-segment liveDocs on every postings enum,
  * /root/reference/core/search/term.go:132, core/index/bufferedDeletes.go).
  *
  * The index stays append-only: a delete is one row in `<index>/deletes/`
  * (parquet, append mode). Searchers fold the delete set into the range
  * evaluator so deleted docs vanish from matches AND totalHits on every path
  * (driver-local and distributed) with zero change to postings. Lucene
  * semantics: collection/term statistics still count deleted docs until a
  * rewrite reclaims them.
  *
  * Two read paths, selected by set size (IndexSearcher):
  *  - SMALL (≤ deleteBroadcastMax): a sorted-docId broadcast, 8 B/delete —
  *    zero per-query join cost;
  *  - RANGED (the 100 TB path): per-rangeId sorted delete arrays
  *    (the reference's per-segment liveDocs bitset,
  *    /root/reference/core/codec/lucene40/bitVector.go, keyed by this
  *    engine's docId ranges) merged per range into the query's distributed
  *    evaluation — the delete set is never collected to the driver (a
  *    driver-local query fetches only the arrays of the ranges it touches),
  *    and every array is bounded by docsPerRange.
  */
object Deletes {

  def append(spark: SparkSession, indexPath: String, docIds: DataFrame): Unit =
    docIds.select(col(docIds.columns.head).cast("long").as("docId"))
      .write.mode("append").parquet(s"$indexPath/deletes")

  def append(spark: SparkSession, indexPath: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    append(spark, indexPath, docIds.toDF("docId"))
  }

  /** Delete every document containing ANY of the given (field, term) keys —
    * the reference's delete-by-term (bufferedDeletes.go), restated as one
    * distributed pass over the commit's postings files: decode the matching
    * posting rows' docIds (parquet
    * (field, term) pushdown, payload-only column read) and append them.
    * No docId ever touches the driver.
    */
  def deleteByTerm(spark: SparkSession, indexPath: String,
      keys: Seq[(String, String)]): Unit =
    idsByTerm(spark, indexPath, keys).foreach(ids =>
      append(spark, indexPath, ids))

  /** The docIds matching the (field, term) keys, as a distributed one-column
    * DataFrame (docId) — delete-by-term RESOLUTION without persisting, for
    * searcher-scoped delete views (withDeletesDF). None when keys is empty.
    */
  def idsByTerm(spark: SparkSession, indexPath: String,
      keys: Seq[(String, String)]): Option[DataFrame] = {
    if (keys.isEmpty) return None
    import spark.implicits._
    val pred = keys.groupBy(_._1).map { case (f, ks) =>
      col("field") === f && col("term").isin(ks.map(_._2).distinct: _*)
    }.reduce(_ || _)
    Some(spark.read.parquet(IndexManifest.load(spark, indexPath).paths("postings"): _*)
      .where(pred)
      .select("payload")
      .as[Array[Byte]]
      .flatMap(p => graft.codec.PostingsCodec.decode(p).docIds)
      .distinct()
      .toDF("docId"))
  }

  def exists(spark: SparkSession, indexPath: String): Boolean = {
    recover(spark, indexPath)
    val p = new Path(s"$indexPath/deletes")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Crash-safe replacement of the deletes table (merge-time delete
    * reclamation shrinks it). Two-phase: the snapshot is written durably to
    * `deletes_swap` (its `_SUCCESS` is the commit point), THEN the old dir is
    * removed and the snapshot renamed in. Every crash window is recoverable
    * by [[recover]]:
    *  - before `_SUCCESS`: partial snapshot → discarded, old deletes stand
    *    (reclaimed ids linger as harmless no-ops — their postings are gone);
    *  - after `_SUCCESS`, before/mid rename: the snapshot IS the post-reclaim
    *    truth (the merge that shrank it committed first), so recovery
    *    completes the rename.
    */
  def swapIn(spark: SparkSession, indexPath: String, newDeletes: DataFrame): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new Path(s"$indexPath/deletes_swap")
    newDeletes
      .select(col(newDeletes.columns.head).cast("long").as("docId"))
      .write.mode("overwrite").parquet(swap.toString)
    val live = new Path(s"$indexPath/deletes")
    if (fs.exists(live)) fs.delete(live, true)
    fs.rename(swap, live)
  }

  /** Complete or roll back an interrupted [[swapIn]] (idempotent; called on
    * every deletes-dir access).
    */
  def recover(spark: SparkSession, indexPath: String): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new Path(s"$indexPath/deletes_swap")
    if (!fs.exists(swap)) return
    if (fs.exists(new Path(s"$indexPath/deletes_swap/_SUCCESS"))) {
      val live = new Path(s"$indexPath/deletes")
      if (fs.exists(live)) fs.delete(live, true)
      fs.rename(swap, live)
    } else fs.delete(swap, true) // partial snapshot: old deletes stand
  }

  /** Distinct deleted-doc count (0 fast-path when no deletes dir). */
  def count(spark: SparkSession, indexPath: String): Long =
    if (!exists(spark, indexPath)) 0L
    else df(spark, indexPath).get.select("docId").distinct().count()

  /** Raw (docId) delete rows when any exist. */
  def df(spark: SparkSession, indexPath: String): Option[DataFrame] =
    if (!exists(spark, indexPath)) None
    else Some(spark.read.parquet(s"$indexPath/deletes").select(col("docId").cast("long")))

  /** Sorted distinct deleted docIds — the SMALL-set broadcast path only;
    * callers must gate on [[count]] (IndexSearcher.deleteBroadcastMax).
    */
  def load(spark: SparkSession, indexPath: String): Array[Long] = {
    import spark.implicits._
    df(spark, indexPath) match {
      case None => Array.emptyLongArray
      case Some(d) => d.as[Long].distinct().collect().sorted
    }
  }

  /** Per-range sorted delete arrays: (rangeId, dels) — every aggregation
    * buffer ≤ docsPerRange ids; joined onto posting rows by merge
    * reclamation.
    */
  def byRange(deletes: DataFrame, docsPerRange: Int): DataFrame =
    deletes
      .select((col("docId") / docsPerRange).cast("long").as("rangeId"), col("docId"))
      .groupBy("rangeId")
      .agg(sort_array(collect_set(col("docId"))).as("dels"))
}
