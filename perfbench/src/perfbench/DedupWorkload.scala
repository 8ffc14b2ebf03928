package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.{Ann, Dedup}

/** `dedup`: generated text documents with planted exact copies and
  * near-duplicates (and a shared header that skews LSH buckets), plus
  * generated embeddings with planted clusters and near-copies. One
  * operation is a round of three parts, each on a cleared cache:
  *  - text: `Dedup.dedupSurvivors`
  *  - embed: `Dedup.embeddingNearDupPairs`, then `Dedup.connectedComponents`
  *  - ann: the first [[AnnQueries]] vectors as queries, through
  *    `Ann.lshCosineTopK` and `Ann.ivfCosineTopK`
  * It runs no index or search code. `corrupt` perturbs one expected answer
  * (a wrong answer must count as a failure).
  */
final class DedupWorkload(spark: SparkSession, seed: Long, dir: String, docs: Int, vecs: Int,
    corrupt: Boolean) extends Workload {
  private val Tau = 0.97
  private val K = 10
  private val AnnQueries = 20L
  private val NearCosine = 0.99
  private val NearDropFloor = 0.9
  private val LshRecallFloor = 0.25
  private val IvfRecallFloor = 0.8
  private val text = Gen.dedupText(seed, docs)
  private val emb = Gen.dedupVecs(seed, vecs)
  private var textDF: DataFrame = _
  private var vecDF: DataFrame = _

  def prepare(): Unit = ()

  /** Writes the generated inputs as parquet and opens them. The first
    * set-up also runs one round, untimed, so the timed loop runs on a warm
    * JIT.
    */
  def setup(rep: Int): Double = {
    Fs.rm(dir)
    val t0 = System.nanoTime()
    import spark.implicits._
    text.ids.zip(text.texts).toSeq.toDF("id", "text").write.parquet(s"$dir/text")
    emb.vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/vecs")
    textDF = spark.read.parquet(s"$dir/text")
    vecDF = spark.read.parquet(s"$dir/vecs")
    val s = (System.nanoTime() - t0) / 1e9
    if (rep == 0) round()
    s
  }

  private def timed[A](f: => A): (A, Double) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def embedPairs(): Array[(Long, Long, Double)] =
    Trace("pipeline", "embeddingNearDupPairs")(
      Dedup.embeddingNearDupPairs(vecDF, "vec_id", "embedding", tau = Tau).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def components(pairs: Array[(Long, Long, Double)]): Array[(Long, Long)] = {
    import spark.implicits._
    Trace("pipeline", "connectedComponents")(
      Dedup.connectedComponents(pairs.toSeq.map(p => (p._1, p._2)).toDF("id_a", "id_b")).collect())
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  private def ann(f: (DataFrame, String, String, Long, Int) => DataFrame, name: String): Array[Row] =
    Trace("pipeline", name)(f(vecDF, "vec_id", "embedding", AnnQueries, K).collect())

  private def round(): OpOut = {
    val (survivors, textMs) = timed(Trace("pipeline", "dedupSurvivors")(
      Dedup.dedupSurvivors(textDF, "text", "id").collect().map(_.getLong(0))))
    val ((pairs, comps), embedMs) = timed { val p = embedPairs(); (p, components(p)) }
    val (lsh, lshMs) = timed(ann(Ann.lshCosineTopK(_, _, _, _, _), "lshCosineTopK"))
    val (ivf, ivfMs) = timed(ann(Ann.ivfCosineTopK(_, _, _, _, _), "ivfCosineTopK"))
    OpOut(textMs + embedMs + lshMs + ivfMs, docs.toLong + vecs,
      DedupWorkload.Answer(survivors, pairs, comps, lsh, ivf), "round",
      Map("text_ms" -> textMs, "embed_ms" -> embedMs, "ann_lsh_ms" -> lshMs, "ann_ivf_ms" -> ivfMs,
        "ann_ms" -> (lshMs + ivfMs)))
  }

  def op(i: Int): OpOut = round()

  def minOps: Int = 1

  private def cosine(a: Long, b: Long): Double = {
    val (x, y) = (emb.vecs(a.toInt), emb.vecs(b.toInt))
    var d = 0.0; var nx = 0.0; var ny = 0.0
    for (k <- x.indices) { d += x(k).toDouble * y(k); nx += x(k).toDouble * x(k); ny += y(k).toDouble * y(k) }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Documents that are neither a planted exact copy nor a planted
    * near-duplicate: each is the lowest id of its planted group, so it must
    * survive.
    */
  private val originals: Set[Long] =
    text.ids.toSet -- text.copyOf.keySet -- text.nearOf.keySet

  /** Driver brute force: every vector pair with cosine above 0.99, the
    * planted near-copies (chains included), as (smaller id, larger id).
    */
  private lazy val nearVecPairs: Set[(Long, Long)] =
    (for (x <- 0L until vecs.toLong; y <- x + 1 until vecs.toLong if cosine(x, y) > NearCosine)
      yield (x, y)).toSet

  /** Driver brute force: per ANN query, the cosine of its K-th nearest
    * other vector.
    */
  private lazy val kthCosine: Map[Long, Double] = (0L until AnnQueries).map { q =>
    q -> (0L until vecs.toLong).filter(_ != q).map(cosine(q, _)).sorted.reverse(K - 1)
  }.toMap

  /** Share of the exact top K that the returned neighbours hold, over all
    * queries: a neighbour counts when its cosine reaches the query's exact
    * K-th cosine (to the 4 decimals returned), so ties do not matter.
    */
  private def annRecall(rows: Array[Row]): Double =
    rows.count(r => cosine(r.getLong(0), r.getLong(2)) >= kthCosine(r.getLong(0)) - 1e-4).toDouble /
      (AnnQueries * K)

  /** Checks every part of a round:
    *  - text: every original survives, no planted exact copy does, at
    *    least [[NearDropFloor]] of the planted near-duplicates are dropped,
    *    and no two survivors are exact duplicates;
    *  - embed: every pair's cosine is above the threshold and exact, every
    *    planted near-copy pair (cosine > 0.99, by driver brute force) is
    *    found, and components equal a driver union-find over the returned
    *    pairs (min-id reps);
    *  - ann: per query, ranks run 1..n <= K, the query is not its own
    *    neighbour, cosines are exact (to the 4 decimals returned) and
    *    non-increasing; and recall of the exact top K reaches the method's
    *    floor.
    */
  def verify(i: Int, out: OpOut): Boolean = {
    val a = out.answer.asInstanceOf[DedupWorkload.Answer]
    val copies = if (corrupt && i == 0) text.copyOf.keySet + a.survivors.head else text.copyOf.keySet
    val kept = a.survivors.toSet
    val textOk = originals.subsetOf(kept) && !a.survivors.exists(copies.contains) &&
      text.nearOf.keys.count(!kept.contains(_)) >= NearDropFloor * text.nearOf.size &&
      a.survivors.map(id => text.texts(id.toInt)).distinct.length == a.survivors.length
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    a.pairs.foreach { case (x, y, _) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val nodes = a.pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val found = a.pairs.map { case (x, y, _) => (math.min(x, y), math.max(x, y)) }.toSet
    val embedOk = a.pairs.forall { case (x, y, c) => c >= Tau && math.abs(c - cosine(x, y)) < 1e-4 } &&
      nearVecPairs.subsetOf(found) &&
      a.comps.sortBy(_._1).toSeq == nodes.sorted.map(n => (n, find(n))).toSeq
    def annOk(rows: Array[Row], floor: Double): Boolean = rows.groupBy(_.getLong(0)).forall { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.map(_.getLong(1)).toSeq == (1L to sorted.length.toLong) && sorted.length <= K &&
        sorted.forall(r => r.getLong(2) != q && math.abs(r.getDouble(3) - cosine(q, r.getLong(2))) < 1e-4) &&
        sorted.map(_.getDouble(3)).sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
    } && annRecall(rows) >= floor
    val failed = Seq("text" -> textOk, "embed" -> embedOk, "ann_lsh" -> annOk(a.lsh, LshRecallFloor),
      "ann_ivf" -> annOk(a.ivf, IvfRecallFloor)).collect { case (part, false) => part }
    if (failed.nonEmpty) System.err.println(s"perfbench: round $i failed its ${failed.mkString(", ")} check")
    failed.isEmpty
  }

  def e2e(ops: Seq[OpRec], busyS: Double): Seq[Metric] = Seq(
    Metric("dedup.text_s", Report.median(ops.map(_.out.parts("text_ms"))) / 1e3, "s", s"p50 of n=${ops.size}"),
    Metric("dedup.embed_s", Report.median(ops.map(_.out.parts("embed_ms"))) / 1e3, "s", s"p50 of n=${ops.size}"),
    Metric("dedup.ann_s", Report.median(ops.map(_.out.parts("ann_ms"))) / 1e3, "s",
      s"p50 of n=${ops.size}, $AnnQueries queries through LSH and IVF"),
    Metric("dedup.ann_lsh_recall", recalls(ops)(_.lsh), "ratio", s"of the exact top $K, floor $LshRecallFloor"),
    Metric("dedup.ann_ivf_recall", recalls(ops)(_.ivf), "ratio", s"of the exact top $K, floor $IvfRecallFloor"))

  /** The lowest ANN recall over the rounds that returned an answer. */
  private def recalls(ops: Seq[OpRec])(rows: DedupWorkload.Answer => Array[Row]): Double =
    ops.collect { case op if op.out.answer != null =>
      annRecall(rows(op.out.answer.asInstanceOf[DedupWorkload.Answer])) }.minOption.getOrElse(0.0)

  /** Each public stage alone on a cleared cache, plus the rounds' Spark
    * totals and the LSH stage's recall of the planted near-duplicate pairs.
    */
  def layers(ops: Seq[OpRec], jobsNow: () => Seq[JobRec]): Seq[Metric] = {
    val jobs = jobsNow()
    val (_, exactMs) = timed(Trace("pipeline", "exactDupGroups")(
      Dedup.exactDupGroups(textDF, "text", "id").collect()))
    val (lshPairs, lshMs) = timed(Trace("pipeline", "minhashLshPairs")(
      Dedup.minhashLshPairs(textDF, "text", "id").collect().map(r => (r.getLong(0), r.getLong(1)))))
    val (_, compMs) = timed(components(lshPairs.map(p => (p._1, p._2, 0.0))))
    val (_, embedMs) = timed(embedPairs())
    val (_, lshAnnMs) = timed(ann(Ann.lshCosineTopK(_, _, _, _, _), "lshCosineTopK"))
    val (_, ivfAnnMs) = timed(ann(Ann.ivfCosineTopK(_, _, _, _, _), "ivfCosineTopK"))
    // a planted pair is found when the pair of its content representatives is
    val rep = text.texts.zipWithIndex.groupBy(_._1).values.flatMap { g =>
      val m = g.map(_._2).min.toLong; g.map(x => x._2.toLong -> m) }.toMap
    val found = lshPairs.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
    val planted = text.nearOf.toSeq.map { case (x, y) => (math.min(rep(x), rep(y)), math.max(rep(x), rep(y))) }
      .filter(p => p._1 != p._2).distinct
    val per = ops.map(op => Collector.totals(Collector.within(jobs, op.startMs, op.endMs)))
    Seq(
      Metric("pipeline.exact_groups_s", exactMs / 1e3, "s"),
      Metric("pipeline.lsh_pairs_s", lshMs / 1e3, "s"),
      Metric("pipeline.components_s", compMs / 1e3, "s"),
      Metric("pipeline.embed_pairs_s", embedMs / 1e3, "s"),
      Metric("pipeline.ann_lsh_s", lshAnnMs / 1e3, "s"),
      Metric("pipeline.ann_ivf_s", ivfAnnMs / 1e3, "s"),
      Metric("pipeline.task_cpu_s", Report.median(per.map(_.cpuNs / 1e9)), "s", "p50 per round"),
      Metric("pipeline.shuffle_write_bytes", Report.median(per.map(_.shuffleWrite.toDouble)), "bytes", "p50 per round"),
      Metric("pipeline.lsh_pair_recall", planted.count(found.contains).toDouble / math.max(1, planted.size), "ratio",
        s"of ${planted.size} planted pairs"))
  }

  def sampleTexts: Seq[String] = text.texts.toSeq

  def inputDigest: String =
    Fs.sha256(text.texts.iterator ++ emb.vecs.iterator.map(_.mkString(",")))
}

object DedupWorkload {
  final case class Answer(survivors: Array[Long], pairs: Array[(Long, Long, Double)],
      comps: Array[(Long, Long)], lsh: Array[Row], ivf: Array[Row])
}
