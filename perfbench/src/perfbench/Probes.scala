package perfbench

import scala.collection.mutable

import graft.analysis.StandardCodeAnalyzer
import graft.codec.{PostingEntry, PostingsCodec, SmallFloat}

/** Driver-thread probes of the analysis and codec modules, run on the
  * workload's own texts.
  */
object Probes {
  private val MinProbeNs = 300L * 1000000L
  /** Posting rows span at most this many docIds (IndexConfig.docsPerRange). */
  private val RowDocs = 8192

  def run(texts: Seq[String]): Seq[Metric] =
    Trace("analysis", "tokenize")(tokenize(texts)) +: Trace("codec", "encode+decode")(codec(texts))

  /** Repeats `f` until at least [[MinProbeNs]] passed; ns per call. */
  private def perCall(f: => Unit): Double = {
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinProbeNs || n < 3) { f; n += 1 }
    (System.nanoTime() - t0).toDouble / n
  }

  /** `StandardCodeAnalyzer.tokenize` on one thread, in MB of UTF-8 per s. */
  def tokenize(texts: Seq[String]): Metric = {
    val an = new StandardCodeAnalyzer()
    val mb = texts.map(_.getBytes("UTF-8").length.toLong).sum / 1e6
    var sink = 0L
    val ns = perCall(texts.foreach(t => an.tokenize(t)((_, p) => sink += p)))
    Metric("analysis.tokenize_mb_per_s", mb / (ns / 1e9), "MB/s", f"${texts.size} docs, $mb%.2f MB")
  }

  /** Hot (largest df), mid (df nearest n/10) and rare (df <= 3) posting
    * lists of the texts, encoded with positions in row-sized runs and
    * decoded again.
    */
  def codec(texts: Seq[String]): Seq[Metric] = {
    val an = new StandardCodeAnalyzer()
    val lists = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingEntry]]
    texts.zipWithIndex.foreach { case (t, doc) =>
      val pos = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
      var dl = 0
      an.tokenize(t) { (term, p) => pos.getOrElseUpdate(term, mutable.ArrayBuffer.empty) += p; dl += 1 }
      val norm = SmallFloat.encodeNorm(dl, 0)
      pos.foreach { case (term, ps) =>
        lists.getOrElseUpdate(term, mutable.ArrayBuffer.empty) +=
          PostingEntry(doc.toLong, ps.size, dl, norm, ps.toArray)
      }
    }
    val byDf = lists.toSeq.sortBy { case (t, ps) => (-ps.size, t) }
    val hot = byDf.take(1)
    val mid = byDf.sortBy { case (t, ps) => (math.abs(ps.size - texts.size / 10), t) }.take(1)
    val rare = byDf.filter(_._2.size <= 3).take(200)
    val runs = (hot ++ mid ++ rare).flatMap(_._2.toArray.grouped(RowDocs))
    val postings = runs.map(_.length).sum.toDouble
    val encNs = perCall(runs.foreach(r => PostingsCodec.encode(r, withPositions = true)))
    val enc = runs.map(r => PostingsCodec.encode(r, withPositions = true))
    val bytes = enc.map(e => e.payload.length + e.positions.map(_.length).getOrElse(0)).sum
    val decNs = perCall(enc.foreach { e =>
      val d = PostingsCodec.decode(e.payload)
      e.positions.foreach(p => PostingsCodec.decodePositions(p, d.freqs))
    })
    val note = f"${runs.size} runs, ${postings.toLong} postings"
    Seq(
      Metric("codec.encode_ns_per_posting", encNs / postings, "ns", note),
      Metric("codec.decode_ns_per_posting", decNs / postings, "ns", note),
      Metric("codec.bytes_per_posting", bytes / postings, "bytes", note))
  }
}
