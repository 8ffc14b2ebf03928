package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  /** `s` with a zero driver-local bound: WAND on it takes the pruned plan
    * for every query that has a term with df > 1, so a WAND parity check
    * exercises pruning instead of the driver-local route.
    */
  def pruning(s: graft.search.IndexSearcher): graft.search.IndexSearcher = {
    s.localSearchMaxPostings = 0
    s
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Deterministic synthetic source-code corpus (FIXTURES.md §2, seed fixed):
  * hot terms (df≈N), mid terms (df≈N/10), one singleton per doc, sprinkled
  * stopwords, geometric doc lengths, planted phrase "posting list".
  * Pure function of docIndex — no RNG state shared across docs.
  */
object TestCorpus {
  import graft.index.CodeFile

  val hot = Array("import", "func", "package", "return")
  val mid = Array("parser", "buffer", "index", "scorer", "merge", "token",
    "query", "shard", "vector", "cache")
  val stop = Array("the", "of", "to", "and", "a", "in", "is", "it")

  def content(i: Int): String = {
    val rnd = new scala.util.Random(42L * 1000003L + i)
    val len = 8 << rnd.nextInt(6) // 8..256 tokens
    val sb = new StringBuilder
    sb.append(hot(i % hot.length)).append(' ')
    var t = 1
    while (t < len) {
      val r = rnd.nextInt(100)
      val w =
        if (r < 30) hot(rnd.nextInt(hot.length))
        else if (r < 55) mid(rnd.nextInt(mid.length))
        else if (r < 75) stop(rnd.nextInt(stop.length))
        else s"w${rnd.nextInt(500)}"
      sb.append(w).append(' ')
      t += 1
    }
    if (i % 7 == 0) sb.append("posting list ")
    sb.append(s"uniqtoken_$i")
    sb.toString
  }

  def corpus(n: Int): Seq[CodeFile] =
    (0 until n).map { i =>
      CodeFile(
        repo = f"org${i % 13}%03d/repo${i % 29}%03d",
        path = f"src/pkg${i % 5}/File$i%05d.scala",
        commit = f"$i%040x",
        lang = Seq("scala", "go", "java", "py", "c")(i % 5),
        content = content(i))
    }
}
