package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Which read serves each multi-term expansion, suggestion and WAND bound
  * scan, and that each answers exactly as Spark's own string functions over
  * the terms table do. Prefix and term range read the terms reader on the
  * driver (no job); wildcard, regexp, fuzzy and suggest run one job of
  * terms-reader tasks; pruned WAND runs only its own and the search's
  * jobs. None of these jobs is a Catalyst query.
  */
class ExpansionPathSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Keyword values whose UTF-8 order differs from UTF-16 order (U+FF41 is
    * below a surrogate pair in UTF-8, above it in UTF-16) and supplementary
    * ones whose code-point and UTF-16 lengths differ; 1100 content terms
    * `tok<i>` sharing one prefix.
    */
  private val langs = Seq("k𝒳", "kａ", "ka", "kb", "kab", "𝒳lang", "𝒳𝒴", "𝒳ab", "xab",
    "go", "java", "ｇo")

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-expansion-path").toString
    val docs = (CodeFile("r", "p", "", "scala", (0 until 1100).map(i => s"tok$i").mkString(" ")) +:
      (langs.zipWithIndex.map { case (l, i) => CodeFile("r", s"k$i", "", l, s"word$i") } ++
        TestCorpus.corpus(300))).toDF()
    val cfg = IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 16, numSegments = 2, segmentsPerWave = 2, buildPartitions = 4,
      keywordFields = Seq("lang"))
    new IndexBuilder(spark, cfg).build(docs, d)
    d
  }

  private lazy val terms = spark.read.parquet(IndexManifest.load(spark, dir).termsLocation)

  /** `f`'s dictionary terms matching `where`, in Spark's term order. */
  private def reference(f: String, where: Column): Seq[String] =
    terms.where(col("field") === f && where).select("term").orderBy("term")
      .as[String].collect().toSeq

  /** The expansion of `q` on a fresh searcher, and the jobs it launched. */
  private def expandCold(q: MultiTermQuery): (Seq[String], Seq[SparkJobs.Job]) = {
    val s = new IndexSearcher(spark, dir)
    SparkJobs.jobs(spark)(s.expandPrefixes(q) match {
      case BooleanQuery(cs, _, _) => cs.map(_.query).collect { case TermQuery(t, _, _) => t }
      case other => fail(s"unexpected expansion $other")
    })
  }

  private def noSql(jobs: Seq[SparkJobs.Job]): Boolean = jobs.forall(_.sqlExecutionId.isEmpty)

  test("prefix and term range read the terms reader on the driver: no job") {
    val cases: Seq[(MultiTermQuery, Seq[String])] = Seq(
      PrefixQuery("k", field = Some("lang")) ->
        reference("lang", col("term").startsWith("k")),
      PrefixQuery("𝒳", field = Some("lang")) ->
        reference("lang", col("term").startsWith("𝒳")),
      PrefixQuery("tok10") -> reference("content", col("term").startsWith("tok10")),
      TermRangeQuery(Some("ka"), Some("𝒳lang"), field = Some("lang")) ->
        reference("lang", col("term") >= "ka" && col("term") <= "𝒳lang"),
      TermRangeQuery(Some("kab"), Some("ｇo"), includeLower = false, includeUpper = false,
        field = Some("lang")) ->
        reference("lang", col("term") > "kab" && col("term") < "ｇo"),
      TermRangeQuery(Some("kb"), None, field = Some("lang")) ->
        reference("lang", col("term") >= "kb"),
      TermRangeQuery(None, Some("ka"), includeUpper = false, field = Some("lang")) ->
        reference("lang", col("term") < "ka"),
      TermRangeQuery(Some("tok10"), Some("tok11")) ->
        reference("content", col("term") >= "tok10" && col("term") <= "tok11"))
    for ((q, exp) <- cases) {
      assert(exp.nonEmpty, s"fixture matches nothing for $q")
      val (got, jobs) = expandCold(q)
      assert(jobs.isEmpty, s"$q launched $jobs")
      assert(got == exp, q)
    }
  }

  test("wildcard, regexp and fuzzy run one job of terms-reader tasks") {
    val cases: Seq[(MultiTermQuery, String, Seq[String])] = Seq(
      (WildcardQuery("k*", field = Some("lang")), "graft expand wildcard 'lang:k*'",
        reference("lang", col("term").rlike("^k.*$"))),
      (WildcardQuery("*ab", field = Some("lang")), "graft expand wildcard 'lang:*ab'",
        reference("lang", col("term").rlike("^.*ab$"))),
      (WildcardQuery("𝒳?", field = Some("lang")), "graft expand wildcard 'lang:𝒳?'",
        reference("lang", col("term").rlike("^𝒳.$"))),
      // 1100 prefix-mates, 110 of them matching: the pattern is checked
      // before each file's row cap
      (WildcardQuery("tok*9"), "graft expand wildcard 'content:tok*9'",
        reference("content", col("term").rlike("^tok.*9$"))),
      (RegexpQuery("go|java", field = Some("lang")), "graft expand regexp 'lang:/go|java/'",
        reference("lang", col("term").rlike("^(?:go|java)$"))),
      (RegexpQuery("kab?", field = Some("lang")), "graft expand regexp 'lang:/kab?/'",
        reference("lang", col("term").rlike("^(?:kab?)$"))),
      (RegexpQuery("𝒳[a-z]+", field = Some("lang")), "graft expand regexp 'lang:/𝒳[a-z]+/'",
        reference("lang", col("term").rlike("^(?:𝒳[a-z]+)$"))),
      (RegexpQuery("tok1[0-2]"), "graft expand regexp 'content:/tok1[0-2]/'",
        reference("content", col("term").rlike("^(?:tok1[0-2])$"))),
      (FuzzyQuery("xab", 1, field = Some("lang")), "graft expand fuzzy 'lang:xab~1'",
        reference("lang", levenshtein(col("term"), lit("xab")) <= 1)),
      (FuzzyQuery("𝒳𝒴", 2, field = Some("lang")), "graft expand fuzzy 'lang:𝒳𝒴~2'",
        reference("lang", levenshtein(col("term"), lit("𝒳𝒴")) <= 2)),
      (FuzzyQuery("tok10", 1), "graft expand fuzzy 'content:tok10~1'",
        reference("content", levenshtein(col("term"), lit("tok10")) <= 1)))
    for ((q, job, exp) <- cases) {
      assert(exp.nonEmpty, s"fixture matches nothing for $q")
      val (got, jobs) = expandCold(q)
      assert(jobs.map(_.description) == Seq(job), q)
      assert(noSql(jobs), s"$q ran a Catalyst query: $jobs")
      assert(got == exp, q)
    }
    // the over-budget error still names the leaf, after one job
    val (err, jobs) = SparkJobs.jobs(spark)(intercept[IllegalArgumentException](
      new IndexSearcher(spark, dir).search(WildcardQuery("tok*"), 5)))
    assert(jobs.size == 1)
    assert(err.getMessage.contains("wildcard 'content:tok*' expands to more than 1024 terms"),
      err.getMessage)
  }

  test("suggest runs one job of terms-reader tasks; ranks like Spark's orderBy") {
    for ((f, in, edits, topN) <- Seq(("lang", "xab", 1, 5), ("lang", "𝒳a", 2, 3),
        ("lang", "ka", 1, 10), ("content", "tok10", 1, 4))) {
      val exp = terms.where(col("field") === f && col("term") =!= in)
        .select(col("term"), col("docFreq"), levenshtein(col("term"), lit(in)).as("dist"))
        .where(col("dist") <= edits)
        .orderBy(col("dist"), col("docFreq").desc, col("term")).limit(topN)
        .as[(String, Long, Int)].collect().toSeq
      assert(exp.nonEmpty, s"fixture has no suggestion for $in")
      val s = new IndexSearcher(spark, dir)
      val (got, jobs) = SparkJobs.jobs(spark)(s.suggestTerms(in, edits, topN, f).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq)
      assert(jobs.map(_.description) == Seq(s"graft suggest '$f:$in'~$edits"), in)
      assert(noSql(jobs), s"$in ran a Catalyst query: $jobs")
      assert(got == exp, in)
    }
  }

  test("pruned WAND runs only its own and the search's jobs, none of them Catalyst") {
    val q = BooleanQuery(Seq(
      BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("buffer"))))
    val exact = new IndexSearcher(spark, dir).search(q, 10)
    val (wand, jobs) = SparkJobs.jobs(spark)(
      Wand.searchTopK(pruning(new IndexSearcher(spark, dir)), q, 10, phase1Ranges = 2))
    assert(wand.totalHitsIsLowerBound)
    assert(wand.scoreDocs.map(d => (d.docId, d.score)).toSeq ==
      exact.scoreDocs.map(d => (d.docId, d.score)).toSeq)
    assert(jobs.exists(_.description.startsWith("graft wand phase 1 bounds: ")), jobs)
    assert(jobs.forall(j => j.description.startsWith("graft wand ") ||
      j.description.startsWith("graft search ")), jobs)
    assert(noSql(jobs), jobs)
  }
}
