package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.streaming.StreamingIndexer

/** Index-side Spark jobs are named: listeners and the UI can tell which
  * build, append or merge step launched each one.
  */
class IndexJobsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("every job of build, appendBatch and maybeMerge carries a graft description") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val builder = new IndexBuilder(spark, IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 1, buildPartitions = 4))
    def unnamed(f: => Any): Seq[String] = {
      val (_, jobs) = SparkJobs.jobs(spark)(f)
      assert(jobs.nonEmpty)
      jobs.filterNot(_.description.startsWith("graft ")).map(j => s"${j.description}@${j.sqlExecutionId}")
    }
    assert(unnamed(builder.build(TestCorpus.corpus(200).toDF(), dir)).isEmpty)
    assert(unnamed(StreamingIndexer.appendBatch(spark, builder,
      TestCorpus.corpus(230).drop(200).toDF(), 0L, dir)).isEmpty)
    assert(unnamed(TieredMerge.maybeMerge(spark, dir, segsPerTier = 3, maxMergeAtOnce = 3)).isEmpty)
    Deletes.append(spark, dir, Seq(1L, 2L, 3L))
    assert(unnamed(TieredMerge.maybeMerge(spark, dir, segsPerTier = 1, maxMergeAtOnce = 10)).isEmpty)
    assert(CheckIndex.run(spark, dir).ok)
  }
}
