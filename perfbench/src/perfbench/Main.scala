package perfbench

import org.apache.spark.sql.SparkSession

import graft.analysis.StandardCodeAnalyzer
import graft.index.IndexConfig

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --traces <dir> --result <file> [--smoke]
  * [--corrupt-expected]`. Prints report lines and writes the result JSON to
  * `--result`; run it through `perfbench/run.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    println(s"perfbench ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${o.trace} " +
      s"smoke=${o.smoke} master=local[$cpus]")
    val spark = session(o.work, cpus)
    val code =
      try {
        val json = Harness.run(spark, o, workload(spark, o, cpus))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(o.result), json)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def workload(spark: SparkSession, o: Opts, cpus: Int): Workload = {
    val dir = s"${o.work}/data"
    o.workload match {
      case "serve" =>
        new Serve(spark, o.seed, dir, if (o.smoke) 1000 else 5000, if (o.smoke) 200 else 1000, cpus,
          o.corrupt)
      case "dedup" =>
        new DedupWorkload(spark, o.seed, dir, if (o.smoke) 300 else 600, if (o.smoke) 200 else 300, o.corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** The index configuration every index of the benchmark is built with. */
  def indexConfig(cpus: Int): IndexConfig =
    IndexConfig(analyzer = new StandardCodeAnalyzer(), docsPerRange = 8192,
      numSegments = 8, segmentsPerWave = 8, buildPartitions = math.max(8, cpus))

  private def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v }.toMap
    def req(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = req("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, not $trace")
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble, trace == "1",
      args.contains("--smoke"), args.contains("--corrupt-expected"),
      req("--work"), req("--traces"), req("--result"))
  }
}
