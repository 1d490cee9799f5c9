package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --root <checkout> --run-dir <scratch dir>`.
  *
  * One client thread drives the library in a closed loop against a
  * `local[<cores>]` session. The last stdout line is the result object
  * (`correct`, `attempted`, `failed`, `metrics`); the exit code is non-zero
  * when any output check failed or any call threw.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: String, runDir: String)

  private val workloads: Map[String, Workload] = Map(
    "interactive" -> Interactive, "ingest" -> Ingest)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("root"), kv("run-dir"))
    val workload = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload '${args.workload}' (${workloads.keys.mkString(", ")})"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the repo's own harnesses (Bench, IngestLoopBench) run without AQE
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", s"${args.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, args, cores)
    val metrics =
      try workload.run(run)
      catch {
        case scala.util.control.NonFatal(e) =>
          run.ledger.fail(s"${args.workload} aborted", e)
          Map.empty[String, Metric]
      } finally run.tracer.close()
    run.phase("done")
    val ok = run.ledger.failed == 0
    run.ledger.errors.foreach(e => println(s"[perfbench] FAILED $e"))
    println(Json.result(ok, run.ledger.attempted, run.ledger.failed,
      if (args.trace) metrics
      else metrics + ("success_rate" -> Metric(run.ledger.successRate, "fraction"))))
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Everything a workload needs for one run. */
final class Run(val spark: SparkSession, val args: Main.Args, val cores: Int) {
  val ledger = new Ledger
  val tracer = new Tracer(spark, args.trace,
    s"${args.root}/.bench_build/traces/${args.workload}-seed${args.seed}.json")
  val rng = new scala.util.Random(args.seed)

  /** A fresh directory under this run's scratch dir; the runner deletes
    * the whole scratch dir when the run ends. */
  def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get(args.runDir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  def deadline: Long = System.nanoTime() + args.seconds * 1000000000L

  private val started = System.nanoTime()

  /** Logs how far into the run a phase starts. */
  def phase(what: String): Unit =
    println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.1f s  $what")

  /** Block-manager storage held by cached relations, in MB. */
  def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

trait Workload {
  /** Runs set-up, warm-up, the timed loop and the output checks; returns
    * the end-to-end metrics (untraced run) or per-layer metrics (traced). */
  def run(r: Run): Map[String, Metric]
}
