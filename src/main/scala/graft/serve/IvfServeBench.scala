package graft.serve

import graft.Tables
import org.apache.spark.sql.SparkSession

/** Measured serving comparisons for BASELINE.md: build the cid-partitioned
  * IVF index over SPARK_GRAFT_SF_DIR's embeddings, then time probed top-k
  * at nProbe=2 vs an exhaustive probe (= full scan), batched vs sequential
  * probes, each compressed tier, and batches racing maintenance churn —
  * median of 5 after warmup. The pruned query's win is IO-proportional: it
  * reads nProbe/nCentroids of the files (the spec asserts the file counts;
  * this main measures the wall-clock).
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=<n> sbt "runMain graft.serve.IvfServeBench"`.
  */
object IvfServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nCents = 32
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-bench").toString
    val emb = Tables.embeddings(spark, sfDir)
    val t0 = System.nanoTime()
    val h = IvfIndex.write(emb, "embedding", "vec_id", path, nCents, iters = 3)
    println(f"[ivf] build ${(System.nanoTime() - t0) / 1e9}%.1f s ($path)")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def time(nProbe: Int): Double = {
      val samples = (1 to 6).map { _ =>
        val s0 = System.nanoTime()
        IvfIndex.probedTopK(spark, h, q, nProbe, 10).collect()
        (System.nanoTime() - s0) / 1e9
      }
      samples.tail.sorted.apply(2) // drop warmup, median of 5
    }
    val full = time(nCents)
    val pruned = time(2)
    println(f"[ivf] sf=$sfDir n=${emb.count()} cells=$nCents " +
      f"pruned(nProbe=2) $pruned%.3f s vs full $full%.3f s = ${pruned / full}%.2fx")
    // batched serving (r9 ask #3): P queries in ONE pruned scan vs P
    // sequential probedTopK jobs — the win is the per-job floor × (P−1)
    // plus hot-cell IO dedup across the batch
    val batchQ = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 16L)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    def med5(f: => Unit): Double = {
      val samples = (1 to 6).map { _ =>
        val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e9
      }
      samples.tail.sorted.apply(2)
    }
    val tSeq = med5(batchQ.foreach(q =>
      IvfIndex.probedTopK(spark, h, q, 2, 10).collect()))
    val tBatch = med5(IvfIndex.probedTopKBatch(spark, h, batchQ, 2, 10))
    println(f"[ivf] batch P=${batchQ.size} nProbe=2: batched $tBatch%.3f s vs " +
      f"sequential $tSeq%.3f s = ${tBatch / tSeq}%.2fx " +
      f"(one-query pruned scan was $pruned%.3f s)")
    // the compressed tiers, each written over the same vectors: the
    // single-query probe at nProbe=2, and P queries batched (one pruned
    // scan per stage) vs P sequential probes. PQ is measured raw (ADC over
    // (id, codes)) and refined; binary and MRL always refine a shortlist.
    val tiers: Seq[(String, IvfIndex.Fit, Seq[Int])] = Seq(
      ("pq", IvfIndex.Pq.fit(m = 8, ksub = 16, iters = 3), Seq(0, 40)),
      ("sq8", IvfIndex.Sq8.fit, Seq(0)),
      ("bq", IvfIndex.Bq.fit, Seq(40)),
      ("mrl(prefix=16)", IvfIndex.Mrl.fit(prefixDim = 16), Seq(40)))
    tiers.foreach { case (name, fit, shortlists) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tier-bench").toString
      val b0 = System.nanoTime()
      val ix = IvfIndex.write(emb, "embedding", "vec_id", dir, nCents, iters = 3, tier = fit)
      println(f"[ivf] $name build ${(System.nanoTime() - b0) / 1e9}%.1f s ($dir)")
      shortlists.foreach { sl =>
        val tOne = med5(IvfIndex.probedTopK(spark, ix, q, 2, 10, sl).collect())
        val tSeqT = med5(batchQ.foreach(q =>
          IvfIndex.probedTopK(spark, ix, q, 2, 10, sl).collect()))
        val tBatchT = med5(IvfIndex.probedTopKBatch(spark, ix, batchQ, 2, 10, sl))
        val knobs = if (sl > 0) s"nProbe=2, shortlist=$sl" else "nProbe=2"
        println(f"[ivf] $name($knobs) $tOne%.3f s vs exact pruned $pruned%.3f s; " +
          f"batch P=${batchQ.size}: batched $tBatchT%.3f s vs sequential " +
          f"$tSeqT%.3f s = ${tBatchT / tSeqT}%.2fx")
      }
    }
    // r10 ask #5: serving under MAINTENANCE CHURN — batched probes racing
    // append + compact cycles on the same index. A probe that loses the
    // listing race to a compaction swap fails LOUDLY (never a silent
    // partial cell — ConcurrentServeSpec machine-checks that) and is
    // retried, the serving contract; this row measures what the churn
    // and retries cost wall-clock next to the quiet batch latency above.
    locally {
      import org.apache.spark.sql.functions._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      @volatile var stop = false
      val churn = Future {
        var i = 0
        while (!stop) {
          // the appendStream landing shape in batch form: assign against
          // the fixed centroids, append small files into cid= dirs
          emb.filter(col("vec_id") < 8)
            .select((col("vec_id") + 900000L + i * 100L).cast("long").as("id"),
              graft.search.Search.asDouble(col("embedding")).as("v"))
            .withColumn("vn", graft.search.Search.l2Norm(col("v")))
            .withColumn("cid", graft.search.Search.ivfAssign(col("v"), h.centroids))
            .write.mode("append").partitionBy("cid").parquet(h.path)
          IvfIndex.compact(spark, h, maxFilesPerCell = 4)
          i += 1
        }
        i
      }
      var ok = 0
      var retried = 0
      val c0 = System.nanoTime()
      while (ok < 10) {
        try { IvfIndex.probedTopKBatch(spark, h, batchQ, 2, 10); ok += 1 }
        catch { case _: Throwable => retried += 1 }
      }
      val perBatch = (System.nanoTime() - c0) / 1e9 / ok
      stop = true
      val cycles = Await.result(churn, 600.seconds)
      println(f"[ivf] churn: batch P=${batchQ.size} nProbe=2 under $cycles " +
        f"append+compact cycles: $perBatch%.3f s/batch (quiet $tBatch%.3f s), " +
        f"$retried loud retries")
    }
    spark.stop()
  }
}
