package graft

import graft.serve.IvfIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental-maintenance QUALITY regression (VERDICT r14 ask #3):
  * `RecallCurveSpec` pins the batch index's recall, but nothing pinned
  * that a lifetime of maintenance — N streamed appends + a compaction —
  * serves the SAME quality as rebuilding from scratch. Two claims, each
  * with its own strength:
  *
  *  1. EXACT: with every cell probed, the maintained index's top-k equals
  *     the from-scratch index's top-k row for row (ids AND scores). Full
  *     probe is brute force over whatever rows the index holds, so this
  *     is the lossless-maintenance proof: appends dropped nothing,
  *     compaction dropped/duplicated nothing, scoring is unchanged.
  *  2. TOLERANCED: at a partial probe the two indexes may legitimately
  *     differ — the maintained index's centroids were FIT on the base
  *     70% and frozen (the stated appendStream contract: assignment
  *     against fixed centroids, refit is an offline decision), while the
  *     from-scratch build fits on the full corpus. So probed recall is
  *     compared with an EXACT-STATED tolerance: mean recall@10 over the
  *     query panel within 0.10 of the from-scratch build, and never
  *     below 0.55 absolute (measured: maintained 0.69 vs from-scratch
  *     0.76 at nProbe 3/8 on this near-unclustered synthetic table —
  *     the bounds are regression tripwires around those values, chosen
  *     so a real loss — a dropped cell is ≥ 1/8 ≈ 0.125 of mass — trips
  *     them while fit noise does not).
  */
class IncrementalRecallSpec extends SparkSpec {
  import spark.implicits._

  private val nCents = 8
  private val K = 10
  private val NProbe = 3

  test("N appends + compact serve the same recall as a from-scratch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    // deterministic 70 / 20 / 10 split: base build, then two streamed batches
    val base = emb.filter(col("vec_id") % 10 < 7)
    val rest = emb.filter(col("vec_id") % 10 >= 7).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)))
    val batch1 = rest.filter(_._1 % 10 < 9).toSeq
    val batch2 = rest.filter(_._1 % 10 === 9).toSeq
    assert(batch1.nonEmpty && batch2.nonEmpty, "both append batches must carry rows")

    val incPath = java.nio.file.Files.createTempDirectory("graft-increcall-inc").toString
    val h = IvfIndex.write(base, "embedding", "vec_id", incPath, nCents, iters = 3)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-increcall-ck").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = IvfIndex.appendStream(mem.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", h, ckpt).start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    def nFiles(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(incPath))
      try walk.filter(p => p.toString.endsWith(".parquet")).count()
      finally walk.close()
    }
    val fragmented = nFiles()
    val compacted = IvfIndex.compact(spark, h, maxFilesPerCell = 1)
    assert(compacted.nonEmpty, "two streamed batches must have fragmented some cell")
    assert(nFiles() < fragmented,
      s"compaction must shrink the file set ($fragmented before)")
    // serve through a REOPENED handle: the centroid sidecar must have
    // survived the maintenance swaps
    val inc = IvfIndex.open(spark, incPath)
    assert(inc.centroids.map(_.toSeq).toSeq == h.centroids.map(_.toSeq).toSeq,
      "maintenance must not disturb the centroid sidecar")

    val scratchPath = java.nio.file.Files.createTempDirectory("graft-increcall-scr").toString
    val scratch = IvfIndex.write(emb, "embedding", "vec_id", scratchPath, nCents, iters = 3)

    // the maintained index holds exactly the corpus (ids, no dup, no loss)
    val incIds = spark.read.parquet(incPath).select("id").as[Long].collect().sorted.toSeq
    val allIds = emb.select(col("vec_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(incIds == allIds, "appends+compact must hold exactly the corpus ids")

    val queries = emb.filter(col("vec_id") % 41 === 0).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
    assert(queries.length >= 10, s"query panel too small: ${queries.length}")

    def topK(h: IvfIndex.Index, qv: Array[Double], nProbe: Int): Seq[(Long, Double)] =
      IvfIndex.probedTopK(spark, h, qv, nProbe, K)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // claim 1 — EXACT at full probe: same rows, same scores, same order
    queries.foreach { qv =>
      val a = topK(inc, qv, nCents)
      val b = topK(scratch, qv, nCents)
      assert(a == b, s"full-probe top-$K must be identical: inc=$a scratch=$b")
    }

    // claim 2 — TOLERANCED at partial probe vs the full-probe ground truth
    def recall(h: IvfIndex.Index, qv: Array[Double], truth: Set[Long]): Double =
      topK(h, qv, NProbe).count { case (id, _) => truth(id) }.toDouble / K
    val (incR, scrR) = queries.map { qv =>
      val truth = topK(inc, qv, nCents).map(_._1).toSet
      (recall(inc, qv, truth), recall(scratch, qv, truth))
    }.unzip
    val incMean = incR.sum / incR.length
    val scrMean = scrR.sum / scrR.length
    info(f"probed recall@$K nProbe=$NProbe/$nCents: maintained=$incMean%.4f from-scratch=$scrMean%.4f")
    assert(math.abs(incMean - scrMean) <= 0.10,
      f"maintained-index recall drifted beyond the stated tolerance: $incMean%.4f vs $scrMean%.4f")
    assert(incMean >= 0.55,
      f"maintained-index recall below the absolute floor: $incMean%.4f")
  }
}
