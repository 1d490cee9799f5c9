package graft.serve

import graft.serve.IvfIndex.{Flat, Index}
import org.apache.spark.sql.SparkSession

/** ONE serving entry point over the compression ladder: a user shipping
  * an index wants one question answered — "which tier, at which nProbe
  * and shortlist, meets my recall target inside my scan-bytes budget?"
  * [[choose]] answers it by MEASUREMENT, the CompressionCurve way: every
  * candidate configuration is run through the batched serving path on a
  * held-out query sample and graded against the exact ranking (the
  * exhaustive probe of the same corpus with tier = Flat) — never a model
  * of recall, always the measured value.
  *
  * Selection order: indexes ascending by the bytes/row their shortlist
  * scan reads (binary 1 bit/dim → PQ m bytes → MRL prefix → SQ8 → flat;
  * ties in that order), configurations within a tier ascending
  * lexicographically by (nProbe, shortlist) — probe count dominates
  * serving IO (a probe reads ~nProbe/nCentroids of the index), the
  * shortlist only the refine gather. The first configuration meeting the
  * target wins, so the result is the most compressed tier that can do the
  * job, at its cheapest passing knobs. Recall is monotone in both knobs
  * (the probed set and the refine candidate set only grow), so a tier
  * whose MAXIMAL configuration misses the target is skipped after one
  * measurement.
  *
  * Infeasibility is VISIBLE: if no in-budget tier reaches the target,
  * choose throws with the best measured (tier, recall) instead of
  * returning a plan that silently under-delivers. With the flat tier in
  * budget any target ≤ 1.0 is feasible (nProbe = nCentroids is the exact
  * index), so a throw always means the BUDGET excluded every tier that
  * could pass.
  *
  * Calibration cost is sample-bounded and corpus-size-independent: each
  * measurement is one batched pruned scan per stage, ≤
  * ~log(nCentroids)·log(maxShortlist/k) of them per tier.
  */
object ServingPlanner {

  /** A measured, deployable configuration of `index`. `curve` holds every
    * (config-label, recall) point measured on the way — the planner's
    * audit trail, CompressionCurve-style.
    *
    * `bytesPerRow` is the tier's SCAN cost: bytes per candidate row the
    * shortlist scan reads (the quantity the budget constrains).
    * `refineBytesPerRow` is the ADDITIONAL full-precision bytes per row
    * the tier must keep ON STORAGE for its refine step — non-zero for
    * the shortlisted tiers (binary, mrl), whose refine gathers the flat
    * `v` column for shortlist ids only (a k-bounded id-gather, not a
    * scan, so it costs ~nothing per query — but a deployment that DROPS
    * the flat column to save space cannot run these tiers at all). */
  final case class Plan(index: Index, nProbe: Int, shortlist: Option[Int],
                        bytesPerRow: Int, refineBytesPerRow: Int,
                        measuredRecall: Double,
                        curve: Seq[(String, Double)])

  private val tieOrder = Seq("binary", "pq", "mrl", "sq8", "flat")

  /** `indexes` are the written tiers of ONE corpus (same vectors).
    * `scanBudgetBytesPerRow` bounds the bytes/row the serving SCAN reads —
    * the per-query IO story, which is what distinguishes the tiers at
    * 100 TB. It is deliberately NOT a total-storage budget: shortlisted
    * tiers additionally require the full-precision vector column on
    * storage for their bounded refine gather — [[Plan.refineBytesPerRow]]
    * reports that obligation, and callers sizing DISK rather than scan IO
    * must add it. */
  def choose(spark: SparkSession, indexes: Seq[Index],
             sample: Seq[Array[Double]], k: Int, recallTarget: Double,
             scanBudgetBytesPerRow: Int, maxShortlist: Int = 0): Plan = {
    require(indexes.nonEmpty, "planner needs at least one index")
    require(sample.nonEmpty, "planner needs at least one sample query")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recall target $recallTarget outside (0,1]")
    require(k >= 1, s"k must be positive: $k")
    val maxSl = if (maxShortlist > 0) maxShortlist else 8 * k
    require(maxSl >= k, s"maxShortlist $maxSl below k=$k")

    // ground truth: the uncompressed layout, exhaustive probe
    val exact = indexes.head.copy(tier = Flat)
    val truth = IvfIndex.probedTopKBatch(spark, exact, sample, exact.centroids.length, k)
      .map(_.map(_._1).toSet)

    def doubling(max: Int, from: Int): Seq[Int] =
      (Iterator.iterate(from)(_ * 2).takeWhile(_ < max) ++ Iterator(max)).toSeq
    def bytes(ix: Index): Int = ix.tier.scanBytes(ix.dim)

    val cands = indexes.sortBy(ix => (bytes(ix), tieOrder.indexOf(ix.tier.name)))
    val inBudget = cands.filter(bytes(_) <= scanBudgetBytesPerRow)
    if (inBudget.isEmpty)
      throw new IllegalStateException(
        s"no serving tier fits $scanBudgetBytesPerRow scan bytes/row — cheapest " +
          s"available is ${cands.map(ix => s"${ix.tier.name}=${bytes(ix)}").mkString(", ")}")

    val curve = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var best: Option[(String, Double)] = None
    inBudget.foreach { ix =>
      val t = ix.tier
      val nCells = ix.centroids.length
      val shorts = if (t.mustRefine) doubling(maxSl, k) else Seq(0)
      def label(np: Int, sl: Int) =
        s"${t.name} nProbe=$np" + (if (t.mustRefine) s" shortlist=$sl" else "")
      def measure(np: Int, sl: Int): Double = {
        val r = IvfIndex.recall(
          IvfIndex.probedTopKBatch(spark, ix, sample, np, k, shortlist = sl), truth)
        curve += label(np, sl) -> r
        r
      }
      // one measurement at the tier's maximal knobs: recall is monotone
      // in both, so a failing ceiling rules the whole tier out
      val ceiling = measure(nCells, shorts.last)
      if (best.forall(_._2 < ceiling)) best = Some((t.name, ceiling))
      if (ceiling >= recallTarget) {
        for (np <- doubling(nCells, 1); sl <- shorts) {
          val r = if (np == nCells && sl == shorts.last) ceiling else measure(np, sl)
          if (r >= recallTarget)
            return Plan(ix, np, if (t.mustRefine) Some(sl) else None, bytes(ix),
              if (t.mustRefine) ix.dim * 8 else 0, r, curve.toSeq)
        }
      }
    }
    val (bn, br) = best.getOrElse(("none", 0.0))
    throw new IllegalStateException(
      f"recall target $recallTarget%.3f infeasible within " +
        f"$scanBudgetBytesPerRow scan bytes/row: best in-budget tier is $bn " +
        f"at $br%.3f — raise the budget (the flat tier at nProbe=nCentroids " +
        "is exact) or lower the target")
  }
}
