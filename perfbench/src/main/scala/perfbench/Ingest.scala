package perfbench

import graft.Tables
import graft.dedup.IncrementalDedup
import graft.incremental.IncrementalState
import graft.queries.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `ingest`: `Pipeline.buildState` as set-up, then seeded disjoint arrival
  * batches from the documents' delta split (`doc_id % 5 = 0`, English,
  * outside the contamination probe set). Each batch runs
  * `warmScreenAccepted` → count → `IncrementalState.advance`;
  * `IncrementalState.compact` follows every third batch from the first.
  *
  * Writes sit beside reads on the same state layer. The cost is many small
  * jobs, shuffles and parquet state writes, and it grows with
  * fragmentation. No vector scoring happens, so a serving gain that costs
  * ingest shows here.
  */
object Ingest extends Workload {

  private val BatchDocs = 32
  private val CompactEvery = 3
  private val ProbeCap = 20L // doc_id < 20 is the fixture's contamination probe set
  private val JaccardTau = 0.8 // the near-duplicate threshold Pipeline screens with

  private final case class Cycle(offered: Seq[Long], accepted: Seq[(Long, String)], secs: Double,
                                 traced: Boolean)

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  def run(r: Run): Map[String, Metric] = {
    import r.spark.implicits._
    val dataDir = s"${r.args.root}/perfbench/data"
    r.phase("set-up")
    // one buildState per run: it costs 10-15 s in a fresh JVM
    val stateDir = r.freshDir("state")
    val (_, setupS) = Stats.secs(r.tracer("bench.setup")(
      r.tracer("pipeline.build_state")(Pipeline.buildState(r.spark, dataDir, stateDir))))
    r.spark.catalog.clearCache()
    val baseCopy = r.freshDir("state-base")
    copyTree(java.nio.file.Paths.get(stateDir), java.nio.file.Paths.get(baseCopy))

    // arrivals: the delta split dealt in a seeded order into equal batches
    val delta = Tables.documents(r.spark, dataDir)
      .filter(col("doc_id") >= ProbeCap && col("lang") === "en" && col("doc_id") % 5 === 0)
    val arrivals = r.rng.shuffle(delta.select("doc_id").as[Long].collect().sorted.toSeq)
      .grouped(BatchDocs).filter(_.size == BatchDocs).toSeq
    def batch(ids: Seq[Long]): DataFrame = delta.filter(col("doc_id").isin(ids: _*))

    r.phase("warm-up")
    // a read-only screen of the batch that arrives last, excluded: without
    // it the first timed cycle pays the screen's JIT warm-up, and runs that
    // fit only two cycles report it in their median
    r.ledger.call("warm-up screen")(
      Pipeline.warmScreenAccepted(r.spark, stateDir, batch(arrivals.last)).count())
    r.spark.catalog.clearCache()

    r.phase("timed loop")
    // the traced run measures its first half untraced, for the overhead
    r.tracer.active = false
    val cycles = ArrayBuffer.empty[Cycle]
    val compacts = ArrayBuffer.empty[Double]
    // state size right after the first compact: later sizes depend on how
    // many batches the window fitted and how many appends await a compact
    var stateMb = Double.NaN
    val t0 = System.nanoTime()
    val end = r.deadline
    val half = t0 + (end - t0) / 2
    val pending = arrivals.init.iterator
    // at least two batches, with a compact after every CompactEvery-th
    // batch from the first on, then batches until time is up
    while (pending.hasNext && (System.nanoTime() < end || cycles.size < 2)) {
      if (r.args.trace && !r.tracer.active && System.nanoTime() >= half) r.tracer.active = true
      val ids = pending.next()
      r.ledger.call("ingest cycle") {
        Stats.secs(r.tracer("bench.cycle") {
          val acc = r.tracer("pipeline.screen") {
            val a = Pipeline.warmScreenAccepted(r.spark, stateDir, batch(ids))
            a.count()
            a
          }
          r.tracer("incremental.advance")(IncrementalState.advance(r.spark, stateDir, acc, "doc_id", "text"))
          acc
        })
      }.foreach { case (acc, s) =>
        cycles += Cycle(ids, acc.select("doc_id", "text").as[(Long, String)].collect().toSeq, s,
          r.tracer.active)
      }
      r.spark.catalog.clearCache()
      if (cycles.size % CompactEvery == 1)
        r.ledger.call("compact") {
          compacts += Stats.secs(r.tracer("incremental.compact")(IncrementalState.compact(r.spark, stateDir)))._2
          if (stateMb.isNaN) stateMb = IncrementalState.stats(r.spark, stateDir).values.map(_.bytes).sum / 1e6
        }
    }
    r.tracer.active = r.args.trace
    val stats = IncrementalState.stats(r.spark, stateDir)

    r.phase("checks")
    // IngestLoopBench's equivalence gate in cheap form, against the copy
    // of the base state taken before the loop
    val accepted = cycles.flatMap(_.accepted).toSeq
    val acceptedIds = accepted.map(_._1).toSet
    val offeredIds = cycles.flatMap(_.offered).toSeq
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    def rescreen(st: IncrementalState.Loaded, docs: Seq[Long]): Seq[(Long, Boolean, Long)] =
      IncrementalDedup.screenPartitioned(st.baseShP, st.basePartnersP, st.pMod, st.canonical,
          batch(docs).select("doc_id", "text"), "doc_id", "text", JaccardTau, prune = false, st.bucketCap)
        .select("doc_id", "novel", "dup_of").as[(Long, Boolean, Long)].collect().sorted.toSeq
    r.ledger.check("accepted ids are disjoint", acceptedIds.size == accepted.size,
      s"${accepted.size - acceptedIds.size} ids accepted twice")
    // 1. one warm screen of every offered batch at once accepts the same
    //    ids, up to duplicates split across batches: the screen compares a
    //    batch with the state only, so a one-shot screen accepts a document
    //    that the loop rejected as a duplicate of an earlier batch's
    //    keeper; of two identical texts it keeps the lower id, where the
    //    loop keeps the one that arrived first
    val oneShot = ids(Pipeline.warmScreenAccepted(r.spark, baseCopy, batch(offeredIds)))
    val (loopOnly, oneShotOnly) = (acceptedIds -- oneShot, oneShot -- acceptedIds)
    val explained = if (oneShotOnly.isEmpty) loopOnly.isEmpty else {
      // each one-shot-only document is a duplicate of a loop-accepted one
      val dups = rescreen(IncrementalState.load(r.spark, stateDir), oneShotOnly.toSeq)
      val text = batch((loopOnly ++ oneShotOnly).toSeq).select("doc_id", "text").as[(Long, String)]
        .collect().toMap
      dups.length == oneShotOnly.size && dups.forall { case (_, novel, of) => !novel && acceptedIds(of) } &&
        loopOnly.forall(x => oneShotOnly.exists(y => y < x && text(y) == text(x)))
    }
    r.ledger.check("accepted ids = one-shot screen", explained,
      s"loop-only ${loopOnly.toSeq.sorted}, one-shot-only ${oneShotOnly.toSeq.sorted}")
    // 2. a second screen implementation (the aggregate-per-batch
    //    screenPrepared, not the partitioned one warmScreenAccepted runs)
    //    finds near-duplicates of the base among the offered documents;
    //    none of them may have been accepted
    val base = IncrementalState.load(r.spark, baseCopy)
    val dupOfBase = ids(IncrementalDedup.screenPrepared(base.baseSh, base.baseBuckets,
      batch(offeredIds).select("doc_id", "text"), "doc_id", "text", JaccardTau).filter(!col("novel")))
    r.ledger.check("no accepted id is a near-duplicate of the base", (dupOfBase & acceptedIds).isEmpty,
      s"accepted near-duplicates ${(dupOfBase & acceptedIds).toSeq.sorted}")
    // 3. the loop's state holds exactly the keepers and hashes of a
    //    one-shot fold of every accepted batch into the base state
    IncrementalState.advance(r.spark, baseCopy, accepted.toDF("doc_id", "text"), "doc_id", "text")
    val (loop, once) = (IncrementalState.load(r.spark, stateDir), IncrementalState.load(r.spark, baseCopy))
    def same(what: String, a: DataFrame, b: DataFrame): Unit = {
      val (ab, ba) = (a.except(b).count(), b.except(a).count())
      r.ledger.check(s"state $what = one-shot", ab == 0 && ba == 0, s"loop-only $ab, one-shot-only $ba")
    }
    same("keepers", loop.baseExact, once.baseExact)
    same("hashes", loop.baseHashes, once.baseHashes)
    // 4. a re-screen of the first batch decides the same against both states
    val (dLoop, dOnce) = (rescreen(loop, cycles.head.offered), rescreen(once, cycles.head.offered))
    r.ledger.check("re-screen decisions = one-shot", dLoop == dOnce,
      s"differ on ${dLoop.diff(dOnce).take(5)}")
    println(f"[perfbench] ingest checks: ${offeredIds.size} offered, ${acceptedIds.size} accepted, " +
      f"one-shot ${oneShot.size} (${oneShotOnly.size} cross-batch duplicates), " +
      f"${dupOfBase.size} near-duplicates of the base, " +
      f"${dLoop.count(!_._2)} of ${dLoop.size} re-screened documents known")
    r.spark.catalog.clearCache()

    val untraced = cycles.filterNot(_.traced).toSeq
    val offered = offeredIds.size
    val compactS = Stats.median(compacts.toSeq)
    println(f"[perfbench] ingest: ${cycles.size} batches (${untraced.size} untraced), $offered docs " +
      f"offered, ${accepted.size} accepted, compacts ${compacts.map(c => f"$c%.2f").mkString(" ")} s, " +
      f"state $stateMb%.2f MB after the first compact, " +
      f"${stats.values.map(_.files).sum} files after the loop")
    if (!r.args.trace) {
      val secs = untraced.map(_.secs)
      Map(
        "setup_s" -> Metric(setupS, "s"),
        "latency_p50_s" -> Metric(Stats.median(secs), "s"),
        "latency_tail_s" -> Metric(Stats.tail(secs)._2, "s"),
        "throughput_per_s" -> Metric(offered / (cycles.map(_.secs).sum + compacts.sum), "1/s"),
        "mem_mb" -> Metric(stateMb, "MB"))
    } else {
      val traced = cycles.filter(_.traced).toSeq
      val n = math.max(traced.size, 1).toDouble
      val cycleAgg = r.tracer.spark(r.tracer.subtree("bench.cycle"))
      val advanceAgg = r.tracer.spark(r.tracer.subtree("incremental.advance"))
      val tracedSecs = traced.map(_.secs)
      Layers.report(Map(
        "pipeline.build_state_s" -> Stats.median(r.tracer.secs("pipeline.build_state")),
        "pipeline.screen_s" -> Stats.mean(r.tracer.secs("pipeline.screen")),
        "pipeline.accepted_share" -> accepted.size.toDouble / math.max(offered, 1),
        "incremental.advance_s" -> Stats.mean(r.tracer.secs("incremental.advance")),
        "incremental.compact_s" -> compactS,
        "incremental.state_files" -> stats.values.map(_.files).sum.toDouble,
        "incremental.bytes_written_per_batch" -> advanceAgg.outputBytes / n,
        "spark.jobs_per_batch" -> cycleAgg.jobs / n,
        "trace.overhead_s" -> (if (tracedSecs.isEmpty || untraced.isEmpty) 0.0
          else Stats.median(tracedSecs) - Stats.median(untraced.map(_.secs))))
        ++ Layers.sparkPerOp(r, "bench.cycle", traced.size, tracedSecs.sum)
        ++ Layers.selfTimes(r))
    }
  }
}
