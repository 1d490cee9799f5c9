package perfbench

import graft.{FuseRankConfig, FuseRankEngine, SearchMethod, Tables}
import graft.encode.{EncoderParams, Embedders, ProductEncoder}
import graft.prep.Prep
import graft.profile.Profiler
import graft.query._
import graft.search.Search
import graft.serve.IvfIndex
import graft.transform.Log2p1
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `interactive`: single `FuseRankEngine.search` calls, k = 10, about ¾
  * Retrieval and ¼ Reranking, on the in-repo flipkart twin (20K rows, the
  * default 200 harmonics = 885 dims, log-transformed prices).
  *
  * The index is small, so each query's fixed cost dominates: driver
  * embed, query encode, Catalyst planning, job launch and the broadcast
  * gather. A per-row kernel speed-up should barely show here.
  */
object Interactive extends Workload {

  private val K = 10
  private val Setups = 3
  /** Warm-up before timing: in a fresh session per-query latency keeps
    * falling for the first ~15 s of queries (JIT and Spark's code caches),
    * so the timed window starts after the steepest part of that curve. */
  private val WarmUpNs = 12000000000L
  // the batch and serving layers of the traced run
  private val P = 16
  private val Cells = 16
  private val NProbe = 2
  private val KMeansIters = 5

  final case class Query(text: String, filters: Seq[Filter], method: SearchMethod)

  private final case class Done(q: Query, secs: Double, traced: Boolean,
                                hits: Seq[(Long, Double)])

  private val config = FuseRankConfig(
    idCol = "row_id",
    textCols = Map("product_name" -> 0.4, "description" -> 0.3,
      "product_specifications_clean" -> 0.3),
    auxCols = Seq("product_category_1", "is_FK_Advantage_product",
      "discounted_price", "retail_price"),
    presetTransforms = Map("retail_price" -> Log2p1, "discounted_price" -> Log2p1),
    params = EncoderParams())

  /** The flipkart loader's prep (the flip1 query's shape): fill, split the
    * category tree, reformat specs, drop, number rows. */
  private def items(r: Run): DataFrame = {
    val raw = Tables.spread(Tables.flipkartSynth(r.spark,
      s"${r.args.root}/data/flipkart/flipkart_synth.csv.gz"))
      .withColumn("brand", coalesce(col("brand"), lit("n/a")))
      .withColumn("description", coalesce(col("description"), lit("n/a")))
    val shaped = Prep.flipkartShape(raw, "product_category_tree", "product_specifications")
      .withColumn("product_specifications_clean",
        coalesce(col("product_specifications_clean"), lit("")))
      .drop("pid", "uniq_id", "image", "product_rating", "overall_rating",
        "product_category_tree", "product_url", "crawl_timestamp",
        "product_specifications")
    Prep.withRowId(shaped, Seq(col("product_name"), col("brand"), col("description"),
      col("product_category_1"), col("product_category_2"), col("product_category_3"),
      col("product_specifications_clean"), col("is_FK_Advantage_product"),
      col("retail_price"), col("discounted_price"))).persist()
  }

  /** Builds and materializes the index over the cached items; returns it
    * with the block-manager MB the index adds. */
  private def build(r: Run, items: DataFrame): (FuseRankEngine, Double) = r.tracer("bench.setup") {
    val before = r.storageMb
    val eng = r.tracer("engine.index")(FuseRankEngine.index(items, config))
    r.tracer("engine.materialize")(eng.indexed.count())
    (eng, r.storageMb - before)
  }

  /** Query values come from the index's profiled value domains. Every
    * query carries one filter of each kind (sparse, binary, dense interval,
    * dense point) so that a query's cost depends on its method, not on how
    * many filters it drew; every fourth query re-ranks. */
  final class QueryGen(rng: scala.util.Random, eng: FuseRankEngine, words: IndexedSeq[String]) {
    private val cats = eng.profiles("product_category_1").distinctSorted.toIndexedSeq
    private val (b0, b1) = eng.profiles("is_FK_Advantage_product").binaryValues
    private var issued = 0L
    private def original(c: String): Double = {
      val p = eng.profiles(c) // profiled in log2(x + 1) scale
      math.pow(2, p.min + rng.nextDouble() * (p.max - p.min)) - 1
    }
    private def weight: Double = Seq(0.5, 1.0, 1.0, 1.5)(rng.nextInt(4))
    private def negated: Boolean = rng.nextDouble() < 0.25

    def next(): Query = {
      issued += 1
      val text =
        if (rng.nextDouble() < 0.25) ""
        else Seq.fill(1 + rng.nextInt(3))(words(rng.nextInt(words.size))).mkString(" ")
      val (a, b) = (original("discounted_price"), original("discounted_price"))
      Query(text, Seq(
        SparseFilter("product_category_1", rng.shuffle(cats).take(1 + rng.nextInt(3)), negated, weight),
        BinaryFilter("is_FK_Advantage_product", if (rng.nextBoolean()) b0 else b1, weight),
        DenseIntervalFilter("discounted_price", math.min(a, b), math.max(a, b), negated, weight),
        DensePointFilter("retail_price", original("retail_price"), negated, weight)),
        if (issued % 4 == 0) SearchMethod.Reranking else SearchMethod.Retrieval)
    }
  }

  def run(r: Run): Map[String, Metric] = {
    import r.spark.implicits._
    r.phase("load items")
    val it = items(r)
    it.count()
    r.phase("set-up")
    val setups = (1 to Setups).map { i =>
      val ((eng, mb), s) = Stats.secs(build(r, it))
      if (i < Setups) eng.indexed.unpersist()
      (eng, mb, s)
    }
    val (eng, indexMb, _) = setups.last
    val setupS = Stats.median(setups.map(_._3))
    val memMb = r.storageMb

    val words = eng.items.orderBy("row_id").select("product_name").limit(500)
      .as[String].collect().flatMap(_.toLowerCase.split("[^a-z]+")).filter(_.length >= 3)
      .distinct.sorted.toIndexedSeq
    val gen = new QueryGen(r.rng, eng, words)
    val encodeParams = QueryEncoder.Params(config.params.intervalEpsilon, config.params.rangeEpsilon)
    def textVec(q: Query) = r.tracer("query.embed")(config.embedder.embed(q.text))
    def fusedQuery(q: Query, tv: Array[Double]) = r.tracer("query.encode")(
      QueryEncoder.encode(eng.layout, q.filters.map(f => f.column -> f).toMap,
        textVec = tv, transforms = eng.transforms, params = encodeParams))

    val catalyst = ArrayBuffer.empty[Double]
    val done = ArrayBuffer.empty[Done]
    val fusedDirect = ArrayBuffer.empty[(Query, Seq[(Long, Double)])]
    def issue(q: Query): Option[(Double, Seq[(Long, Double)])] =
      r.ledger.call(s"search(${q.method}, '${q.text}', ${q.filters.size} filters)") {
        r.tracer("bench.query") {
          Stats.secs {
            val df = r.tracer("engine.search")(eng.search(q.text, q.filters, K, q.method))
            val rows = r.tracer(
              if (q.method == SearchMethod.Retrieval) "engine.collect" else "rerank.collect"
            )(df.collect())
            if (r.tracer.active)
              catalyst += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
            rows.map { row =>
              val rel = row.fieldIndex("relevance")
              (row.getAs[Number]("row_id").longValue, if (row.isNullAt(rel)) Double.NaN else row.getDouble(rel))
            }.toSeq
          }
        }
      }.map(_.swap)

    r.phase("warm-up")
    r.tracer.active = false
    val warm = System.nanoTime() + WarmUpNs
    while (System.nanoTime() < warm) issue(gen.next())
    r.phase("timed loop")
    // the traced run measures its first half untraced, for the overhead
    val t0 = System.nanoTime()
    val end = r.deadline
    val half = t0 + (end - t0) / 2
    while (System.nanoTime() < end) {
      if (r.args.trace && !r.tracer.active && System.nanoTime() >= half) r.tracer.active = true
      val q = gen.next()
      issue(q).foreach { case (s, hits) =>
        done += Done(q, s, r.tracer.active, hits)
        if (r.tracer.active && q.method == SearchMethod.Retrieval) {
          val fq = fusedQuery(q, textVec(q))
          fusedDirect += q -> r.tracer("search.fused_topk")(
            Search.fusedTopK(eng.indexed, "fused_vec", "row_id", fq, K).collect()
              .map(row => (row.getAs[Number](0).longValue, row.getDouble(1))).toSeq)
        }
      }
    }
    r.tracer.active = r.args.trace

    r.phase("checks")
    // every answer against a driver-side brute force over the collected
    // vectors (same 5-dp rounding, score desc / id asc)
    val vecs = eng.indexed.select(col("row_id").cast("long"), col("fused_vec"), col("text_vec"))
      .as[(Long, Array[Double], Array[Double])].collect()
    def brute(q: Array[Double], v: ((Long, Array[Double], Array[Double])) => Array[Double]) =
      Exact.topK(vecs.iterator.map(t => (t._1, v(t))), q, K)
    // the filter columns in the transformed scale the re-rank reads
    val filterCols = Seq("product_category_1", "is_FK_Advantage_product", "discounted_price", "retail_price")
    val rowsById = eng.itemsTransformed.select(col("row_id").cast("long") +: filterCols.map(col): _*)
      .collect().map(row => row.getLong(0) -> filterCols.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i + 1)) null else row.get(i + 1))
      }.toMap).toMap
    val minMax = eng.profiles.map { case (c, p) => c -> (p.min, p.max) }
    done.foreach { d =>
      val tv = config.embedder.embed(d.q.text)
      d.q.method match {
        case SearchMethod.Retrieval =>
          val want = brute(fusedQuery(d.q, tv), _._2)
          r.ledger.check("retrieval top-k", d.hits == want, s"${d.q}: got ${d.hits} want $want")
        case SearchMethod.Reranking =>
          // the text-only top-k, re-ranked on the driver
          val want = Exact.rerank(brute(tv, _._3).map { case (id, s) => (id, s, rowsById(id)) },
            d.q.filters, eng.transforms, minMax)
          r.ledger.check("reranking top-k", Exact.same(d.hits, want), s"${d.q}: got ${d.hits} want $want")
      }
    }
    fusedDirect.foreach { case (q, hits) =>
      val want = brute(fusedQuery(q, config.embedder.embed(q.text)), _._2)
      r.ledger.check("Search.fusedTopK", hits == want, s"$q: got $hits want $want")
    }

    val untraced = done.filterNot(_.traced)
    val retrieval = untraced.filter(_.q.method == SearchMethod.Retrieval).map(_.secs).toSeq
    val rerank = untraced.filter(_.q.method == SearchMethod.Reranking).map(_.secs).toSeq
    val rerankP50 = if (rerank.isEmpty) Double.NaN else Stats.median(rerank)
    println(f"[perfbench] interactive: ${retrieval.size} retrieval + ${rerank.size} reranking " +
      f"untraced searches (reranking p50 $rerankP50%.3f s), setups " +
      f"${setups.map(_._3).map(s => f"$s%.2f").mkString(" ")} s, " +
      f"index $indexMb%.1f MB of $memMb%.1f MB cached, ${eng.layout.dim} dims")

    if (!r.args.trace) {
      val (p, tail) = Stats.tail(retrieval)
      println(f"[perfbench] interactive: retrieval tail = p$p%.0f of ${retrieval.size} samples")
      Map(
        "setup_s" -> Metric(setupS, "s"),
        "latency_p50_s" -> Metric(Stats.median(retrieval), "s"),
        "latency_tail_s" -> Metric(tail, "s"),
        "throughput_per_s" -> Metric(retrieval.size / retrieval.sum, "1/s"),
        "mem_mb" -> Metric(memMb, "MB"))
    } else {
      val traced = done.filter(_.traced).toSeq
      r.phase("single-layer calls")
      // calls the engine makes internally, timed directly
      val tr = eng.itemsTransformed
      val (_, profileS) = Stats.secs(r.tracer("profile.profile")(Profiler.profile(tr, config.auxCols)))
      val withText = Embedders.fuseInto(Tables.spread(tr), config.embedder, config.textCols,
        "text_vec").persist()
      val (_, fuseS) = Stats.secs(r.tracer("encode.fuse_text")(withText.count()))
      val (_, productS) = Stats.secs(r.tracer("encode.product")(
        ProductEncoder.encode(withText, eng.layout).write.format("noop").mode("overwrite").save()))
      withText.unpersist()

      // the batch and serving layers, on the traced queries that have text:
      // one searchBatch and one Search.multiTopK over the fused vectors, and
      // the IVF tier over text_vec
      val batchQs = traced.map(_.q).filter(_.text.nonEmpty).take(P)
      val fused = batchQs.map(q => fusedQuery(q, config.embedder.embed(q.text)))
      val (batch, batchS) = Stats.secs(r.tracer("engine.search_batch")(
        eng.searchBatch(batchQs.map(q => (q.text, q.filters)), K)
          .select("query_idx", "row_id", "relevance").collect()))
      val byQuery = batch.groupBy(_.getInt(0)).map { case (i, rs) =>
        i -> rs.map(row => (row.getAs[Number](1).longValue, row.getDouble(2))).toSeq
      }
      fused.zipWithIndex.foreach { case (q, i) =>
        val want = brute(q, _._2)
        r.ledger.check("searchBatch top-k", byQuery.getOrElse(i, Nil) == want,
          s"query $i: got ${byQuery.get(i)} want $want")
      }
      val (_, multiS) = Stats.secs(r.tracer("search.multitopk")(
        Search.multiTopK(eng.indexed, "fused_vec", "row_id", fused, K)))
      val multiAgg = r.tracer.spark(r.tracer.subtree("search.multitopk"))

      val (ivf, writeS) = Stats.secs(r.tracer("serve.write")(
        IvfIndex.write(eng.indexed, "text_vec", "row_id", r.freshDir("ivf"), Cells, KMeansIters)))
      val textVecs = batchQs.map(q => config.embedder.embed(q.text))
      val (probed, probeS) = Stats.secs(r.tracer("serve.probe_batch")(
        IvfIndex.probedTopKBatch(r.spark, ivf, textVecs, NProbe, K)))
      val exactCos = textVecs.map(q => Exact.cosineTopK(vecs.iterator.map(t => (t._1, t._3)), q, K))
      r.ledger.check("IVF at nProbe = all cells",
        IvfIndex.probedTopKBatch(r.spark, ivf, textVecs, Cells, K) == exactCos, "differs from exact cosine")
      val recall = Stats.mean(probed.zip(exactCos).map { case (got, want) =>
        got.map(_._1).toSet.intersect(want.map(_._1).toSet).size.toDouble / math.max(want.size, 1)
      })
      // what the probe's parquet scan reported reading: cell directories and files
      val probeSpans = r.tracer.subtree("serve.probe_batch")
      val cells = r.tracer.sqlMetric(probeSpans, "Scan parquet", "number of partitions read")
      val files = r.tracer.sqlMetric(probeSpans, "Scan parquet", "number of files read")

      val tracedRet = traced.filter(_.q.method == SearchMethod.Retrieval).map(_.secs)
      val n = traced.size
      Layers.report(Map(
        "engine.index_call_s" -> Stats.median(r.tracer.secs("engine.index")),
        "engine.materialize_s" -> Stats.median(r.tracer.secs("engine.materialize")),
        "engine.index_mb" -> indexMb,
        "engine.search_call_s" -> Stats.mean(r.tracer.secs("engine.search")),
        "engine.search_collect_s" -> Stats.mean(r.tracer.secs("engine.collect")),
        "engine.search_batch_s" -> batchS,
        "rerank.collect_s" -> Stats.mean(r.tracer.secs("rerank.collect")),
        "encode.fuse_text_s" -> fuseS,
        "encode.product_s" -> productS,
        "profile.s" -> profileS,
        "query.embed_us" -> Stats.mean(r.tracer.secs("query.embed")) * 1e6,
        "query.encode_us" -> Stats.mean(r.tracer.secs("query.encode")) * 1e6,
        "search.fused_topk_s" -> Stats.mean(r.tracer.secs("search.fused_topk")),
        "search.multitopk_s" -> multiS,
        "search.multitopk_tasks" -> multiAgg.tasks.toDouble,
        "search.multitopk_task_skew" -> multiAgg.skew,
        // rows the cached-index scan handed to the scoring kernel
        "search.rows_scored_per_query" -> r.tracer.sqlMetric(r.tracer.subtree("search.fused_topk"),
          "InMemoryTableScan", "number of output rows") / math.max(fusedDirect.size, 1).toDouble,
        "serve.write_s" -> writeS,
        "serve.cells_probed" -> cells.toDouble,
        "serve.files_read_per_batch" -> files.toDouble,
        "serve.bytes_read_per_batch" -> r.tracer.spark(r.tracer.subtree("serve.probe_batch")).inputBytes.toDouble,
        "serve.probe_batch_s" -> probeS,
        "serve.recall_at_10" -> recall,
        "spark.catalyst_s" -> Stats.mean(catalyst.toSeq),
        "spark.jobs_per_query" -> r.tracer.spark(r.tracer.subtree("bench.query")).jobs / math.max(n, 1).toDouble,
        "trace.overhead_s" -> (if (tracedRet.isEmpty || retrieval.isEmpty) 0.0
          else Stats.median(tracedRet) - Stats.median(retrieval)))
        ++ Layers.sparkPerOp(r, "bench.query", n, traced.map(_.secs).sum)
        ++ Layers.selfTimes(r))
    }
  }
}

/** Driver-side exact top-k: the engine's score arithmetic (left-to-right
  * dot, Spark's 5-dp HALF_UP round, −0.0 collapsed) and its order (score
  * desc, id asc). */
object Exact {
  def round5(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(5, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  def dot(v: Array[Double], q: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * q(i); i += 1 }
    s
  }

  private def best(scored: Iterator[(Long, Double)], k: Int): Seq[(Long, Double)] =
    scored.toSeq.sortWith { case ((ia, sa), (ib, sb)) =>
      val c = java.lang.Double.compare(sb, sa)
      c < 0 || (c == 0 && ia < ib)
    }.take(k)

  /** Spark's double order: NaN above everything, −0.0 equal to 0.0. */
  private def cmpDouble(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's string order: unsigned UTF-8 bytes. */
  private def cmpString(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    java.util.Arrays.compareUnsigned(x, y)
  }

  /** Equal ids in equal order, and relevance equal (NaN standing for null). */
  def same(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((ia, sa), (ib, sb)) =>
      ia == ib && (sa == sb || (sa.isNaN && sb.isNaN))
    }

  /** Driver-side `Rerank.rerank` of the gathered top-k for the sparse,
    * binary, dense-interval and dense-point filters: in declaration order,
    * relevance += (2·(r − 1)/(n − 1) − 1) · weight, where r is the average
    * 1-based position of the row's key among equal keys (the key ordered
    * ascending or descending, nulls last; a null key makes relevance
    * null, here NaN). Dense filter values are mapped through the fitted
    * transform first, as the engine does. Returns (id, relevance) in
    * (relevance desc, id asc) order. */
  def rerank(top: Seq[(Long, Double, Map[String, Any])], filters: Seq[graft.query.Filter],
             transforms: Map[String, graft.transform.FittedTransform],
             minMax: Map[String, (Double, Double)]): Seq[(Long, Double)] = {
    import graft.query._
    val n = top.size
    val rel = top.map(_._2).toArray
    def num(c: String): IndexedSeq[Option[Double]] =
      top.map(t => Option(t._3(c)).map(_.asInstanceOf[Number].doubleValue)).toIndexedSeq
    def str(c: String): IndexedSeq[Option[String]] = top.map(t => Option(t._3(c)).map(_.toString)).toIndexedSeq
    def scale(c: String, v: Double): Double = transforms.get(c).fold(v)(_.applyScalar(v))
    def norm[K](keys: IndexedSeq[Option[K]], ascending: Boolean, cmp: (K, K) => Int): IndexedSeq[Double] = {
      val order = keys.indices.sortWith { (i, j) =>
        (keys(i), keys(j)) match {
          case (Some(a), Some(b)) => if (ascending) cmp(a, b) < 0 else cmp(a, b) > 0
          case (Some(_), None) => true
          case _ => false
        }
      }
      val pos = order.zipWithIndex.map { case (i, p) => i -> (p + 1) }.toMap
      keys.indices.map { i =>
        keys(i).fold(Double.NaN) { k =>
          val tied = keys.indices.filter(j => keys(j).exists(cmp(_, k) == 0))
          val avg = tied.map(pos(_).toDouble).sum / tied.size
          2.0 * (avg - 1) / (n - 1) - 1
        }
      }
    }
    filters.foreach { f =>
      val adj: IndexedSeq[Double] = f match {
        case DensePointFilter(c, v0, negated, _) =>
          val (mn, mx) = minMax.getOrElse(c, (Double.NaN, Double.NaN))
          val v = scale(c, v0)
          if (v == mx) norm(num(c), ascending = true, cmpDouble)
          else if (v == mn) norm(num(c), ascending = false, cmpDouble)
          else norm(num(c).map(x => Some(x.fold(Double.MaxValue)(x => math.abs(v - x)))), negated, cmpDouble)
        case DenseIntervalFilter(c, lo0, hi0, negated, _) =>
          val (lo, hi) = (scale(c, lo0), scale(c, hi0))
          norm(num(c).map(x => Some(x.fold(Double.MaxValue)(x =>
            if (x >= lo && x <= hi) Double.MinPositiveValue else x))), negated, cmpDouble)
        case BinaryFilter(c, v, _) =>
          norm(str(c).map(x => Some(x.fold("'")(x => if (x == v) " " else x))), ascending = false, cmpString)
        case SparseFilter(c, sel, negated, _) =>
          val vals = str(c)
          if (!vals.exists(_.exists(sel.contains))) IndexedSeq.fill(n)(0.0)
          else norm(vals.map(x => Some(x.fold("'")(x => if (sel.contains(x)) " " else x))), negated, cmpString)
        case other => sys.error(s"no driver-side re-rank for $other")
      }
      adj.indices.foreach(i => rel(i) = rel(i) + adj(i) * f.weight)
    }
    top.map(_._1).zip(rel).sortWith { case ((ia, sa), (ib, sb)) =>
      val c = cmpDouble(sb, sa)
      c < 0 || (c == 0 && ia < ib)
    }
  }

  def topK(rows: Iterator[(Long, Array[Double])], q: Array[Double], k: Int): Seq[(Long, Double)] =
    best(rows.filter(_._2 != null).map { case (id, v) => (id, round5(dot(v, q))) }, k)

  /** IvfIndex's rounded cosine: q·v / (‖q‖ · ‖v‖). */
  def cosineTopK(rows: Iterator[(Long, Array[Double])], q: Array[Double], k: Int): Seq[(Long, Double)] = {
    val qn = math.sqrt(dot(q, q))
    best(rows.filter(_._2 != null).map { case (id, v) =>
      (id, round5(dot(q, v) / (qn * math.sqrt(dot(v, v)))))
    }, k)
  }
}
