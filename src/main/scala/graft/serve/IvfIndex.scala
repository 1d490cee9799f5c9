package graft.serve

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.search.Search
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PqCodes
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import scala.jdk.CollectionConverters._

/** IVF-partitioned serving index: the IVF × codec composition of the FAISS
  * index factory, on parquet. [[Search.knnIvf]] proves the IVF math but
  * scans the whole vector relation per query batch; at cluster scale the
  * index must live on disk PARTITIONED BY the coarse cell so a probed
  * query only READS nProbe/nCentroids of the files — Spark's partition
  * pruning (directory-level, before any IO) is then the file-skipping an
  * IVF serving system does with its inverted lists.
  *
  * Layout: one parquet dataset partitioned by `cid`. Every row carries
  * (id, v, vn) — norms precomputed at build time so serving never
  * recomputes them — plus any metadata columns and the code columns of
  * the index's [[Tier]]. The fitted centroids and the tier's name live in
  * a `_centroids.json` sidecar and the tier's fitted parameters in
  * `_<sidecar>.json` (underscore prefix: invisible to Spark's file
  * listing), so a serving session opens the index without refitting or
  * rescanning.
  *
  * Every tier runs the same probe pipeline: prune to the probed cells →
  * optional predicate → score the tier's narrow projection → top-n →
  * optional exact-cosine refine over an id-pruned re-read. A compressed
  * tier thereby prunes on two axes: directories (`cid IN (probes)`) and
  * columns (its shortlist reads only id + its code columns).
  */
object IvfIndex {

  /** A written index: the dataset at `path`, its coarse centroids and the
    * codec tier its rows carry. */
  final case class Index(path: String, centroids: Array[Array[Double]], tier: Tier) {
    require(centroids.nonEmpty, s"index at $path has no centroids (no non-null vectors?)")
    val dim: Int = centroids(0).length
  }

  /** Fits a tier on the (id, v) rows being indexed, given the vector width. */
  type Fit = (DataFrame, Int) => Tier

  /** The codec half of IVF × codec. A tier supplies only its fitted
    * parameters (the `_<sidecar>.json` fields), the columns it encodes
    * from `v`, the columns its shortlist reads with the score it ranks
    * them by, and whether that shortlist must be refined against the
    * exact vectors. `name` also labels the tier in planner curves. */
  sealed abstract class Tier(val name: String, private[serve] val sidecar: String) {
    private[serve] def params: Seq[(String, Any)] = Nil
    private[serve] def encode: Seq[(String, Column)] = Nil
    /** Shortlist projection (besides `id`); the head is the scored column. */
    private[serve] def reads: Seq[String]
    /** Unrounded per-row score of query `q` over [[reads]]. */
    private[serve] def score(q: Array[Double]): Column
    private[serve] def mustRefine: Boolean = false
    /** Bytes per row the shortlist scan reads — what a scan budget bounds. */
    private[serve] def scanBytes(dim: Int): Int
  }

  /** Exact cosine over the full-precision vectors: the reference ranking. */
  case object Flat extends Tier("flat", "") {
    private[serve] def reads = Seq("v", "vn")
    private[serve] def score(q: Array[Double]) = cosine(q, "v", "vn")
    private[serve] def scanBytes(dim: Int) = dim * 8
  }

  /** Product quantization (FAISS IVFPQ): `m` packed code bytes per row,
    * scored by asymmetric distance — the lookup-sum over the per-query
    * table T[j][c] = ⟨q_j, books(j)(c)⟩ ([[Search.knnPq]]). Codes quantize
    * the RAW vectors; an exact refine (`shortlist` > 0) recovers the tail
    * accuracy the residual-quantizing FAISS variant buys with per-cell
    * tables. */
  final case class Pq(books: Array[Array[Array[Double]]]) extends Tier("pq", "pq") {
    require(books.nonEmpty && books(0).length <= 256,
      s"ksub ${books.headOption.map(_.length).getOrElse(0)} exceeds the one-byte code width")
    override private[serve] def params = Seq("books" -> books)
    override private[serve] def encode = Seq("codes" ->
      PqCodes.pack(Search.pqCodes(col("v"), books, books.length * books(0)(0).length)))
    private[serve] def reads = Seq("codes")
    private[serve] def score(q: Array[Double]) = {
      val dsub = books(0)(0).length
      val table = for (j <- books.indices; c <- books(j).indices) yield {
        var s = 0.0; var i = 0
        while (i < dsub) { s += q(j * dsub + i) * books(j)(c)(i); i += 1 }
        s
      }
      PqCodes.adcPacked(col("codes"), typedLit(table), books(0).length)
    }
    private[serve] def scanBytes(dim: Int) = books.length
  }
  object Pq {
    def fit(m: Int, ksub: Int, iters: Int): Fit = {
      require(ksub <= 256, s"ksub $ksub exceeds the one-byte code width")
      (rows, dim) => Pq(Search.pqCodebooks(rows, "v", "id", dim, m, ksub, iters))
    }
  }

  /** Scalar quantization to 8 bits (FAISS IVF+SQ8): dim packed bytes per
    * row on the per-dimension (min, max) grid. The per-query table
    * T[i][c] = (mn_i + c·Δ_i/255)·q_i folds dequantization into the same
    * byte lookup-sum as PQ ([[Search.knnSq]]). The error is ≤ Δ_i/510 per
    * dimension, so the tier serves without a refine. */
  final case class Sq8(mins: Array[Double], maxs: Array[Double]) extends Tier("sq8", "sq") {
    override private[serve] def params = Seq("mins" -> mins, "maxs" -> maxs)
    override private[serve] def encode =
      Seq("sq" -> PqCodes.pack(Search.sqCodes(col("v"), mins, maxs)))
    private[serve] def reads = Seq("sq")
    private[serve] def score(q: Array[Double]) = {
      val table = new Array[Double](mins.length * 256)
      for (i <- mins.indices; c <- 0 until 256)
        table(i * 256 + c) = (mins(i) + c * (maxs(i) - mins(i)) / 255.0) * q(i)
      PqCodes.adcPacked(col("sq"), typedLit(table.toSeq), 256)
    }
    private[serve] def scanBytes(dim: Int) = dim
  }
  object Sq8 {
    val fit: Fit = (rows, dim) => {
      val (mins, maxs) = Search.sqParams(rows, "v", dim)
      Sq8(mins, maxs)
    }
  }

  /** Binary signatures: ⌈dim/64⌉ BIGINT words per row, bit i set iff
    * v_i > thresholds(i) ([[Search.bqSignatures]]). The shortlist ranks by
    * negated Hamming distance — score-desc/id-asc is exactly
    * Hamming-asc/id-asc — and is too coarse to serve unrefined. */
  final case class Bq(thresholds: Array[Double]) extends Tier("binary", "bq") {
    override private[serve] def params = Seq("thresholds" -> thresholds)
    override private[serve] def encode =
      Seq("sig" -> Search.bqSignatures(col("v"), thresholds))
    private[serve] def reads = Seq("sig")
    private[serve] def score(q: Array[Double]) = {
      // the driver twin of bqSignatures: same strict >, same word layout
      val words = q.indices.grouped(64).map(_.foldLeft(0L) { (w, i) =>
        if (q(i) > thresholds(i)) w | (1L << (i % 64)) else w
      }).toSeq
      -Search.hammingDistance(col("sig"), typedLit(words))
    }
    override private[serve] def mustRefine = true
    private[serve] def scanBytes(dim: Int) = (dim + 63) / 64 * 8
  }
  object Bq {
    val fit: Fit = (rows, dim) => Bq(Search.bqThresholds(rows, "v", dim))
  }

  /** Matryoshka prefix: the vector's own first `prefixDim` coordinates
    * (`pre`) and their norm (`pn`), scored by the truncated cosine. No fit
    * artifact beyond the width; truncation is the only error source. */
  final case class Mrl(prefixDim: Int) extends Tier("mrl", "mrl") {
    require(prefixDim > 0, s"prefixDim must be positive: $prefixDim")
    override private[serve] def params = Seq("prefixDim" -> prefixDim)
    override private[serve] def encode = Seq(
      "pre" -> slice(col("v"), 1, prefixDim), "pn" -> Search.l2Norm(col("pre")))
    private[serve] def reads = Seq("pre", "pn")
    private[serve] def score(q: Array[Double]) = cosine(q.take(prefixDim), "pre", "pn")
    override private[serve] def mustRefine = true
    private[serve] def scanBytes(dim: Int) = prefixDim * 8
  }
  object Mrl {
    def fit(prefixDim: Int): Fit = {
      val t = Mrl(prefixDim)
      (_, _) => t
    }
  }

  /** q·v / (‖q‖·‖v‖) against a vector column and its stored norm. */
  private def cosine(q: Array[Double], v: String, norm: String): Column = {
    var qn = 0.0; var j = 0
    while (j < q.length) { qn += q(j) * q(j); j += 1 }
    Search.dot(typedLit(q.toSeq), col(v)) / (lit(math.sqrt(qn)) * col(norm))
  }

  /** Fit nCentroids on the vectors, fit the tier, encode every row and
    * write partitioned by cell. The write shuffles nothing: assignment and
    * encoding are narrow projections and the parquet writer splits files
    * by partition value. */
  def write(vectors: DataFrame, vecCol: String, idCol: String, path: String,
            nCentroids: Int, iters: Int, metaCols: Seq[String] = Nil,
            tier: Fit = (_, _) => Flat): Index = {
    val cents = Search.ivfCentroids(vectors, vecCol, idCol, nCentroids, iters)
    val rows = vectors.filter(col(vecCol).isNotNull)
      .select(Seq(col(idCol).cast("long").as("id"),
        Search.asDouble(col(vecCol)).as("v")) ++ metaCols.map(col): _*)
    val flat = Index(path, cents, Flat)
    val ix = flat.copy(tier = tier(rows, flat.dim))
    val reserved = Seq("id", "v", "vn", "cid") ++ ix.tier.encode.map(_._1)
    val clash = metaCols.filter(reserved.contains)
    require(clash.isEmpty,
      s"metaCols ${clash.mkString(", ")} collide with the index layout's " +
        s"reserved columns (${reserved.mkString(", ")}) — rename them before indexing")
    encoded(rows, ix).write.mode("overwrite").partitionBy("cid").parquet(path)
    val spark = vectors.sparkSession
    writeSidecar(spark, path, "_centroids.json",
      json(Seq("tier" -> ix.tier.name, "centroids" -> cents)))
    if (ix.tier.params.nonEmpty)
      writeSidecar(spark, path, s"_${ix.tier.sidecar}.json", json(ix.tier.params))
    ix
  }

  /** The stored form of (id, v, ...) rows: norm, tier codes, cell. */
  private def encoded(rows: DataFrame, ix: Index): DataFrame =
    ix.tier.encode.foldLeft(rows.withColumn("vn", Search.l2Norm(col("v")))) {
      case (df, (name, e)) => df.withColumn(name, e)
    }.withColumn("cid", Search.ivfAssign(col("v"), ix.centroids))

  /** Reopen a written index from its sidecars — no scan, no refit; the
    * tier is the one whose sidecar is present (none: flat). Sweeps any
    * maintenance-crash leftovers first ([[recover]]). Malformed, unknown
    * or conflicting sidecars fail loudly, and so does a missing one: the
    * centroid sidecar names the tier the index was written with. Indexes
    * written before that name was recorded (a bare centroid array) open
    * as whichever tier's sidecar is present. */
  def open(spark: SparkSession, path: String): Index = {
    recover(spark, path)
    val root = new Path(path)
    val found = root.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(root)
      .map(_.getPath.getName).filter(n => n.startsWith("_") && n.endsWith(".json"))
      .map(_.stripPrefix("_").stripSuffix(".json")).filter(_ != "centroids").toSeq
    require(found.size <= 1 && found.forall(decoders.contains),
      s"index at $path has unknown or conflicting tier sidecars: ${found.mkString(", ")}")
    val tier = found.headOption.fold[Tier](Flat)(s =>
      decoders(s)(readSidecar(spark, path, s"_$s.json")))
    val c = readSidecar(spark, path, "_centroids.json")
    val written = if (c.isArray) tier.name else field(c, "tier").asText
    require(written == tier.name,
      s"index at $path was written as tier $written but its sidecar is missing")
    Index(path, elems(if (c.isArray) c else field(c, "centroids")).map(doubles).toArray, tier)
  }

  private val decoders: Map[String, JsonNode => Tier] = Map(
    "pq" -> (j => Pq(elems(field(j, "books")).map(b => elems(b).map(doubles).toArray).toArray)),
    "sq" -> (j => Sq8(doubles(field(j, "mins")), doubles(field(j, "maxs")))),
    "bq" -> (j => Bq(doubles(field(j, "thresholds")))),
    "mrl" -> { j =>
      val p = field(j, "prefixDim")
      require(p.isInt, s"prefixDim is not an integer: $p")
      Mrl(p.intValue)
    })

  private def field(j: JsonNode, name: String): JsonNode = {
    require(j.isObject && j.has(name), s"sidecar lacks '$name'")
    j.get(name)
  }
  private def elems(j: JsonNode): Seq[JsonNode] = {
    require(j.isArray, s"expected a JSON array: $j")
    j.asScala.toSeq
  }
  private def doubles(j: JsonNode): Array[Double] = elems(j).map { e =>
    require(e.isNumber, s"expected a number: $e")
    e.doubleValue
  }.toArray

  /** Arrays, (key, value) fields and scalars, rendered with Scala's
    * shortest round-tripping `toString` so doubles reopen bit-equal. */
  private def json(x: Any): String = x match {
    case a: Array[_] => a.map(json).mkString("[", ",", "]")
    case fields: Seq[_] => fields.map { case (k, v) => s""""$k": ${json(v)}""" }
      .mkString("{", ", ", "}")
    case s: String => s""""$s""""
    case v => v.toString
  }

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** Sidecars ride the SAME filesystem as the parquet dataset (Hadoop
    * FileSystem resolved from the path + session Hadoop conf) — java.nio
    * would silently write a driver-local file when `path` is hdfs://,
    * s3a:// etc., separating index and parameters on the very deployments
    * the layout exists for. */
  private def writeSidecar(spark: SparkSession, path: String, name: String,
                           json: String): Unit = {
    val p = new Path(path, name)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSidecar(spark: SparkSession, path: String, name: String): JsonNode = {
    val p = new Path(path, name)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    try mapper.readTree(in) finally in.close()
  }

  /** The nProbe nearest cells to `q` — the same L2 ordering (ties on cell
    * id) the assignment and [[Search.knnIvf]]'s probe selection use. */
  def probeCells(ix: Index, q: Array[Double], nProbe: Int): Seq[Int] =
    ix.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val t = q(j) - c(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy { case (cid, d) => (d, cid) }
      .take(nProbe).map(_._1).toSeq

  /** The pruned dataset a probe set reads: `cid IN (cells)` is a partition
    * filter, so non-probed directories are skipped before any IO. Exposed
    * so specs can pin the scan's numFiles metric on the exact DataFrame
    * the serving paths score. */
  private[graft] def prunedScan(spark: SparkSession, ix: Index, cells: Seq[Int]): DataFrame =
    spark.read.parquet(ix.path)
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))

  /** Top `n` of one scan under a tier's score, rounded like every serving
    * score (5 dp, −0.0 collapsed), ties on ascending id — the single-query
    * stage, planned as TakeOrderedAndProject over the narrow projection. */
  private def topN(scan: DataFrame, tier: Tier, q: Array[Double], n: Int): DataFrame =
    scan.select(col("id") +: tier.reads.map(col): _*)
      .withColumn("score", round(tier.score(q), 5) + 0.0)
      .orderBy(col("score").desc, col("id"))
      .limit(n)
      .select(col("id").as("vec_id"), col("score"))

  /** The shortlist stage of a probe as a visible DataFrame: (vec_id,
    * score) of the top `n` rows of the probed cells by the index's tier
    * score. Exposed so callers can inspect the plan the first stage runs —
    * a compressed tier's scan reads its code columns, never `v`/`vn`. */
  def shortlist(spark: SparkSession, ix: Index, q: Array[Double], nProbe: Int,
                n: Int): DataFrame =
    topN(probeScan(spark, ix, q, nProbe, None), ix.tier, q, n)

  private def probeScan(spark: SparkSession, ix: Index, q: Array[Double], nProbe: Int,
                        pred: Option[Column]): DataFrame = {
    val scan = prunedScan(spark, ix, probeCells(ix, q, nProbe))
    pred.fold(scan)(scan.filter)
  }

  /** Refine iff a shortlist is asked for. Tiers that must refine need one;
    * the flat tier, already exact, takes none. */
  private def refines(tier: Tier, shortlist: Int, k: Int): Boolean = {
    require(shortlist > 0 || !tier.mustRefine,
      s"tier ${tier.name} must refine: pass shortlist >= k=$k")
    require(shortlist == 0 || tier != Flat, s"tier flat is exact: it takes no shortlist")
    require(shortlist == 0 || shortlist >= k, s"shortlist $shortlist smaller than k=$k")
    shortlist > 0
  }

  /** Probed top-k of one query: the `cid IN (probes)` partition filter
    * prunes directories, `pred` (a metadata filter over `metaCols`) lands
    * in the scan's PushedFilters BEFORE scoring — so a selective filter
    * never starves k the way a post-filter does — and the tier scores its
    * narrow projection. With `shortlist` > 0 (required by binary and MRL)
    * the top `shortlist` ids are collected and ONE id-pruned re-read of
    * the probed cells re-ranks just those rows by exact cosine (the FAISS
    * refine recipe): bounded by the shortlist, not the data. */
  def probedTopK(spark: SparkSession, ix: Index, q: Array[Double], nProbe: Int,
                 k: Int, shortlist: Int = 0, pred: Option[Column] = None): DataFrame = {
    val refine = refines(ix.tier, shortlist, k)
    val scan = probeScan(spark, ix, q, nProbe, pred)
    if (!refine) topN(scan, ix.tier, q, k)
    else {
      val ids = topN(scan, ix.tier, q, shortlist).collect().map(_.getLong(0))
      topN(scan.filter(col("id").isin(ids.map(java.lang.Long.valueOf): _*)), Flat, q, k)
    }
  }

  /** Batched probed top-k: P queries share one pruned scan per stage. The
    * probed cells are UNIONED across the batch, pruned ONCE, and all P
    * queries scored in the one scan via [[Search.multiTopK]]'s
    * per-partition k-heaps; a refine is a second scan over the union of
    * the shortlists. Each query's eligibility mask is its OWN probed
    * cells, its own predicate (`preds`, one per query or Nil) and, when
    * refining, its own shortlist — a row read only because some other
    * query wanted it never leaks in. Bit-identical to P sequential
    * [[probedTopK]] calls: same score expressions, same 5-dp round and
    * −0.0 collapse, same (score desc, id asc) tie-break.
    *
    * Scale shape: IO = union of probed directories (≤ min(P·nProbe,
    * nCentroids) cells — hot cells dedupe), compute = one pass with P
    * bounded heaps per stage, driver merge of ≤ partitions·P·k rows. */
  def probedTopKBatch(spark: SparkSession, ix: Index, queries: Seq[Array[Double]],
                      nProbe: Int, k: Int, shortlist: Int = 0,
                      preds: Seq[Column] = Nil): IndexedSeq[Seq[(Long, Double)]] = {
    require(preds.isEmpty || preds.size == queries.size,
      s"preds size ${preds.size} != queries size ${queries.size}")
    val refine = refines(ix.tier, shortlist, k)
    if (queries.isEmpty) return IndexedSeq.empty
    val cellsPer = queries.map(q => probeCells(ix, q, nProbe))
    val scan = prunedScan(spark, ix, cellsPer.flatten.distinct.sorted)
    val eligible = cellsPer.zipWithIndex.map { case (cs, i) =>
      val inCells = col("cid").isin(cs.map(Integer.valueOf): _*)
      if (preds.isEmpty) inCells else inCells && preds(i)
    }
    def topNs(scan: DataFrame, tier: Tier, n: Int, eligible: Seq[Column]) =
      Search.multiTopK(scan, tier.reads.head, "id", queries, n, eligible,
        scoreExpr = (_, q) => tier.score(q))
    if (!refine) topNs(scan, ix.tier, k, eligible)
    else {
      val idsPer = topNs(scan, ix.tier, shortlist, eligible)
        .map(_.map(t => java.lang.Long.valueOf(t._1)))
      topNs(scan.filter(col("id").isin(idsPer.flatten.distinct: _*)), Flat, k,
        eligible.zip(idsPer).map { case (e, ids) => e && col("id").isin(ids: _*) })
    }
  }

  /** Mean recall@k of `got` against reference id sets (an empty reference
    * counts as fully recalled). */
  private[serve] def recall(got: IndexedSeq[Seq[(Long, Double)]],
                            exact: IndexedSeq[Set[Long]]): Double =
    got.zip(exact).map { case (g, e) =>
      if (e.isEmpty) 1.0 else g.count(t => e(t._1)).toDouble / e.size
    }.sum / exact.size

  /** Recall-calibrated probe selection — the FAISS-autotune knob: the
    * SMALLEST nProbe whose mean recall@k on `sample` meets `target`
    * against the index's OWN exhaustive probe (for the flat tier, the
    * exact ranking; for a codec tier, the knob tunes the probe share while
    * quantization error stays the separate, fixed axis), plus every
    * (nProbe, recall) point measured. O(log nCentroids) batched pruned
    * scans, independent of corpus size. Covers the tiers that serve
    * unrefined (flat, PQ, SQ8); a binary or MRL index tunes its shortlist
    * with [[calibrateShortlist]] instead. */
  def calibrateNProbe(spark: SparkSession, ix: Index, sample: Seq[Array[Double]],
                      k: Int, target: Double): (Int, Seq[(Int, Double)]) = {
    require(!ix.tier.mustRefine,
      s"tier ${ix.tier.name} must refine: calibrate its shortlist with calibrateShortlist")
    val n = ix.centroids.length
    lazy val all = probedTopKBatch(spark, ix, sample, n, k) // reference AND the curve's last point
    bisect(1, n, sample, target, all,
      p => if (p == n) all else probedTopKBatch(spark, ix, sample, p, k))
  }

  /** The shortlisted tiers' knob: the minimal shortlist whose refined
    * top-k meets `target` recall against the exact ranking (the same
    * index with tier = [[Flat]]) at the same probe count. O(log
    * maxShortlist) batched two-scan rounds; an infeasible target throws. */
  def calibrateShortlist(spark: SparkSession, ix: Index, sample: Seq[Array[Double]],
                         nProbe: Int, k: Int, target: Double, maxShortlist: Int)
      : (Int, Seq[(Int, Double)]) = {
    require(maxShortlist >= k, s"maxShortlist $maxShortlist below k=$k")
    bisect(k, maxShortlist, sample, target,
      probedTopKBatch(spark, ix.copy(tier = Flat), sample, nProbe, k),
      s => probedTopKBatch(spark, ix, sample, nProbe, k, shortlist = s))
  }

  /** Minimal knob in [from, max] meeting `target` recall against `exact`.
    * Recall is monotone in the knob (the probed set / refine candidate set
    * only grows), so a doubling sweep from `from` brackets the answer and
    * a binary search pins it. An unreachable target THROWS: returning
    * `max` would look exactly like a successful calibration. */
  private def bisect(from: Int, max: Int, sample: Seq[Array[Double]], target: Double,
                     exact: => IndexedSeq[Seq[(Long, Double)]],
                     probe: Int => IndexedSeq[Seq[(Long, Double)]])
      : (Int, Seq[(Int, Double)]) = {
    require(sample.nonEmpty, "calibration needs at least one sample query")
    require(target > 0.0 && target <= 1.0, s"recall target $target outside (0,1]")
    val ref = exact.map(_.map(_._1).toSet)
    val measured = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    def recallAt(x: Int): Double = measured.getOrElseUpdate(x, recall(probe(x), ref))
    var lo = from - 1
    var hi = from
    while (hi < max && recallAt(hi) < target) { lo = hi; hi = math.min(hi * 2, max) }
    while (lo + 1 < hi) {
      val mid = (lo + hi) / 2
      if (recallAt(mid) >= target) hi = mid else lo = mid
    }
    val achieved = recallAt(hi)
    if (achieved < target)
      throw new IllegalStateException(
        f"recall target $target%.3f infeasible on this tier: recall at " +
          f"$max is $achieved%.3f — raise maxShortlist, nProbe, or the tier's fidelity")
    (hi, measured.toSeq.sortBy(_._1))
  }

  /** STREAMING index maintenance: append an arriving vector stream into
    * the same cid-partitioned layout, encoded exactly like [[write]]'s
    * rows (norm, tier codes) and assigned against the FIXED centroids —
    * no refit; the standard IVF maintenance contract (refit offline when
    * centroid drift matters, atomically swapping the directory). Uses
    * foreachBatch + the BATCH parquet writer on purpose: the file-sink's
    * `_spark_metadata` log would make subsequent batch reads see ONLY
    * sink-written files, silently hiding the base index — the classic
    * mixed-writer trap. The trade is at-least-once on batch replay
    * (serving tolerates a duplicate id: it scores identically and the id
    * tie-break dedupes at top-k grain). New files land in existing or new
    * cid= directories, so partition pruning covers streamed rows with
    * zero extra machinery. */
  def appendStream(stream: DataFrame, vecCol: String, idCol: String,
                   ix: Index, checkpoint: String): DataStreamWriter[Row] =
    encoded(stream.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), Search.asDouble(col(vecCol)).as("v")), ix)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("cid").parquet(ix.path)
      }

  /** Crash-safe cell swap used by [[delete]] and [[compact]]: the freshly
    * written `tmp` replaces the live `dir` with NO window where the cell's
    * only copy sits in a hidden dot-directory that Spark reads skip.
    * Ordering: move the live dir aside (`cid=N` → `.old-cid=N`), rename
    * the tmp in, then delete the old copy; if the rename-in fails the old
    * copy is restored so the index keeps serving its pre-swap state. A
    * crash at any point leaves a recoverable copy — [[recover]] (run by
    * [[open]] and at the start of every maintenance call) sweeps the
    * leftovers.
    *
    * Atomicity caveat (single maintenance writer assumed): HDFS/posix
    * `rename` is atomic; on object stores (s3a) rename is copy+delete, so
    * the swap is crash-SAFE (no state becomes unrecoverable) but not
    * crash-ATOMIC — a reader racing a mid-copy crash can see a partial
    * cell until [[recover]] runs. Reopen (or call [[recover]]) after any
    * maintenance crash before serving. */
  private def swapCell(fs: FileSystem, root: Path, dir: Path, tmp: Path): Unit = {
    val old = new Path(root, s".old-${dir.getName}")
    if (fs.exists(old)) fs.delete(old, true) // stale leftover, already superseded
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"move-aside $dir -> $old failed")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // restore the live copy before failing
      throw new java.io.IOException(s"rename $tmp -> $dir failed; live cell restored")
    }
    fs.delete(old, true)
  }

  /** Sweep the leftovers of a maintenance crash (see [[swapCell]]):
    * `.old-cid=N` with a live `cid=N` → the swap committed, drop the old
    * copy; `.old-cid=N` without one → the swap never committed, restore
    * it; a bare `.tmp-cid=N` → uncommitted write, drop it. Idempotent and
    * free on a clean index (one directory listing). Returns the swept
    * entry names. */
  def recover(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    val swept = scala.collection.mutable.ArrayBuffer.empty[String]
    entries.filter(_.getName.startsWith(".old-cid=")).foreach { old =>
      val live = new Path(root, old.getName.stripPrefix(".old-"))
      if (fs.exists(live)) fs.delete(old, true)
      else if (!fs.rename(old, live))
        throw new java.io.IOException(s"recovery rename $old -> $live failed")
      swept += old.getName
    }
    entries.filter(_.getName.startsWith(".tmp-cid=")).foreach { tmp =>
      fs.delete(tmp, true)
      swept += tmp.getName
    }
    swept.toSeq
  }

  /** Serving-index DELETE — the other half of the maintenance contract
    * next to [[appendStream]]: remove rows by id, rewriting ONLY the cell
    * directories that contain them. The doomed ids' cells are found with
    * one pruned-by-nothing (id, cid) projection — at scale an id→cid map
    * usually rides in the caller's metadata, so `cids` can be passed to
    * skip even that scan — then each affected cid= directory is read,
    * filtered, and swapped in crash-safe order ([[swapCell]]). Untouched
    * directories' files are never opened: delete IO is proportional to
    * the affected cells, not the index. Returns the number of affected
    * cells. */
  def delete(spark: SparkSession, ix: Index, ids: Seq[Long],
             cids: Option[Seq[Int]] = None): Int = {
    if (ids.isEmpty) return 0
    recover(spark, ix.path)
    val idSet = ids.map(java.lang.Long.valueOf)
    val affected: Seq[Int] = cids.getOrElse {
      spark.read.parquet(ix.path)
        .filter(col("id").isin(idSet: _*))
        .select("cid").distinct().collect().map(_.getInt(0)).toSeq
    }.sorted
    val root = new Path(ix.path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    affected.foreach { cid =>
      val dir = new Path(root, s"cid=$cid")
      if (fs.exists(dir)) {
        val tmp = new Path(root, s".tmp-cid=$cid")
        // read the single cell, drop the doomed rows, rewrite; the `cid`
        // partition column is directory-encoded, so the survivors keep
        // their schema and land back under cid=<cid>
        spark.read.parquet(dir.toString)
          .filter(!col("id").isin(idSet: _*))
          .write.mode("overwrite").parquet(tmp.toString)
        swapCell(fs, root, dir, tmp)
      }
    }
    affected.size
  }

  /** Serving-index COMPACTION — closes the maintenance triangle
    * (append / delete / compact): [[appendStream]] lands one small file
    * per (micro-batch × cell), and probed-query latency degrades with
    * file count. Rewrite every cell whose file count exceeds
    * `maxFilesPerCell` down to `targetFiles` files, with the same
    * crash-safe swap as [[delete]] — cells under the threshold are never
    * opened. Returns the compacted cell ids. */
  def compact(spark: SparkSession, ix: Index, maxFilesPerCell: Int,
              targetFiles: Int = 1): Seq[Int] = {
    require(maxFilesPerCell >= 1 && targetFiles >= 1,
      s"bad compaction bounds: max=$maxFilesPerCell target=$targetFiles")
    recover(spark, ix.path)
    val root = new Path(ix.path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val fragmented = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .map(_.getPath)
      .filter(dir => fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet")) >
        maxFilesPerCell)
    fragmented.map { dir =>
      val tmp = new Path(root, s".tmp-${dir.getName}")
      spark.read.parquet(dir.toString)
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      swapCell(fs, root, dir, tmp)
      dir.getName.stripPrefix("cid=").toInt
    }.sorted
  }
}
