package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - bruteForceTopK: exact baseline — broadcast the (small) query set,
  *     cosine against every corpus row, window top-k. One pass over the
  *     corpus, no corpus shuffle: at 100 TB this is the scan-everything
  *     floor the approximate path is measured against.
  *   - lshTopK: random-hyperplane bucket search — corpus and queries share
  *     sign-signature bands; only same-bucket candidates are scored. The
  *     scale path: candidate count per query is bounded by bucket sizes,
  *     not corpus size.
  *
  * Determinism: ties broken by ascending neighbor id everywhere.
  */
object Ann extends Serializable {

  /** Exact top-k cosine neighbors for each query id (excluding self).
    * queries: subset of the corpus (same schema, small by contract — it is
    * broadcast).
    *
    * Scale shape: the v1 implementation scored corpus×queries and shuffled
    * ALL N×Q rows by query_id for a row_number window — a pair-scale
    * exchange that dies at 100 TB. This version accumulates a bounded
    * top-k heap PER QUERY inside each corpus partition (mapPartitions, no
    * shuffle of the scored set) and merges only partitions×Q×k candidate
    * rows — shuffle volume independent of corpus size. Output is
    * bit-identical to the windowed version: per-partition top-k under the
    * total order (cosine desc, nbr_id asc) composes to the global top-k. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
      .sortBy(_._1)
    val qB = spark.sparkContext.broadcast(qRows)

    // worst-on-top ordering for a bounded min-heap under the total order
    // "better = (cosine desc, nbr_id asc)"
    val worstFirst: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2) // lower cosine = worse = ranks higher
        if (c != 0) c else java.lang.Long.compare(a._1, b._1) // larger id = worse
      }
    }

    val partial = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val qs = qB.value
        val heaps = Array.fill(qs.length)(
          new scala.collection.mutable.PriorityQueue[(Long, Double)]()(worstFirst))
        it.foreach { case (nbrId, cvSeq) =>
          val cv = cvSeq.toArray
          var qi = 0
          while (qi < qs.length) {
            val (queryId, qv) = qs(qi)
            if (nbrId != queryId) {
              val cos = cosine(qv, cv)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((nbrId, cos))
              else {
                val (wId, wCos) = h.head
                if (cos > wCos || (cos == wCos && nbrId < wId)) {
                  h.dequeue(); h.enqueue((nbrId, cos))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (nbrId, cos) => (qs(qi)._1, nbrId, cos) }
        }
      }
      .toDF("query_id", "nbr_id", "cosine")

    // merge: only partitions × Q × k rows reach this exchange
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    partial
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
  }

  /** Same operation order as functions.CosineExpr.cosine (bit-identical
    * doubles): fused dot+norms over the common prefix, tails in the norms. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { val x = a(i); val y = b(i); dot += x * y; na += x * x; nb += y * y; i += 1 }
    var j = n
    while (j < a.length) { val x = a(j); na += x * x; j += 1 }
    j = n
    while (j < b.length) { val y = b(j); nb += y * y; j += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** nLists for a corpus of n vectors: ~sqrt(n), clamped to [4, 65536].
    * Cell population is n/nLists, per-query probe cost is
    * nProbe * n/nLists rows, and the broadcast centroid table is
    * nLists * dim doubles — sqrt(n) balances the two (both grow as
    * sqrt(n)), the classic IVF sizing rule. At 10^12 vectors the clamp
    * gives 65536 lists (~15M vectors/cell — raise nProbe-side parallelism
    * or shard the index beyond that). */
  def autoNLists(corpusSize: Long): Int =
    math.max(4L, math.min(65536L, math.round(math.sqrt(corpusSize.toDouble)))).toInt

  /** IVF (inverted-file) ANN: the corpus is partitioned into nLists
    * Voronoi cells around trained centroids; a query scans only its
    * nProbe nearest cells, with exact cosine re-rank inside them.
    *
    * Scale shape: training samples a deterministic subset (hash-ordered,
    * no RNG) and runs `iters` Lloyd rounds as groupBy-average jobs;
    * centroids broadcast (nLists × dim doubles — KBs to MBs); cell
    * assignment is one map-side argmax per row; the query join shuffles
    * by cell id, so per-query work is bounded by the probed cells'
    * population, not the corpus. Determinism: sampling by splitmix64(id)
    * order, ties in assignment and ranking broken by ascending id.
    *
    * Parameter guidance: nLists must GROW with the corpus — cell
    * population is n/nLists, so a fixed nLists degrades to a partial scan
    * at 100x the data. nLists <= 0 (the default) derives
    * autoNLists(count) = ~sqrt(n); probe cost per query is then
    * ~nProbe * sqrt(n) candidate rows. */
  def ivfTopK(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 0,
      nProbe: Int = 4,
      iters: Int = 3,
      trainSample: Int = 4096): DataFrame = {
    val assigned = ivfAssign(spark, corpus, idCol, vecCol, nLists, iters, trainSample)
    ivfSearch(spark, assigned, queries, idCol, vecCol, k, nProbe)
  }

  /** The IVF index at rest — frozen centroids + the assigned-cell
    * relation: the similarity-search member of the incremental
    * maintenance family. A deployment trains once per re-index, then
    * APPENDS: new vectors assign to the FROZEN centroids map-side (one
    * broadcast of the nLists×dim matrix, no retraining, no shuffle) and
    * land in their cells. Frozen deliberately — assignment and probing
    * only need a consistent cell geometry; recall degrades only when the
    * data DISTRIBUTION drifts, which is a re-index decision, not a fold
    * (the frozen-token-order argument of Dedup.ContainmentIndex). */
  final case class IvfIndex(
      assigned: DataFrame,
      centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])

  /** Bootstrap the standing IVF index (autoNLists / Lloyd over the
    * standing corpus — identical internals to [[ivfTopK]]'s build). */
  def buildIvfIndex(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 0,
      iters: Int = 3,
      trainSample: Int = 4096,
      cache: DataFrame => DataFrame = identity): IvfIndex = {
    val (assigned, centB) =
      ivfAssign(spark, corpus, idCol, vecCol, nLists, iters, trainSample)
    IvfIndex(cache(assigned), centB)
  }

  /** Fold a batch of NEW vectors into the index: map-side nearest-cell
    * assignment against the frozen centroids, appended to the standing
    * relation (batch-scale; at deployment the new rows land as a delta
    * partition per cell). */
  def ivfAppend(
      spark: SparkSession,
      idx: IvfIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String): IvfIndex =
    ivfAppendDelta(spark, idx, batch, idCol, vecCol)._1

  /** [[ivfAppend]] with the BATCH's assigned rows exposed separately —
    * what a delta state writer persists instead of rewriting the
    * corpus-scale assigned relation per fold (the relation is
    * append-only: a fold never touches standing rows). */
  def ivfAppendDelta(
      spark: SparkSession,
      idx: IvfIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String): (IvfIndex, DataFrame) = {
    import spark.implicits._
    val centB = idx.centroids
    val assignedB = batch
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) =>
        // fail loudly on dimension drift: cosine() truncates to the
        // shorter array, so a mismatched vector would silently land in a
        // wrong cell instead of erroring
        val dim = centB.value(0).length
        require(v.length == dim,
          s"ivfAppend: vector $id has dimension ${v.length} but the frozen " +
            s"centroids are $dim-dimensional — re-index, don't append")
        (nearestCell(centB.value, v.toArray), id, v)
      }
      .toDF("cell", "nbr_id", "cv")
    (IvfIndex(idx.assigned.unionByName(assignedB), centB), assignedB)
  }

  /** Cell-population skew of an [[IvfIndex]] — the DRIFT MONITOR for the
    * frozen-centroid append discipline (round-6 verdict item 5): frozen
    * centroids keep folds cheap and exact, but recall degrades when the
    * data DISTRIBUTION drifts away from the training sample, and that
    * drift is visible as growing cell-population skew. Fields:
    *   - maxCell / meanCellPpm: the largest cell vs the mean (ppm so the
    *     ratio is integer-exact);
    *   - topDecileFracPpm: fraction of all vectors living in the largest
    *     10% of cells (1M ppm = everything in the hot decile; a uniform
    *     index sits near 100_000 ppm).
    * RE-INDEX THRESHOLD (documented operating rule): retrain when
    * maxCell > 10x the mean or topDecileFracPpm > 350_000 — at that
    * skew, nProbe cells no longer bound the probed fraction and recall
    * falls off the sweep's operating point. Cost: one aggregation over
    * the assigned relation + a bounded collect of <= nLists cell sizes
    * (nLists <= 65536 by [[autoNLists]]'s clamp). */
  final case class IvfDrift(
      nCells: Long, nVecs: Long, maxCell: Long, meanCellPpm: Long,
      topDecileFracPpm: Long) {
    def reindexSuggested: Boolean =
      (meanCellPpm > 0 && maxCell * 1000000L > 10L * meanCellPpm) ||
        topDecileFracPpm > 350000L
  }

  def ivfDriftStats(idx: IvfIndex): IvfDrift = {
    val sizes = idx.assigned.groupBy("cell")
      .agg(count(lit(1)).as("c"))
      .select(col("c")).collect().map(_.getLong(0)).sorted(Ordering[Long].reverse)
    val nCells = sizes.length.toLong
    val nVecs = sizes.sum
    if (nCells == 0L) return IvfDrift(0L, 0L, 0L, 0L, 0L)
    val topDecile = math.max(1, math.ceil(nCells / 10.0).toInt)
    IvfDrift(
      nCells, nVecs,
      sizes.head,
      nVecs * 1000000L / nCells,
      sizes.take(topDecile).sum * 1000000L / math.max(1L, nVecs))
  }

  /** Top-k search over an [[IvfIndex]] (same probe/verify machinery as
    * the one-shot [[ivfTopK]]). */
  def ivfSearchIndex(
      spark: SparkSession,
      idx: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame =
    ivfSearch(spark, (idx.assigned, idx.centroids), queries, idCol, vecCol, k, nProbe)

  /** Cell assignment stage of ivfTopK, exposed so the index can be built
    * once, inspected (cell-population bounds), and searched repeatedly.
    * Returns (cell, nbr_id, cv) plus the broadcast centroids. */
  private[graft] def ivfAssign(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      iters: Int = 3,
      trainSample: Int = 4096):
      (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    import spark.implicits._
    // persisted via the shared signature registry: the cast corpus feeds
    // THREE jobs (the autoNLists count, the training-sample scan, and the
    // cell assignment) — unpersisted, each re-ran the full corpus scan;
    // surfaces release it with Dedup.releaseSignatures() like every other
    // per-query scratch table
    val base = graft.dedup.Dedup.persistSig(
      corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))).as[(Long, Seq[Double])]
    val lists = if (nLists > 0) nLists else autoNLists(base.count())

    // deterministic training sample: the smallest splitmix64(id) rows. The
    // sample must be at least as large as the list count, or the auto
    // sizing silently degrades: lists > sample.length would train only
    // sample.length centroids and cell population reverts to n/trainSample
    // -- exactly the partial-scan decay autoNLists exists to prevent.
    val effTrain = math.max(trainSample, lists)
    val sample = base
      .map { case (id, v) => (graft.synth.Synth.splitmix64(id), id, v.toArray) }
      .toDF("h", "id", "v").orderBy(col("h"), col("id")).limit(effTrain)
      .select(col("id"), col("v")).as[(Long, Array[Double])].collect()
    require(sample.nonEmpty, "ivfTopK: empty corpus")
    var centroids: Array[Array[Double]] =
      sample.take(math.min(lists, sample.length)).map(_._2)

    // Lloyd rounds on the driver-side sample (bounded by trainSample)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](centroids(0).length))
      val cnt = new Array[Int](centroids.length)
      sample.foreach { case (_, v) =>
        val c = nearestCell(centroids, v)
        var d = 0
        while (d < v.length && d < sums(c).length) { sums(c)(d) += v(d); d += 1 }
        cnt(c) += 1
      }
      centroids = centroids.indices.map { c =>
        if (cnt(c) == 0) centroids(c)
        else sums(c).map(_ / cnt(c))
      }.toArray
      it += 1
    }
    val centB = spark.sparkContext.broadcast(centroids)

    val assigned = base.map { case (id, v) =>
      (nearestCell(centB.value, v.toArray), id, v)
    }.toDF("cell", "nbr_id", "cv")
    (assigned, centB)
  }

  private def nearestCell(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestCos = Double.NegativeInfinity
    var i = 0
    while (i < cs.length) {
      val c = cosine(cs(i), v)
      if (c > bestCos) { bestCos = c; best = i }
      i += 1
    }
    best
  }

  /** Probe + exact re-rank stage of ivfTopK over a built index. */
  private[graft] def ivfSearch(
      spark: SparkSession,
      index: (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]),
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    import spark.implicits._
    // reuse the assignment stage's broadcast -- re-broadcasting the same
    // nLists x dim doubles would ship a redundant multi-MB block per call
    val (assigned, centB) = index

    // queries probe their nProbe nearest cells
    val probes = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv")).as[(Long, Seq[Double])]
      .flatMap { case (qid, qv) =>
        val cs = centB.value
        val arr = qv.toArray
        cs.indices
          .map(i => (i, cosine(cs(i), arr)))
          .sortBy { case (i, c) => (-c, i) }
          .take(nProbe)
          .map { case (i, _) => (i, qid, qv) }
      }.toDF("cell", "query_id", "qv")

    // no (query_id, nbr_id) dedup: each corpus row lives in exactly ONE
    // cell and a query's probed cells are distinct, so a pair can never
    // repeat — the former dropDuplicates was a full candidate-scale
    // shuffle carrying both embedding arrays for zero semantic effect
    // (round-5 review)
    val cand = probes.join(assigned, Seq("cell"))
      .where(col("nbr_id") =!= col("query_id"))
      .withColumn("cosine", Dedup.cosineCol(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
  }

  /** LSH-bucketed ANN: candidates = corpus rows sharing at least one
    * signature band with the query; exact cosine re-rank inside the
    * candidate set. Larger nBits/bandBits → fewer, more precise candidates. */
  def lshTopK(
      spark: SparkSession,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBits: Int = 16,
      bandBits: Int = 4,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val planesB = spark.sparkContext.broadcast(Dedup.hyperplanes(seed, nBits, dim))
    val nBands = nBits / bandBits

    def banded(df: DataFrame, ident: String): DataFrame =
      df.select(col(idCol).cast("long").as(ident), col(vecCol).cast("array<double>").as(ident + "_v"))
        .as[(Long, Seq[Double])]
        .map { case (id, v) => (id, v, Dedup.signSignature(planesB.value, v)) }
        .toDF(ident, ident + "_v", "sig")
        .select(
          col(ident), col(ident + "_v"),
          explode(expr(
            s"transform(sequence(0, ${nBands - 1}), b -> " +
              s"concat(cast(b as string), ':', cast((sig div shiftleft(1L, b * $bandBits)) % shiftleft(1L, $bandBits) as string)))"))
            .as("bucket"))

    // HOT-BUCKET cap (round-5 review): a flooded band bucket (boilerplate
    // near-identical embeddings) would otherwise land in ONE join task.
    // Corpus side sub-buckets oversized buckets (salted, as in
    // Dedup.capBuckets); the QUERY side fans out over every sub-bucket of
    // its bucket, so the candidate SET — and the top-k result — is
    // IDENTICAL to the uncapped plan; only the task granularity changes.
    val maxBucket = Dedup.DefaultMaxBucket
    // persistSig: the hot-bucket census below AND the candidate join both
    // read this table — without the persist each call would run the
    // corpus-scale nBits×dim signature map twice (released per query via
    // Dedup.releaseSignatures, same discipline as the dedup tiers)
    val cb0 = Dedup.persistSig(banded(corpus, "nbr_id"))
    val hot = cb0.groupBy("bucket").agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
    val cb = cb0.join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("nb", coalesce(ceil(col("bsz") / lit(maxBucket)).cast("int"), lit(1)))
      .withColumn("bucket",
        when(col("nb") <= 1, col("bucket"))
          .otherwise(concat(col("bucket"), lit("#"),
            pmod(xxhash64(col("nbr_id"), col("bucket")), col("nb")))))
      .drop("bsz", "nb")
    val qb = banded(queries, "query_id")
      .join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("nb", coalesce(ceil(col("bsz") / lit(maxBucket)).cast("int"), lit(1)))
      .withColumn("sub", explode(expr("sequence(0, nb - 1)")))
      .withColumn("bucket",
        when(col("nb") <= 1, col("bucket"))
          .otherwise(concat(col("bucket"), lit("#"), col("sub"))))
      .drop("bsz", "nb", "sub")
    val cand = qb.join(cb, Seq("bucket"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("query_id_v"), col("nbr_id"), col("nbr_id_v"))
      .dropDuplicates("query_id", "nbr_id")
      .withColumn("cosine", Dedup.cosineCol(col("query_id_v"), col("nbr_id_v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
  }

  /** Recall@k tally of an approximate top-k table against the exact one:
    * per query_id present in `exact`, n_matched = |approx ∩ exact| over
    * the nbr_id sets, as exact integers (recall = n_matched / k). Both
    * inputs are (query_id, …, nbr_id) tables as produced by the topK
    * methods above — queries×k rows, so every join here is
    * dimension-scale regardless of corpus size. */
  def recallCounts(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val e = exact.select(col("query_id"), col("nbr_id"))
    val m = approx.select(col("query_id"), col("nbr_id"))
      .join(e, Seq("query_id", "nbr_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_matched"))
    e.select(col("query_id")).distinct()
      .join(m, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        lit(k.toLong).as("k"))
  }
}
