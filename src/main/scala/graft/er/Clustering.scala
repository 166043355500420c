package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Commit

/** Transitive clustering: connected components over match edges as an
  * iterative DataFrame loop (SURVEY.md §2.8 G6).
  *
  * Implements the alternating large-star / small-star contraction of
  * Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14)
  * — O(log n) rounds, each round two shuffles (a groupBy-min and a join),
  * fully relational (no collect_list, so a giant component never
  * materializes a giant row). Lineage is cut with localCheckpoint every
  * round (the loop would otherwise stack exponentially growing plans).
  *
  * Deterministic: cluster id = smallest mention_id of the component, so the
  * output is invariant under partitioning — a north_rule requirement.
  */
object Clustering {

  /** edges: DataFrame(a BIGINT, b BIGINT), undirected, a != b assumed.
    * Returns DataFrame(id BIGINT, cluster BIGINT) for every id appearing in
    * an edge. Nodes with no edges are absent (callers union singletons).
    *
    * `checkpointDir`: None (default) cuts per-round lineage with
    * localCheckpoint — fastest, but blocks live on executors, so an
    * executor loss forces full recompute and a driver loss loses the run.
    * Some(dir) switches to RELIABLE per-round Parquet snapshots under
    * `dir` (HDFS/S3/local via the Hadoop FS API) and makes the loop
    * resumable mid-iteration — the cluster-deployment mode the north rule
    * requires ("resumable from checkpoint"). */
  def connectedComponents(
      spark: SparkSession,
      edges: DataFrame,
      maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val run = connectedComponentsCheckpointed(spark, edges, dir, maxIter)
        // a resumed namespace whose last round already exceeds this
        // caller's smaller maxIter skips the loop entirely — the silent
        // path the round-4 advice flagged; warn here exactly like the
        // in-memory branch (direct CcRun callers read .converged instead)
        if (!run.converged) warnNotConverged("reliable-checkpoint", maxIter)
        run.clusters
      case None =>
        val e = localContract(normalizeEdges(edges)).localCheckpoint(true)
        val nEdges = e.count()
        if (nEdges <= driverCcMaxEdges(spark)) driverUnionFind(spark, e)
        else {
          val parts = rightSizedParts(spark, nEdges)
          val (clusters, converged) = connectedComponentsLoop(e, maxIter, parts)
          if (!converged) warnNotConverged("in-memory", maxIter)
          clusters
        }
    }

  /** Contracted-edge threshold below which the in-memory CC finishes on
    * the driver with union-find instead of the iterative star loop. The
    * loop's cost at small scale is its FIXED per-round scheduler latency
    * (each round = several shuffles + a signature job; a converged toy
    * graph still pays 3-5 rounds ≈ seconds), while a bounded collect +
    * union-find is one job and microseconds of CPU. Driver memory paid
    * at the 2M-edge default: ~32 B per contracted edge for the collected
    * endpoint arrays plus the sorted node index (~64 MB; the collect's
    * transient buffers add about as much again), 4 B per node of parent
    * array, and the returned local relation at ~80 B per (id, cluster)
    * row — nodes ≤ 2 × edges, so up to ~320 MB when every contracted
    * edge is its own component, about half that for typical stars.
    * Exact: union-by-min with path compression assigns every node the
    * component minimum, the identical label the star loop converges
    * to. Scale-adaptive, not
    * local-mode-tuned: on a real cluster the threshold bounds driver
    * memory, and corpus-scale edge sets (> threshold after the narrow
    * localContract pass) still take the shuffle loop. The same budget
    * gates the driver regime of [[incrementalClustersWithDelta]], split
    * evenly over the batch's partitions. Override with
    * spark.graft.cc.driverMaxEdges (0 disables both fast paths). */
  val DefaultDriverCcMaxEdges: Long = 2000000L

  private def driverCcMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.driverMaxEdges")
      .map(_.toLong).getOrElse(DefaultDriverCcMaxEdges)

  /** Bounded driver-side union-find over an already-contracted edge set
    * (caller guarantees nEdges <= driverCcMaxEdges — a declared, bounded
    * collect, the dimension-map discipline). Emits (id, cluster) for
    * every node appearing in an edge, cluster = component minimum —
    * bit-identical to starsToClusters after a converged star loop. */
  private def driverUnionFind(spark: SparkSession, e: DataFrame): DataFrame = {
    import spark.implicits._
    // one pair of primitive endpoint arrays per partition: no per-edge
    // objects on the driver
    val uf = new MinUnionFind(e.select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions(it => Iterator.single(chunkOf(it))).collect().toSeq)
    localRows(spark, uf.ids.length)(i => (uf.ids(i), uf.ids(uf.root(i)))).toDF("id", "cluster")
  }

  /** A partition's edges as one pair of primitive endpoint arrays. */
  private def chunkOf(it: Iterator[(Long, Long)]): (Array[Long], Array[Long]) = {
    val a = Array.newBuilder[Long]
    val b = Array.newBuilder[Long]
    it.foreach { case (x, y) => a += x; b += y }
    (a.result(), b.result())
  }

  /** The sorted distinct endpoints of edge chunks. */
  private def sortedIds(chunks: Seq[(Array[Long], Array[Long])]): Array[Long] = {
    val all = Array.concat(chunks.flatMap { case (a, b) => Seq(a, b) }: _*)
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { i =>
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** Union-find over the edges of `chunks` — the one union-find behind
    * the partition-local contraction, the driver CC and the driver
    * incremental fold. Node i is `ids(i)`, the sorted distinct
    * endpoints; linking the larger root index under the smaller keeps
    * every root its component minimum (union-by-min) and parent(i) <= i.
    * Primitive arrays only: 8 B per endpoint occurrence while the index
    * is sorted, then 8 B + 4 B (parent) per node. */
  private final class MinUnionFind(chunks: Seq[(Array[Long], Array[Long])]) {
    val ids: Array[Long] = sortedIds(chunks)
    private val parent = Array.range(0, ids.length)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    private def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    chunks.foreach { case (a, b) =>
      a.indices.foreach { k =>
        val ra = find(idx(a(k))); val rb = find(idx(b(k)))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    }
    /** Each node's root index (its component minimum). parent(i) <= i,
      * so one ascending pass resolves every root. */
    val root: Array[Int] = {
      parent.indices.foreach(i => parent(i) = parent(parent(i)))
      parent
    }
  }

  /** The star edges (node → local-component minimum, node ≠ minimum) of
    * one edge chunk. */
  private def contract(chunk: (Array[Long], Array[Long])): (Array[Long], Array[Long]) = {
    val uf = new MinUnionFind(Seq(chunk))
    val members = Array.range(0, uf.ids.length).filter(i => uf.root(i) != i)
    (members.map(uf.ids(_)), members.map(i => uf.ids(uf.root(i))))
  }

  /** `n` (Long, Long) rows as a local relation. An index view, not a
    * tuple buffer: createDataset encodes row by row. */
  private def localRows(spark: SparkSession, n: Int)(row: Int => (Long, Long)) = {
    import spark.implicits._
    spark.createDataset(new IndexedSeq[(Long, Long)] {
      def length: Int = n
      def apply(i: Int): (Long, Long) = row(i)
    })
  }

  /** Loud non-convergence warning (round-4 advice): a loop that exhausts
    * maxIter — or a resumed checkpoint whose on-disk round already exceeds
    * a smaller caller budget — returns UNDER-MERGED clusters; silence here
    * was the same failure class TypesMappings.typeClosure already warns
    * about. Callers that need hard failure read CcRun.converged. */
  private def warnNotConverged(mode: String, maxIter: Int): Unit =
    System.err.println(
      s"[graft.er.Clustering] WARNING: $mode connected-components loop exited " +
        s"WITHOUT converging (maxIter=$maxIter) — the returned clusters may be " +
        "under-merged; raise maxIter (star-contraction rounds are " +
        "log-diameter, so 50 covers any realistic graph)")

  /** Cast + drop self-loops. Deliberately NO distinct: the input-scale
    * dedup shuffle (one full pass over the edge volume) is redundant once
    * localContract runs — union-find absorbs duplicate and bidirectional
    * edges for free, and every loop round distincts its own (much
    * smaller) output. */
  private def normalizeEdges(edges: DataFrame): DataFrame =
    edges
      .select(col("a").cast("long"), col("b").cast("long"))
      .where(col("a") =!= col("b"))

  /** Partition-local union-find contraction: each partition replaces its
    * edges by the star (node → local-component minimum). Connectivity-
    * preserving (every original edge lies inside one local star) and
    * node-preserving (a local component has >= 2 nodes, so its minimum
    * survives as a target), so the global components — and the min-id
    * cluster labels — are unchanged. One NARROW pass, no shuffle; it cuts
    * the edge volume the O(log n) global loop must shuffle per round.
    * Blocking-derived match graphs are near-cliques, so even the random
    * slice of a clique landing in one partition connects most of its
    * nodes (k²/P edges over k nodes) and most edges collapse here. The
    * contracted edge SET depends on the incoming partitioning; the final
    * clusters are invariant (ClusteringSpec property tests). */
  private def localContract(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select(col("a"), col("b")).as[(Long, Long)].mapPartitions { it =>
      val (a, b) = contract(chunkOf(it))
      a.indices.iterator.map(k => (a(k), b(k)))
    }.toDF("a", "b")
  }

  /** Right-size the loop's shuffle width to the graph: the star-contraction
    * rounds run O(log n) small jobs, and a width tuned for the scoring
    * stage (thousands of partitions) would turn each round into a storm of
    * empty micro-tasks. ~100k edges per partition, capped at the session
    * parallelism. Applied as EXPLICIT per-key repartition() calls inside
    * the round plans, NOT by mutating spark.sql.shuffle.partitions around
    * the loop — the session conf is shared across threads, and a
    * set/restore raced with plans being BUILT concurrently (they bake
    * numShufflePartitions in at construction; an interleaved restore could
    * even pin the session at the temporary width — round-5 review). A
    * user-specified repartition is exempt from AQE coalescing and
    * satisfies the downstream aggregation/join distributions, so every
    * round runs at the graph's width regardless of session tuning, and
    * the returned (lazy) cluster plan keeps its width wherever it
    * executes. */
  private def rightSizedParts(spark: SparkSession, nEdges: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1)).toInt

  /** One large-star + small-star contraction round (pure plan — callers
    * choose the materialization: localCheckpoint or a Parquet snapshot). */
  private def ccRound(e: DataFrame, parts: Int): DataFrame = {
    // ---- large-star: for each node u, hang strictly-larger neighbors on
    //      m = min(N(u) ∪ {u}). The one repartition node is referenced by
    //      both the aggregation and the join side, so the exchange is
    //      reusable; each shuffle keys on its own distribution at the
    //      fixed right-sized width (rightSizedParts doc).
    val both = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .repartition(parts, col("u"))
    val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    val ls = both
      .join(mins, Seq("u"))
      .where(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .repartition(parts, col("a"), col("b"))
      .distinct()

    // ---- small-star: orient edges high→low, hang all small neighbors
    //      (and the node itself) on the minimum
    val dir = ls.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .repartition(parts, col("u"))
    val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir
      .join(mins2, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionAll(mins2.select(col("u").as("a"), col("m").as("b")))
      .repartition(parts, col("a"), col("b"))
      .distinct()
  }

  /** Edge-set signature: order-independent (count, xor-hash, wrapping
    * sum-hash). The xor alone cancels any edge with even multiplicity, so
    * two duplicate-heavy MULTISETS with equal counts could collide (the
    * resume-namespace key is computed over the non-deduplicated input —
    * round-4 advice); the third component is the low 64 bits of the exact
    * sum of hashes (computed as decimal(38,0) — a bare bigint sum would
    * overflow under ANSI; the low-64 truncation IS the intended wrap),
    * which is multiplicity-sensitive at every parity. */
  private def edgeSig(e: DataFrame): (Long, Long, Long) = {
    val sigRow = e.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("h"),
      expr("sum(cast(xxhash64(a, b) as decimal(38,0)))").as("s")).head()
    val sDec = sigRow.getDecimal(2)
    val s = if (sDec == null) 0L else sDec.toBigInteger.longValue()
    (sigRow.getLong(0), sigRow.getLong(1), s)
  }

  /** In the converged star forest every edge is (member, center) with
    * center = component minimum; each node's cluster = min over its edges,
    * centers map to themselves. */
  private def starsToClusters(e: DataFrame, parts: Int): DataFrame = {
    val members = e.select(col("a").as("id"), col("b").as("cluster"))
    val centers = e.select(col("b").as("id"), col("b").as("cluster"))
    members.unionAll(centers)
      .repartition(parts, col("id"))
      .groupBy("id")
      .agg(min("cluster").as("cluster"))
  }

  private def connectedComponentsLoop(
      edges0: DataFrame, maxIter: Int, parts: Int): (DataFrame, Boolean) = {
    var e = edges0

    var converged = false
    var iter = 0
    var prevSig: (Long, Long, Long) = (-1L, -1L, -1L)
    while (!converged && iter < maxIter) {
      val ss = ccRound(e, parts)
        // LAZY checkpoint: the signature aggregation below is the action
        // that materializes it — one job per round instead of two (the
        // round count is diameter-bound, so per-round scheduler latency is
        // the dominant cost on small graphs)
        .localCheckpoint(false)

      val sig = edgeSig(ss)
      converged = sig == prevSig
      prevSig = sig
      e = ss
      iter += 1
    }

    (starsToClusters(e, parts), converged)
  }

  /** Result of a reliable-checkpoint CC run: the cluster table plus the
    * resume bookkeeping a caller (or a lineage manifest) records. */
  final case class CcRun(clusters: DataFrame, resumedFromRound: Int, roundsComputed: Int, converged: Boolean)

  /** Connected components with RELIABLE per-round snapshots: every
    * star-contraction round commits its edge set as Parquet under
    * `dir/round_NNNNN` plus a MANIFEST (row count + xor-hash signature +
    * converged flag), written only after the Parquet commit succeeds. A
    * restarted run scans for the last complete round and resumes the loop
    * there instead of re-deriving it — each round is a pure function of
    * the previous edge set, so resume is exact. Round 0 is the normalized
    * input edge set, so resume never re-reads the upstream either.
    *
    * Trade-off vs localCheckpoint: one Parquet write + read per round
    * (the write doubles as the materialization action), in exchange for
    * surviving executor AND driver loss — the mode to use on a real
    * cluster; the in-memory path remains the default for interactive
    * sessions.
    *
    * Storage discipline: `dir` is SINGLE-WRITER (one CC job at a time —
    * the pipeline runner gives each stage its own dir). On entry, sibling
    * `cc_*` namespaces (superseded upstream graphs) are deleted; after
    * convergence, all rounds but the final one are deleted, so the dir
    * holds at most one edge-set copy at rest and O(log n) only while a
    * run is in flight. */
  def connectedComponentsCheckpointed(
      spark: SparkSession,
      edges: DataFrame,
      dir: String,
      maxIter: Int = 50): CcRun = {
    import org.apache.hadoop.fs.Path
    // Namespace the rounds by the INPUT edge-set signature: a caller that
    // reuses one dir across runs (the pipeline runner does) must not
    // resume contraction rounds of a different upstream graph. Computing
    // the signature costs one aggregation over the input — on a resumed
    // pipeline the input is the match_edges snapshot, a cheap scan.
    val norm = normalizeEdges(edges)
    val inputSig = edgeSig(norm)
    val rawRoot = new Path(new Path(dir),
      s"cc_${inputSig._1}_${java.lang.Long.toUnsignedString(inputSig._2)}" +
        s"_${java.lang.Long.toUnsignedString(inputSig._3)}")
    val fs = rawRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified form: listStatus returns scheme-qualified paths, and the
    // sibling prune below compares against this — an unqualified root
    // would compare unequal to ITSELF and be deleted
    val root = fs.makeQualified(rawRoot)

    def roundPath(i: Int) = new Path(root, f"round_$i%05d")
    // `_MANIFEST` ("round n h sum converged") is the round's commit
    // record, written through Commit after the Parquet lands; the
    // underscore prefix keeps Spark's file index from reading it as a
    // parquet footer
    def manifestPath(i: Int) = new Path(roundPath(i), "_MANIFEST")
    // A manifest that exists but does not parse (manual tampering, a
    // foreign format) counts as an INCOMPLETE round: the scan passes over
    // it and the round is recomputed. One that cannot be READ fails the run.
    def parseManifest(txt: String): Option[(Long, Long, Long, Boolean)] =
      txt.trim.split(' ') match {
        case Array(_, n, h, sm, c) =>
          for (n <- n.toLongOption; h <- h.toLongOption; sm <- sm.toLongOption;
               c <- c.toBooleanOption) yield (n, h, sm, c)
        case _ => None
      }
    def commitRound(i: Int, e: DataFrame, prevSig: Option[(Long, Long, Long)]): (DataFrame, (Long, Long, Long), Boolean) = {
      e.write.mode("overwrite").parquet(roundPath(i).toString)
      val reread = spark.read.parquet(roundPath(i).toString)
      val sig = edgeSig(reread)
      val converged = prevSig.contains(sig)
      Commit.write(fs, manifestPath(i), s"$i ${sig._1} ${sig._2} ${sig._3} $converged")
      (reread, sig, converged)
    }
    // best effort: a failed delete leaves garbage, never a wrong answer
    def dropDir(p: Path): Unit =
      try fs.delete(p, true) catch { case _: java.io.IOException => () }

    // Prune SIBLING namespaces: under one caller-owned dir, a different
    // input signature means a superseded upstream graph — its rounds can
    // never be resumed again and would otherwise accumulate one edge-set
    // Parquet copy per round per historical run.
    Commit.list(fs, root.getParent).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("cc_") && st.getPath != root)
        dropDir(st.getPath)
    }

    // resume point: the HIGHEST round with a COMPLETE (present + parsable)
    // manifest — found by listing, not by contiguous probing, because
    // post-convergence pruning deletes the superseded earlier rounds.
    // No maxIter filter: a converged snapshot from a HIGHER-budget
    // earlier run is still the exact answer — skipping it (post-pruning,
    // with the lower rounds gone) would force a from-scratch recompute
    // that may not even converge within the smaller budget.
    val rounds = Commit.numbered(fs, root, "round_")
    val resume = rounds.iterator.flatMap { case (r, p) =>
      Commit.read(fs, new Path(p, "_MANIFEST")).flatMap(parseManifest).map(r.toInt -> _)
    }.nextOption()
    val last = resume.fold(-1)(_._1)

    // Crash/corruption debris ABOVE the resume point (rounds with missing
    // or unparsable manifests) is deleted now — BEFORE any new round is
    // written: the scan will never use it, and a stale full edge-set copy
    // must not survive every prune.
    rounds.foreach { case (r, p) => if (r > last) dropDir(p) }

    var iter = 0
    var prevSig: (Long, Long, Long) = (-1L, -1L, -1L)
    var converged = false
    var e: DataFrame = null
    if (last < 0) {
      val (e0, sig0, _) = commitRound(0, localContract(norm), None)
      e = e0; prevSig = sig0
    } else {
      val (n, h, sm, c) = resume.get._2
      e = spark.read.parquet(roundPath(last).toString)
      prevSig = (n, h, sm); converged = c; iter = last
    }
    val resumedFrom = math.max(last, 0)

    val nEdges = prevSig._1
    var computed = 0
    // the final node-scale aggregation carries its own fixed width too —
    // at a session width tuned for the scoring stage it would otherwise
    // run as near-empty micro-tasks
    val parts = rightSizedParts(spark, nEdges)
    val clusters = {
      while (!converged && iter < maxIter) {
        val (next, sig, conv) = commitRound(iter + 1, ccRound(e, parts), Some(prevSig))
        e = next; prevSig = sig; converged = conv
        iter += 1; computed += 1
      }
      // After convergence only the FINAL round is ever read again (a
      // re-invocation resumes it instantly with zero rounds computed) —
      // delete the superseded earlier rounds so the namespace holds one
      // edge-set copy, not O(log n) of them.
      if (converged) {
        (0 until iter).foreach(i => dropDir(roundPath(i)))
      }
      // EAGER localCheckpoint: the returned cluster table must be
      // self-contained — a later call on this dir prunes snapshot files
      // (sibling namespaces, superseded rounds) that a lazy plan would
      // still reference, turning an old handle into FileNotFoundException.
      // The table is node-scale (one row per id), so materializing it at
      // return is cheap at any corpus size.
      starsToClusters(e, parts).localCheckpoint(true)
    }
    CcRun(clusters, resumedFrom, computed, converged)
  }

  /** G7 (incremental maintenance): fold a NEW batch of match edges into a
    * CONVERGED cluster assignment without re-clustering the old graph —
    * the daily-crawl shape at corpus scale, where the standing assignment
    * is node-scale (10^12 rows) and a batch is orders of magnitude
    * smaller.
    *
    * `oldClusters`: DataFrame(id, cluster) whose labels are component
    * MINIMA — the invariant every CC entry point here guarantees.
    * `newEdges`: DataFrame(a, b). Returns (id, cluster) for the union
    * graph (old ids plus new-edge endpoints), identical to running batch
    * CC over (old edges ∪ new edges) — see ClusteringSpec's incremental
    * property tests and PlanAuditSpec's broadcast-only plan pin.
    *
    * Why it is exact: contracting every old component to its label
    * preserves connectivity between representatives (each old component
    * is connected, and every new edge lies between representatives after
    * the endpoint mapping), so CC over the contracted graph merges
    * exactly the components the union graph merges; and because old
    * labels are component minima, the min-label CC over {old labels ∪
    * brand-new ids} yields the min member id of each merged component —
    * the same label batch CC assigns.
    *
    * Three regimes, all result-identical (ClusteringSpec drives each to
    * the batch answer):
    *   - DRIVER (the batch's contracted edges fit
    *     spark.graft.cc.driverMaxEdges): one job contracts every batch
    *     partition with union-find and ships its star edges as primitive
    *     arrays — only when they fit the task's share, budget /
    *     partitions, so the driver never receives more than the budget;
    *     one narrow scan of `oldClusters` against a broadcast of the
    *     sorted endpoints collects the touched (id, cluster) rows (at
    *     most one per endpoint, two per edge); a driver union-find over
    *     {star edges ∪ touched id → label edges} gives every touched
    *     label its merged minimum and every brand-new id its label.
    *     Driver memory, linear in the budget: 16 B per collected edge
    *     and per touched row (at most two per edge); the probe's sorted
    *     endpoint list (8 B per endpoint, plus its broadcast copy); the
    *     union-find index over edges and touched rows (8 B per endpoint
    *     occurrence while it sorts, then 13 B per node for index, parent
    *     and kind); and the relabel map (at most one row per edge) plus
    *     the brand-new rows (at most two per edge) as local relations at
    *     ~80 B per row.
    *   - BROADCAST (a task's share exceeded): the batch endpoints are
    *     broadcast INTO a narrow scan of `oldClusters` (inner join,
    *     batch-side build) to pull the touched rows; contraction and
    *     relabeling then join the (small) touched/relabel tables back as
    *     broadcasts, and the contracted graph runs through
    *     [[connectedComponents]].
    *   - BATCH CC (the batch's distinct endpoints exceed
    *     `broadcastMaxEndpoints`, in either regime above): the
    *     broadcast-probe plan would silently become a multi-GB broadcast
    *     (executor OOM), so the fold degrades to batch CC over the union
    *     graph instead — result-identical, because the standing
    *     assignment's (id, cluster) rows ARE a star edge set with the same
    *     connectivity (see [[incrementalViaBatchCc]]). The default (5M
    *     endpoints ≈ 40 MB of packed longs) marks the crossover where two
    *     corpus-scale wide passes beat a giant broadcast.
    *
    * In the driver and broadcast regimes the plan never shuffles the
    * node-scale assignment: the outputs are narrow passes over it probing
    * a broadcast relabel map — no wide exchange at any width.
    * `checkpointDir` applies to the broadcast and batch-CC regimes, whose
    * contracted CC may run the star loop; the driver regime has no
    * rounds. */
  def incrementalClusters(
      spark: SparkSession,
      oldClusters: DataFrame,
      newEdges: DataFrame,
      checkpointDir: Option[String] = None,
      broadcastMaxEndpoints: Long = 5000000L): DataFrame =
    incrementalClustersWithDelta(spark, oldClusters, newEdges,
      checkpointDir, broadcastMaxEndpoints).assignment

  /** Which [[incrementalClusters]] regime folded a batch. */
  sealed trait Regime
  object Regime {
    case object Driver extends Regime
    case object Broadcast extends Regime
    case object BatchCc extends Regime
  }

  /** [[incrementalClusters]]' result together with its CHANGED-ROW set —
    * what a touched-range state writer persists per fold (round-7: the
    * streaming sink's per-fold write volume must track the batch, not
    * the corpus-scale assignment):
    *   - `assignment`: the full refreshed (id, cluster) table (lazy —
    *     only pay for it if you materialize it);
    *   - `changed`: exactly the rows whose (id, cluster) differs from
    *     `oldClusters` plus the brand-new ids — outside the batch-CC
    *     regime an old row changes iff its cluster label is relabeled by
    *     the contracted CC (merged != label), so `changed` is one narrow
    *     assignment probe of a broadcast relabel map plus the batch-new
    *     ids (batch-scale by the incremental premise);
    *   - `regime`: how the batch was folded; in the batch-CC regime
    *     (`changedIsFull`, a corpus-sized batch) deriving a delta would
    *     cost a full compare, so `changed` is the full assignment — the
    *     caller should rewrite fully there anyway;
    *   - `emptyBatch`: the batch held no edge between two distinct ids,
    *     so `assignment` is `oldClusters` and `changed` is empty. */
  final case class IncrementalCc(
      assignment: DataFrame, changed: DataFrame, regime: Regime, emptyBatch: Boolean) {
    def changedIsFull: Boolean = regime == Regime.BatchCc
  }

  def incrementalClustersWithDelta(
      spark: SparkSession,
      oldClusters: DataFrame,
      newEdges: DataFrame,
      checkpointDir: Option[String] = None,
      broadcastMaxEndpoints: Long = 5000000L): IncrementalCc = {
    val oc = oldClusters.select(col("id").cast("long"), col("cluster").cast("long"))
    val e = newEdges
      .select(col("a").cast("long"), col("b").cast("long"))
      .where(col("a") =!= col("b"))
    driverFold(spark, oc, e, broadcastMaxEndpoints)
      .getOrElse(broadcastFold(spark, oc, e, checkpointDir, broadcastMaxEndpoints))
  }

  /** The driver regime of [[incrementalClusters]]: one bounded collect,
    * one probe, a driver union-find. None when a task's contracted edges
    * exceed its share of the budget, or the batch's distinct endpoints
    * exceed `broadcastMaxEndpoints` (the other regimes take over). */
  private def driverFold(
      spark: SparkSession,
      oc: DataFrame,
      e: DataFrame,
      broadcastMaxEndpoints: Long): Option[IncrementalCc] = {
    import spark.implicits._
    val edges = e.as[(Long, Long)].rdd
    val share = driverCcMaxEdges(spark) / math.max(1, edges.getNumPartitions)
    if (share <= 0) return None
    // each task contracts its slice and ships its stars only if they fit
    // its share, so the collect is bounded before the driver allocates
    val shipped = edges.mapPartitions { it =>
      val stars = contract(chunkOf(it))
      Iterator.single(if (stars._1.length <= share) Some(stars) else None)
    }.collect()
    if (shipped.contains(None)) return None
    val stars = shipped.toSeq.flatten
    // localContract is node-preserving: these are the batch endpoints
    val endpoints = sortedIds(stars)
    if (endpoints.length > broadcastMaxEndpoints) return None
    if (endpoints.isEmpty)
      return Some(IncrementalCc(oc, spark.emptyDataset[(Long, Long)].toDF("id", "cluster"),
        Regime.Driver, emptyBatch = true))
    // touched standing rows: one narrow scan probing the sorted endpoints
    val probe = spark.sparkContext.broadcast(endpoints)
    val touched =
      try oc.as[(Long, Long)].rdd.mapPartitions { it =>
        val ids = probe.value
        Iterator.single(chunkOf(it.filter(r => java.util.Arrays.binarySearch(ids, r._1) >= 0)))
      }.collect().toSeq
      finally probe.destroy()
    // each touched id hangs on its standing label, so the labels join the
    // node set and a merged component's root is the least of its labels
    // and brand-new ids (a standing id is never below its own label)
    val uf = new MinUnionFind(stars ++ touched)
    val n = uf.ids.length
    // 0 = brand-new id, 1 = standing id, 2 = standing label
    val kind = new Array[Byte](n)
    touched.foreach { case (ids, labels) =>
      ids.indices.foreach { k =>
        val i = uf.idx(ids(k))
        if (kind(i) == 0) kind(i) = 1
        kind(uf.idx(labels(k))) = 2
      }
    }
    def rowsOf(sel: Array[Int]) =
      localRows(spark, sel.length)(k => (uf.ids(sel(k)), uf.ids(uf.root(sel(k)))))
    val relabel = broadcast(rowsOf(Array.range(0, n).filter(i => kind(i) == 2 && uf.root(i) != i))
      .toDF("cluster", "merged"))
    // one partition: the new-id rows land in the caller's writes as one
    // extra slice, not one per local-relation split
    val fresh = rowsOf(Array.range(0, n).filter(kind(_) == 0)).toDF("id", "cluster").coalesce(1)
    val assignment = oc.join(relabel, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("merged"), col("cluster")).as("cluster"))
    val changed = oc.join(relabel, Seq("cluster"))
      .select(col("id"), col("merged").as("cluster"))
    Some(IncrementalCc(assignment.unionAll(fresh), changed.unionAll(fresh),
      Regime.Driver, emptyBatch = false))
  }

  /** The broadcast and batch-CC regimes of [[incrementalClusters]]. */
  private def broadcastFold(
      spark: SparkSession,
      oc: DataFrame,
      e: DataFrame,
      checkpointDir: Option[String],
      broadcastMaxEndpoints: Long): IncrementalCc = {
    // eagerly truncated (batch-scale by premise): the guard's count,
    // the broadcast probe, and incrementalViaBatchCc's universe all
    // consume this frame — without the checkpoint the explode+distinct
    // aggregation re-runs per consumer
    val endpoints = e
      .select(explode(array(col("a"), col("b"))).as("id"))
      .distinct()
      .localCheckpoint(true)
    // the guard's count is one batch-scale aggregation — cheap next to
    // the fold itself, and the price of never OOMing an executor on a
    // mis-sized batch
    val nEndpoints = endpoints.count()
    if (nEndpoints > broadcastMaxEndpoints) {
      val full = incrementalViaBatchCc(spark, oc, e, endpoints, checkpointDir)
      return IncrementalCc(full, full, Regime.BatchCc, emptyBatch = false)
    }
    // touched old rows: ONE narrow scan of the node-scale table probing
    // the broadcast batch ids; eagerly truncated (it is batch-scale) so
    // the three consumers below don't re-scan the assignment table
    val touched = oc.join(broadcast(endpoints), Seq("id"))
      .localCheckpoint(true)
    val contracted = e
      .join(broadcast(touched.select(col("id").as("a"), col("cluster").as("ca"))), Seq("a"), "left")
      .join(broadcast(touched.select(col("id").as("b"), col("cluster").as("cb"))), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"), coalesce(col("cb"), col("b")).as("b"))
    // CC over representatives only: edge volume = batch, node volume =
    // touched clusters + brand-new ids (self-loops from within-cluster
    // batch edges drop in normalizeEdges)
    val cc = connectedComponents(spark, contracted, checkpointDir = checkpointDir)
    // old ids relabel through their representative (touched-scale
    // broadcast against the second narrow assignment pass); untouched
    // components keep their label
    val oldPart = oc
      .join(broadcast(cc.select(col("id").as("cluster"), col("cluster").as("merged"))),
        Seq("cluster"), "left")
      .select(col("id"), coalesce(col("merged"), col("cluster")).as("cluster"))
    // ids first seen in this batch: label from the contracted CC (their
    // contracted node IS the id); a batch id whose edges all collapsed
    // to self-loops cannot exist (it would need an old assignment row),
    // but coalesce keeps the plan total anyway
    // every side here is batch-scale, but hint anyway: without stats the
    // planner falls back to sort-merge, and these two joins sit in the
    // same stage as the assignment union — keep the whole relabel plan
    // exchange-free (PlanAuditSpec pins broadcast-only)
    val newPart = endpoints
      .join(broadcast(touched.select("id")), Seq("id"), "left_anti")
      .join(broadcast(cc), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    // rows that differ from oldClusters: old ids whose LABEL the
    // contracted CC relabeled (merged != label — a second narrow probe
    // of the assignment against the same broadcast map), plus every
    // brand-new id
    val relabeled = oc
      .join(broadcast(cc.where(col("id") =!= col("cluster"))
        .select(col("id").as("cluster"), col("cluster").as("merged"))),
        Seq("cluster"))
      .select(col("id"), col("merged").as("cluster"))
    IncrementalCc(oldPart.unionAll(newPart), relabeled.unionAll(newPart),
      Regime.Broadcast, emptyBatch = nEndpoints == 0)
  }

  /** The guarded fallback of [[incrementalClusters]] for batches too big
    * to broadcast: batch CC over {standing-assignment star edges ∪ new
    * edges}. Exact by the same min-label argument — each (id, cluster)
    * assignment row with id ≠ cluster is an edge of a star whose center
    * is the component minimum, so the union graph has the same connected
    * components (and hence the same min labels) as {old edges ∪ new
    * edges}. Every stage here is corpus-scale but narrow/shuffle-bounded
    * (the regime where that is unavoidable): one CC over the union and
    * one distinct over the id universe. */
  private def incrementalViaBatchCc(
      spark: SparkSession,
      oc: DataFrame,
      e: DataFrame,
      endpoints: DataFrame,
      checkpointDir: Option[String]): DataFrame = {
    val starEdges = oc.where(col("id") =!= col("cluster"))
      .select(col("id").as("a"), col("cluster").as("b"))
    val cc = connectedComponents(
      spark, starEdges.unionAll(e), checkpointDir = checkpointDir)
    // universe = old ids ∪ batch endpoints (singleton old ids must keep
    // their row; unionAll + distinct — both inputs are already distinct,
    // so this is one dedup shuffle over the id universe)
    oc.select(col("id")).unionAll(endpoints.select(col("id"))).distinct()
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Cluster assignment for every mention id in `ids` (singletons become
    * their own cluster). ids: DataFrame(id BIGINT). `checkpointDir` as in
    * [[connectedComponents]]: Some(dir) = reliable, resumable rounds. */
  def assign(
      spark: SparkSession,
      ids: DataFrame,
      matchEdges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(spark, matchEdges, checkpointDir = checkpointDir)
    ids.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
