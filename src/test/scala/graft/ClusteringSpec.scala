package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.er.Clustering

class ClusteringSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  /** brute-force union-find oracle */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCC(edges: Seq[(Long, Long)], forceLoop: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    // forceLoop: disable the driver union-find fast path so the iterative
    // star-contraction loop keeps its own coverage now that small graphs
    // default to the fast path
    if (forceLoop) spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try Clustering.connectedComponents(spark, df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally if (forceLoop) spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  test("CC matches union-find on a hand case (chain + triangle + singleton edge)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    assert(runCC(edges) == ufComponents(edges))
  }

  test("CC cluster id is the component minimum") {
    val edges = Seq((5L, 9L), (9L, 3L), (100L, 50L))
    val got = runCC(edges)
    assert(got(5L) == 3L && got(9L) == 3L && got(3L) == 3L)
    assert(got(100L) == 50L && got(50L) == 50L)
  }

  test("property: CC equals union-find on random graphs (seeded), in BOTH regimes") {
    val rng = new scala.util.Random(42)
    (0 until 8).foreach { round =>
      val n = 2 + rng.nextInt(40)
      val m = 1 + rng.nextInt(80)
      val edges = (0 until m).flatMap { _ =>
        val a = rng.nextLong(n.toLong + 1)
        val b = rng.nextLong(n.toLong + 1)
        if (a != b) Some((a, b)) else None
      }
      if (edges.nonEmpty) {
        val want = ufComponents(edges)
        // driver union-find fast path (the default at this edge count)...
        assert(runCC(edges) == want, s"round $round failed: $edges")
        // ...and the iterative star-contraction loop must assign identically
        assert(runCC(edges, forceLoop = true) == want,
          s"round $round (loop regime) failed: $edges")
      }
    }
  }

  test("checkpointed CC: kill mid-loop, resume at the last complete round, exact result") {
    import spark.implicits._
    val edges = (0L until 120L).map(i => (i, (i + 11) % 120)) ++ Seq((500L, 501L), (501L, 502L))
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val df = edges.toDF("a", "b")

    // simulated kill: cap the loop at one contraction round
    val partial = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 1)
    assert(!partial.converged, "120-node cycle cannot converge in one round")
    assert(partial.roundsComputed == 1 && partial.resumedFromRound == 0)

    // restart: picks up at round 1 (round 0 + 1 are snapshotted), converges,
    // and the clusters equal the union-find oracle / in-memory loop
    val resumed = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 50)
    assert(resumed.resumedFromRound == 1, "second run must resume, not recompute round 1")
    assert(resumed.converged)
    val got = resumed.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ufComponents(edges))

    // a third invocation resumes the CONVERGED snapshot: zero rounds run
    val again = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 50)
    assert(again.converged && again.roundsComputed == 0)

    // a different edge set through the same dir must not resume stale
    // rounds (input-signature namespacing)
    val edges2 = edges :+ ((502L, 0L))
    val r2 = Clustering.connectedComponentsCheckpointed(spark, edges2.toDF("a", "b"), dir, maxIter = 50)
    assert(r2.resumedFromRound == 0)
    val got2 = r2.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == ufComponents(edges2))

    // storage discipline: the stale sibling namespace was pruned on entry
    // and the converged run kept only its FINAL round — one round dir and
    // one manifest total under the checkpoint dir
    import scala.jdk.CollectionConverters._
    def walk(pred: java.nio.file.Path => Boolean): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala.filter(pred).toList finally st.close()
    }
    assert(walk(_.getFileName.toString.startsWith("round_")).size == 1)
    val manifests = walk(_.getFileName.toString == "_MANIFEST")
    assert(manifests.size == 1)

    // a truncated/corrupt manifest counts as an INCOMPLETE round: the next
    // run recomputes instead of crashing on parse
    java.nio.file.Files.write(manifests.head, "garbage".getBytes("UTF-8"))
    val r3 = Clustering.connectedComponentsCheckpointed(spark, edges2.toDF("a", "b"), dir, maxIter = 50)
    assert(r3.resumedFromRound == 0 && r3.converged)
    val got3 = r3.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == ufComponents(edges2))
  }

  test("resume namespace separates duplicate-heavy multisets that xor-cancel (round-4 advice)") {
    import spark.implicits._
    // both inputs: 4 edges, every edge with multiplicity 2 -> the xor
    // component cancels to 0 and (count, xor) collide; the wrapping
    // sum-hash component must still separate them, or graph B would
    // wrongly resume graph A's converged rounds
    val dir = java.nio.file.Files.createTempDirectory("cc_ns").toString
    val a = Seq((1L, 2L), (1L, 2L), (3L, 4L), (3L, 4L)).toDF("a", "b")
    val b = Seq((5L, 6L), (5L, 6L), (7L, 8L), (7L, 8L)).toDF("a", "b")
    val ra = Clustering.connectedComponentsCheckpointed(spark, a, dir, maxIter = 50)
    assert(ra.converged)
    val rb = Clustering.connectedComponentsCheckpointed(spark, b, dir, maxIter = 50)
    assert(rb.resumedFromRound == 0, "graph B resumed graph A's namespace")
    val got = rb.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("spark.graft.cc.checkpointDir conf flag routes the catalog CC through reliable checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("cc_conf").toString
    val sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.cc.checkpointDir", dir)
    try {
      assert(graft.queries.ErQueries.ccCheckpointDir(spark).contains(dir))
      val n = graft.queries.ErQueries.erClusters(spark, sf).count()
      assert(n > 0)
      val kids = new java.io.File(dir).listFiles()
      assert(kids != null && kids.exists(_.getName.startsWith("cc_")),
        s"no cc_ namespace materialized under $dir")
    } finally spark.conf.unset("spark.graft.cc.checkpointDir")
    assert(graft.queries.ErQueries.ccCheckpointDir(spark).isEmpty)
  }

  test("a SIBLING session's CC conf is honored (active-session read, not constructor capture)") {
    // sibling sessions share the applicationId and therefore the Shared
    // memo instance; the clusters stage must read the checkpoint-dir conf
    // from the ACTIVE session at call time (round-5 review finding)
    val spark2 = spark
    val sib = spark2.newSession()
    val dir = java.nio.file.Files.createTempDirectory("cc_conf_sib").toString
    sib.conf.set("spark.graft.cc.checkpointDir", dir)
    org.apache.spark.sql.SparkSession.setActiveSession(sib)
    try {
      assert(graft.queries.ErQueries.ccCheckpointDir(sib).contains(dir))
      val n = graft.queries.ErQueries.erClusters(sib, "/root/testdata/sf0.001").count()
      assert(n > 0)
      val kids = new java.io.File(dir).listFiles()
      assert(kids != null && kids.exists(_.getName.startsWith("cc_")),
        s"sibling session's checkpoint mode was ignored: no cc_ namespace under $dir")
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark2)
  }

  test("maxIter exhaustion logs a loud non-convergence warning instead of silent under-merge") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    // the driver union-find fast path always converges — force the loop
    // regime, whose maxIter budget the warning guards
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try Clustering.connectedComponents(spark, edges, maxIter = 1).collect()
    finally {
      System.setErr(old)
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
    }
    assert(new String(buf.toByteArray, "UTF-8").contains("WITHOUT converging"),
      "expected a non-convergence warning on stderr")
  }

  test("CC is deterministic under different input partitioning (both regimes)") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i, (i + 7) % 200)) ++ Seq((500L, 600L))
    def run(parts: Int, forceLoop: Boolean): Seq[(Long, Long)] = {
      if (forceLoop) spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
      try Clustering.connectedComponents(spark, edges.toDF("a", "b").repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      finally if (forceLoop) spark.conf.unset("spark.graft.cc.driverMaxEdges")
    }
    val r1 = run(1, forceLoop = false)
    assert(r1 == run(13, forceLoop = false))
    assert(r1 == run(1, forceLoop = true))
    assert(r1 == run(13, forceLoop = true))
  }

  // ---- G7 incremental maintenance -----------------------------------------

  /** Batch-CC reference for the union graph over a universe of ids:
    * singletons keep themselves. */
  private def batchAssign(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val cc = ufComponents(edges)
    ids.map(i => i -> cc.getOrElse(i, i)).toMap
  }

  private def runIncremental(
      ids: Seq[Long], oldEdges: Seq[(Long, Long)], newEdges: Seq[(Long, Long)]): Map[Long, Long] =
    runIncrementalIn(ids, oldEdges, newEdges)._1

  /** The incremental fold with its result flags, under an optional
    * spark.graft.cc.driverMaxEdges budget; `batchParts` slices the batch
    * into that many contiguous partitions (None keeps the local
    * relation's split). */
  private def runIncrementalIn(
      ids: Seq[Long], oldEdges: Seq[(Long, Long)], newEdges: Seq[(Long, Long)],
      driverMaxEdges: Option[Long] = None,
      batchParts: Option[Int] = None): (Map[Long, Long], Clustering.IncrementalCc) = {
    import spark.implicits._
    val standing = Clustering.assign(
      spark, ids.toDF("id"),
      if (oldEdges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else oldEdges.toDF("a", "b"))
    val batch = batchParts match {
      case Some(p) => spark.sparkContext.parallelize(newEdges, p).toDF("a", "b")
      case None =>
        if (newEdges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else newEdges.toDF("a", "b")
    }
    driverMaxEdges.foreach(m => spark.conf.set("spark.graft.cc.driverMaxEdges", m.toString))
    try {
      val r = Clustering.incrementalClustersWithDelta(spark, standing, batch)
      (r.assignment.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, r)
    } finally if (driverMaxEdges.nonEmpty) spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  test("incremental CC: merging two standing clusters and linking brand-new ids is exact") {
    // standing: {1,2,3} and {10,11}, singleton 20; batch merges the two
    // clusters (3-10), hangs a brand-new chain (30-31, 31-10), and adds a
    // brand-new isolated pair (40-41)
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L)
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val newE = Seq((3L, 10L), (30L, 31L), (31L, 10L), (40L, 41L))
    val got = runIncremental(ids, oldE, newE)
    assert(got == batchAssign(ids ++ Seq(30L, 31L, 40L, 41L), oldE ++ newE))
    assert(got(11L) == 1L && got(31L) == 1L && got(20L) == 20L && got(41L) == 40L)
  }

  test("incremental CC: empty batch and within-cluster batch edges are no-ops") {
    val ids = Seq(1L, 2L, 3L, 7L)
    val oldE = Seq((1L, 2L), (2L, 3L))
    assert(runIncremental(ids, oldE, Seq.empty) == batchAssign(ids, oldE))
    // batch edges that collapse to self-loops after contraction
    assert(runIncremental(ids, oldE, Seq((1L, 3L), (2L, 3L))) == batchAssign(ids, oldE))
  }

  test("broadcast-size guard: the batch-CC fallback regime equals the broadcast regime") {
    import spark.implicits._
    // round-6 advice: a catch-up/bootstrap-sized batch must degrade to
    // batch CC over the union instead of a corpus-scale broadcast.
    // threshold 0 forces the fallback on the same fixtures the broadcast
    // path is proven on; both regimes must assign identically.
    val rng = new scala.util.Random(6406)
    (0 until 4).foreach { round =>
      val all = (0 until (20 + rng.nextInt(80))).flatMap { _ =>
        val a = rng.nextLong(40L); val b = rng.nextLong(40L)
        if (a != b) Some((a, b)) else None
      }
      val (oldE, newE) = all.partition(_ => rng.nextDouble() < 0.5)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val ids = (oldE.flatMap(e => Seq(e._1, e._2)) ++ Seq(0L)).distinct
        val standing = Clustering.assign(spark, ids.toDF("id"), oldE.toDF("a", "b"))
        val broadcastRegime = Clustering
          .incrementalClustersWithDelta(spark, standing, newE.toDF("a", "b")).assignment
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val fallbackRegime = Clustering
          .incrementalClustersWithDelta(spark, standing, newE.toDF("a", "b"),
            broadcastMaxEndpoints = 0L).assignment
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fallbackRegime == broadcastRegime, s"round $round")
        assert(fallbackRegime ==
          batchAssign((ids ++ newE.flatMap(e => Seq(e._1, e._2))).distinct, oldE ++ newE))
      }
    }
  }

  test("property: incremental CC equals batch CC on random graphs and random splits (seeded)") {
    val rng = new scala.util.Random(4242)
    (0 until 6).foreach { round =>
      val n = 5 + rng.nextInt(60)
      val m = 1 + rng.nextInt(120)
      val all = (0 until m).flatMap { _ =>
        val a = rng.nextLong(n.toLong + 1)
        val b = rng.nextLong(n.toLong + 1)
        if (a != b) Some((a, b)) else None
      }
      if (all.nonEmpty) {
        val (oldE, newE) = all.partition(_ => rng.nextDouble() < 0.7)
        // the standing universe: ids of the OLD graph only — new-edge
        // endpoints may be brand-new, exactly the crawl-increment shape
        val ids = (oldE.flatMap(e => Seq(e._1, e._2)) ++ Seq(0L)).distinct
        val want = batchAssign((ids ++ newE.flatMap(e => Seq(e._1, e._2))).distinct, oldE ++ newE)
        // each split twice: the driver regime (the default budget holds
        // any of these batches) and the distributed broadcast regime
        val (driver, d) = runIncrementalIn(ids, oldE, newE)
        assert(driver == want, s"round $round (driver regime): old=$oldE new=$newE")
        assert(d.regime == Clustering.Regime.Driver && d.emptyBatch == newE.isEmpty)
        val (distributed, b) = runIncrementalIn(ids, oldE, newE, driverMaxEdges = Some(0L))
        assert(distributed == want, s"round $round (broadcast regime): old=$oldE new=$newE")
        assert(b.regime == Clustering.Regime.Broadcast && b.emptyBatch == newE.isEmpty)
      }
    }
  }

  test("incremental CC: a task over its share of the driver budget takes the broadcast regime") {
    // standing {1,2,3}, {10,11}; the batch chain 3-20-21-10 lands in one
    // partition and contracts to 3 star edges (20→3, 21→3, 10→3)
    val ids = Seq(1L, 2L, 3L, 10L, 11L)
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val newE = Seq((3L, 20L), (20L, 21L), (21L, 10L))
    val want = batchAssign(ids ++ Seq(20L, 21L), oldE ++ newE)
    val (fits, f) = runIncrementalIn(ids, oldE, newE, Some(3L), batchParts = Some(1))
    assert(fits == want && f.regime == Clustering.Regime.Driver)
    val (over, o) = runIncrementalIn(ids, oldE, newE, Some(2L), batchParts = Some(1))
    assert(over == want && o.regime == Clustering.Regime.Broadcast)
    // the share is per task: the chain plus a thrice-repeated pair
    // contracts to 4 stars, inside a budget of 4 as one partition; as two
    // partitions of 3 rows each, the chain's 3 stars exceed the share of 2
    val sliced = newE ++ Seq.fill(3)((40L, 41L))
    val want2 = batchAssign(ids ++ Seq(20L, 21L, 40L, 41L), oldE ++ sliced)
    val (one, o1) = runIncrementalIn(ids, oldE, sliced, Some(4L), batchParts = Some(1))
    assert(one == want2 && o1.regime == Clustering.Regime.Driver)
    val (two, o2) = runIncrementalIn(ids, oldE, sliced, Some(4L), batchParts = Some(2))
    assert(two == want2 && o2.regime == Clustering.Regime.Broadcast)
  }
}
