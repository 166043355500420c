package graft

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, explode}
import org.scalatest.funsuite.AnyFunSuite

import graft.er.Clustering
import graft.pipeline.Pipeline
import graft.streaming.Streaming

/** Local file system under the `faulty:` scheme (the Delta/Spark
  * FakeFileSystem pattern) that an armed [[FaultyFs.Fault]] makes throw
  * IOException on matching open / create / rename / listStatus calls. */
class FaultyFs extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultyFs.check("open", f)
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.check("rename", dst)
    super.rename(src, dst)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FaultyFs.check("listStatus", f)
    super.listStatus(f)
  }
}

object FaultyFs {
  /** Throw on the `k`-th call (k = 0: on every call) whose op is in `ops`
    * and whose path `matches`. */
  final case class Fault(ops: Set[String], matches: Path => Boolean, k: Int = 0)

  @volatile private var armed: Option[Fault] = None
  private val calls = new AtomicInteger
  private val fired = new AtomicInteger

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyFs].getName)
    conf.set("fs.faulty.impl.disable.cache", "true")
  }

  def arm(f: Fault): Unit = { calls.set(0); fired.set(0); armed = Some(f) }

  /** Disarm; returns how many faults fired while armed. */
  def disarm(): Int = { armed = None; fired.get }

  def check(op: String, p: Path): Unit = armed.foreach { f =>
    if (f.ops(op) && f.matches(p)) {
      val n = calls.incrementAndGet()
      if (f.k == 0 || n == f.k) {
        fired.incrementAndGet()
        throw new IOException(s"injected fault: $op call $n on $p")
      }
    }
  }
}

/** Crash safety of the one commit rule: a fault injected at every
  * commit-protocol call of a fold either fails the fold or leaves the
  * committed state as it was (or as the complete new version, when the
  * fault hits after the commit) — never a partial relation — and re-running
  * the same batchId afterwards yields the batch answer. */
class StateCommitFaultSpec extends AnyFunSuite {
  lazy val spark = { val s = SparkSessions.spark; FaultyFs.register(s); s }

  private val protocolOps = Set("open", "create", "rename", "listStatus")

  /** (local dir, faulty: URI of it) */
  private def faultyDir(prefix: String): (String, String) = {
    val local = Files.createTempDirectory(prefix).toString
    (local, "faulty://" + local)
  }

  private def isDir(local: String)(p: Path): Boolean =
    p != null && p.toUri.getPath.stripSuffix("/") == local

  /** The versioned-state commit protocol's own calls under `local`:
    * listing the state root or a version's part dir, and any call on a
    * `_PARTS` record or its temp file. */
  private def protocolPath(local: String)(p: Path): Boolean =
    isDir(local)(p) || p.getName.startsWith("_PARTS") ||
      (p.getParent != null && p.getParent.getName.startsWith("v_") && !p.getName.startsWith("_"))

  private def injected(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("injected fault")))

  private def withRanges[T](n: Int)(body: => T): T = {
    spark.conf.set("spark.graft.streaming.stateRanges", n.toString)
    try body finally spark.conf.unset("spark.graft.streaming.stateRanges")
  }

  private def clustersOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def assignOver(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    import spark.implicits._
    val e = edges.toDF("a", "b")
    clustersOf(Clustering.assign(spark,
      e.select(explode(array(col("a"), col("b"))).as("id")).distinct(), e))
  }

  private def stats(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Fault k hits the k-th matching commit-protocol call of the fold of
    * batch k (batch 0 is the unarmed bootstrap). The sweep ends at the
    * first k past the fold's last call; returns that k. A fault may go
    * unreported only when it hit the best-effort bytes-written log line
    * after the commit, so the fold then must have committed in full. */
  private def sweep[T](local: String, fold: Long => Unit, current: () => Set[T],
      oracle: Long => Set[T]): Int = {
    var k = 1
    var before = current()
    var more = true
    while (more) {
      val batchId = k.toLong
      FaultyFs.arm(FaultyFs.Fault(protocolOps, protocolPath(local), k))
      val err = try { fold(batchId); None } catch { case e: Exception => Some(e) }
      val fired = FaultyFs.disarm()
      val want = oracle(batchId)
      val after = current()
      if (fired == 0) {
        assert(err.isEmpty, s"unfaulted fold $k failed: $err")
        assert(after == want, s"unfaulted fold $k diverges from the batch answer")
        more = false
      } else {
        err match {
          case Some(e) =>
            assert(injected(e), s"fault $k was replaced by another failure: $e")
            assert(after == before || after == want, s"fault $k left a partial state")
          case None =>
            assert(after == want, s"fault $k was swallowed before the commit")
        }
        fold(batchId)
        assert(current() == want, s"re-running batch $k after fault $k diverges")
        before = want
        k += 1
      }
    }
    k
  }

  test("cluster fold: a fault at every commit-protocol call fails the fold or leaves state intact") {
    import spark.implicits._
    val (local, state) = faultyDir("fault_cc_sweep")
    // batch 0: 40 two-id clusters; batch k joins cluster k-1 to cluster k
    def edges(b: Long): Seq[(Long, Long)] =
      if (b == 0) (0L until 80L by 2).map(i => (i, i + 1)) else Seq((2 * b - 1, 2 * b))
    def upTo(b: Long) = (0L to b).flatMap(edges)
    withRanges(8) {
      Streaming.foldClusterBatch(edges(0).toDF("a", "b"), state, 0L)
      val calls = sweep(local,
        b => Streaming.foldClusterBatch(edges(b).toDF("a", "b"), state, b),
        () => clustersOf(Streaming.currentClusters(spark, state)),
        b => assignOver(upTo(b)))
      assert(calls > 5, s"only ${calls - 1} commit-protocol calls were faulted")
    }
  }

  test("dup-ngram fold: a fault at every commit-protocol call fails the fold or leaves state intact") {
    import spark.implicits._
    val (local, state) = faultyDir("fault_dng_sweep")
    def wave(w: Long): Seq[(Long, String)] =
      (0 until 3).map(i =>
        (w * 100L + i, (0 until 9).map(t => s"t${(w * 3 + i + t) % 9}").mkString(" ")))
    withRanges(8) {
      Streaming.foldDupNgramBatch(wave(0).toDF("doc_id", "text"), 8, state, 0L)
      val calls = sweep(local,
        b => Streaming.foldDupNgramBatch(wave(b).toDF("doc_id", "text"), 8, state, b),
        () => stats(Streaming.currentDupNgrams(spark, state)),
        b => stats(graft.curate.Decontam.dupNgramStats(
          (0L to b).flatMap(wave).toDF("doc_id", "text"), "doc_id", "text", n = 8)))
      assert(calls > 5, s"only ${calls - 1} commit-protocol calls were faulted")
    }
  }

  /** Two committed cluster folds under a fresh `faulty:` dir, then a third
    * fold with `fault(localDir)` armed: it must fail with the injected
    * fault and leave the committed state intact, and its unarmed re-run
    * must give the batch answer. `whileArmed` runs extra armed checks. */
  private def failedFoldKeepsState(prefix: String, fault: String => FaultyFs.Fault)(
      whileArmed: String => Unit): Unit = {
    import spark.implicits._
    val (local, state) = faultyDir(prefix)
    val boot = (0L until 80L by 2).map(i => (i, i + 1))
    def current() = clustersOf(Streaming.currentClusters(spark, state))
    withRanges(8) {
      Streaming.foldClusterBatch(boot.toDF("a", "b"), state, 0L)
      // a ranged fold: version 1 lands only the ranges of ids 0..3
      Streaming.foldClusterBatch(Seq((1L, 2L)).toDF("a", "b"), state, 1L)
      val committed = assignOver(boot :+ ((1L, 2L)))
      assert(current() == committed)
      FaultyFs.arm(fault(local))
      whileArmed(state)
      val err = intercept[Exception](
        Streaming.foldClusterBatch(Seq((3L, 4L)).toDF("a", "b"), state, 2L))
      assert(FaultyFs.disarm() > 0 && injected(err))
      assert(current() == committed, "a failed fold changed the committed state")
      Streaming.foldClusterBatch(Seq((3L, 4L)).toDF("a", "b"), state, 2L)
      assert(current() == assignOver(boot ++ Seq((1L, 2L), (3L, 4L))))
    }
  }

  test("a failed _PARTS read fails the call instead of resolving a partial relation") {
    failedFoldKeepsState("fault_parts", _ => FaultyFs.Fault(Set("open"), _.getName == "_PARTS")) {
      state => assert(injected(intercept[Exception](
        Streaming.currentClusters(spark, state).collect())))
    }
  }

  test("a failed state-root listing fails the fold instead of bootstrapping from the batch") {
    // the state root is unreadable: listing it, or opening any metadata
    // file directly under it, fails
    failedFoldKeepsState("fault_root", local => FaultyFs.Fault(Set("listStatus", "open"),
      p => isDir(local)(p) || (isDir(local)(p.getParent) && p.getName.startsWith("_"))))(_ => ())
  }

  test("Pipeline.stage and checkpointed CC commit through a non-default Hadoop FileSystem") {
    import spark.implicits._
    val (local, root) = faultyDir("fault_pipe")
    var computes = 0
    def run() = Pipeline.stage(spark, root, "s") {
      computes += 1
      spark.range(0, 100).toDF("id")
    }
    val first = run()
    assert(!first.fromSnapshot && first.df.count() == 100)
    assert(new java.io.File(local, "s/manifest.json").isFile)
    val resumed = run()
    assert(resumed.fromSnapshot && resumed.df.count() == 100 && computes == 1)

    val (ccLocal, ccDir) = faultyDir("fault_cc_ckpt")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val r1 = Clustering.connectedComponentsCheckpointed(spark, edges.toDF("a", "b"), ccDir)
    assert(r1.converged && clustersOf(r1.clusters) == assignOver(edges))
    val r2 = Clustering.connectedComponentsCheckpointed(spark, edges.toDF("a", "b"), ccDir)
    assert(r2.converged && r2.roundsComputed == 0 && clustersOf(r2.clusters) == assignOver(edges))
    val manifests = Files.walk(java.nio.file.Paths.get(ccLocal)).toArray
      .count(_.toString.endsWith("/_MANIFEST"))
    assert(manifests == 1)
  }
}
