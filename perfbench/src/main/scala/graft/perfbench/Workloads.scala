package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.curate.Decontam
import graft.dedup.Dedup
import graft.er.{Blocking, Clustering, Mentions, PairEval, Scoring}
import graft.model.Page
import graft.queries.Queries
import graft.streaming.Streaming
import graft.synth.Synth
import graft.text.Extract

/** What one op did: items processed, bytes it left at rest, and whether
  * its output passed the op's check. */
final case class OpResult(items: Long, stateBytes: Long, ok: Boolean, note: String)

/** A closed-loop workload: inputs made from the seed in `setup`, then ops
  * run one after another until the window closes or the fixed schedule is
  * used up. */
trait Workload {
  def name: String
  /** Setups per run (the median is reported) and untimed ops before the
    * window. Both are paid on every run, which should stay under about
    * 45 s: the folds, whose cold setup takes 13-25 s, set up once. */
  def setupReps: Int
  def warmOps: Int
  /** Input sizes, for the report. */
  def inputs: String
  /** Generates the inputs and bootstraps standing state under `dir`,
    * replacing whatever an earlier call set up. */
  def setup(dir: String): Unit
  def hasNext: Boolean
  def op(tr: Tracer): OpResult
  /** Drops what the last op persisted beyond the dedup signature tables,
    * which the runner releases after every op. */
  def release(): Unit = ()
  /** Checks the state the ops left behind; None when it is correct. */
  def check(): Option[String]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "er_batch" => new ErBatch(spark, seed, nPages = 400)
    case "er_fold" => new ErFold(spark, seed, nPages = 300, batchSize = 2000)
    case "curate_fold" => new CurateFold(spark, seed, nDocs = 640, batchSize = 20)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Regular files under `dir` with their sizes; hidden files (the local
    * file system's checksums) are not state. */
  def listFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile && !f.getName.startsWith(".")) Seq(f.getPath -> f.length)
      else Nil
    walk(new File(dir)).toMap
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Equal as multisets of rows. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  def latestVersion(spark: SparkSession, stateDir: String): Option[Long] =
    new Streaming.VersionedState(spark, stateDir).readLatest()

  /** The fold schedule over `n` rows in a seeded order: the first 3/4
    * bootstrap the standing state (batch -1), the rest form fixed batches
    * of `size` rows, op i folding batch i; a short remainder is never
    * folded (-2). Equal batches keep an op's work the same on every seed. */
  def batchOf(rank: Long, n: Long, size: Int): Int = {
    val standing = n * 3 / 4
    if (rank < standing) -1
    else if ((rank - standing) / size < nBatches(n, size)) ((rank - standing) / size).toInt
    else -2
  }

  def nBatches(n: Long, size: Int): Int = ((n - n * 3 / 4) / size).toInt

  /** Rows folded once `next` ops have run: the standing ones and batches
    * below `next`. */
  def foldedBefore(next: Int) = col("batch") >= -1 && col("batch") < next
}

/** The paper's headline job: resolve a pages table end to end. */
final class ErBatch(spark: SparkSession, seed: Long, nPages: Long) extends Workload {
  import spark.implicits._
  val name = "er_batch"
  val setupReps = 3
  val warmOps = 3
  def inputs = s"$nPages pages"
  private var pagesPath = ""
  private var outDir = ""
  private var nOp = 0
  private var refPairs = -1L
  private val held = mutable.Buffer[DataFrame]()

  def setup(dir: String): Unit = {
    pagesPath = s"$dir/pages"
    outDir = s"$dir/out"
    Synth.pages(spark, nPages, seed).write.parquet(pagesPath)
    nOp = 0
    refPairs = -1L
  }

  def hasNext = true

  private def hold[T](ds: Dataset[T], traced: Boolean): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    held += p.toDF()
    if (traced) p.count()
    p
  }

  def op(tr: Tracer): OpResult = {
    val pages = spark.read.parquet(pagesPath).as[Page]
    val extracted = tr.span("text.extract") {
      tr.boundary(pages.map(p => (p.url,
        Extract.processExtractorText(new String(p.html, StandardCharsets.UTF_8)))), held)
    }
    val mentions = tr.span("er.mentions")(tr.boundary(Mentions.fromExtracted(extracted), held))
    val keyed = tr.span("er.blocking")(
      tr.boundary(Blocking.keyedWithAttrs(mentions, Blocking.Config()), held))
    // the pair universe is read twice (match edges and the evaluation), so
    // it is persisted as PairEval.runPipeline does
    val scored = tr.span("er.scoring")(hold(
      Scoring.scoreFused(keyed).select("a", "b", "gold_a", "gold_b", "is_match")
        .dropDuplicates("a", "b"), tr.enabled))
    val clusters = tr.span("er.clustering")(hold(
      Clustering.assign(spark, mentions.select(col("mention_id").as("id")),
        scored.where(col("is_match")).select("a", "b")), tr.enabled).toDF())
    val out = s"$outDir/op-$nOp"
    nOp += 1
    clusters.write.parquet(out)
    val bytes = Workload.listFiles(out).values.sum
    val ev = tr.span("er.pair_eval")(PairEval.pairwise(scored, clusters))
    val pairs = scored.count()
    if (refPairs < 0) refPairs = pairs
    if (tr.enabled) {
      val nMentions = mentions.count()
      val blocks = keyed.groupBy("bkey").count()
        .agg(sum(col("count")).as("rows"), max(col("count")).as("max_block"),
          sum(col("count") * (col("count") - 1) / 2).as("scored_rows"))
        .head()
      val matches = scored.where(col("is_match")).count()
      tr.count("er.blocking", "keys_per_mention", blocks.getLong(0).toDouble / nMentions)
      tr.count("er.blocking", "max_block", blocks.getLong(1).toDouble)
      tr.count("er.scoring", "pairs", pairs.toDouble)
      tr.count("er.scoring", "dup_ratio", blocks.getDouble(2) / pairs)
      tr.count("er.scoring", "match_ratio", matches.toDouble / pairs)
      tr.count("er.scoring", "pairs_per_s", pairs / tr.lastWall("er.scoring"))
    }
    OpResult(nPages, bytes, ev.f1 >= 0.99 && pairs == refPairs,
      f"f1=${ev.f1}%.5f pairs=$pairs")
  }

  override def release(): Unit = {
    held.foreach(_.unpersist(false))
    held.clear()
    Workload.deleteTree(new File(outDir))
  }

  def check(): Option[String] =
    if (refPairs > 0) None else Some("no op produced a pair universe")
}

/** The cluster maintenance path: fold fixed batches of match edges into a
  * standing, versioned assignment. No scoring happens in an op. */
final class ErFold(spark: SparkSession, seed: Long, nPages: Long, batchSize: Int)
    extends Workload {
  val name = "er_fold"
  val setupReps = 1
  val warmOps = 1
  private var edgesPath = ""
  private var stateDir = ""
  private var nOps = 0
  private var next = 0
  private var nEdges = 0L
  def inputs = s"$nEdges match edges from $nPages pages; 3/4 standing, " +
    s"$nOps folds of $batchSize edges"

  private def edges = spark.read.parquet(edgesPath)

  def setup(dir: String): Unit = {
    edgesPath = s"$dir/edges"
    stateDir = s"$dir/state"
    val mentions = Mentions.fromPages(Synth.pages(spark, nPages, seed))
    val matched = Scoring.scoreFused(Blocking.keyedWithAttrs(mentions, Blocking.Config()))
      .where(col("is_match")).select("a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    nEdges = matched.length
    nOps = Workload.nBatches(nEdges, batchSize)
    // mentions arrive in a seeded order and an edge arrives with its later
    // endpoint: the standing state covers the earlier mentions, and each
    // fold attaches the next mentions to it, as new pages would
    def arrival(id: Long) = Synth.rnd(seed, 127L, id)
    val ordered = matched.sortBy { case (a, b) =>
      (math.max(arrival(a), arrival(b)), math.min(arrival(a), arrival(b)))
    }
    import spark.implicits._
    ordered.zipWithIndex.map { case ((a, b), r) => (a, b, Workload.batchOf(r, nEdges, batchSize)) }
      .toSeq.toDF("a", "b", "batch")
      .repartition(1).write.parquet(edgesPath)
    Streaming.foldClusterBatch(edges.where(col("batch") === -1).select("a", "b"), stateDir, 0L)
    next = 0
  }

  def hasNext: Boolean = next < nOps

  def op(tr: Tracer): OpResult = {
    val i = next
    next += 1
    val batch = edges.where(col("batch") === i).select("a", "b")
    if (tr.enabled) tr.span("er.clustering_incr") {
      val r = Clustering.incrementalClustersWithDelta(spark,
        Streaming.currentClusters(spark, stateDir), batch)
      r.assignment.agg(sum(col("cluster") % 7)).collect()
      r.changed.agg(sum(col("cluster") % 7)).collect()
    }
    val before = Workload.listFiles(stateDir)
    tr.span("streaming.fold_clusters")(Streaming.foldClusterBatch(batch, stateDir, i + 1L))
    val written = Workload.listFiles(stateDir) -- before.keySet
    tr.count("streaming.fold_clusters", "files_written", written.size.toDouble)
    tr.count("streaming.fold_clusters", "ranges_touched",
      written.keys.map(p => new File(p).getParent).count(_.contains("_r=")).toDouble)
    OpResult(batchSize, written.values.sum,
      Workload.latestVersion(spark, stateDir).contains(i + 1L), s"fold=${i + 1}")
  }

  def check(): Option[String] = {
    val folded = edges.where(Workload.foldedBefore(next)).select("a", "b")
    val ids = folded.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val expect = Clustering.assign(spark, ids, folded)
    val got = Streaming.currentClusters(spark, stateDir).select("id", "cluster")
    if (Workload.sameRows(got, expect)) None
    else Some(s"state after $next folds differs from batch clustering of all edges")
  }
}

/** The curation maintenance path: fold new-doc batches into a standing
  * survivor index and a versioned dup-ngram state. */
final class CurateFold(spark: SparkSession, seed: Long, nDocs: Long, batchSize: Int)
    extends Workload {
  val name = "curate_fold"
  val setupReps = 1
  val warmOps = 0
  private val NGram = 8
  private var docsPath = ""
  private var dupState = ""
  private val nOps = Workload.nBatches(nDocs, batchSize)
  private var fidx: Dedup.FullSurvivorIndex = _
  private var next = 0
  private val tiers = mutable.Map[String, Long]().withDefaultValue(0L)
  /** The first op's fold, kept for the batch-survivors check. */
  private var firstFold: Option[(Int, Dedup.SurvivorDelta)] = None
  def inputs = s"$nDocs docs; 3/4 standing, $nOps batches of $batchSize docs"

  private def docs = spark.read.parquet(docsPath)
  private def standing = docs.where(col("batch") === -1)
  private def batch(i: Int) = docs.where(col("batch") === i).select("doc_id", "text", "lang", "source")

  def setup(dir: String): Unit = {
    if (fidx != null) fidx.frames.foreach(_.unpersist(false))
    docsPath = s"$dir/docs"
    dupState = s"$dir/dup_ngrams"
    DocGen.docs(spark, nDocs, seed, batchSize).write.parquet(docsPath)
    // the two standing states are independent: bootstrap them side by side
    val dupBoot = Future(
      Streaming.foldDupNgramBatch(standing.select("doc_id", "text"), NGram, dupState, 0L))(
      ExecutionContext.global)
    // the catalog's dedup parameters (TrainingDataQueries)
    fidx = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text",
      shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.35,
      cache = _.persist(StorageLevel.MEMORY_AND_DISK))
    fidx.frames.foreach(_.count())
    Dedup.releaseSignatures()
    Await.result(dupBoot, Duration.Inf)
    next = 0
    tiers.clear()
    firstFold = None
  }

  def hasNext: Boolean = next < nOps

  def op(tr: Tracer): OpResult = {
    val i = next
    next += 1
    val b = batch(i)
    val (tierCounts, delta) = tr.span("dedup.fold_survivors") {
      val d = Dedup.survivorsFullIncrementalDelta(fidx, b, "doc_id", "text")
      // an aggregate over the tier column forces every column of `changed`
      (d.changed.groupBy("tier").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap, d)
    }
    tierCounts.foreach { case (t, n) => tiers(t) += n }
    if (firstFold.isEmpty) firstFold = Some((i, delta))
    if (tr.enabled) {
      val nChanged = tierCounts.values.sum
      tr.count("dedup.fold_survivors", "changed_ratio", nChanged.toDouble / delta.full.count())
      Seq("exact", "near", "contained").foreach(t =>
        tr.count("dedup.fold_survivors", t, tierCounts.getOrElse(t, 0L).toDouble))
    }
    val before = Workload.listFiles(dupState)
    tr.span("streaming.fold_dup_ngrams")(
      Streaming.foldDupNgramBatch(b.select("doc_id", "text"), NGram, dupState, i + 1L))
    val written = Workload.listFiles(dupState) -- before.keySet
    tr.count("streaming.fold_dup_ngrams", "files_written", written.size.toDouble)
    tr.count("streaming.fold_dup_ngrams", "ranges_touched",
      written.keys.map(p => new File(p).getParent).count(_.contains("_r=")).toDouble)
    OpResult(batchSize, written.values.sum,
      tierCounts.nonEmpty && Workload.latestVersion(spark, dupState).contains(i + 1L),
      s"fold=${i + 1} changed=${tierCounts.values.sum}")
  }

  def check(): Option[String] = {
    val (i0, fold0) = firstFold.getOrElse(return Some("no op completed"))
    val union = docs.where(Workload.foldedBefore(next))
    // the two checks are independent: run them side by side
    val dupOk = Future(Workload.sameRows(
      Streaming.currentDupNgrams(spark, dupState).select("doc_id", "n_grams", "n_dup_grams"),
      Decontam.dupNgramStats(union, "doc_id", "text", NGram)
        .select("doc_id", "n_grams", "n_dup_grams")))(ExecutionContext.global)
    val u0 = standing.select("doc_id", "text", "lang", "source").unionByName(batch(i0))
    val batchRef = Dedup.survivors(u0, "doc_id", "text",
      shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.35,
      containmentPairs = Some(Queries.containmentPairs(u0)))
    val foldOk = Workload.sameRows(fold0.full.select("id", "survivor_id", "tier"),
      batchRef.select("id", "survivor_id", "tier"))
    Dedup.releaseSignatures()
    val missing = Seq("exact", "near", "contained").filter(tiers(_) == 0)
    Seq(
      if (Await.result(dupOk, Duration.Inf)) None
      else Some("dup-ngram state differs from dupNgramStats over the union"),
      if (foldOk) None else Some("fold decisions differ from batch survivors over standing + batch"),
      if (missing.isEmpty) None else Some(s"tiers never fired: ${missing.mkString(",")}"))
      .flatten.reduceOption(_ + "; " + _)
  }
}
