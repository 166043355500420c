package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.er.{Blocking, Clustering, Mentions, Scoring}
import graft.synth.Synth

/** Timing probe for G7 incremental cluster maintenance on the bench-scale
  * match-edge graph: split the edges into a standing graph and a small
  * "daily batch" (1/16 by pair hash — the crawl-increment shape), build
  * the standing assignment once, then time (a) re-running full batch CC
  * over the union vs (b) folding the batch with
  * [[graft.er.Clustering.incrementalClustersWithDelta]]. The incremental fold's
  * cost should track the BATCH size (contracted CC + two narrow passes
  * over the assignment), not the corpus — the number BASELINE.md cites
  * for the G7 scale claim. */
object IncrCcProbe {
  def main(args: Array[String]): Unit = {
    val nPages = sys.env.getOrElse("PROBE_PAGES", "20000").toLong
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mentions = Mentions.fromPages(Synth.pages(spark, nPages)).cache()
    val ids = mentions.select(col("mention_id").as("id")).cache()
    println(s"[probe] mentions: ${ids.count()}")
    val edges = Scoring.scoreFused(Blocking.keyedWithAttrs(mentions, Blocking.Config()))
      .where(col("is_match")).select(col("a"), col("b")).distinct().cache()
    println(s"[probe] match edges: ${edges.count()}")

    val isNew = pmod(xxhash64(col("a"), col("b")), lit(16)) === 0
    val standingEdges = edges.where(!isNew).cache()
    val batchEdges = edges.where(isNew).cache()
    println(s"[probe] standing edges: ${standingEdges.count()}, batch edges: ${batchEdges.count()}")

    // the standing assignment exists before the increment arrives — its
    // build cost is NOT part of the incremental path; materialize it
    val standing = Clustering.assign(spark, ids, standingEdges).localCheckpoint(true)

    def time(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    (1 to 3).foreach { i =>
      time(s"full_batch_cc_$i") { Clustering.assign(spark, ids, edges).count() }
      time(s"incremental_fold_$i") {
        Clustering.incrementalClustersWithDelta(spark, standing, batchEdges).assignment.count()
      }
    }
    // exactness at probe scale: the folded assignment equals batch CC —
    // counts compared too, or a dropped/duplicated id would be invisible
    // to the inner join and the mismatch count would be vacuously 0
    val full = Clustering.assign(spark, ids, edges).cache()
    val incr = Clustering.incrementalClustersWithDelta(spark, standing, batchEdges).assignment.cache()
    val (nFull, nIncr) = (full.count(), incr.count())
    val joined = full.as("f").join(incr.as("i"), Seq("id")).cache()
    val diff = joined.where(col("f.cluster") =!= col("i.cluster")).count()
    println(s"[probe] rows full=$nFull incr=$nIncr joined=${joined.count()} " +
      s"(all three must match); mismatched clusters vs batch CC: $diff")
    spark.stop()
  }
}
