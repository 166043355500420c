package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Commit

/** Checkpoint-resumable stage orchestration with per-partition lineage +
  * metrics (BASELINE.json north_rule).
  *
  * Each stage materializes to `<root>/<stage>/data` (Parquet) plus a
  * `manifest.json` written LAST through [[graft.util.Commit]] (temp file +
  * rename on the root's Hadoop FileSystem, so local, HDFS and object
  * stores alike): the manifest is the commit record — a stage directory
  * without one is garbage from a killed run and is recomputed. This
  * emulates the Iceberg snapshot+manifest layout (no Iceberg runtime jar
  * is on the classpath — SURVEY §4.3); the directory naming stays
  * swappable for a real catalog.
  *
  * Manifest contents: stage name, row count, partition count, per-partition
  * row counts (the partition lineage), upstream stage names, wall-clock,
  * and a fingerprint of the input manifests so a changed upstream
  * invalidates downstream snapshots.
  */
object Pipeline {

  final case class StageResult(name: String, df: DataFrame, fromSnapshot: Boolean)

  private def esc(s: String): String = graft.util.Json.esc(s)

  def manifestPath(root: String, stage: String) = s"$root/$stage/manifest.json"
  def dataPath(root: String, stage: String) = s"$root/$stage/data"

  private def fingerprint(manifest: Option[String]): String =
    manifest.fold("absent")(m => java.lang.Long.toHexString(
      m.getBytes("UTF-8").foldLeft(0xCBF29CE484222325L)((h, b) => (h ^ (b & 0xFF)) * 0x100000001B3L)))

  /** Run (or resume) one stage: if a committed snapshot exists whose
    * recorded upstream fingerprints still match, read it back; otherwise
    * compute, write data, then commit the manifest. */
  def stage(
      spark: SparkSession,
      root: String,
      name: String,
      upstream: Seq[String] = Nil)(compute: => DataFrame): StageResult = {
    val mPath = new Path(manifestPath(root, name))
    val dPath = dataPath(root, name)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val upstreamFps = upstream.map(u =>
      u -> fingerprint(Commit.read(fs, new Path(manifestPath(root, u)))))

    val committed = Commit.read(fs, mPath)
    val stillValid = committed.exists(m => upstreamFps.forall { case (u, fp) =>
      m.contains(s""""${esc(u)}":"$fp"""")
    })
    if (stillValid) return StageResult(name, spark.read.parquet(dPath), fromSnapshot = true)
    // upstream changed → invalidate
    if (committed.isDefined) fs.delete(mPath, false)

    val t0 = System.nanoTime()
    val df = compute
    df.write.mode("overwrite").parquet(dPath)
    val written = spark.read.parquet(dPath)
    // per-partition lineage: row count per output file/partition
    val perPart = written
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("rows"))
      .orderBy(col("pid"))
      .collect()
      .map(r => s"""{"pid":${r.getInt(0)},"rows":${r.getLong(1)}}""")
    val rows = perPart.map(_.split("\"rows\":")(1).stripSuffix("}").toLong).sum
    val sec = (System.nanoTime() - t0) / 1e9
    val upstreamJson = upstreamFps
      .map { case (u, fp) => s""""${esc(u)}":"$fp"""" }
      .mkString("{", ",", "}")
    val manifest =
      s"""{"stage":"${esc(name)}","rows":$rows,"partitions":${perPart.length},""" +
        s""""partition_rows":[${perPart.mkString(",")}],""" +
        f""""wall_sec":$sec%.3f,"upstream":$upstreamJson}"""
    Commit.write(fs, mPath, manifest)
    StageResult(name, written, fromSnapshot = false)
  }
}
