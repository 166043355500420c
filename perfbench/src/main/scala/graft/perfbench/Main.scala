package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The repository's benchmark: one seeded workload, run closed loop by a
  * single client (the next op starts when the previous one returns) on
  * `local[<cores>]`, calling the engine layers directly.
  *
  *   --workload er_batch|er_fold|curate_fold  --seed N  --seconds S
  *   --trace 0|1  --work DIR
  *
  * Trace 0 measures the end-to-end metrics with tracing off. Trace 1 spends
  * the first half of the window untraced and the second half traced (a
  * span around each layer call, with Spark jobs, tasks and bytes
  * attributed to it) and reports per-layer means per op plus the tracing
  * overhead. The last stdout line is the JSON result.
  */
object Main {
  val Spans: Seq[String] = Seq(
    "text.extract", "er.mentions", "er.blocking", "er.scoring", "er.clustering",
    "er.pair_eval", "er.clustering_incr", "streaming.fold_clusters",
    "dedup.fold_survivors", "streaming.fold_dup_ngrams")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf("--" + key)
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the engine scales the state's hash ranges with the corpus; its
      // default of 64 suits corpora far larger than these inputs
      .config("spark.graft.streaming.stateRanges", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = new File(arg(args, "work")).getAbsolutePath

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = Workload(name, spark, seed)
    val setupS = (0 until w.setupReps).map { k =>
      val t = System.nanoTime()
      w.setup(s"$work/setup-$k")
      (System.nanoTime() - t) / 1e9
    }
    println(f"[perfbench] $name seed=$seed inputs: ${w.inputs}")
    println(f"[perfbench] session ${sessionS}%.2f s, setup reps " +
      setupS.map(s => f"$s%.2f").mkString(" "))

    var attempted = 0
    var failed = 0
    val problems = mutable.Buffer[String]()
    val off = new Tracer(spark, enabled = false)
    val storagePeak = new StoragePeak
    spark.sparkContext.addSparkListener(storagePeak)
    def runOp(tr: Tracer, storage: mutable.Buffer[Double]): Option[(Double, OpResult)] = {
      attempted += 1
      storagePeak.reset(spark)
      val t = System.nanoTime()
      val r = try Some(w.op(tr)) catch {
        case e: Exception =>
          problems += s"op $attempted threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      val s = (System.nanoTime() - t) / 1e9
      storage += storagePeak.peakMb(spark)
      r.filterNot(_.ok).foreach(res => problems += s"op $attempted failed its check (${res.note})")
      if (!r.exists(_.ok)) failed += 1
      w.release()
      graft.dedup.Dedup.releaseSignatures()
      r.map(res => (s, res))
    }
    def loop(tr: Tracer, window: Double, storage: mutable.Buffer[Double]): Seq[(Double, OpResult)] = {
      val end = System.nanoTime() + (window * 1e9).toLong
      val done = mutable.Buffer[(Double, OpResult)]()
      while (System.nanoTime() < end && w.hasNext) runOp(tr, storage).foreach(done += _)
      done.toSeq
    }

    // a traced run compares untraced with traced ops, so both must be warm
    val warm = if (traced) math.max(1, w.warmOps) else w.warmOps
    (0 until warm).foreach(_ => if (w.hasNext) runOp(off, mutable.Buffer()))
    val storage = mutable.Buffer[Double]()
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val ops = loop(off, seconds, storage)
        endToEnd(w, ops, storage.toSeq, sessionS + Stats.median(setupS))
      } else {
        val plain = loop(off, seconds / 2, storage)
        val on = new Tracer(spark, enabled = true)
        val tracedOps = loop(on, seconds / 2, storage)
        val layer = on.summary(tracedOps.size)
        on.spans.foreach(sp => System.err.println(s"[perfbench] span $sp"))
        // the sibling span er.clustering_incr is extra traced-only work,
        // not tracing cost
        val extra = layer.getOrElse("er.clustering_incr.wall_s", 0.0)
        val overhead =
          if (plain.isEmpty || tracedOps.isEmpty) 0.0
          else Stats.median(tracedOps.map(_._1)) - extra - Stats.median(plain.map(_._1))
        println(f"[perfbench] untraced op seconds ${plain.map(o => f"${o._1}%.2f").mkString(" ")}; " +
          s"traced ${tracedOps.map(o => f"${o._1}%.2f").mkString(" ")}")
        val failures = Spans.map(sp => layer.getOrElse(s"$sp.task_failures", 0.0)).sum
        Metrics.perLayer.map { case (k, u) =>
          (k, (layer + ("task_failures" -> failures) + ("trace_overhead_s" -> overhead))
            .getOrElse(k, 0.0), u)
        }
      }

    val tc = System.nanoTime()
    val problem = w.check()
    println(f"[perfbench] final check ${(System.nanoTime() - tc) / 1e9}%.2f s")
    problem.foreach(p => problems += s"final check: $p")
    if (problem.isDefined) failed += 1
    problems.foreach(p => println(s"[perfbench] FAILED $p"))
    metrics.foreach { case (k, v, u) => println(f"[perfbench] $name $k = $v%.6f $u") }
    println(f"[perfbench] $name failed_ratio = ${failed.toDouble / math.max(1, attempted)}%.4f " +
      s"($failed of $attempted ops)")
    spark.stop()

    val correct = failed == 0 && problems.isEmpty
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isFinite) v.toString else "0.0"}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
  }

  def endToEnd(w: Workload, ops: Seq[(Double, OpResult)], storage: Seq[Double],
      setupS: Double): Seq[(String, Double, String)] = {
    require(ops.nonEmpty, s"${w.name}: no op completed in the window")
    val secs = ops.map(_._1)
    val (p, tail, beyond) = Stats.tail(secs)
    println(f"[perfbench] ${w.name} ops=${ops.size} tail=p$p ($beyond ops beyond it); op seconds " +
      secs.map(s => f"$s%.2f").mkString(" "))
    Seq(
      ("items_per_s", ops.map(_._2.items).sum / secs.sum, "1/s"),
      ("op_s_p50", Stats.median(secs), "s"),
      ("op_s_tail", tail, "s"),
      ("setup_s", setupS, "s"),
      // median: one fold that merges big clusters or compacts a delta
      // chain writes many times the bytes of the next
      ("state_bytes_per_op", Stats.median(ops.map(_._2.stateBytes.toDouble)), "bytes"),
      ("peak_storage_mb", storage.max, "MB"))
  }
}
