package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.er.{Blocking, Mentions, Scoring}
import graft.queries.Queries
import graft.synth.Synth

/** Physical-plan audit: the properties that make the plans survive a
  * 100x scale-up, asserted so they cannot silently regress —
  * column pruning reaches the parquet scan, small dims broadcast, the
  * fused scoring path shuffles exactly once at pair scale, filters push
  * down. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def formatted(df: DataFrame): String = {
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
  }

  test("q1: column pruning reaches the lineitem scan (no unused columns read)") {
    val p = Queries.q1AggPricing(spark, dir).queryExecution.optimizedPlan.toString
    val scan = plan(Queries.q1AggPricing(spark, dir))
    assert(scan.contains("ReadSchema"))
    // only the 4 referenced columns may be read
    val readSchema = scan.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_shipdate"),
      s"scan reads unused columns: $readSchema")
    val _ = p
  }

  test("q2: dimension joins are broadcast, not shuffled") {
    val p = plan(Queries.q2RegionRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join in dimension join")
  }

  test("q5: anti join filter is pushed into the orders scan") {
    val p = plan(Queries.q5CustomersNoOrders(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]") ||
      p.contains("EqualTo(o_orderstatus,F)"), s"status filter not pushed down:\n$p")
  }

  test("fused scoring plan shuffles the keyed table exactly once at pair scale") {
    val mentions = Mentions.fromPages(Synth.pages(spark, 50, 42L, 5))
    val keyed = Blocking.keyedWithAttrs(mentions, Blocking.Config())
    val scored = Scoring.scoreFused(keyed)
    val p = plan(scored)
    // Exchanges: block-size aggregation (partial+final over the tiny key
    // table) + the self-join co-partitioning. The pair-scale output must
    // NOT be followed by any further Exchange.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4, s"too many shuffles ($exchanges) in fused scoring plan:\n$p")
    // scoring expressions sit above the join, not behind another shuffle:
    val afterJoin = p.substring(p.indexOf("Join"))
    assert(!afterJoin.contains("Exchange") || p.indexOf("Exchange", p.indexOf("Join")) >
      p.indexOf("levenshtein").max(0),
      "pair rows are shuffled after scoring")
  }

  test("no forced broadcast hints on corpus-derived tables (linkers, target resolution)") {
    // A broadcast() hint overrides autoBroadcastJoinThreshold; on tables
    // that grow with the corpus (alias/link-freq/sitelink/title dims) it
    // OOMs at web scale. These plans must leave the join strategy to AQE.
    val pages = Synth.pages(spark, 30, 7L, 4)
    val mentions = Mentions.fromPages(pages)
    val linkFreq = graft.kb.KbBuild.linkFrequencies(pages)
    val mostPop = graft.kb.KbBuild.mostPopularCandidates(linkFreq)
    val plans = Seq(
      graft.linker.BaselineLinker.linkMostPopular(mentions, mostPop),
      graft.linker.BaselineLinker.linkByPrior(mentions, linkFreq),
      graft.kb.KbBuild.resolveTargets(
        graft.kb.KbBuild.hyperlinks(pages),
        spark.createDataFrame(Seq(("T", "Q1"))).toDF("title", "qid"),
        spark.createDataFrame(Seq(("A", "B"))).toDF("from_title", "to_title")))
    plans.foreach { df =>
      val lp = df.queryExecution.optimizedPlan.toString
      assert(!lp.contains("strategy=broadcast"),
        s"forced broadcast hint survives in corpus-table join plan:\n$lp")
    }
    // the blocking fused path may broadcast ONLY the oversized-key tail
    // (filtered on block_size > maxBlock), never the full key table
    val keyedPlan = Blocking.keyedWithAttrs(mentions, Blocking.Config())
      .queryExecution.optimizedPlan.toString
    if (keyedPlan.contains("strategy=broadcast")) {
      assert(keyedPlan.contains("block_size"),
        s"broadcast in fused blocking plan lacks the block_size guard:\n$keyedPlan")
      assert("\\(block_size#?\\d* > 512\\)".r.findFirstIn(keyedPlan).isDefined ||
        keyedPlan.contains("> 512"),
        s"broadcast side is not filtered to the oversized-key tail:\n$keyedPlan")
    }
  }

  test("ANN brute-force plan exchanges only the bounded per-partition top-k, never the scored set") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val df = (0 until 200).map(i => (i.toLong, Seq.fill(8)((i % 7).toDouble)))
      .toDF("vec_id", "embedding").repartition(5)
    val queries = df.where(col("vec_id") < 3)
    val plan = graft.sim.Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 4)
      .queryExecution.executedPlan.toString
    // the only exchange may carry the mapPartitions OUTPUT (partitions×Q×k
    // rows) into the merge window — the corpus-side scan must feed
    // mapPartitions directly with no exchange between them
    val mapIdx = plan.indexOf("MapPartitions")
    assert(mapIdx >= 0, s"expected a MapPartitions top-k stage:\n$plan")
    assert(!plan.substring(mapIdx).contains("Exchange") ||
      plan.indexOf("Exchange") < mapIdx,
      s"scored set is exchanged below the top-k accumulation:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"too many exchanges in ANN brute-force plan ($exchanges):\n$plan")
  }

  test("whole-stage codegen covers the quality-scoring column pipeline") {
    val df = graft.text.TextAnalysis.withQuality(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
    val p = plan(df)
    // executedPlan.toString marks codegen stages with "*(n)"
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"),
      s"quality pipeline fell out of codegen:\n$p")
  }

  test("no catalog query plans OR EXECUTES a partition-less Window (single-task exchange at scale)") {
    // A Window with an empty partitionSpec moves EVERY row through one
    // task ("No Partition Defined for Window" warning) — correct at sf0.1,
    // dead at 100x. q29 regressed this way in round 2. Two layers:
    //   1. the returned DataFrame's logical plan (precise, AQE-free);
    //   2. a QueryExecutionListener over an actual execution of every
    //      query — this also catches windows inside EAGER builder-side
    //      jobs (er_pairwise_eval's internal pipeline, q29's sample/size
    //      collects) that never appear in the returned plan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def inner(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        seen.incrementAndGet()
        val hits = inner(qe.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
        }
        hits.foreach(h => bad.add(h + " in: " + qe.logical.nodeName))
      }
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.SparkEntry.queries.foreach { case (name, fn) =>
        val df = fn(spark, dir)
        val lp = df.queryExecution.optimizedPlan
        val badLogical = lp.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        assert(badLogical.isEmpty,
          s"query $name plans a partition-less Window:\n${badLogical.mkString("\n")}")
        // execute with ALL columns referenced: count() would let
        // ColumnPruning erase an unreferenced Window before the listener
        // could see it
        df.foreach(_ => ())
      }
      // flush: the listener bus is async FIFO — wait until event count is
      // stable (all executions above have been observed)
      var stable = 0
      var last = -1L
      while (stable < 3) {
        Thread.sleep(200)
        val now = seen.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(bad.isEmpty,
        s"partition-less Window executed:\n${bad.toArray.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q15 prefix-filter: no all-pairs self-join on the (lang, source) block key alone") {
    // the round-4 plan joined documents to itself on just (lang, source) —
    // quadratic in block size; every join in the new plan must key on the
    // prefix token or on doc ids
    val df = Queries.q15JaccardPairs(spark, dir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val keys = j.condition.map(_.references.toSeq.map(_.name).toSet)
        .getOrElse(Set.empty[String])
      assert(!(keys.nonEmpty && keys.subsetOf(Set("lang", "source"))),
        s"all-pairs block self-join resurfaced (join keys: $keys)")
    }
  }

  test("q15 candidate volume tracks near-pairs, not pairs, on a skewed one-block fixture") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(17)
    // ONE block of 305 docs: the all-pairs plan would verify 46 360 pairs
    val base = (0 until 300).map { i =>
      val words = (0 until 30).map(_ => "w" + rng.nextInt(4000))
      (i.toLong, "en", "web", words.mkString(" "))
    }
    // planted near-dups (one word changed -> J well above 0.5)
    val dups = (0 until 5).map { i =>
      val t = base(i)._4.split(' ').updated(7, "CHANGED").mkString(" ")
      (1000L + i, "en", "web", t)
    }
    val docs = (base ++ dups).toDF("doc_id", "lang", "source", "text")
    val sorted = Queries.q15SortedToks(docs).localCheckpoint(true)
    val nCand = Queries.q15Candidates(sorted).count()
    val allPairs = 305L * 304 / 2
    assert(nCand < allPairs / 10, s"candidate count $nCand is not << $allPairs")
    // and the prefix-filtered result is EXACTLY the brute-force reference
    val got = Queries.q15Pairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = docs.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
      array_distinct(split(col("text"), " ")).as("toks_a"))
    val b = docs.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
      array_distinct(split(col("text"), " ")).as("toks_b"))
    val brute = a.join(b, Seq("lang", "source")).where(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .withColumn("uni", size(array_union(col("toks_a"), col("toks_b"))).cast("bigint"))
      .where(col("inter") * 2 >= col("uni"))
      .select("doc_a", "doc_b", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == brute, s"prefix-filter result diverges from brute force " +
      s"(got ${got.size}, brute ${brute.size})")
    assert(got.size >= 5, "planted near-dup pairs missing")
  }

  test("q15 prefix-filter equals brute force on randomized corpora incl. edge cases (property)") {
    val spark2 = spark
    import spark2.implicits._
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def brute(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] = {
      val a = docs.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
        array_distinct(split(col("text"), " ")).as("toks_a"))
      val b = docs.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
        array_distinct(split(col("text"), " ")).as("toks_b"))
      pairsOf(a.join(b, Seq("lang", "source")).where(col("doc_a") < col("doc_b"))
        .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
        .withColumn("uni", size(array_union(col("toks_a"), col("toks_b"))).cast("bigint"))
        .where(col("inter") * 2 >= col("uni"))
        .select("doc_a", "doc_b", "inter", "uni"))
    }
    // (seed, nDocs, maxDocLen, vocab): dense-dup small-vocab, sparse
    // random, and near-clique regimes; plus empty-text and single-token
    // edge docs in every corpus
    Seq((1, 40, 12, 30), (2, 80, 25, 400), (3, 50, 4, 8)).foreach {
      case (seed, nDocs, maxLen, vocab) =>
        val rng = new scala.util.Random(seed)
        val langs = Seq("en", "de")
        val rows = (0 until nDocs).map { i =>
          val words = (0 until (1 + rng.nextInt(maxLen))).map(_ => "w" + rng.nextInt(vocab))
          (i.toLong, langs(rng.nextInt(langs.length)), "web", words.mkString(" "))
        } ++ Seq((9000L, "en", "web", ""), (9001L, "en", "web", "solo"),
          (9002L, "en", "web", "solo"))
        val docs = rows.toDF("doc_id", "lang", "source", "text")
        val got = pairsOf(Queries.q15Pairs(docs))
        val want = brute(docs)
        assert(got == want,
          s"seed $seed: prefix-filter ${got.size} pairs vs brute ${want.size}")
        assert(want.nonEmpty, s"seed $seed: degenerate fixture (no pairs)")
    }
  }

  test("containment candidates: size bound prunes impossible big-into-tiny pairs on a skewed fixture") {
    val spark2 = spark
    import spark2.implicits._
    // a big doc (n=200) sharing one genuinely RARE token (tf=2) with each
    // of 300 tiny docs: 41 of those shared tokens land in the big doc's
    // rare-first prefix, so without the container-size bound the big doc
    // gains dozens of guaranteed-fail tiny "containers"; with it, none
    val tiny = (0 until 300).map(i => (i.toLong, "en", "web", s"s$i filler$i"))
    val bigText = (0 until 200).map(j => "s" + j).mkString(" ")
    val medium = (8000L, "en", "web", "s0 s1 s2") // genuinely contained in big
    val docs = (tiny ++ Seq(medium, (9000L, "en", "web", bigText)))
      .toDF("doc_id", "lang", "source", "text")
    val sorted = Queries.q15SortedToks(docs).localCheckpoint(true)
    val cands = Queries.containmentCandidates(sorted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.exists(_._1 == 9000L),
      "big doc (n=200) kept containers despite 5*n_b < 4*n_a for all of them")
    // the legitimate direction (medium contained in big) survives pruning
    assert(cands.contains((8000L, 9000L)), "medium-into-big candidate was lost")
    // result still equals brute force on this fixture
    val got = Queries.containmentPairsFrom(sorted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = docs.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
      array_distinct(split(col("text"), " ")).as("toks_a"))
    val b = docs.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
      array_distinct(split(col("text"), " ")).as("toks_b"))
    val brute = a.join(b, Seq("lang", "source")).where(col("doc_a") =!= col("doc_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .withColumn("n_a", size(col("toks_a")).cast("bigint"))
      .where(col("inter") * 5 >= col("n_a") * 4)
      .select("doc_a", "doc_b", "inter", "n_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == brute, s"pruned plan diverges (got ${got.size}, brute ${brute.size})")
  }

  test("containment prefix-filter equals brute force incl. asymmetric plants (property)") {
    val spark2 = spark
    import spark2.implicits._
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def brute(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] = {
      val a = docs.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
        array_distinct(split(col("text"), " ")).as("toks_a"))
      val b = docs.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
        array_distinct(split(col("text"), " ")).as("toks_b"))
      pairsOf(a.join(b, Seq("lang", "source")).where(col("doc_a") =!= col("doc_b"))
        .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
        .withColumn("n_a", size(col("toks_a")).cast("bigint"))
        .where(col("inter") * 5 >= col("n_a") * 4)
        .select("doc_a", "doc_b", "inter", "n_a"))
    }
    Seq((11, 40, 12, 30), (12, 70, 25, 300)).foreach { case (seed, nDocs, maxLen, vocab) =>
      val rng = new scala.util.Random(seed)
      val rows = (0 until nDocs).map { i =>
        val words = (0 until (1 + rng.nextInt(maxLen))).map(_ => "w" + rng.nextInt(vocab))
        (i.toLong, "en", "web", words.mkString(" "))
      } ++ Seq(
        // the asymmetric case containment exists for: a short doc fully
        // quoted inside a much longer one (low Jaccard, containment 1.0)
        (9000L, "en", "web", "alpha beta gamma"),
        (9001L, "en", "web", ("alpha beta gamma " +
          (0 until 40).map(j => "pad" + j).mkString(" "))),
        (9002L, "en", "web", ""), (9003L, "en", "web", "solo"))
      val docs = rows.toDF("doc_id", "lang", "source", "text")
      val got = pairsOf(Queries.containmentPairs(docs))
      val want = brute(docs)
      assert(got == want,
        s"seed $seed: containment ${got.size} pairs vs brute ${want.size}")
      assert(want.contains((9000L, 9001L, 3L, 3L)),
        s"seed $seed: planted containment pair missing from brute oracle")
      // asymmetry: the long doc must NOT be reported as contained in the
      // short one (inter 3 of 43 distinct tokens)
      assert(!got.exists(p => p._1 == 9001L && p._2 == 9000L),
        s"seed $seed: reversed containment direction reported")
    }
  }

  test("documents scans prune to the referenced columns") {
    val p = plan(Queries.q8Unigrams(spark, dir))
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"q8 should read only text: $readSchema")
  }

  test("fused pipelines: stage-1 gopher checkpoint reused, no corpus-scale scan repeated") {
    // round-7 (round-6 verdict item 7): pin the 65 s -> 6 s lesson
    // structurally. The gopher stage's repetition counters (the repCounts
    // UDF over text — the most expensive per-row scan in the engine) are
    // localCheckpointed once per pipeline; the FINAL assembled plan must
    // consume the checkpoint (Scan ExistingRDD), never re-run the UDF,
    // and the raw documents parquet may appear at most twice (the id
    // spine of the verdict join + the source-cap stage's semi-join scan).
    Seq(
      "curate_pipeline" -> graft.queries.TrainingDataQueries.curatePipeline(spark, dir),
      "curate_pipeline_full" -> graft.queries.TrainingDataQueries.curatePipelineFull(spark, dir)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("UDF(text"),
        s"$name: the gopher/repetition UDF is re-evaluated in the final plan " +
          s"(stage-1 checkpoint not reused):\n${p.take(2000)}")
      // the raw TEXT column must never be re-read by the assembled plan —
      // every text-consuming stage (gopher folds, shingling, containment)
      // is behind an eager checkpoint; the surviving parquet scans are
      // narrow id/source spines (verdict join + the source-cap stage)
      val textScans = "ReadSchema:[^\n]*text".r.findAllIn(p).size
      assert(textScans == 0,
        s"$name: $textScans text-reading documents scan(s) in the final plan — " +
          "a corpus-scale text scan was reintroduced")
      val parquetScans = "Scan parquet".r.findAllIn(p).size
      assert(parquetScans <= 3,
        s"$name: documents parquet scanned $parquetScans times (> 3)")
      assert(p.contains("Scan ExistingRDD"),
        s"$name: no checkpointed stage output in the plan")
    }
    graft.dedup.Dedup.releaseSignatures()
  }

  test("incremental CC never wide-shuffles the node-scale assignment (all joins broadcast)") {
    import spark.implicits._
    // standing assignment with min-label invariant: pairs (2k, 2k+1) -> 2k
    val standing = spark.range(0, 10000)
      .select(col("id"), (col("id") - col("id") % 2).as("cluster"))
    val batch = Seq((1L, 2L), (5L, 9998L), (20001L, 3L)).toDF("a", "b")
    val p = plan(graft.er.Clustering.incrementalClustersWithDelta(spark, standing, batch).assignment)
    // the contracted-graph CC is materialized inside the call; the
    // surviving relabel plan touches the assignment table twice, both
    // times probing a broadcast batch-side build — any sort-merge or
    // shuffled-hash join here means the 10^12-row assignment got a wide
    // exchange at scale
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast relabel joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"assignment-scale wide join in incremental CC plan:\n$p")
  }
}
