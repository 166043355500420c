package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail is the highest percentile with at least ten ops beyond it") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0, 10)))
    // 25 ops: p60 has rank 15 and ten ops beyond; p61 has rank 16
    assert(Stats.tail((1 to 25).map(_.toDouble)) == ((60, 15.0, 10)))
    // too few ops for any tail: the median, with the count beyond it
    assert(Stats.tail((1 to 5).map(_.toDouble)) == ((50, 3.0, 2)))
  }

  test("covered time is the union of the clipped intervals") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Stats.covered(Seq((0L, 10L), (20L, 30L)), 5L, 25L) == 10L)
    assert(Stats.covered(Nil, 0L, 10L) == 0L)
  }

  test("self time is span time minus the part its children cover") {
    val tr = new Tracer(spark, enabled = true)
    tr.span("outer") {
      Thread.sleep(200)
      tr.span("inner")(Thread.sleep(300))
      tr.span("inner")(Thread.sleep(300))
    }
    val m = tr.summary(nOps = 1)
    assert(math.abs(m("outer.wall_s") - 0.8) < 0.1)
    assert(math.abs(m("outer.self_s") - 0.2) < 0.05)
    assert(math.abs(m("inner.self_s") - 0.6) < 0.05)
    assert(m("inner.wall_s") == m("inner.self_s"))
  }

  test("the listener attributes a span's jobs and tasks to it, and to its parent") {
    val sc = spark.sparkContext
    val tr = new Tracer(spark, enabled = true)
    sc.parallelize(1 to 10, 2).count() // outside any span
    tr.span("parent") {
      tr.span("child") {
        (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count())
      }
      sc.parallelize(1 to 10, 4).count()
    }
    val m = tr.summary(nOps = 1)
    assert(m("child.jobs") == 3.0)
    assert(m("child.tasks") == 6.0)
    assert(m("parent.jobs") == 4.0)
    assert(m("parent.tasks") == 10.0)
    assert(m("child.task_failures") == 0.0)
    assert(m("child.driver_s") <= m("child.wall_s"))
  }

  test("a disabled tracer records nothing") {
    val tr = new Tracer(spark, enabled = false)
    assert(tr.span("s")(41 + 1) == 42)
    assert(tr.summary(nOps = 1).isEmpty)
    assert(tr.spans.isEmpty)
  }

  test("every span's per-layer metrics are declared, within the 128-metric cap") {
    val names = Metrics.perLayer.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.size <= 128)
    Main.Spans.foreach(s => assert(names.contains(s"$s.wall_s")))
  }

  test("BENCHMARK.json declares exactly the per-layer metrics a traced run emits") {
    val json = scala.io.Source.fromFile("../BENCHMARK.json").mkString
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val declared = "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared == Metrics.perLayer)
  }
}
