package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("per-span counts run after the traced pass and are charged to no span") {
    val spark = SparkSession.builder().master("local[1]").appName("tracer-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tr = new Tracer(spark.sparkContext)
      var counted = false
      tr.span("outer") {
        tr.spanWith("inner")(spark.range(10).localCheckpoint(true)) { d =>
          counted = true
          Map("rows" -> d.count().toDouble)
        }
        // the count has not run while its parent span is still open
        assert(!counted)
      }
      tr.finish()
      assert(counted)
      val byName = tr.all.map(s => s.name -> s).toMap
      assert(byName("inner").counts == Map("rows" -> 10.0))
      assert(byName("inner").start >= byName("outer").start)
      assert(byName("inner").end <= byName("outer").end)
      val values = tr.layerValues(tr.all)
      // the checkpoint's jobs are the inner span's, the count's job no span's
      assert(values("inner.jobs") >= 1.0)
      assert(values("outer.jobs") == values("inner.jobs"))
      assert(tr.listener.counters(Tracer.NoSpan).jobs >= 1)
      tr.close()
    } finally spark.stop()
  }
}
