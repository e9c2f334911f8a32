package graft.graph

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class HitsSpec extends SparkTestBase {
  import spark.implicits._

  test("edgeless graph yields all-zero scores, never NaN/null (zero-norm guard)") {
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Hits.run(nodes, "doc_id", edges, "src", "dst", iters = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (a, h) = (r.getDouble(1), r.getDouble(2))
      assert(!a.isNaN && !h.isNaN)
      assert(a == 0.0 && h == 0.0)
    }
  }

  test("star graph: center is the authority, leaves are the hubs") {
    // 4 leaves all link to node 0
    val nodes = (0L to 4L).toDF("doc_id")
    val edges = (1L to 4L).map(i => (i, 0L)).toDF("src", "dst")
    val out = Hits.run(nodes, "doc_id", edges, "src", "dst", iters = 3)
      .orderBy("doc_id").collect()
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-12) // authority(0) = 1
    assert(out(0).getDouble(2) == 0.0)                  // hub(0) = 0
    (1 to 4).foreach { i =>
      assert(out(i).getDouble(1) == 0.0)                // leaves: no authority
      assert(math.abs(out(i).getDouble(2) - 0.5) < 1e-12) // hub = 1/sqrt(4)
    }
  }

  test("iters < 1 is rejected, naming the argument") {
    val nodes = Seq(1L, 2L).toDF("doc_id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException] {
      Hits.run(nodes, "doc_id", edges, "src", "dst", iters = 0)
    }
    assert(err.getMessage.contains("iters"), err.getMessage)
  }
}
