package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkTestBase {

  private def tree(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.toArray.map(p => dir.relativize(p.asInstanceOf[Path]).toString).toSet
      finally s.close()
    }

  test("Verify.write: a query that throws leaves no stale output from an earlier run") {
    val out = Files.createTempDirectory("verify-spec")
    val stale = Files.createDirectories(out.resolve("q1_x"))
    Files.writeString(stale.resolve("part-old.parquet"), "stale")
    val throws: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("built no frame")
    assert(!Verify.write(spark, "unused", out.toString, "q1_x", throws))
    assert(!Files.exists(stale))

    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-old.parquet"), "stale")
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    assert(Verify.write(spark, "unused", out.toString, "q1_x", ok))
    assert(!tree(stale).contains("part-old.parquet"))
    assert(spark.read.parquet(stale.toString).count() == 3)
  }
}
