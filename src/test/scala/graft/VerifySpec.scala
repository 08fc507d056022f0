package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  import TestSpark._

  test("a query that fails leaves no dump, not an earlier run's") {
    val out = Files.createTempDirectory("graft_verify")
    val stale = out.resolve("q_fails")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "earlier run")
    Verify.dump(spark, sf, out.toString, Map(
      "q_fails" -> ((_, _) => throw new RuntimeException("query failed")),
      "q_ok" -> ((s, _) => s.range(3).toDF())))
    assert(!Files.exists(stale))
    assert(spark.read.parquet(out.resolve("q_ok").toString).count() == 3)
    assert(Files.exists(out.resolve("oracle_sql.json")))
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
