package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("PlanDump with fewer than three args fails with its usage, before any session") {
    Seq(Array.empty[String], Array("out"), Array("out", "before")).foreach { a =>
      val e = intercept[IllegalArgumentException](Plans.dump(a))
      assert(e.getMessage.contains("usage: PlanDump"))
    }
  }

  test("normalize maps random commit-dir and part-file names to one token " +
    "and leaves other plan text unchanged") {
    def scan(dir: String, file: String) =
      "(1) Scan parquet \nOutput [2]: [k#0L, v#1L]\n" +
        s"Location: InMemoryFileIndex [file:/tmp/graft_p25_upsert/$dir/" +
        s"$file, ... 15 entries]\nReadSchema: struct<k:bigint,v:bigint>"
    val a = scan("c13fdb815-e82",
      "part-00000-310b0e07-f7fa-4ecc-aa54-fcd84f34c0be-c000.snappy.parquet")
    val b = scan("c84d48819-482",
      "part-00003-6dfffd1e-5908-4bf7-b511-ff836960fe17-c000.snappy.parquet")
    assert(a !== b)
    assert(Plans.normalize(a) === Plans.normalize(b))
    assert(Plans.normalize(a).contains(
      "graft_p25_upsert/c<commit>/part-<file>.snappy.parquet, ... 15 entries]"))
    val plain = "(2) Filter [codegen id : 1]\nInput [2]: [k#0L, v#1L]\n" +
      "Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]"
    assert(Plans.normalize(plain) === plain)
  }
}
