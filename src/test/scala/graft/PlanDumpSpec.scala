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
    // expression ids and Exchange plan ids come from JVM-wide counters:
    // the same plan built after other work carries other numbers
    def exchange(k: Int, v: Int, plan: Int) =
      s"(3) Exchange\nInput [2]: [k#${k}L, v#$v]\n" +
        s"Arguments: hashpartitioning(k#${k}L, 4), ENSURE_REQUIREMENTS, " +
        s"[plan_id=$plan]"
    assert(exchange(0, 1, 12) !== exchange(61, 7, 26712))
    assert(Plans.normalize(exchange(0, 1, 12)) ===
      Plans.normalize(exchange(61, 7, 26712)))
    assert(Plans.normalize(exchange(61, 7, 26712)) ===
      "(3) Exchange\nInput [2]: [k#<id>L, v#<id>]\n" +
        "Arguments: hashpartitioning(k#<id>L, 4), ENSURE_REQUIREMENTS, " +
        "[plan_id=<n>]")
    def mapped(fn: String) = "(4) MapElements\nArguments: " +
      s"graft.operators.Multimodal$$$$$$Lambda$fn, obj#7: scala.Tuple3"
    assert(Plans.normalize(mapped("$5541/0x00007f94b9524578@597050fa")) ===
      "(4) MapElements\nArguments: " +
        "graft.operators.Multimodal$$$Lambda<fn>, obj#<id>: scala.Tuple3")
    assert(Plans.normalize(mapped("$5465/0x00007f46b94f72a0@2f7432f3")) ===
      Plans.normalize(mapped("$5541/0x00007f94b9524578@597050fa")))
    val plain = "(2) Filter [codegen id : 1]\n" +
      "Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]"
    assert(Plans.normalize(plain) === plain)
  }
}
