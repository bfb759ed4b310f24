package graftbench

import java.nio.file.{Files, Path}

/** The benchmark's own tests of its input generators: the same seed
  * gives byte-identical etl_monthly JSONL and table_churn key batches,
  * and another seed gives different ones. (That the checks are not
  * vacuous is tested by run.py --selftest, which feeds one op of each
  * workload a corrupted expected value.) */
object SelfTest {
  private def etlBytes(dir: Path, seed: Long): (Array[Byte], SquareGen.Expected) = {
    val d = Files.createTempDirectory(dir, "etl")
    val exp = SquareGen.writeMonth(d.toString, seed, 3, 2000)
    (Files.readAllBytes(Path.of(SquareGen.monthFile(d.toString, 3))), exp)
  }

  private def churnBatches(seed: Long): String = {
    val p = new ChurnPlan(seed)
    p.initial()
    (-1 to 5).map(p.round(_).render).mkString("\n--\n")
  }

  def main(args: Array[String]): Unit = {
    val dir = Path.of(args(0))
    val (a, ea) = etlBytes(dir, 1L)
    val (b, eb) = etlBytes(dir, 1L)
    val (c, _) = etlBytes(dir, 2L)
    require(java.util.Arrays.equals(a, b) && ea == eb,
      "etl_monthly: the same seed gave different JSONL")
    require(!java.util.Arrays.equals(a, c), "etl_monthly: another seed gave the same JSONL")
    require(ea.rejected > 0 && ea.unknownRows > 0 && ea.written > 0,
      s"etl_monthly: edge cases missing from the generated month: $ea")
    require(churnBatches(1L) == churnBatches(1L),
      "table_churn: the same seed gave different key batches")
    require(churnBatches(1L) != churnBatches(2L),
      "table_churn: another seed gave the same key batches")
    val p = new ChurnPlan(1L); p.initial()
    val before = p.count
    (0 until 4).foreach(p.round)
    require(p.count == before, s"table_churn: size drifted $before -> ${p.count} over four rounds")
    val rounds = Seq(p.round(4), p.round(5))
    def straddles(sizes: Seq[Int]) = sizes.exists(_ <= 8192) && sizes.exists(_ > 8192)
    require(straddles(rounds.map(_.deleteIds.size)) && straddles(rounds.map(_.upsert.size)),
      "table_churn: batches do not straddle the 8,192-key literal-IN cap")
    println("selftest generators ok")
  }
}
