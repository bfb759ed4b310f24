package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Pre-flight plan linter: the checks PlanQualitySpec enforces on the
  * engine's own queries, packaged for users' queries — run it before
  * submitting a plan that will touch 100 TB, because every finding
  * below is cheap to see in a plan string and catastrophically
  * expensive to discover in a running job.
  *
  * Heuristics on the FORMATTED physical plan (pre-execution, so AQE
  * runtime fixes are not yet visible — a finding means "the static
  * plan starts this way"):
  *  - `cartesian-product` / `nested-loop-join`: O(n·m) join paths; at
  *    fact-table sizes these never finish. (Tiny intentional riders —
  *    a 1-row corpus-stats crossJoin — are the caller's judgment; the
  *    finding reports, it does not forbid.)
  *  - `unpushed-filter`: a Filter sits in the plan while some scan
  *    reports no pushed filters — the scan reads rows the query then
  *    throws away; usually a cast/UDF wrapped the predicate column.
  *  - `no-codegen`: no WholeStageCodegen stage at all — the hot path
  *    is interpreted (typical cause: a UDF or a non-codegen expression
  *    in every projection).
  *  - `single-partition-window`: a Window whose input arrives through
  *    `Exchange SinglePartition` — a window with ORDER BY and no
  *    PARTITION BY, which Spark runs on one task whatever the input size
  *    (and logs "No Partition Defined for Window operation!").
  */
object PlanLint {

  case class Finding(rule: String, detail: String)

  def lint(df: DataFrame): Seq[Finding] = {
    val formatted = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    val out = Seq.newBuilder[Finding]
    if (formatted.contains("CartesianProduct"))
      out += Finding("cartesian-product",
        "plan contains CartesianProduct — O(n*m) pairs; add an equi-join " +
          "key or broadcast an intentionally-tiny side")
    if (formatted.contains("BroadcastNestedLoopJoin"))
      out += Finding("nested-loop-join",
        "plan contains BroadcastNestedLoopJoin — non-equi join condition; " +
          "bin/bucket the range predicate into an equi key (see RangeJoin)")
    // unpushed-filter, scan-associated: flag only a Filter whose OWN
    // subtree contains a file scan that pushes nothing. A residual
    // Filter above a scan that pushed its predicates is normal (Spark
    // re-evaluates pushed filters), and an unfiltered dimension scan
    // elsewhere in a join is not this Filter's problem — a global
    // "any Filter + any pushless scan" check would flag most real
    // multi-table queries spuriously.
    val headerNodes = parseTree(formatted)
    val details = detailBlocks(formatted)
    def pushesNothing(id: Int): Boolean = details.get(id).exists { b =>
      !b.contains("PushedFilters:") || b.contains("PushedFilters: []")
    }
    // a filter on a DERIVED column (window rank, aggregate, computed
    // score) is unpushable by nature — only blame the scan when the
    // Filter's condition references one of the scan's own output
    // attributes (then a pushable base-column predicate pushed nothing,
    // which is the actual bug: usually a cast/UDF wrapper)
    val attrRe = """#(\d+)""".r
    def attrs(block: String, prefix: String): Set[String] = block
      .linesIterator.filter(_.startsWith(prefix))
      .flatMap(l => attrRe.findAllMatchIn(l).map(_.group(1))).toSet
    val offending = headerNodes.zipWithIndex.flatMap {
      case ((name, fid, depth), i) if name.startsWith("Filter") =>
        val cond = details.get(fid)
          .map(attrs(_, "Condition")).getOrElse(Set.empty)
        headerNodes.drop(i + 1).takeWhile(_._3 > depth)
          .collect {
            case (n, id, _) if isFileScan(n) &&
                details.get(id).exists(b =>
                  attrs(b, "Output").intersect(cond).nonEmpty) => id
          }
      case _ => Nil
    }.distinct.filter(pushesNothing)
    if (offending.nonEmpty)
      out += Finding("unpushed-filter",
        s"Filter over file scan(s) ${offending.sorted.mkString(", ")} " +
          "that push no filters — the scan reads rows the filter " +
          "discards; check for casts/UDFs on the predicate column")
    // codegen ids only materialize in a finalized plan: under an
    // un-finalized AdaptiveSparkPlan the absence proves nothing, so the
    // rule applies only to non-adaptive (or already-executed) plans
    if (!formatted.contains("AdaptiveSparkPlan") &&
        !formatted.contains("codegen id"))
      out += Finding("no-codegen",
        "no WholeStageCodegen stage in the plan — the hot path is " +
          "interpreted; replace UDFs/non-codegen expressions with " +
          "built-ins or a doGenCode Expression")
    // single-partition-window: follow each Window's input down its
    // chain of first children (the next node in DFS order, when deeper)
    // past the Sort that window planning inserts. A rank-limited window
    // reads a WindowGroupLimit or TakeOrderedAndProject instead: its
    // input is limited before the exchange, so it is not flagged.
    def input(i: Int): Option[(String, Int, Int)] =
      Iterator.from(i + 1)
        .takeWhile(j => j < headerNodes.size &&
          headerNodes(j)._3 > headerNodes(j - 1)._3)
        .map(headerNodes)
        .find(_._1 != "Sort")
    val onePartition = headerNodes.zipWithIndex.collect {
      case ((name, id, _), i) if name == "Window" && input(i).exists {
          case (in, inId, _) => in == "Exchange" &&
            details.get(inId).exists(_.contains("Arguments: SinglePartition"))
        } => id
    }
    if (onePartition.nonEmpty)
      out += Finding("single-partition-window",
        s"Window(s) ${onePartition.sorted.mkString(", ")} read their input " +
          "through Exchange SinglePartition — a window with ORDER BY and " +
          "no PARTITION BY runs on one task; partition it or bound its input")
    out.result()
  }

  /** Parse the formatted-explain header tree into (name, id, depth) in
    * DFS order — depth is the column where the operator name starts, so
    * "subtree of node at depth d" = following nodes while depth > d. */
  private def parseTree(formatted: String): Vector[(String, Int, Int)] = {
    val idRe = """\((\d+)\)\s*$""".r
    formatted.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan =="))
      .drop(1)
      .takeWhile(_.trim.nonEmpty)
      .flatMap { l =>
        idRe.findFirstMatchIn(l).flatMap { m =>
          val depth = l.indexWhere(c => !" +-:*".contains(c))
          if (depth < 0 || depth >= m.start) None
          else Some((l.substring(depth, m.start).trim, m.group(1).toInt, depth))
        }
      }.toVector
  }

  /** Detail blocks of the formatted explain keyed by operator id. */
  private def detailBlocks(formatted: String): Map[Int, String] = {
    val headRe = """^\((\d+)\)\s""".r
    formatted.split("\n\n").flatMap { b =>
      // a block may start with leftover blank lines from a \n\n\n run
      b.linesIterator.dropWhile(_.trim.isEmpty).nextOption()
        .flatMap(headRe.findFirstMatchIn)
        .map(_.group(1).toInt -> b)
    }.toMap
  }

  private def isFileScan(name: String): Boolean =
    name.startsWith("BatchScan") ||
      Seq("parquet", "orc", "csv", "json", "text")
        .exists(f => name.startsWith(s"Scan $f"))
}
