package graft
import java.nio.file.{Files, Paths}

/** Dumps each query's formatted physical plan to PLANS.md — the
  * scale-posture audit trail: verify pushed filters reach the scans, small
  * dims broadcast, and WholeStageCodegen spans stay wide.
  *
  * Usage: runMain graft.Explain [sfDir] [outFile] [q1,q2,...] — the names
  * limit the dump to those queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // bench-only production twins ride the same dump (round 17): the
    // scale-audit table and the per-query plan record must cover what
    // the bench actually times, not just the oracle-checked set
    val queries = QueryRunner.resolve(args.lift(2).map(_.split(",").toSeq),
      SparkEntry.queries ++ SparkEntry.prodVariants).sortBy(_._1)
    val spark = GraftSession.local(cores = 8, shufflePartitions = 8)
    val runner = new QueryRunner(spark, "explain")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.Explain at ")
      .append(sfDir).append(")\n")
    val plans = queries.map { case (name, fn) =>
      val o = runner.run(name)(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      name -> o.result.fold(e => s"ERROR: ${e.getMessage}", identity)
    }
    // Scale-audit summary: shuffle counts, join strategies, codegen spans,
    // scan-level filter pushdown — the checklist a plan review walks.
    // one "(N) Op" detail header per operator in formatted mode
    def n(p: String, op: String): Int =
      s"(?m)^\\(\\d+\\) $op".r.findAllMatchIn(p).length
    sb.append("\n## Scale audit\n\n")
    sb.append("(pre-AQE plans; shuffle Exchanges often coalesce or convert to broadcast at runtime)\n\n")
    sb.append("| query | shuffles | bcast joins | SMJ | NLJ/cross | scans | scans w/ pushed filters |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    plans.foreach { case (name, p) =>
      sb.append(s"| $name | ${n(p, "Exchange$")} | ${n(p, "BroadcastHashJoin")} | " +
        s"${n(p, "SortMergeJoin")} | ${n(p, "BroadcastNestedLoopJoin") + n(p, "CartesianProduct")} | " +
        s"${n(p, "Scan parquet")} | " +
        s"${"(?m)^PushedFilters: \\[[^\\]]".r.findAllMatchIn(p).length} |\n")
    }
    plans.foreach { case (name, plan) =>
      sb.append(s"\n## $name\n\n```\n").append(plan).append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    GraftSession.stop(spark)
  }
}
