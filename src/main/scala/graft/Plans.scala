package graft

import java.nio.file.{Files, Paths}
import graft.plans.Lint
import org.apache.spark.sql.execution.FormattedMode

/** Plan-review artifact generator: one `Lint.digest` line per query —
  * exchange, scan, join, window and Expand counts plus the lint rules
  * that fired — into `PLANS.md`, so a plan change shows up as a one-line
  * diff between rounds. Named queries replace the whole registry and
  * also get their `explain("formatted")` text, the before/after evidence
  * for one change: `runMain graft.Plans /tmp/before.md q16_math`.
  * PlanSpec pins the load-bearing plan properties as tests, including
  * the per-round graph plans a checkpointed query's own plan hides.
  *
  * Regenerate with: `sbt "runMain graft.Plans"`. Usage:
  * `runMain graft.Plans [out-file [query...]]` — out-file defaults to
  * `PLANS.md` (env: SPARK_GRAFT_SF_DIR, default sf0.01; SPARK_GRAFT_CPUS,
  * default 8).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val named = args.length > 1
    val names = Bench.queries(args.toSeq.drop(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.fromEnv(8, "graft-plans")

    val width = names.map(_.length).max
    val sections = names.map { name =>
      val df = Registry.byName(name).run(spark, sfDir)
      val line = s"${name.padTo(width, ' ')}  ${Lint.digest(df)}"
      if (!named) line
      else s"$line\n\n${df.queryExecution.explainString(FormattedMode).trim}\n"
    }

    val header =
      s"""# PLANS — one plan digest per query
         |
         |Generated by `graft.Plans` at ${Paths.get(sfDir).getFileName} from
         |each query's executed (pre-AQE-finalization) plan. Per line:
         |`shuffle` / `broadcast` exchanges; `scan` = file scans per table;
         |`join` = joins by strategy (BHJ, SMJ, SHJ, BNLJ, cartesian);
         |`window` = windows / unpartitioned windows; `expand` = Expand
         |nodes; `lint` = the `graft.plans.Lint` rules that fired, each held
         |to the justified inventory in LintSpec. The load-bearing plan
         |properties are asserted in `PlanSpec`/`RangeJoinSpec`/
         |`QuantilesSpec`/`BucketingSpec`.
         |""".stripMargin

    Files.writeString(Paths.get(out),
      header + "\n```\n" + sections.mkString("\n") + "\n```\n")
    println(s"[plans] wrote ${sections.size} queries to $out")
    spark.stop()
  }
}
