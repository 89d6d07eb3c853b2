package graft

import graft.plans.Lint
import org.apache.spark.sql.SparkSession

/** One shared session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.local(cores = 8, shufflePartitions = 8, appName = "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Every registry capability built once at `sf`, linted and counted:
    * its lint findings, or the message of whatever it threw. Shared by
    * CoreQueriesSpec's run check and LintSpec's plan inventory, so the
    * registry is built once per test JVM. */
  lazy val reviewed: Seq[(String, Either[String, Seq[Lint.Finding]])] =
    Registry.all.map { cap =>
      val result =
        try {
          val df = cap.run(spark, sf)
          val findings = Lint.lint(df)
          df.count()
          Right(findings)
        } catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      cap.name -> result
    }
}
