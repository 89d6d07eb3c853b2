package graft

import graft.pipeline.{Checkpointer, Dedup, GraphOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, least, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint lever ([[graft.pipeline.Checkpointer]]): with
  * `spark.graft.checkpoint.dir` set, the iterative loops write EVERY
  * round frame durably instead of into executor-local blocks — the
  * fault-tolerance mode a real cluster run needs. Output must be
  * BIT-IDENTICAL under both policies: only storage changes, never
  * values. Also the loop contract of `rounds` / `fixpoint`: the round
  * count, and that only the final round's frame stays persisted.
  */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edges: DataFrame = {
    import spark.implicits._
    // two components: a 4-cycle with a chord + a directed pair, plus a
    // chain that exercises multi-round label propagation
    Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("src", "dst")
  }

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  /** Run `f` with the reliable-checkpoint config set, restoring the
    * default (unset) policy afterwards even on failure. */
  private def withCheckpointDir[A](f: => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpointer.DirKey, dir)
    try f finally spark.conf.unset(Checkpointer.DirKey)
  }

  test("pagerank output is bit-identical under a reliable checkpoint dir") {
    import spark.implicits._
    // every operator on Checkpointer.rounds, not only pageRank
    val seeds = Seq(1L, 20L).toDF("s")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => GraphOps.pageRank(edges, "src", "dst", 5)),
      "pageRankPersonalized" -> (() => GraphOps.pageRankPersonalized(
        edges, "src", "dst", seeds, "s", 5)),
      "harmonicCentrality" -> (() =>
        GraphOps.harmonicCentrality(edges, "src", "dst", maxDepth = 3)),
      "hits" -> (() => GraphOps.hits(edges, "src", "dst", 3)),
      "labelPropagation" -> (() =>
        GraphOps.labelPropagation(edges, "src", "dst", rounds = 3)),
      "kCore" -> (() => GraphOps.kCore(edges, "src", "dst", k = 2, rounds = 3)))
    ops.foreach { case (name, run) =>
      val base = collectSorted(run())
      assert(base.nonEmpty, name)
      val durable = withCheckpointDir(collectSorted(run()))
      assert(durable == base, name)
    }
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** (x, v = 0) for x in 0..3 */
  private def counters: DataFrame =
    spark.range(4).select(col("id").as("x"), lit(0L).as("v"))

  test("rounds applies step exactly n times and keeps only the last round") {
    val before = persistedIds
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val out = Checkpointer.rounds("probe", counters, 4) { (df, i) =>
      seen += i
      df.select(col("x"), (col("v") + 1).as("v"))
    }
    assert(seen == Seq(1, 2, 3, 4))
    assert(out.collect().map(_.getLong(1)).toSet == Set(4L))
    // every superseded round is freed: the final frame is all that remains
    assert((persistedIds -- before).size <= 1)
  }

  test("fixpoint stops at an unchanged key and keeps only the last round") {
    val before = persistedIds
    var steps = 0
    val out = Checkpointer.fixpoint("probe", counters, 10) { (df, _) =>
      steps += 1
      df.select(col("x"), least(col("v") + 1, lit(3L)).as("v"))
    }(_.agg(sum(col("v"))).head().getLong(0))
    assert(out.collect().map(_.getLong(1)).toSet == Set(3L))
    assert(steps == 4, "three rounds of change, one to see none")
    assert((persistedIds -- before).size <= 1)
  }

  test("fixpoint that does not converge throws naming op and frees its rounds") {
    val before = persistedIds
    val err = intercept[IllegalStateException] {
      Checkpointer.fixpoint("probeOp", counters, 3) { (df, _) =>
        df.select(col("x"), (col("v") + 1).as("v"))
      }(_.agg(sum(col("v"))).head().getLong(0))
    }
    assert(err.getMessage.contains("probeOp"), err.getMessage)
    assert(err.getMessage.contains("3 rounds"), err.getMessage)
    assert((persistedIds -- before).isEmpty)
  }

  test("connected components are bit-identical under a reliable checkpoint dir") {
    val base = collectSorted(Dedup.connectedComponents(edges, "src", "dst"))
    assert(base.nonEmpty)
    val durable = withCheckpointDir {
      collectSorted(Dedup.connectedComponents(edges, "src", "dst"))
    }
    assert(durable == base)
    val stars = withCheckpointDir {
      collectSorted(Dedup.connectedComponentsStars(edges, "src", "dst"))
    }
    assert(stars == base, "stars variant shares the output contract")
  }

  test("scc matches; durable frames land; the checkpoint dir installs ONCE") {
    val base = collectSorted(GraphOps.stronglyConnected(edges, "src", "dst"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-scc").toString
    spark.conf.set(Checkpointer.DirKey, dir)
    try {
      val durable = collectSorted(
        GraphOps.stronglyConnected(edges, "src", "dst"))
      assert(durable == base)
      val root = java.nio.file.Paths.get(dir)
      // the mode is real: round frames were written under the dir
      def countFiles(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(countFiles(root) > 0,
        s"no checkpoint files under $dir — reliable mode did not engage")
      // setCheckpointDir mints one UUID subdirectory per call; the
      // installed-dir memo must prevent a fresh subdir per ROUND (the
      // qualified-path trap: getCheckpointDir returns file:/..., so
      // neither equality nor prefix tests against the conf value work)
      val subdirs = {
        val s = java.nio.file.Files.list(root)
        try s.count() finally s.close()
      }
      assert(subdirs == 1L,
        s"expected ONE uuid subdir (installed once), found $subdirs")
    } finally spark.conf.unset(Checkpointer.DirKey)
  }
}
