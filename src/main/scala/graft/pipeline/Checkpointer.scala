package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for iterative fixpoints (PageRank rounds, CC
  * label propagation, LPA, k-core peeling, HITS, SCC coloring, HyperBall),
  * and the two round loops those operators run on: [[rounds]] (a fixed
  * round count) and [[fixpoint]] (until a convergence key stops changing).
  *
  * The loop contract, the same for both: round `i` computes
  * `step(prev, i)`, materializes it with [[truncate]] and then [[free]]s
  * `prev`, the frame it replaces — after truncation no action reads
  * `prev` again, so its blocks go at once instead of at the next driver
  * GC. Round 1 frees `init` the same way, so a loop owns the frame it
  * starts from. Every round, the last included, is truncated, so the
  * returned frame never references the caller's cached inputs and the
  * caller may unpersist them. If a round throws (or [[fixpoint]] runs
  * out of rounds), the loop frees its current frame before rethrowing,
  * so a failed operator leaves no round state cached. Every Spark job a
  * round submits runs under the call site `"<op> round <i>"`, so its
  * stages carry the operator's name.
  *
  * Default (no config): eager `localCheckpoint` — lineage truncates into
  * EXECUTOR-LOCAL cached blocks. Fast (no durable write), and exactly
  * right on the local[32] test rig, but NOT fault-tolerant: the blocks
  * live only on their executors, so on a real cluster one executor loss
  * mid-PageRank kills the whole query (truncated lineage cannot
  * recompute).
  *
  * Reliable mode — the 100 TB story: set `spark.graft.checkpoint.dir` to
  * a durable path (HDFS / object store) and EVERY round goes through
  * `Dataset.checkpoint(eager = true)` instead: each round frame is
  * written durably and the job survives executor loss at any point. The
  * frames these loops truncate are (node, score/label) pairs — ids and
  * scalars, never text or adjacency payloads — so the per-round write is
  * small by construction. Every round (not every K-th) is deliberate:
  * a sparser cadence would need the skipped rounds to persist WITH
  * lineage, which (a) pins un-collectable cache entries for the session
  * lifetime (CacheManager holds plans strongly, unlike localCheckpoint
  * RDDs, which the ContextCleaner reclaims) and (b) can hand the caller
  * a LAZY final frame whose inputs the loop already unpersisted — both
  * measured-for classes of bug, neither worth the write savings on
  * frames this small.
  *
  * Output values are policy-independent: both paths materialize the same
  * deterministic frame, only its storage changes (CheckpointSpec asserts
  * bit-identical operator output under a checkpoint dir).
  */
object Checkpointer {
  /** Durable checkpoint directory; empty/unset = localCheckpoint mode. */
  val DirKey = "spark.graft.checkpoint.dir"

  // The dir last installed via setCheckpointDir. SparkContext stores a
  // QUALIFIED path with a fresh UUID subdirectory (file:/dir/<uuid>), so
  // neither equality nor prefix tests against the configured value can
  // detect "already set" — remember what we installed instead, or every
  // round would mint a new subdir (per-iteration fs.mkdirs latency and
  // unbounded directory sprawl on an object store).
  @volatile private var installedDir: String = null

  /** Truncate/materialize one round's frame under the session policy. */
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.trim.nonEmpty) match {
      case Some(d) =>
        if (installedDir != d) synchronized {
          if (installedDir != d) {
            spark.sparkContext.setCheckpointDir(d)
            installedDir = d
          }
        }
        df.checkpoint(true)
      case None => df.localCheckpoint(true)
    }
  }

  /** Release the executor blocks behind a frame [[truncate]] produced in
    * LOCAL-checkpoint mode, at once instead of at the next driver GC — a
    * bench/pipeline running many iterative queries back-to-back would
    * otherwise pile up dead round state in the block manager, evicting
    * live caches. ONLY call on a frame no action will ever read again:
    * its lineage is truncated, so its data is unrecoverable after this.
    * Durable checkpoints and non-checkpoint frames are left to the
    * ContextCleaner (no-op). */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    // a localCheckpoint's RDD is persisted (MEMORY_AND_DISK blocks); a
    // reliable checkpoint's RDD reads from files and carries StorageLevel
    // NONE, so the guard skips it (and every non-checkpoint frame)
    case l: org.apache.spark.sql.execution.LogicalRDD
        if l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** [[truncate]] `f(prev)`, then [[free]] `prev`: one round of the loop
    * contract, for a frame that replaces `prev` outside a loop. */
  def replace(prev: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val next = truncate(f(prev))
    free(prev)
    next
  }

  /** Run `n` rounds of `step` from `init` (rounds numbered from 1) and
    * return the last round's frame. */
  def rounds(op: String, init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    try (1 to n).foreach { i =>
      cur = inRound(cur, op, i)(replace(cur)(step(_, i)))
    } catch { case t: Throwable => free(cur); throw t }
    cur
  }

  /** Run `step` from `init` until `key` of a round's frame equals `key` of
    * the frame it replaced, and return that frame. An empty `init` is
    * already converged. Throws `IllegalStateException` naming `op` if
    * `maxIter` rounds do not converge. */
  def fixpoint[K](op: String, init: DataFrame, maxIter: Int)(
      step: (DataFrame, Int) => DataFrame)(key: DataFrame => K): DataFrame = {
    var cur = init
    try {
      var k = key(cur)
      var converged = cur.isEmpty
      var i = 0
      while (!converged) {
        if (i == maxIter) throw new IllegalStateException(
          s"$op did not converge in $maxIter rounds; raise maxIter")
        i += 1
        val nk = inRound(cur, op, i) {
          cur = replace(cur)(step(_, i))
          key(cur)
        }
        converged = nk == k
        k = nk
      }
    } catch { case t: Throwable => free(cur); throw t }
    cur
  }

  /** Run `body` with the call site `"<op> round <i>"`, restoring the
    * caller's afterwards. */
  private def inRound[A](df: DataFrame, op: String, i: Int)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(s"$op round $i")
    try body finally sc.setLocalProperty(CallSiteShort, caller)
  }

  // the local property SparkContext.setCallSite writes (CallSite.SHORT_FORM)
  private val CallSiteShort = "callSite.short"
}
