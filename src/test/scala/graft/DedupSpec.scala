package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("exact dedup collapses planted duplicates and keeps the lowest id") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"), (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = Dedup.exactKeepFirst(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 3L -> 1L))
  }

  test("minhash LSH finds a planted near-duplicate") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("minhash output equals exact jaccard pairs at 0.8 on real documents") {
    val viaLsh = Registry.byName("dedup_minhash_lsh").run(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh == exact)
  }

  test("containment flags doc-inside-doc ASYMMETRICALLY where jaccard cannot") {
    import spark.implicits._
    // doc 1 (core) is quoted WHOLE inside doc 2 (core + long tail);
    // doc 3 is unrelated. S(1) ⊆ S(2) at the shingle level: every
    // 3-gram of doc 1 appears in doc 2 (the tail starts after the core,
    // so the boundary shingles exist in doc 2 as well)
    val core = "alpha beta gamma delta epsilon zeta eta theta"
    val tail = "iota kappa lambda mu nu xi omicron pi rho sigma tau " +
      "upsilon phi chi psi omega one two three four five six seven"
    val df = Seq(
      (1L, core), (2L, s"$core $tail"), (3L, "cat dog fish bird mouse"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // short-in-long fires at 1.0; the reverse direction must NOT fire
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1.0, out.toString)
    assert(!out.contains((2L, 1L)), s"containment must stay asymmetric: $out")
    assert(!out.keys.exists(k => k._1 == 3L || k._2 == 3L))
    // and jaccard at the same 0.9 bar misses the pair entirely
    val j = Dedup.jaccardPairs(df, "doc_id", "text")
      .filter(col("jaccard") >= 0.9).count()
    assert(j == 0L, "jaccard cannot see the quoted-whole relationship")
  }

  test("winnowing guarantee: a shared w+n-1 run always yields a shared fingerprint") {
    import spark.implicits._
    // n=3, w=4: guarantee threshold = 6 shared words. docs 1/2 share a
    // 6-word run embedded in otherwise-disjoint text; doc 3 is disjoint
    val run = "the quick brown fox jumps high"
    val df = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"one two $run three four five six"),
      (3L, "cat dog fish bird mouse horse cow sheep goat"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowPairs(df, "doc_id", "text", n = 3, w = 4,
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) >= 1L,
      s"the guaranteed shared run must surface: $out")
    assert(!out.keys.exists(k => k._1 == 3L || k._2 == 3L),
      s"disjoint text must share nothing: $out")
    // density: selection keeps far fewer fingerprints than hashes
    val fullDup = Seq((10L, run + " " + run), (11L, run + " " + run))
      .toDF("doc_id", "text")
    val dup = Dedup.winnowPairs(fullDup, "doc_id", "text", n = 3, w = 4,
        minShared = 1).collect()
    assert(dup.length == 1 && dup.head.getLong(2) >= 2L,
      "identical docs share their whole (small) fingerprint set")
  }

  test("capped winnowing equals the exact generator on this corpus") {
    val exact = Dedup.winnowPairs(Tables.documents(spark, sf),
        "doc_id", "text", n = 3, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.winnowPairsCapped(Tables.documents(spark, sf),
        "doc_id", "text", n = 3, w = 4, minShared = 2, maxDf = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // identical pairs AND identical shared counts — the cap prunes
    // candidate generation only; verification re-counts ALL fingerprints
    assert(capped == exact)
    assert(capped.nonEmpty)
  }

  test("winnow df-cap bounds the hot-fingerprint group provably") {
    import spark.implicits._
    // a boilerplate license header shared by EVERY doc (the hot
    // fingerprint: df = 12 > maxDf = 4) plus one genuinely-duplicated
    // body pair whose fingerprints are rare (df = 2)
    val header = "permission is hereby granted free of charge to any person"
    val body = "the unique payload sentence that actually repeats verbatim"
    val docs = (1L to 10L).map(i =>
      (i, s"$header filler$i alpha$i beta$i gamma$i delta$i")) ++
      Seq((11L, s"$header $body"), (12L, s"$header $body"))
    val df = docs.toDF("doc_id", "text")
    val capped = Dedup.winnowPairsCapped(df, "doc_id", "text",
        n = 3, w = 4, minShared = 1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the real duplicate pair survives via its rare body fingerprints,
    // and NO header-only pair is emitted: the 12-doc-hot fingerprints
    // are excluded from candidate generation, so the f²/2 = 66-pair
    // boilerplate blowup never happens — every other pair's shared
    // fingerprints are all header-hot by construction
    assert(capped == Set((11L, 12L)), capped.toString)
    // the exact generator on the same fixture DOES emit all 66 pairs —
    // that is precisely the group the cap exists to bound
    val exact = Dedup.winnowPairs(df, "doc_id", "text",
        n = 3, w = 4, minShared = 1).count()
    assert(exact == 66L, s"exact generator emits the full blowup: $exact")
  }

  test("df-capped candidates equal the exact pairs on this corpus") {
    val exact = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .select("da", "db", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup
      .jaccardPairsCapped(Tables.documents(spark, sf), "doc_id", "text",
        threshold = 0.8, maxDf = 100)
      .select("da", "db", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical pairs AND identical (exact) jaccard values — the cap only
    // prunes candidate generation, never the verification counts
    assert(capped == exact)
    assert(capped.nonEmpty)
  }

  test("prefix-filtered pairs equal the exact pairs WITH values (lossless by theorem)") {
    val exact = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .select("da", "db", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = Dedup
      .prefixJaccardPairs(Tables.documents(spark, sf), "doc_id", "text",
        threshold = 0.8)
      .select("da", "db", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // prefix filtering is LOSSLESS (unlike the df-cap's all-hot caveat or
    // minhash's probabilistic recall): identical pairs, identical values
    assert(viaPrefix == exact)
    assert(viaPrefix.nonEmpty)
    // a low threshold keeps whole sets as prefixes and must also be exact
    val loose = Dedup
      .prefixJaccardPairs(Tables.documents(spark, sf), "doc_id", "text",
        threshold = 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val looseExact = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == looseExact)
  }

  test("connected components label a hand-built graph by min reachable id") {
    import spark.implicits._
    // two triangles bridged into one component {1..6}, a 3-chain {10,11,12},
    // and an isolated edge {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L),
      (10L, 11L), (11L, 12L),
      (20L, 21L)
    ).toDF("da", "db")
    val comp = Dedup.connectedComponents(pairs, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(comp == expected)
  }

  test("large-star/small-star matches propagation on mixed clusters") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L),
      (10L, 11L), (11L, 12L),
      (20L, 21L)
    ).toDF("da", "db")
    val prop = Dedup.connectedComponents(pairs, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stars = Dedup.connectedComponentsStars(pairs, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == prop)
  }

  test("stars variant converges on a chain with diameter > 25 in O(log n) rounds") {
    import spark.implicits._
    // a 200-hop path (diameter 200): min-label propagation needs ~200
    // rounds and fails loudly at the default maxIter, while the
    // alternating star rounds collapse it in O(log n)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("da", "db")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "da", "db") // maxIter=25 < diameter
    }
    assert(err.getMessage.contains("connectedComponents"), err.getMessage)
    // the throw leaves neither the edge frame nor a label round cached
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    val comp = Dedup.connectedComponentsStars(chain, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 200)
    assert(comp.values.forall(_ == 1L))
    // shuffled-id chain: the min sits mid-chain, ids are non-contiguous
    val perm = new scala.util.Random(42).shuffle((0L until 120L).toVector)
    val chain2 = (0 until 119).map(i => (perm(i) * 7 + 3, perm(i + 1) * 7 + 3)).toDF("da", "db")
    val comp2 = Dedup.connectedComponentsStars(chain2, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp2.size == 120)
    assert(comp2.values.toSet == Set(3L)) // min id = 0*7+3
  }

  test("connected components of an empty pair graph is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.connectedComponents(empty, "da", "db").count() == 0)
  }

  test("components cover every near-dup pair endpoint consistently") {
    val pairs = Dedup.minhashPairs(
      Tables.documents(spark, sf), "doc_id", "text", threshold = 0.8)
    val comp = Dedup.connectedComponents(pairs, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edgeList = pairs.select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edgeList.nonEmpty)
    // both endpoints of every pair share a component, and every component
    // representative is a member of its own cluster
    edgeList.foreach { case (a, b) => assert(comp(a) == comp(b)) }
    comp.values.foreach(rep => assert(comp(rep) == rep))
  }

  test("simhash pairs overlap strongly with high-jaccard pairs") {
    val sim = Registry.byName("dedup_simhash").run(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (jac.nonEmpty) {
      val recall = jac.intersect(sim).size.toDouble / jac.size
      assert(recall >= 0.5, s"simhash recall $recall over ${jac.size} jaccard pairs")
    }
    // precision side: simhash pairs should mostly be genuinely similar
    sim.foreach { case (a, b) => assert(a < b) }
  }

  test("embedding top-pairs are ordered by cosine descending") {
    val rows = Registry.byName("dedup_embedding").run(spark, sf)
      .select("cos").collect().map(_.getDouble(0))
    assert(rows.length == 50)
    assert(rows.zip(rows.tail).forall { case (a, b) => a >= b })
  }

  test("span dedup keeps first occurrences, drops boilerplate, removes emptied docs") {
    import spark.implicits._
    // spans of 2 tokens; "x y" appears in docs 1,2,3 and twice in doc 1
    val df = Seq(
      (1L, "x y a b x y"),   // span "x y" at idx 0 (kept) and idx 2 (dup)
      (2L, "x y c d"),       // loses "x y", keeps "c d"
      (3L, "x y"),           // every span removed → doc disappears
      (4L, "e f g h")        // untouched
    ).toDF("doc_id", "text")
    val byId = Dedup.dedupSpans(df, "doc_id", "text", spanTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(byId(1L) == ("x y a b", 2L))
    assert(byId(2L) == ("c d", 1L))
    assert(!byId.contains(3L))
    assert(byId(4L) == ("e f g h", 2L))
  }

  test("span dedup maxDf drops every occurrence of a hot span") {
    import spark.implicits._
    val df = Seq(
      (1L, "hot hot a b"), (2L, "hot hot c d"), (3L, "hot hot e f")
    ).toDF("doc_id", "text")
    // "hot hot" occurs 3 times > maxDf=2 → dropped everywhere, including
    // its first occurrence
    val out = Dedup.dedupSpans(df, "doc_id", "text", spanTokens = 2, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "a b", 2L -> "c d", 3L -> "e f"))
  }

  test("span dedup with a tail span shorter than the window") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "z z a b")).toDF("doc_id", "text")
    // doc 1: spans "a b", "c"; doc 2: "z z", "a b"(dup → removed)
    val out = Dedup.dedupSpans(df, "doc_id", "text", spanTokens = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList.sortBy(_._1)
    assert(out == List((1L, "a b c", 2L), (2L, "z z", 1L)))
  }

  test("incremental dedup: exact tier wins, near tier catches, kept passes") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val existing = Seq(
      (2L, base),                             // exact twin of incoming 11
      (4L, base + " lambda"),                 // near-dup of incoming 13
      (6L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, base),                            // exact dup of 2
      (13L, base + " mu"),                    // near: long shared prefix
      (15L, "unrelated fresh content nothing shared with anyone at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(existing, incoming, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).sortBy(_._1)
    assert(out(0) == ((11L, "exact_dup", Some(2L))))
    // 13 is near both 2 and 4 — matched_id is the MIN matching id
    assert(out(1) == ((13L, "near_dup", Some(2L))))
    assert(out(2) == ((15L, "kept", None)))
    // within-batch near-dups are NOT flagged: only the existing corpus
    // counts (the batch settles against itself on its own arrival)
    val twoNew = Seq((21L, base + " nu"), (23L, base + " xi"))
      .toDF("doc_id", "text")
    val vsEmpty = Dedup.incrementalDedup(
        Seq((1L, "zzz yyy xxx www vvv uuu")).toDF("doc_id", "text"),
        twoNew, "doc_id", "text", threshold = 0.5)
      .collect().map(_.getString(1)).toSet
    assert(vsEmpty == Set("kept"))
  }

  test("keep-best picks the per-cluster quality argmax, not the min id") {
    // independent Scala-side reimplementation: recompute components and
    // qualities, take maxBy((quality, -id)) per component, compare
    val kept = Registry.byName("dedup_keep_best").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("component"),
        (r.getAs[Long]("kept_doc_id"), r.getAs[Double]("kept_quality"),
          r.getAs[Long]("cluster_size")))).toMap
    assert(kept.nonEmpty)
    val cc = Dedup.connectedComponents(
      Dedup.minhashPairs(Tables.documents(spark, sf), "doc_id", "text",
        threshold = 0.8), "da", "db")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("component")))
    val quality = Registry.byName("text_quality").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toMap
    val expected = cc.groupBy(_._2).map { case (comp, members) =>
      val ids = members.map(_._1)
      val win = ids.maxBy(id => (quality(id), -id))
      comp -> ((win, quality(win), ids.length.toLong))
    }
    assert(kept == expected)
    // the policy genuinely differs from min-id on this corpus: at least
    // one cluster keeps a non-minimal id (otherwise the gate is vacuous)
    val minIdWinners = expected.count { case (comp, (win, _, _)) => win == comp }
    assert(minIdWinners < expected.size,
      "every cluster kept its min id — quality ordering never fired")
  }
}
