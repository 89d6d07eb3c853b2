package graft.pipeline

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame-parametric deduplication library. Each function takes any
  * input frame plus column names, so the ops compose with arbitrary
  * pipelines (the declared queries in [[DedupQueries]] are thin bindings to
  * the test tables).
  *
  * Scale notes: all variants key their shuffles on content-derived values
  * (hash / shingle / band signature) — no O(n²) stage anywhere except the
  * explicitly-brute [[embeddingTopPairs]], whose scale twin is the LSH path
  * in [[SimilarityQueries]].
  */
object Dedup {

  /** Frames persisted by the helpers below. They must stay cached until
    * the caller's terminal action (the functions return lazy frames, so
    * unpersisting internally would defeat the shared-subplan cache), and
    * they intentionally stay cached ACROSS text-dedup invocations on the
    * same corpus (identical plans → CacheManager hits; see
    * [[shingleDocs]]). Every persist registers here; [[unpersistAll]]
    * releases them — called by [[embeddingTopPairs]] (whose input shares
    * nothing with the text caches) and available to any long-lived
    * session working across distinct corpora. */
  private val persisted =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  private def tracked(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted.add(p)
    p
  }

  /** Unpersist every frame cached by previous dedup invocations. ONLY
    * safe once every frame derived from those invocations has finished
    * its terminal action — calling it with a lazy dedup frame outstanding
    * forces that frame to recompute its shingling/signatures. The
    * declared query bindings (strictly sequential) call this before the
    * embedding query, whose input shares nothing with the text caches. */
  def unpersistAll(): Unit = {
    val it = persisted.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }

  /** Exact dedup: keep the lowest id per distinct content. One hash
    * aggregate; equivalent to grouping by the text itself (sha256 collision
    * probability is negligible) but shuffles 32-byte keys, not documents. */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Per-doc shingle arrays, hashed. Shingles are xxhash64'd so downstream
    * shuffles move 8-byte keys instead of ~20-byte strings; a 64-bit
    * collision merging two shingles corpus-wide has probability ~1e-10 and
    * would shift one intersection count by 1 — negligible vs the exact
    * string-keyed oracle.
    *
    * The frame is persisted: every dedup variant derives 2–3 branches from
    * it (signature aggregate + both sides of the verification join), and
    * Spark recomputes shared subplans per branch unless they are cached —
    * without this the regex shingling of the whole corpus runs three
    * times. One row per document (id + hash array), so the cache is far
    * smaller than the corpus; at 100 TB the equivalent is a checkpoint of
    * this frame. */
  private def shingleDocs(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // NOT drained on entry: successive dedup variants over the same corpus
    // produce identical shingle plans, and Spark's CacheManager plan-match
    // turns the second variant's shingling into a cache hit (ngram pays,
    // minhash/simhash reuse). Re-persisting an already-cached plan is a
    // no-op, so same-input invocations do not accumulate storage; distinct
    // inputs do, which is what [[unpersistAll]] bounds.
    // spread BEFORE shingling: the corpus scan is one task on the
    // single-row-group fixture and shingling+hashing is the dominant
    // per-row cost (guide §2.5; graft.Tables.spread scaladoc)
    tracked(graft.Tables.spread(df.select(col(idCol).as("doc_id"),
        col(textCol).as("__t")), col("doc_id"))
      .select(
        col("doc_id"),
        transform(TextOps.shingles(col("__t"), n), s => xxhash64(s)).as("sh")))

  /** (doc_id, shingle-hash) inverted index + per-doc sizes from the cached
    * shingle frame. */
  private def shingleIndex(docs: DataFrame) = {
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n_sh"))
    (inv, sizes)
  }

  private def attachJaccard(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("da"), col("db"), col("jaccard"))

  /** Exact pairwise word-n-gram Jaccard for pairs sharing ≥1 shingle.
    * Formulated as group-by-shingle → emit ordered doc pairs → count:
    * one shuffle on the shingle and one on the pair, instead of the
    * self-join's two shuffles plus join. (A corpus-stopword shingle with
    * document frequency f emits f²/2 pairs from one group — at true scale
    * that's the df-cap/LSH territory; this is the exact baseline.) */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val (inv, sizes) = shingleIndex(shingleDocs(df, idCol, textCol, n))
    val pairsPerShingle = inv
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS da, y AS db))))""".stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"))
    val inter = pairsPerShingle
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"))
    attachJaccard(inter, sizes)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS plagiarism detector's selection scheme): hash every POSITIONAL
    * word n-gram, slide a window of `w` consecutive hashes, keep each
    * window's MINIMUM — the selected set is the document fingerprint.
    * The published guarantee: any shared run of at least `w + n − 1`
    * words produces at least one shared fingerprint, while only
    * ~`2/(w+1)` of all hashes are kept. This is the guarantee-bearing
    * span detector next to [[graft.pipeline.Dedup]]'s fixed-stride
    * spans: spans can straddle a copied run and miss it, winnowing
    * cannot.
    *
    * Hashes are `conv(md5(gram)[1..15], 16, 10)` longs — 60 bits, and
    * (unlike xxhash64) REPRODUCIBLE in the DuckDB oracle, which matters
    * here because the SELECTION depends on hash VALUES, not just
    * equality. All construction is codegen HOFs (narrow); pairs come
    * from the same fingerprint-keyed group → ordered-pair machinery as
    * [[jaccardPairs]] (df-cappable the same way). Output:
    * (da, db, shared) for pairs sharing ≥ `minShared` fingerprints. */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, n, w)
    val pairsPerFp = fps
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS da, y AS db))))""".stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"))
    pairsPerFp
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The selected winnowing fingerprints: one (doc_id, fp) row per
    * DISTINCT selected fingerprint per document. Shared by the exact
    * and df-capped pair generators so both see the same selection.
    * [[tracked]]-persisted like [[shingleDocs]]: the capped generator
    * derives THREE branches from it (candidate groups + both sides of
    * the re-verify join), and without the cache the per-ngram md5
    * selection of the whole corpus runs once per branch — 3× the
    * dominant cost (measured: 88 s → in-family at the sf1 rehearsal).
    * Same CacheManager plan-match reuse + [[unpersistAll]] bound. */
  private def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val hs = transform(graft.functions.TextOps.ngrams(col("__t"), n),
      s => graft.functions.expr.Md5Prefix(s, 15))
    // spread BEFORE the per-ngram md5 selection — the dominant cost, one
    // scan task otherwise (guide §2.5; graft.Tables.spread scaladoc)
    tracked(graft.Tables.spread(df.select(col(idCol).as("doc_id"),
        col(textCol).as("__t")), col("doc_id"))
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("hs")) - lit(w - 1), lit(1))),
          i => array_min(slice(col("hs"), i, lit(w)))))).as("fp")))
  }

  /** [[winnowPairs]] with a document-frequency cap on candidate-generating
    * fingerprints — the scale lever the exact generator lacks: a
    * boilerplate run (license header, templated page) selected as a hot
    * fingerprint with document frequency f emits f²/2 pairs from ONE
    * group, the same quadratic term [[jaccardPairsCapped]] caps for
    * shingles. Fingerprints in more than `maxDf` docs are excluded from
    * CANDIDATE GENERATION only; the `shared` count is then re-verified
    * per candidate pair over ALL fingerprints (hot ones included), so
    * reported counts equal the exact generator's for every surviving
    * pair. The only misses are pairs whose shared fingerprints are ALL
    * hotter than the cap — winnowing selects window-MINIMA of 60-bit
    * hashes, so two documents sharing a w+n−1 run share its (rare)
    * min-hash fingerprint, and at a sane cap the miss set is empty
    * (DedupSpec asserts capped ≡ uncapped on the gate corpus, plus a
    * planted hot-fingerprint fixture where the cap provably bounds the
    * emitted group). */
  def winnowPairsCapped(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 100): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val fps = winnowFingerprints(df, idCol, textCol, n, w)
    val cands = fps
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS da, y AS db))))""".stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"))
      .distinct()
    cands
      .join(fps.select(col("doc_id").as("da"), col("fp")), "da")
      .join(fps.select(col("doc_id").as("db"), col("fp")), Seq("db", "fp"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** ASYMMETRIC shingle containment `C(A→B) = |S(A)∩S(B)| / |S(A)|` for
    * every ordered pair sharing ≥1 shingle — the doc-inside-doc signal
    * Jaccard structurally misses: a short document quoted whole inside a
    * long one has C(short→long) = 1.0 while its Jaccard is only
    * |S(short)|/|S(long)| (tiny for a long container), so a
    * Jaccard-thresholded dedup never sees it. This is the Broder
    * containment coefficient — the boilerplate-extraction /
    * quote-detection complement to [[jaccardPairs]].
    *
    * Same two-shuffle shape as the Jaccard index (shingle group →
    * ordered pair → count); each UNordered candidate pair then fans out
    * to its two directions in a narrow projection. Exact; the hot-shingle
    * df-cap / prefix-filter scale levers apply unchanged (candidate
    * generation is shared machinery). Output:
    * (contained, container, containment) at `containment >= threshold`. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val (inv, sizes) = shingleIndex(shingleDocs(df, idCol, textCol, n))
    val pairsPerShingle = inv
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS da, y AS db))))""".stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"))
    val inter = pairsPerShingle
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .select(explode(array(
        struct(col("da").as("contained"), col("db").as("container"),
          (col("inter").cast("double") / col("na")).as("containment")),
        struct(col("db").as("contained"), col("da").as("container"),
          (col("inter").cast("double") / col("nb")).as("containment")))).as("r"))
      .select(col("r.contained"), col("r.container"), col("r.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Jaccard pairs with a document-frequency cap on candidate-generating
    * shingles. A corpus-stopword shingle with document frequency f emits
    * f²/2 candidate pairs from one group — the quadratic term that kills
    * the exact all-pairs index at 100 TB. Shingles in more than `maxDf`
    * docs are excluded from CANDIDATE GENERATION only; verification still
    * counts every shared shingle for the surviving pairs, so reported
    * jaccard values stay exact. The only misses are pairs whose shared
    * shingles are ALL hotter than the cap — near-duplicates share many
    * rare shingles, so at a sane cap this is the empty set (asserted
    * against the uncapped exact pairs in DedupSpec). */
  def jaccardPairsCapped(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDf: Int = 100): DataFrame = {
    val invSizes = shingleIndex(shingleDocs(df, idCol, textCol, n))
    val (inv, _) = invSizes
    val pairsPerShingle = inv
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS da, y AS db))))""".stripMargin)).as("p"))
      .select(col("p.da"), col("p.db"))
      .distinct()
    jaccardForIndex(invSizes, pairsPerShingle)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard restricted to a given (da, db) pair set — shared
    * shingles are counted only for those pairs, so verification cost scales
    * with the candidate count, not the corpus pair count. */
  def jaccardForPairs(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3): DataFrame =
    jaccardForIndex(shingleIndex(shingleDocs(df, idCol, textCol, n)), pairs)

  private def jaccardForIndex(
      invSizes: (DataFrame, DataFrame), pairs: DataFrame): DataFrame = {
    val (inv, sizes) = invSizes
    val inter = pairs.select(col("da"), col("db"))
      .join(inv.select(col("doc_id").as("da"), col("shingle")), "da")
      .join(inv.select(col("doc_id").as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("inter"))
    attachJaccard(inter, sizes)
  }

  /** EXACT Jaccard-threshold pairs by PREFIX FILTERING (the
    * PPJoin/AllPairs family, Chaudhuri et al. / Xiao et al.) — the
    * LOSSLESS scale path of the exact tier: order every document's
    * shingles by one GLOBAL (document-frequency asc, hash) total order
    * and keep only each document's first `n − ⌈t·n⌉ + 1` shingles as its
    * prefix; any two sets with Jaccard ≥ t MUST share a prefix token
    * (pigeonhole on the canonical order), so the candidate equi-join
    * runs over prefixes only — which by construction hold each
    * document's RAREST shingles — and the output still EQUALS the full
    * exact-threshold join (the gate shares dedup_ngram_jaccard's
    * oracle). Contrast with the df-cap (lossy by contract on all-hot
    * pairs) and minhash (probabilistic recall): prefix filtering prunes
    * the quadratic hot-shingle term without giving up exactness — at
    * t = 0.8 prefixes are ~20 % of tokens, and corpus-stopword shingles
    * fall out of candidate generation for any document with enough rarer
    * shingles to fill its prefix.
    *
    * Shape: one df-count over the inverted index, one per-doc window for
    * prefix ranks, a prefix⋈prefix equi-join on the shingle, then the
    * candidate-restricted exact verify ([[jaccardForPairs]]). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    val docs = shingleDocs(df, idCol, textCol, n)
    val (inv, sizes) = shingleIndex(docs)
    val dfreq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = inv
      .join(dfreq, Seq("shingle"))
      .join(sizes, Seq("doc_id"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = prefix.select(col("doc_id").as("da"), col("shingle"))
      .join(prefix.select(col("doc_id").as("db"), col("shingle")), Seq("shingle"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
      .distinct()
    jaccardForPairs(df, idCol, textCol, cand, n)
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash+LSH candidate pairs: `nHashes`-long signature of seeded
    * xxhash64 minima, banded `rowsPerBand` rows per band; a pair is a
    * candidate iff some band signature matches.
    *
    * The signature is a single-pass [[graft.functions.expr.MinHashSketch]]
    * aggregate (TypedImperativeAggregate with a long-array buffer) — no
    * per-seed row explosion, exact partial merge, one fixed-size sketch
    * per doc crosses the shuffle. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, nHashes: Int = 64, rowsPerBand: Int = 4): DataFrame =
    minhashCandidatesFromInv(
      shingleIndex(shingleDocs(df, idCol, textCol, n))._1, nHashes, rowsPerBand)

  /** (doc_id, band, band_sig) LSH band rows of an inverted shingle index:
    * the MinHash signature aggregate cut into `nHashes / rowsPerBand`
    * band signatures. Cached — one ~0.5 KB sketch per doc — so every
    * consumer of the same index shares one aggregate run. */
  private def bandsOf(inv: DataFrame, nHashes: Int, rowsPerBand: Int): DataFrame = {
    val sig = tracked(inv.groupBy(col("doc_id"))
      .agg(graft.functions.expr.MinHashSketch(col("shingle"), nHashes).as("sig")))
    val nBands = nHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        array_join(
          transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")), ",").as("sig"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.sig").as("band_sig"))
  }

  private def minhashCandidatesFromInv(
      inv: DataFrame, nHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = bandsOf(inv, nHashes, rowsPerBand)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** MinHash+LSH near-dup detection: LSH candidates verified with exact
    * Jaccard at `threshold`. Verification runs only on the candidate
    * pairs — the whole point of LSH at scale: the all-pairs index is never
    * materialized. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      n: Int = 3, nHashes: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    // one shingling pass feeds both the signature aggregate and the two
    // verification joins (shingleDocs is cached)
    val invSizes = shingleIndex(shingleDocs(df, idCol, textCol, n))
    // the verified pair set is consumed by several declared queries
    // (minhash gate, both CC variants, the simhash recall gate) with
    // identical arguments — persist it so the candidate generation +
    // verification joins run once per corpus (plan-identical calls
    // cache-hit; the frame is tiny: one row per near-dup pair)
    tracked(jaccardForIndex(invSizes,
      minhashCandidatesFromInv(invSizes._1, nHashes, rowsPerBand))
      .filter(col("jaccard") >= threshold))
  }

  /** INCREMENTAL corpus update — the dedup topology a growing 100 TB
    * corpus actually runs: an arriving batch is checked against the
    * EXISTING corpus only (never existing-vs-existing, which was settled
    * when those docs arrived). Each incoming doc gets a status:
    * `exact_dup` (byte-identical text exists), `near_dup` (Jaccard ≥
    * `threshold` with some existing doc), or `kept`; `matched_id` is the
    * smallest matching existing id (exact tier wins ties with the near
    * tier).
    *
    * Scale shape: the exact tier joins on 8-byte `xxhash64(text)` keys
    * with a min-id aggregate — text never shuffles past the hashing
    * projection (collision odds ~1e-10 corpus-wide, the same declared
    * contract as hashed decontamination). The near tier bands BOTH sides
    * with the shared MinHash machinery and joins ACROSS sides only —
    * the existing×existing self-join never happens — then verifies just
    * the cross candidates with exact Jaccard. Ids must be unique across
    * both frames (they key the verification join). */
  def incrementalDedup(
      existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      n: Int = 3, nHashes: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    val ex = existing.select(col(idCol), col(textCol))
    val inc = incoming.select(col(idCol), col(textCol))
    // exact tier: hash-keyed min-id lookup
    val exByHash = ex
      .select(xxhash64(col(textCol)).as("__h"), col(idCol).as("__ex"))
      .groupBy(col("__h")).agg(min(col("__ex")).as("exact_match"))
    val exact = inc.select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .join(exByHash, Seq("__h"), "left")
      .select(col(idCol), col("exact_match"))
    // near tier: cross-side band join, candidate-only verification
    val exInv = shingleIndex(shingleDocs(ex, idCol, textCol, n))
    val incInv = shingleIndex(shingleDocs(inc, idCol, textCol, n))
    val cand = bandsOf(exInv._1, nHashes, rowsPerBand).as("a")
      .join(bandsOf(incInv._1, nHashes, rowsPerBand).as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val unionInv = (exInv._1.unionByName(incInv._1),
      exInv._2.unionByName(incInv._2))
    val near = jaccardForIndex(unionInv, cand)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("db").as(idCol)).agg(min(col("da")).as("near_match"))
    inc.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("kept").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("matched_id"))
  }

  /** 64-bit shingle-level SimHash signature per document, via the
    * [[graft.functions.expr.SimHashAgg]] TypedImperativeAggregate (one
    * 64-int buffer per group — no 64× row explosion, no 64 aggregate
    * columns). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleIndex(shingleDocs(df, idCol, textCol, n))._1
      .groupBy(col("doc_id"))
      .agg(graft.functions.expr.SimHashAgg(col("shingle")).as("simhash"))

  /** SimHash near-dup pairs: 4×16-bit band buckets generate candidates
    * (pigeonhole-complete for Hamming < 4), popcount verifies
    * `hamming <= maxHamming`. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, n: Int = 3): DataFrame = {
    // both sides of the band self-join read the signatures; cache the
    // (doc_id, simhash) frame (16 bytes/doc) instead of re-aggregating
    val sigs = tracked(simhashSignatures(df, idCol, textCol, n))
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("k"),
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array(bandStructs: _*)).as("bd"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.bd.k") === col("b.bd.k") &&
          col("a.bd.bv") === col("b.bd.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Connected components over an undirected pair graph: assigns every
    * vertex the minimum vertex id reachable from it. This is the terminal
    * step of a dedup pipeline — near-dup PAIRS (from minhash / simhash /
    * embedding candidates) become duplicate CLUSTERS, and "keep one per
    * cluster" is then `component == id`.
    *
    * Algorithm: iterative min-label propagation (Pregel-style, expressed
    * as DataFrame joins). Each round every vertex takes the min of its own
    * label and its neighbors' labels; convergence in O(component diameter)
    * rounds. Near-dup clusters are dense and small-diameter (dozens of
    * docs, diameter ≤ ~3), so the loop terminates in a handful of rounds;
    * for adversarial long-chain graphs the same loop structure admits the
    * large-star/small-star optimization (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") without changing callers.
    *
    * Scale: every round is one hash shuffle of (id, label) pairs keyed by
    * vertex id — never the documents themselves; the rounds are
    * [[GraphOps.minLabels]] over the symmetrized pairs. Unconverged
    * labels are WRONG (one component reported as several, leaving
    * duplicates in a "keep one per cluster" pipeline), so `maxIter`
    * rounds without convergence throw `IllegalStateException`; raise
    * `maxIter` for long-chain graphs or use [[connectedComponentsStars]].
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try GraphOps.minLabels("connectedComponents",
        edges.select(col("src").as("node")).distinct(), edges, "src", "dst",
        maxIter)
      .select(col("node").as("id"), col("lab").as("component"))
    finally edges.unpersist(blocking = false)
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * same output contract as [[connectedComponents]] ((id, component =
    * min reachable id)) but O(log n) rounds instead of O(diameter): the
    * long-chain / adversarial-graph path, where min-label propagation
    * would need one round per hop.
    *
    * Per round, on the canonical edge set (lo < hi):
    *  - large-star: every node u links each STRICTLY LARGER neighbor to
    *    m(u) = min(Γ(u) ∪ u) — tall trees flatten toward small ids;
    *  - small-star: every node u links each smaller-or-equal neighbor
    *    (and itself) to m(u) = min of those — stars contract.
    * The edge set converges to disjoint stars rooted at component minima;
    * a fingerprint (edge count + hash sum) detects the fixed point. Each
    * round is two grouped aggregates + joins keyed by vertex id, nothing
    * heavier than (id, id) pairs ever shuffles; the rounds run on
    * [[Checkpointer.fixpoint]].
    *
    * Correctness guard: after convergence one min-propagation round is
    * run over the ORIGINAL edges; if any label would still decrease, the
    * star decomposition was not a fixed point and this throws instead of
    * returning split components. */
  def connectedComponentsStars(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 30): DataFrame = {
    val rawEdges = pairs
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // derive the vertex set from the PERSISTED canonical edges, not from
    // `pairs` — a second read of `pairs` would recompute its entire
    // upstream pipeline (for the gated query: the whole minhash pass).
    // Self-loop "pairs" (a,a) carry no connectivity and are not vertices
    // (near-dup pair generators emit strictly ordered pairs, so none
    // exist in practice).
    val vertices = rawEdges.select(col("lo").as("id"))
      .union(rawEdges.select(col("hi").as("id"))).distinct()

    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }

    try {
      // round 0 is a localCheckpoint of its own, not the persisted
      // rawEdges, so the loop frees it like any other round
      val stars = Checkpointer.fixpoint("connectedComponentsStars",
          Checkpointer.truncate(rawEdges), maxIter) { (edges, _) =>
        // ---- large-star ----
        val dir = edges.select(col("lo").as("u"), col("hi").as("v"))
          .union(edges.select(col("hi").as("u"), col("lo").as("v")))
        val mL = dir.groupBy(col("u"))
          .agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val afterLarge = dir.filter(col("v") > col("u"))
          .join(mL, "u")
          .filter(col("v") =!= col("m"))
          .select(col("m").as("lo"), col("v").as("hi")) // m ≤ u < v: canonical
          .distinct()
        // ---- small-star (directed hi → lo on the canonical edges) ----
        val mS = afterLarge.groupBy(col("hi").as("u"))
          .agg(min(col("lo")).as("m")) // all lo < u, so min(Γ⁻ ∪ u) = min(lo)
        val smallOut = afterLarge
          .join(mS, afterLarge("hi") === mS("u"))
          .filter(col("lo") =!= col("m"))
          .select(col("m").as("lo"), col("lo").as("hi")) // m ≤ lo: canonical
        val selfOut = mS.select(col("m").as("lo"), col("u").as("hi"))
        smallOut.union(selfOut)
          .filter(col("lo") =!= col("hi"))
          .distinct()
      }(fingerprint)
      // star edges → labels: non-roots point at their root; roots label
      // themselves. The final star frame is folded into the labels.
      val labels = Checkpointer.replace(stars) { edges =>
        val nonRoot = edges.groupBy(col("hi").as("id")).agg(min(col("lo")).as("c"))
        vertices
          .join(nonRoot, Seq("id"), "left")
          .select(col("id"), coalesce(col("c"), col("id")).as("component"))
      }
      // one verification propagation round over the ORIGINAL edges
      val dirAll = rawEdges.select(col("lo").as("src"), col("hi").as("dst"))
        .union(rawEdges.select(col("hi").as("src"), col("lo").as("dst")))
      val improved = dirAll
        .join(labels.select(col("id").as("src"), col("component").as("cs")), "src")
        .join(labels.select(col("id").as("dst"), col("component").as("cd")), "dst")
        .filter(col("cs") < col("cd"))
        .limit(1).count()
      if (improved > 0) {
        Checkpointer.free(labels)
        throw new IllegalStateException(
          "connectedComponentsStars did not reach a star fixed point: " +
            "a propagation round still lowers a label")
      }
      labels
    } finally rawEdges.unpersist(blocking = false)
  }

  /** Brute top-k closest pairs by cosine (rounded cosine + ids give an
    * engine-deterministic cut). Quadratic — small inputs / oracle twin.
    * Does NOT touch the dedup cache registry: a library function must not
    * invalidate caches that another still-lazy frame depends on. Callers
    * with strictly sequential workloads (e.g. the declared query bindings)
    * call [[unpersistAll]] themselves when the text caches are known dead. */
  def embeddingTopPairs(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val a = df.select(col(idCol).as("va"), col(vecCol).as("ea"))
    val b = df.select(col(idCol).as("vb"), col(vecCol).as("eb"))
    a.join(b, col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(VectorOps.cosine(col("ea"), col("eb")), 6).as("cos"))
      .orderBy(col("cos").desc, col("va"), col("vb"))
      .limit(k)
  }

  /** Corpus-level span (line) deduplication, the C4/RefinedWeb text-dedup
    * family member that operates BELOW document granularity: documents are
    * cut into consecutive `spanTokens`-token spans, each span is kept only
    * at its first corpus occurrence (ordered by (id, position)), spans
    * whose corpus occurrence count exceeds `maxDf` are dropped entirely
    * (boilerplate removal), and surviving spans are stitched back into
    * documents in their original order. Documents whose every span is
    * removed disappear from the output. For newline-delimited corpora the
    * same shape applies with a `split(text, "\n")` front — the fixture
    * corpus is single-line, so spans are fixed token windows.
    *
    * Scale shape (the reason this beats a naive window over span text):
    * the winner-per-span aggregate keys on `xxhash64(span)` — an 8-byte
    * shuffle key with map-side combine, so a boilerplate span occurring
    * 10⁹ times arrives at its reducer as a handful of partial
    * (min-occurrence, count) rows, never as 10⁹ sorted text rows (a
    * `row_number() OVER (PARTITION BY span)` would sort-shuffle the hot
    * key's full text). The join back to span rows is a (hash,id,idx)
    * equi-join against a winners frame of ~24 bytes per DISTINCT span.
    * A 64-bit span-hash collision (p ≈ n²/2⁶⁵) merges two unrelated spans,
    * dropping one — same documented tolerance as [[shingleDocs]].
    *
    * Reference anchor: the span/line granularity mirrors how
    * `arrow/compute` users compose `list_slice` + hash-agg for dedup;
    * there is no single reference node — this is the LLM-pipeline family
    * mandated beyond the reference surface. */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8, maxDf: Long = Long.MaxValue): DataFrame = {
    require(spanTokens > 0, s"dedupSpans: spanTokens must be > 0, got $spanTokens")
    val toks = TextOps.words(col(textCol))
    // ceil(nTokens / spanTokens) span slots; slice truncates the tail span
    val nSpans = ceil(size(toks).cast("double") / spanTokens).cast("int")
    val spanArr = transform(
      sequence(lit(0), greatest(nSpans, lit(1)) - 1),
      i => array_join(slice(toks, i * spanTokens + 1, lit(spanTokens)), " "))
    val spans = df
      .select(col(idCol).as("id"), posexplode(spanArr).as(Seq("span_idx", "span")))
      .withColumn("h", xxhash64(col("span")))
    val winners = spans
      .groupBy(col("h"))
      .agg(min(struct(col("id"), col("span_idx"))).as("keep"),
        count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("h"), col("keep.id").as("id"),
        col("keep.span_idx").as("span_idx"))
    spans
      .join(winners, Seq("h", "id", "span_idx"), "left_semi")
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span")),
          " ").as("text"),
        count(lit(1)).as("n_spans_kept"))
      .select(col("id").as(idCol), col("text"), col("n_spans_kept"))
  }
}
