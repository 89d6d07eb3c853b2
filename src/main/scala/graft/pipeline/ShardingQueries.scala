package graft.pipeline

import graft.{Capability, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared sharding capabilities over `documents`: deterministic
  * train/val/test splits and token-budget sequence packing. Both are pure
  * functions of the doc id (md5-keyed), so DuckDB computes the identical
  * assignment — full-row oracle gates, not just count checks.
  */
object ShardingQueries {

  private def split(s: SparkSession, d: String): DataFrame =
    Sharding.assignSplit(Tables.documents(s, d), "doc_id")
      .orderBy(col("doc_id"))

  private val splitSql =
    """SELECT doc_id,
      |  substring(md5(doc_id::VARCHAR), 1, 2) AS bucket,
      |  CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
      |       WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact-proportion stratified split ([[Sharding.assignSplitStratified]]):
    * every language contributes exactly 80/10/10 (integer-floor
    * boundaries), killing the per-stratum ratio skew a global bucket
    * threshold leaves on rare strata. Full per-row membership gated. */
  private def splitStratified(s: SparkSession, d: String): DataFrame =
    Sharding.assignSplitStratified(Tables.documents(s, d), "doc_id", "lang")
      .orderBy(col("doc_id"))

  private val splitStratifiedSql =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CASE WHEN r * 100 <= n * 80 THEN 'train'
      |       WHEN r * 100 <= n * 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM s ORDER BY doc_id""".stripMargin

  private def splitLeakFree(s: SparkSession, d: String): DataFrame =
    Sharding.assignSplitLeakFree(Tables.documents(s, d), "doc_id", "source")
      .orderBy(col("doc_id"))

  private val splitLeakFreeSql =
    """SELECT doc_id, source,
      |  substring(md5(source), 1, 2) AS bucket,
      |  CASE WHEN substring(md5(source), 1, 2) < 'cc' THEN 'train'
      |       WHEN substring(md5(source), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  private def pack(s: SparkSession, d: String): DataFrame =
    Sharding.packSequences(
      Tables.documents(s, d), "doc_id",
      size(TextOps.words(col("text"))), ctxTokens = 2048)
      .orderBy(col("doc_id"))

  private val packSql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    substring(md5(doc_id::VARCHAR), 1, 1) AS shard,
      |    len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, shard, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tok
      |  FROM toks)
      |SELECT doc_id, shard, n_tok, cum_tok,
      |  (cum_tok - n_tok) // 2048 AS seq_id,
      |  (cum_tok - n_tok) - ((cum_tok - n_tok) // 2048) * 2048 AS seq_offset
      |FROM cum ORDER BY doc_id""".stripMargin

  private def shuffle(s: SparkSession, d: String): DataFrame =
    Sharding.shuffleOrder(
      Tables.documents(s, d).select(col("doc_id")), "doc_id", seed = "s42")
      .orderBy(col("doc_id"))

  private val shuffleSql =
    """SELECT doc_id,
      |  md5('s42' || doc_id::VARCHAR) AS shuffle_key,
      |  substring(md5('s42' || doc_id::VARCHAR), 1, 1) AS shard,
      |  (row_number() OVER (
      |     PARTITION BY substring(md5('s42' || doc_id::VARCHAR), 1, 1)
      |     ORDER BY md5('s42' || doc_id::VARCHAR), doc_id) - 1) AS shuffle_pos
      |FROM documents ORDER BY doc_id""".stripMargin

  private def cap(s: SparkSession, d: String): DataFrame =
    Sharding.capPerGroup(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", k = 25)
      .orderBy(col("source"), col("cap_rank"))

  private val capSql =
    """SELECT doc_id, source, cap_rank FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS cap_rank
      |  FROM documents)
      |WHERE cap_rank <= 25 ORDER BY source, cap_rank""".stripMargin

  /** The k-bounded-shuffle cap ([[Sharding.capPerGroupTopK]]): identical
    * selection policy to pipeline_cap, but at most k (draw, id) pairs per
    * group per map task cross the exchange. The oracle orders by the
    * 12-hex md5 prefix the heap scores on (ties by id), which equals the
    * full-md5 order except on 2^-48 prefix collisions — none exist in
    * any fixture, and the gate would catch one loudly. */
  private def capTopK(s: SparkSession, d: String): DataFrame =
    Sharding.capPerGroupTopK(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", k = 25)
      .orderBy(col("source"), col("cap_rank"))

  private val capTopKSql =
    """SELECT doc_id, source, cap_rank FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY substring(md5(doc_id::VARCHAR), 1, 12), doc_id) AS INT)
      |      AS cap_rank
      |  FROM documents)
      |WHERE cap_rank <= 25 ORDER BY source, cap_rank""".stripMargin

  /** Efraimidis–Spirakis weighted sample: exactly 20 docs per language,
    * selection probability proportional to n_chars, through the bounded
    * heap (k-bounded shuffle). The oracle computes the identical
    * exponential key — `-ln((prefix48 + 0.5) / 2^48) / w` — in DuckDB
    * and ranks with the same (key, id) window order. */
  private def weightedSampleQ(s: SparkSession, d: String): DataFrame =
    Sharding.weightedTopN(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "doc_id", "n_chars", n = 20)
      .orderBy(col("lang"), col("ws_rank"))

  private val weightedSampleSql =
    """SELECT doc_id, lang, ws_rank FROM (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
      |      -ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 0.5)
      |          / 281474976710656.0) / n_chars,
      |      doc_id) AS INT) AS ws_rank
      |  FROM documents WHERE n_chars > 0)
      |WHERE ws_rank <= 20 ORDER BY lang, ws_rank""".stripMargin

  /** Temperature mixture: 200 docs at alpha 0.5 across the 20 sources —
    * small sources up-sampled toward uniform, largest-remainder
    * allocation mirrored exactly in SQL. */
  private def temperatureMixQ(s: SparkSession, d: String): DataFrame =
    Sharding.temperatureMix(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", alpha = 0.5, total = 200)
      .orderBy(col("source"), col("mix_rank"))

  private val temperatureMixSql =
    """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, n,
      |        pow(n, 0.5) / (SELECT SUM(pow(n, 0.5)) FROM c) AS w FROM c),
      |a AS (SELECT source, n, floor(200 * w) AS base,
      |        200 * w - floor(200 * w) AS rem FROM w),
      |r AS (SELECT source, n, base,
      |        CAST(row_number() OVER (ORDER BY rem DESC, source) AS INT) AS rk
      |      FROM a),
      |t AS (SELECT source,
      |        LEAST(n, CAST(base AS BIGINT) +
      |          CASE WHEN rk <= 200 - (SELECT CAST(SUM(base) AS BIGINT) FROM a)
      |               THEN 1 ELSE 0 END) AS tgt
      |      FROM r),
      |ranked AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY substring(md5(doc_id::VARCHAR), 1, 12), doc_id) AS INT)
      |      AS mix_rank
      |  FROM documents)
      |SELECT doc_id, source, mix_rank
      |FROM ranked JOIN t USING (source)
      |WHERE mix_rank <= t.tgt
      |ORDER BY source, mix_rank""".stripMargin

  /** Round-9 curation composition — the ops land as ONE lazy plan:
    * Gopher rule screen → character-entropy floor → domain-granular
    * leak-free split (train side) → temperature mixture draw. Each
    * stage is separately gated; this gate proves they COMPOSE (column
    * contracts line up, determinism survives the chain, and the mix
    * allocation is computed over the FILTERED population, not the raw
    * corpus). */
  private def e2eV2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keep = TextQueries.gopherOn(docs)
      .filter(col("keep")).select(col("doc_id"))
    val calm = TextQueries.charEntropy(docs, "doc_id", "text")
      .filter(col("entropy") >= 3.9).select(col("doc_id"))
    val train = Sharding
      .assignSplitLeakFree(docs.select(col("doc_id"), col("source")),
        "doc_id", "source")
      .filter(col("split") === "train")
      .select(col("doc_id"), col("source"))
    // materialize the filter intersection ONCE: temperatureMix reads its
    // input twice (per-source counts, then the ranked selection), and
    // left lazy each read re-runs the gopher + entropy text passes over
    // the full corpus (guide §3.3/§5 — the e2eV4 checkpoint rationale).
    // (doc_id, source) rows only; values unchanged.
    val filtered = Checkpointer.truncate(train
      .join(keep, Seq("doc_id"))
      .join(calm, Seq("doc_id")))
    Sharding.temperatureMix(filtered, "source", "doc_id",
      alpha = 0.5, total = 100)
      .orderBy(col("source"), col("mix_rank"))
  }

  private val e2eV2Sql = {
    // the gopher/entropy formulations are the SAME SQL the individual
    // gates use, re-scoped into the chain
    val nTok = "len(string_split(text, ' '))::DOUBLE"
    val mwl = s"list_sum(list_transform(string_split(text, ' '), w -> length(w)))::DOUBLE / $nTok"
    val sym = s"((length(text) - length(replace(text, '#', ''))) + " +
      s"(length(text) - length(replace(text, '...', ''))))::DOUBLE / $nTok"
    val nLines = "len(string_split(text, chr(10)))::DOUBLE"
    val bullet = s"len(list_filter(string_split(text, chr(10)), " +
      s"l -> starts_with(l, '-') OR starts_with(l, '*')))::DOUBLE / $nLines"
    val ell = s"len(list_filter(string_split(text, chr(10)), " +
      s"l -> ends_with(l, '...')))::DOUBLE / $nLines"
    val alpha = s"len(list_filter(string_split(text, ' '), " +
      s"w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / $nTok"
    s"""WITH keepers AS (
       |  SELECT doc_id FROM documents
       |  WHERE $mwl >= 3.0 AND $mwl <= 10.0 AND $sym <= 0.1
       |    AND $bullet <= 0.9 AND $ell <= 0.3 AND $alpha >= 0.8),
       |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
       |cc AS (SELECT doc_id, ch, COUNT(*) AS k FROM ch GROUP BY doc_id, ch),
       |cn AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM cc GROUP BY doc_id),
       |ce AS (
       |  SELECT cc.doc_id, cc.k,
       |    CAST(round((cc.k::DOUBLE / cn.n) * log2(cc.k::DOUBLE / cn.n), 9)
       |      AS DECIMAL(38,12)) AS e
       |  FROM cc JOIN cn USING (doc_id)),
       |calm AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, round(CAST(-SUM(e) AS DOUBLE), 6) AS entropy
       |    FROM ce GROUP BY doc_id)
       |  WHERE entropy >= 3.9),
       |train AS (
       |  SELECT doc_id, source FROM documents
       |  WHERE substring(md5(source), 1, 2) < 'cc'),
       |filtered AS (
       |  SELECT t.doc_id, t.source FROM train t
       |  JOIN keepers USING (doc_id) JOIN calm USING (doc_id)),
       |c AS (SELECT source, COUNT(*) AS n FROM filtered GROUP BY source),
       |w AS (SELECT source, n,
       |        pow(n, 0.5) / (SELECT SUM(pow(n, 0.5)) FROM c) AS w FROM c),
       |a AS (SELECT source, n, floor(100 * w) AS base,
       |        100 * w - floor(100 * w) AS rem FROM w),
       |r AS (SELECT source, n, base,
       |        CAST(row_number() OVER (ORDER BY rem DESC, source) AS INT) AS rk
       |      FROM a),
       |t AS (SELECT source,
       |        LEAST(n, CAST(base AS BIGINT) +
       |          CASE WHEN rk <= 100 - (SELECT CAST(SUM(base) AS BIGINT) FROM a)
       |               THEN 1 ELSE 0 END) AS tgt
       |      FROM r),
       |ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY substring(md5(doc_id::VARCHAR), 1, 12), doc_id) AS INT)
       |      AS mix_rank
       |  FROM filtered)
       |SELECT doc_id, source, mix_rank
       |FROM ranked JOIN t USING (source)
       |WHERE mix_rank <= t.tgt
       |ORDER BY source, mix_rank""".stripMargin
  }

  /** Small-file compaction as a gated capability: a deliberately
    * fragmented copy of `documents` (64 splinter files — a micro-batch
    * sink's typical residue) is compacted to size-targeted files via
    * [[Compact]] (coalesce — no shuffle — plus a two-rename swap), then
    * read back in full. The oracle proves content preservation
    * row-for-row; CompactionSpec asserts the file-count mechanics. */
  private def compactQ(s: SparkSession, d: String): DataFrame = {
    val dir = Tables.scratch(d, "compact")
    Compact.fragment(Tables.documents(s, d), dir, nFiles = 64)
    Compact.compact(s, dir, targetBytes = 64L * 1024 * 1024)
    s.read.parquet(dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val compactSql =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Data mixing: weighted per-language downsampling of `documents`
    * (keep all en, half zh, a quarter es, an eighth de, 3/4 of the
    * rest), summarized per language with id-sum/extrema so the gate
    * catches row-level membership differences, not just counts. */
  private def mix(s: SparkSession, d: String): DataFrame =
    Sharding.weightedSample(
      Tables.documents(s, d), "doc_id", "lang",
      Map("en" -> 1.0, "zh" -> 0.5, "es" -> 0.25, "de" -> 0.125),
      defaultRate = 0.75)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_ids"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))

  private val mixSql =
    """WITH kept AS (
      |  SELECT doc_id, lang FROM documents
      |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
      |    CASE lang WHEN 'en' THEN 'zzzz' WHEN 'zh' THEN '8000'
      |              WHEN 'es' THEN '4000' WHEN 'de' THEN '2000'
      |              ELSE 'c000' END)
      |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  /** pipeline_raking: [[Raking.ipfUniform]] over the documents
    * lang × source contingency — per-cell sampling weights that hit
    * EQUAL language shares AND equal source shares simultaneously (the
    * two-marginal constraint [[Sharding.weightedSample]]'s per-key
    * rates cannot express). 3 unrolled IPF iterations, 1e-12-scaled
    * longs between steps, oracle mirrors every step as a CTE. */
  private def rakingQ(s: SparkSession, d: String): DataFrame =
    Raking.ipfUniform(Tables.documents(s, d), "lang", "source")

  /** The IPF CTE chain (cells → dims → m0 → s1..s6 → fit) shared by the
    * weight gate and the resample gate — one definition, the
    * psiSqlHead convention. `fit` carries (lang, source, n_docs,
    * weight round@6). */
  private lazy val rakingCtes = {
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    def step(src: String, dst: String, part: String, k: String) = {
      val slice = s"SUM(m) OVER (PARTITION BY $part)"
      s"""$dst AS (
         |  SELECT r, c, n, kr, kc, nt,
         |    CASE WHEN $slice > 0 THEN
         |      CAST(round(${dd("m")} * (1.0 / ${dd(k)}) * 1e12 /
         |        ${dd(slice)}, 0) AS BIGINT)
         |    ELSE 0 END AS m
         |  FROM $src)""".stripMargin
    }
    val steps = (1 to 3).flatMap { i =>
      val prev = if (i == 1) "m0" else s"s${2 * i - 2}"
      Seq(step(prev, s"s${2 * i - 1}", "r", "kr"),
        step(s"s${2 * i - 1}", s"s${2 * i}", "c", "kc"))
    }.mkString(",\n")
    s"""cells AS (
       |  SELECT lang AS r, source AS c, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |dims AS (
       |  SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS kr,
       |         CAST(COUNT(DISTINCT c) AS BIGINT) AS kc,
       |         CAST(SUM(n) AS BIGINT) AS nt
       |  FROM cells),
       |m0 AS (
       |  SELECT r, c, n, kr, kc, nt,
       |    CAST(round(${dd("n")} / ${dd("nt")} * 1e12, 0) AS BIGINT) AS m
       |  FROM cells, dims),
       |$steps,
       |fit AS (
       |  SELECT r AS lang, c AS source, n AS n_docs, m, nt,
       |    round(${dd("m")} / 1e12, 9) AS m_fit,
       |    round(${dd("m")} * ${dd("nt")} / (1e12 * ${dd("n")}), 6) AS weight
       |  FROM s6)""".stripMargin
  }

  private lazy val rakingSql = {
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    s"""WITH $rakingCtes
       |SELECT lang, source, n_docs, m_fit, weight,
       |  round(${dd("SUM(m) OVER (PARTITION BY lang)")} / 1e12, 6) AS row_share,
       |  round(${dd("SUM(m) OVER (PARTITION BY source)")} / 1e12, 6) AS col_share
       |FROM fit ORDER BY lang, source""".stripMargin
  }

  /** pipeline_raking_apply: [[Raking.applyUniform]] — the raking
    * weights made executable as a deterministic md5-lottery resample
    * (rate = weight / max weight); the gate reports BOTH achieved
    * marginals with id-sums/extrema, exposing the rebalance working,
    * not just its determinism. */
  private def rakingApplyQ(s: SparkSession, d: String): DataFrame =
    Raking.applyUniform(Tables.documents(s, d), "lang", "source",
      "doc_id")

  private lazy val rakingApplySql =
    s"""WITH $rakingCtes,
       |mw AS (SELECT MAX(weight) AS mw FROM fit),
       |kept AS (
       |  SELECT d.doc_id, d.lang, d.source
       |  FROM documents d
       |  JOIN fit f ON f.lang = d.lang AND f.source = d.source, mw
       |  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
       |    AND CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT
       |      AS DOUBLE) < f.weight / mw.mw * 65536.0)
       |SELECT 'lang' AS dim, lang AS value, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
       |FROM kept GROUP BY 1, 2
       |UNION ALL
       |SELECT 'source', source, COUNT(*),
       |  CAST(SUM(doc_id) AS BIGINT), MIN(doc_id), MAX(doc_id)
       |FROM kept GROUP BY 1, 2
       |ORDER BY dim, value""".stripMargin

  /** End-to-end curation composition — the pipeline a real corpus runs
    * as ONE lazy plan: quality filter (token count + uniqueness ratio) →
    * exact dedup (md5-keyed keep-first, so the shuffle carries a 16-byte
    * key + id, never document bodies) → deterministic split assignment →
    * per-split stats. Every stage is an operator gated elsewhere on its
    * own; this query gates that they COMPOSE, with one DuckDB oracle
    * mirroring the whole chain. */
  private def e2e(s: SparkSession, d: String): DataFrame = {
    val ws = TextOps.words(col("text"))
    val nTok = size(ws)
    val uniq = size(array_distinct(ws)).cast("double") / nTok
    val kept = Tables.documents(s, d)
      .filter(nTok >= 30 && uniq >= lit(0.3))
    val deduped = kept
      .groupBy(md5(col("text")).as("__k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    Sharding.assignSplit(deduped, "doc_id")
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("split"))
  }

  private val e2eSql =
    """WITH kept AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE len(string_split(text, ' ')) >= 30
      |    AND len(list_distinct(string_split(text, ' ')))::DOUBLE
      |        / len(string_split(text, ' ')) >= 0.3),
      |dedup AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM dedup)
      |SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM sp GROUP BY split ORDER BY split""".stripMargin

  private val ChunkMax = 64
  private val ChunkOverlap = 16

  /** Token-budget chunking gate: 64-token windows, 16-token overlap
    * (stride 48). [[Chunking.chunks]] holds the scale notes — a pure
    * narrow fan-out, chunks never leave the reading partition. */
  private def chunkQ(s: SparkSession, d: String): DataFrame =
    Chunking.chunks(Tables.documents(s, d), "doc_id", "text",
        maxTokens = ChunkMax, overlap = ChunkOverlap)
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkSql = {
    val stride = ChunkMax - ChunkOverlap
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id, ws, len(ws) AS n,
       |    CASE WHEN len(ws) <= $ChunkMax THEN 1
       |         ELSE ((len(ws) - $ChunkMax + ${stride - 1}) // $stride) + 1
       |    END AS nc
       |  FROM d),
       |x AS (
       |  SELECT doc_id, ws, n, unnest(generate_series(0, nc - 1)) AS i
       |  FROM c)
       |SELECT doc_id, CAST(n AS INT) AS n_doc_tokens, CAST(i AS INT) AS chunk_idx,
       |  array_to_string(ws[i*$stride+1 : i*$stride+$ChunkMax], ' ') AS chunk_text,
       |  CAST(least($ChunkMax, n - i*$stride) AS INT) AS n_chunk_tokens
       |FROM x ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Versioned-upsert gate ([[Maintenance.upsert]]): the arriving update
    * set revises every 7th doc (text gains a suffix, version 1) and adds
    * brand-new ids from every 13th doc — latest version wins, update
    * beats base on ties. */
  private def upsertQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val base = docs.withColumn("version", lit(0L))
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" rev")).as("text"),
        lit(1L).as("version"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          lit(1L).as("version")))
    Maintenance.upsert(base, updates, "doc_id", "version")
      .select(col("doc_id"), col("version"), length(col("text")).as("len"))
      .orderBy(col("doc_id"))
  }

  private val upsertSql =
    """WITH base AS (
      |  SELECT doc_id, 0 AS version, text, 0 AS src FROM documents),
      |upd AS (
      |  SELECT doc_id, 1 AS version, text || ' rev' AS text, 1 AS src
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, 1, text, 1
      |  FROM documents WHERE doc_id % 13 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |w AS (
      |  SELECT doc_id, version, text,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY version DESC, src DESC) AS rn
      |  FROM u)
      |SELECT doc_id, CAST(version AS BIGINT) AS version,
      |  length(text) AS len
      |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** SCD-2 history gate ([[Maintenance.scd2]]): the upsert fixture plus
    * a version-2 revision wave (every 21st doc → three-row histories)
    * and a version-0 COLLISION wave (every 17th doc revised at the
    * base's own version — the update-beats-base tie path must resolve
    * before intervals form). Every history row carries its validity
    * interval and current flag. */
  private def scd2Q(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val base = docs.withColumn("version", lit(0L))
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" rev")).as("text"),
        lit(1L).as("version"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          lit(1L).as("version")))
      .unionByName(docs.filter(col("doc_id") % 21 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"),
          lit(2L).as("version")))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" r0")).as("text"),
          lit(0L).as("version")))
    Maintenance.scd2(base, updates, "doc_id", "version")
      .select(col("doc_id"), col("version"), length(col("text")).as("len"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("doc_id"), col("version"))
  }

  private val scd2Sql =
    """WITH base AS (
      |  SELECT doc_id, 0 AS version, text, 0 AS src FROM documents),
      |upd AS (
      |  SELECT doc_id, 1 AS version, text || ' rev' AS text, 1 AS src
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, 1, text, 1
      |  FROM documents WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id, 2, text || ' rev2', 1
      |  FROM documents WHERE doc_id % 21 = 0
      |  UNION ALL
      |  SELECT doc_id, 0, text || ' r0', 1
      |  FROM documents WHERE doc_id % 17 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
      |d AS (
      |  SELECT doc_id, version, text FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id, version
      |      ORDER BY src DESC) AS rn
      |    FROM u) t
      |  WHERE rn = 1),
      |h AS (
      |  SELECT doc_id, version, text, version AS valid_from,
      |    lead(version) OVER (PARTITION BY doc_id ORDER BY version)
      |      AS valid_to
      |  FROM d)
      |SELECT doc_id, CAST(version AS BIGINT) AS version,
      |  length(text) AS len,
      |  CAST(valid_from AS BIGINT) AS valid_from,
      |  CAST(valid_to AS BIGINT) AS valid_to,
      |  (valid_to IS NULL) AS is_current
      |FROM h ORDER BY doc_id, version""".stripMargin

  /** Snapshot-diff gate ([[Maintenance.snapshotDiff]]): the after
    * snapshot drops every 11th doc, revises every 7th, and adds new ids
    * from every 13th — the diff classifies every id in either snapshot. */
  private def diffQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val after = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    Maintenance.snapshotDiff(docs, after, "doc_id", "text")
      .select(col("doc_id"), col("change"), length(col("content")).as("len"))
      .orderBy(col("doc_id"))
  }

  private val diffSql =
    """WITH b AS (SELECT doc_id, text FROM documents),
      |a AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev' ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 13 = 0)
      |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
      |  CASE WHEN b.text IS NULL THEN 'added'
      |       WHEN a.text IS NULL THEN 'removed'
      |       WHEN a.text = b.text THEN 'unchanged'
      |       ELSE 'changed' END AS change,
      |  length(a.text) AS len
      |FROM b FULL OUTER JOIN a ON a.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Quality-threshold curation cut ([[Sharding.thresholdCut]]): keep the
    * top 30 % of documents by length without globally sorting the corpus —
    * the cutoff is an exact interpolated quantile of the single metric
    * column (range-sorted, bounded driver fetch), applied as a narrow
    * scalar filter. Ties at the cutoff all kept, so the set is a pure
    * function of the data and DuckDB reproduces it from quantile_cont. */
  private def qualityCutQ(s: SparkSession, d: String): DataFrame =
    Sharding.thresholdCut(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
      "n_chars", keepFrac = 0.3)
      .orderBy(col("doc_id"))

  private val qualityCutSql =
    """SELECT doc_id, n_chars FROM documents
      |WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.7) FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Per-source token-budget mix ([[Sharding.tokenBudget]]): each source
    * admits documents in md5-lottery order until 600 cumulative tokens —
    * the mixing pass that targets TOKEN proportions (how training mixes
    * are actually specified) rather than row counts ([[Sharding
    * .capPerGroup]]'s sibling). */
  private val TokenBudget = 600L

  private def tokenBudgetQ(s: SparkSession, d: String): DataFrame =
    Sharding.tokenBudget(
      Tables.documents(s, d).select(
        col("doc_id"), col("source"), col("text")),
      "doc_id", "source", size(TextOps.words(col("text"))),
      budget = TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))

  private val tokenBudgetSql =
    s"""WITH toks AS (
       |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tok,
       |         md5(doc_id::VARCHAR) AS mk
       |  FROM documents),
       |cum AS (
       |  SELECT doc_id, source, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY mk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tok
       |  FROM toks)
       |SELECT doc_id, source, n_tok, cum_tok FROM cum
       |WHERE cum_tok - n_tok < $TokenBudget ORDER BY doc_id""".stripMargin

  val caps: Seq[Capability] = Seq(
    Capability("pipeline_split_leakfree",
      "domain-granular split: every doc of a source lands in ONE split (leakage guard)",
      splitLeakFree, Some(splitLeakFreeSql)),
    Capability("pipeline_split", "deterministic md5-bucketed train/val/test split", split,
      Some(splitSql)),
    Capability("pipeline_split_stratified",
      "exact-proportion per-stratum split (md5-ranked, integer boundaries)",
      splitStratified, Some(splitStratifiedSql)),
    Capability("pipeline_e2e", "curation composition: quality filter → dedup → split → stats",
      e2e, Some(e2eSql)),
    Capability("pipeline_mix", "data mixing: deterministic weighted per-language sampling", mix,
      Some(mixSql)),
    Capability("pipeline_raking",
      "IPF raking: per-cell weights hitting equal lang AND source marginals",
      rakingQ, Some(rakingSql)),
    Capability("pipeline_raking_apply",
      "raking weights applied as a deterministic resample: both marginals gated",
      rakingApplyQ, Some(rakingApplySql)),
    Capability("pipeline_compact", "small-file compaction preserves content, swap-safe", compactQ,
      Some(compactSql)),
    Capability("pipeline_pack", "token-budget sequence packing in md5 shards", pack,
      Some(packSql)),
    Capability("pipeline_cap", "deterministic md5-lottery per-domain document cap", cap,
      Some(capSql)),
    Capability("pipeline_cap_topk",
      "per-domain cap via the bounded-heap aggregate (k-bounded shuffle)", capTopK,
      Some(capTopKSql)),
    Capability("pipeline_weighted_sample",
      "Efraimidis-Spirakis weighted sample without replacement, 20/lang by n_chars",
      weightedSampleQ, Some(weightedSampleSql)),
    Capability("pipeline_mix_temperature",
      "temperature mixture sampling (n^alpha shares, largest-remainder allocation)",
      temperatureMixQ, Some(temperatureMixSql)),
    Capability("pipeline_e2e_v2",
      "curation composition v2: gopher screen -> entropy floor -> leak-free split -> temperature mix",
      e2eV2, Some(e2eV2Sql)),
    Capability("pipeline_shuffle", "seeded deterministic corpus shuffle (sharded permutation)",
      shuffle, Some(shuffleSql)),
    Capability("pipeline_chunk",
      "token-budget document chunking with overlap (narrow fan-out)", chunkQ,
      Some(chunkSql)),
    Capability("pipeline_upsert",
      "versioned corpus upsert: latest wins, one window over the union", upsertQ,
      Some(upsertSql)),
    Capability("pipeline_scd2",
      "SCD-2 history merge: validity intervals + current flags per version",
      scd2Q, Some(scd2Sql)),
    Capability("pipeline_diff",
      "snapshot diff: added/removed/changed/unchanged per id", diffQ,
      Some(diffSql)),
    Capability("pipeline_quality_cut",
      "top-fraction curation cut via exact quantile cutoff (no global sort)",
      qualityCutQ, Some(qualityCutSql)),
    Capability("pipeline_token_budget",
      "per-source token-budget mixing in md5-lottery order", tokenBudgetQ,
      Some(tokenBudgetSql)),
  )
}
