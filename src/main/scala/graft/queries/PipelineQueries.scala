package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft._
import graft.functions.TextFunctions
import graft.operators.{Assembly, Corpus, Dedup, Graph, Materialize, Similarity}
import graft.sources.Tables

/** Declared queries for the beyond-reference pipeline operators
  * (SURVEY.md §2.3): dedup, similarity search, text analysis, multimodal.
  *
  * Oracle coverage: operators whose arithmetic is ANSI-SQL-expressible
  * (exact dedup, token stats, fingerprints, binary metadata, frame/codec
  * integer arithmetic) carry exact DuckDB oracle SQL; the hash-family
  * operators (MinHash/SimHash/LSH — Spark xxhash64 has no DuckDB twin)
  * declare PROPERTY oracles instead: DuckDB recomputes the exact ground
  * truth (pair sets, per-source Jaccard, top-k) from raw text/vectors and
  * the query emits measured recall/false-positive/tolerance columns against
  * it. Every declared query here carries an oracle. Raw signature semantics
  * stay in ScalaTest. */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): MetaFrame =
    Tables.loadMeta(s, dir, name)

  /** Shared candidate-pair generation for the exact-cosine queries — the
    * pair query and the connected-components query MUST stay bit-identical
    * (same filter, same fold) for their oracles to agree, so both build from
    * this one definition (and from [[CosinePairsSql]] on the oracle side). */
  private def cosinePairs(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val emb = t(s, d, "embeddings").df.filter(col("vec_id") < 300)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= 0.3)
  }

  /** Exact high-Jaccard ground-truth pairs (j ≥ 0.8): the testdata plants
    * near-duplicate documents whose pairwise shingle Jaccard is ≥ 0.9 while
    * every other pair sits below 0.07, so 0.8 separates plant from noise
    * with a wide margin at every SF. Shared by the MinHash-LSH and SimHash
    * property queries below and exactly re-derivable in DuckDB
    * ([[HiJaccardPairsSql]]). */
  private def hiJaccardPairs(s: SparkSession, d: String): DataFrame =
    // Exact opt-in: this is the ground-truth pair set the LSH property
    // oracles compare against, so the df cut must be provably off — not
    // merely "never engages at this SF" (the finite production default).
    Dedup.ngramJaccardPairs(t(s, d, "documents").df, "doc_id", "text", minJaccard = 0.8,
      maxShingleDf = Dedup.Exact)

  /** DuckDB twin of [[hiJaccardPairs]]: CTE `hi` (id_a, id_b) with the exact
    * string-shingle set arithmetic (identical counts to the rolled-hash path
    * as long as 64-bit shingle hashes don't collide). */
  /** The no-space-script character class, interpolated into the script-
    * tokenizer oracles so the DuckDB regex is byte-identical to the
    * engine's ([[TextFunctions.NoSpaceClass]] is the single source). */
  private val NoSpace: String = TextFunctions.NoSpaceClass

  private val HiJaccardPairsSql: String =
    "toks AS (SELECT doc_id, list_distinct(" +
    "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
    "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
    "FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
    "hi AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM toks a JOIN toks b " +
    "ON a.doc_id < b.doc_id AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
    "len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8) "

  /** [[HiJaccardPairsSql]] variant whose `hi` CTE also carries the exact
    * UNROUNDED jaccard `j` — for oracles that assert the matched VALUES,
    * not just the pair set (round at the use site, after any max()). */
  private val HiJaccardPairsJSql: String =
    "toks AS (SELECT doc_id, list_distinct(" +
    "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
    "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
    "FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
    "hi AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
    "len(list_distinct(list_concat(a.sh, b.sh))) AS j FROM toks a JOIN toks b " +
    "ON a.doc_id < b.doc_id AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
    "len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8) "

  /** Distinct 3-token shingle sets of `src` (doc_id, sh) — the common
    * subquery of the shingle-family oracles, parameterized by source table
    * for the staged pipeline oracle. */
  private def shSetSql(src: String): String =
    "(SELECT doc_id, list_distinct(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
    "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
    s"FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM $src))"

  /** Deterministic multi-line rendering of the documents table (8-token
    * lines, the text_chunk slicing at size=stride=8) — the corpus has no
    * newlines, so the line-dedup family's declared queries share this
    * rebuild; its DuckDB twin is the l2 CTE of their oracles. */
  private def multiLineDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").df.select(col("doc_id"),
      concat_ws("\n", transform(TextFunctions.tokenChunks(col("text"), 8, 8),
        c => c.getField("chunk_text"))).as("ml_text"))

  /** Parameterized DuckDB re-derivation of `Assembly.curateCorpus` over
    * the 8-token-line render of docs >= 100 (benchmark = raw docs < 100):
    * line dedup -> span excision -> (optional audited PII masking) -> OOV
    * gate over the cleaned text -> sqrt-weight epoch quotas. With
    * `plantPii` the corpus side appends one deterministic PII line per
    * doc_id % 3/5/7 (the text_pii_categories planting, as its own line so
    * the 8-token-chunk line algebra stays exact), the masking stage
    * rewrites between excision and the gate, and the audit carries the
    * per-category counts — the same chained derivation serving both the
    * legacy e2e oracle and the PII-staged one. */
  private def curationOracleSql(plantPii: Boolean): String = {
    val plantedLine =
      "ltrim((CASE WHEN doc_id % 3 = 0 THEN ' mail user' || doc_id || '@example.org' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END))"
    val l2 =
      if (!plantPii)
        "l2 AS (SELECT doc_id, CAST((i-1)//8 AS INT) AS idx, array_to_string(ts[i:i+7], ' ') AS line FROM l), "
      else
        "l2base AS (SELECT doc_id, CAST((i-1)//8 AS INT) AS idx, array_to_string(ts[i:i+7], ' ') AS line FROM l), " +
        s"lp AS (SELECT doc_id, $plantedLine AS pline FROM documents WHERE doc_id >= 100), " +
        "l2 AS (SELECT * FROM l2base UNION ALL " +
        "SELECT lp.doc_id, CAST((len(t0.ts)+7)//8 AS INT) AS idx, lp.pline AS line " +
        "FROM lp JOIN t0 USING (doc_id) WHERE lp.pline <> ''), "
    val pats = graft.operators.Corpus.DefaultPiiPatterns
    val piiStage = {
      val counts = pats.map { case (n, re, _) =>
        s"CAST(len(regexp_extract_all(t2, '$re')) AS BIGINT) AS n_$n" }.mkString(", ")
      val total = pats.map { case (_, re, _) =>
        s"len(regexp_extract_all(t2, '$re'))" }.mkString(" + ")
      val redacted = pats.foldLeft("t2") { case (acc, (_, re, tok)) =>
        s"regexp_replace($acc, '$re', '$tok', 'g')" }
      s"sP AS (SELECT id, $counts, CAST($total AS BIGINT) AS n_pii, $redacted AS t3 FROM s2), "
    }
    val gateSrc =
      if (plantPii) "SELECT id, unnest(regexp_split_to_array(t3, '\\s+')) AS w FROM sP"
      else "SELECT id, unnest(regexp_split_to_array(t2, '\\s+')) AS w FROM s2"
    val piiSelectCols =
      if (plantPii) pats.map { case (n, _, _) => s"sP.n_$n, " }.mkString + "sP.n_pii, "
      else ""
    val piiJoin = if (plantPii) "JOIN sP ON sP.id = s1.id " else ""
    "WITH t0 AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents WHERE doc_id >= 100), " +
    "l AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts), 8)) AS i FROM t0), " +
    l2 +
    "k1 AS (SELECT doc_id, idx, line, row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn FROM l2), " +
    "s1 AS (SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_lines, " +
    "CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed_lines, " +
    "coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE rn = 1), '') AS t1 FROM k1 GROUP BY doc_id), " +
    "t1tok AS (SELECT id, regexp_split_to_array(t1, '\\s+') AS ts FROM s1), " +
    "bstore AS (SELECT DISTINCT array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
    "(SELECT unnest(range(0, len(ts)-20+1)) AS s, ts FROM " +
    "(SELECT regexp_split_to_array(text, '\\s+') AS ts FROM documents WHERE doc_id < 100) WHERE len(ts) >= 20)), " +
    "w2 AS (SELECT id, s, array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
    "(SELECT id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM t1tok WHERE len(ts) >= 20)), " +
    "rm2 AS (SELECT w2.id, w2.s FROM w2 JOIN bstore ON w2.key = bstore.key), " +
    "tok2 AS (SELECT id, ts, unnest(range(1, len(ts)+1)) AS p FROM t1tok), " +
    "kept2 AS (SELECT tk.id, tk.p, tk.ts[tk.p] AS tok FROM tok2 tk " +
    "WHERE NOT EXISTS (SELECT 1 FROM rm2 WHERE rm2.id = tk.id AND tk.p BETWEEN rm2.s+1 AND rm2.s+20)), " +
    "s2agg AS (SELECT id, count(*) AS n_kept, coalesce(string_agg(tok, ' ' ORDER BY p), '') AS t2 FROM kept2 GROUP BY id), " +
    "rmc2 AS (SELECT id, count(*) AS c FROM rm2 GROUP BY id), " +
    "s2 AS (SELECT t1tok.id, CAST(len(t1tok.ts) - coalesce(s2agg.n_kept, 0) AS BIGINT) AS n_decont_tokens, " +
    "CASE WHEN rmc2.c IS NULL THEN s1.t1 ELSE coalesce(s2agg.t2, '') END AS t2 " +
    "FROM t1tok LEFT JOIN s2agg USING (id) LEFT JOIN rmc2 USING (id) " +
    "JOIN s1 ON s1.id = t1tok.id), " +
    (if (plantPii) piiStage else "") +
    s"o2 AS (SELECT id, w FROM ($gateSrc) WHERE w <> ''), " +
    "c3 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM o2 GROUP BY w), " +
    "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c3), " +
    "v3 AS (SELECT w FROM c3, tt WHERE c * 1000 >= tot * 5), " +
    "sc3 AS (SELECT o2.id, CAST(count(*) AS BIGINT) AS n_tok, " +
    "CAST(SUM(CASE WHEN v3.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
    "FROM o2 LEFT JOIN v3 ON o2.w = v3.w GROUP BY o2.id), " +
    "s3 AS (SELECT s2.id, coalesce(round(CAST(sc3.n_oov AS DOUBLE) / sc3.n_tok, 6), 0.0) AS oov_frac " +
    "FROM s2 LEFT JOIN sc3 ON s2.id = sc3.id), " +
    "surv AS (SELECT d.doc_id AS id, d.source FROM documents d JOIN s3 ON d.doc_id = s3.id " +
    "WHERE s3.oov_frac <= 0.025), " +
    "cs AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM surv GROUP BY source), " +
    "ws AS (SELECT source, n, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wt FROM cs), " +
    "tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM ws), " +
    "qs AS (SELECT source, n AS n_source, CAST(least(n * 2, (300 * wt) // tw) AS BIGINT) AS quota FROM ws, tw), " +
    "rk AS (SELECT id, source, row_number() OVER (PARTITION BY source ORDER BY md5(id || ':curate'), id) AS mix_rank FROM surv), " +
    "s4 AS (SELECT rk.id, CAST(qs.quota // qs.n_source + " +
    "CASE WHEN rk.mix_rank <= qs.quota % qs.n_source THEN 1 ELSE 0 END AS BIGINT) AS n_repeats " +
    "FROM rk JOIN qs USING (source)) " +
    "SELECT s1.id, d.source, s1.n_lines, s1.n_removed_lines, s2.n_decont_tokens, " + piiSelectCols + "s3.oov_frac, " +
    "CASE WHEN s3.oov_frac > 0.025 THEN 'oov' WHEN coalesce(s4.n_repeats, 0) = 0 THEN 'budget' END AS drop_stage, " +
    "(CASE WHEN s3.oov_frac > 0.025 THEN 'oov' WHEN coalesce(s4.n_repeats, 0) = 0 THEN 'budget' END) IS NULL AS keep, " +
    "s4.n_repeats " +
    "FROM s1 JOIN documents d ON d.doc_id = s1.id JOIN s2 ON s2.id = s1.id " +
    piiJoin +
    "JOIN s3 ON s3.id = s1.id LEFT JOIN s4 ON s4.id = s1.id ORDER BY s1.id"
  }

  /** DuckDB twin of `Dedup.spanDedupAgainst` at spanLen=20 over the
    * documents table split at `cut`: store = distinct spans of doc_id <
    * cut, batch = doc_id >= cut, coverage-union removal + reassembly. */
  private def spanAgainstOracle(cut: Int): String =
    ("WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents " +
     s"WHERE doc_id >= $cut), " +
     "ct AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents " +
     s"WHERE doc_id < $cut), " +
     "store AS (SELECT DISTINCT array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
     "(SELECT doc_id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM ct WHERE len(ts) >= 20)), " +
     "w AS (SELECT doc_id, s, array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
     "(SELECT doc_id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM t WHERE len(ts) >= 20)), " +
     "rm AS (SELECT w.doc_id, w.s FROM w JOIN store ON w.key = store.key), " +
     "tok AS (SELECT doc_id, ts, unnest(range(1, len(ts)+1)) AS p FROM t), " +
     "kept AS (SELECT tk.doc_id, tk.p, tk.ts[tk.p] AS tok FROM tok tk " +
     "WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.doc_id = tk.doc_id AND tk.p BETWEEN rm.s+1 AND rm.s+20)), " +
     "agg AS (SELECT doc_id, count(*) AS n_kept, coalesce(string_agg(tok, ' ' ORDER BY p), '') AS txt FROM kept GROUP BY doc_id), " +
     "rmc AS (SELECT doc_id, count(*) AS n_spans FROM rm GROUP BY doc_id) " +
     "SELECT t.doc_id AS id, len(t.ts) AS n_tokens, " +
     "coalesce(rmc.n_spans, 0) AS n_dup_spans, " +
     "len(t.ts) - coalesce(agg.n_kept, 0) AS n_removed_tokens, " +
     "CASE WHEN rmc.n_spans IS NULL THEN t.text ELSE coalesce(agg.txt, '') END AS text_deduped " +
     "FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id LEFT JOIN rmc ON t.doc_id = rmc.doc_id " +
     "ORDER BY id")

  /** Unrolled-SQL twin of `Corpus.bpeTrain`'s merge loop (the same
    * re-derive-the-training-rounds pattern as the PQ Lloyd-round oracles):
    * w0 is the char-bracketed word-frequency table, and each round r
    * contributes pair counts (p-r), the argmax merge (m-r), and the merged
    * word table (w-r+1) via the identical boundary-bracketed `replace`.
    * Returns the comma-terminated CTE chain; callers append their own
    * final select over m0..m{n-1} / w{n}. */
  private def bpeRoundsSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= "w0 AS (SELECT array_to_string(list_transform(regexp_extract_all(w, '.'), " +
      "c -> chr(30)||c||chr(31)), '') AS state, CAST(COUNT(*) AS BIGINT) AS cnt " +
      "FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) " +
      "WHERE w <> '' GROUP BY state), "
    for (r <- 0 until n) {
      sb ++= s"p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS c FROM " +
        s"(SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM " +
        s"(SELECT string_split(substr(state, 2, length(state)-2), chr(31)||chr(30)) AS syms, cnt " +
        s"FROM w$r)) GROUP BY a, b), "
      sb ++= s"m$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1), "
      sb ++= s"w${r + 1} AS (SELECT replace(state, chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31), " +
        s"chr(30)||m.a||m.b||chr(31)) AS state, cnt FROM w$r, m$r m), "
    }
    sb.toString
  }

  /** Unrolled-SQL twin of `Corpus.bpeTrain` at `batchSize > 1`: per round, pair counts
    * (p-r) and the ranked candidate window (cand-r) feed a RECURSIVE
    * greedy scan (g-r) that walks candidates in (count desc, lhs, rhs)
    * order accepting a pair iff none of its {lhs, rhs, lhs||rhs} symbols
    * appears in the `used` accumulator — membership checked on the same
    * 0x1E…0x1F bracketed encoding the word states use, so a symbol can
    * never match inside another — up to the round's cap. A second
    * recursion (wa-r) folds the accepted merges over the word table in
    * acceptance order (symbol-disjointness makes the order immaterial,
    * but the fold mirrors the engine's replace chain literally). Callers
    * append a final select over acc0..acc{n-1}. Requires WITH RECURSIVE. */
  private def bpeBatchedRoundsSql(nMerges: Int, batchSize: Int, window: Int): String = {
    val nRounds = (nMerges + batchSize - 1) / batchSize
    val sb = new StringBuilder
    sb ++= "w0 AS (SELECT array_to_string(list_transform(regexp_extract_all(w, '.'), " +
      "c -> chr(30)||c||chr(31)), '') AS state, CAST(COUNT(*) AS BIGINT) AS cnt " +
      "FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) " +
      "WHERE w <> '' GROUP BY state), "
    for (r <- 0 until nRounds) {
      val cap = math.min(batchSize, nMerges - r * batchSize)
      sb ++= s"p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt) AS c FROM " +
        s"(SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM " +
        s"(SELECT string_split(substr(state, 2, length(state)-2), chr(31)||chr(30)) AS syms, cnt " +
        s"FROM w$r)) GROUP BY a, b), "
      sb ++= s"cand$r AS (SELECT a, b, c, rk FROM " +
        s"(SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rk FROM p$r) " +
        s"WHERE rk <= $window), "
      val okSql = s"(NOT contains(g.used, chr(30)||n.a||chr(31)) AND " +
        s"NOT contains(g.used, chr(30)||n.b||chr(31)) AND " +
        s"NOT contains(g.used, chr(30)||n.a||n.b||chr(31)))"
      sb ++= s"g$r AS (SELECT 0 AS rk, 0 AS n_acc, '' AS used, " +
        s"CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b, " +
        s"CAST(NULL AS BIGINT) AS c, FALSE AS acc " +
        s"UNION ALL SELECT n.rk, " +
        s"CASE WHEN $okSql THEN g.n_acc + 1 ELSE g.n_acc END, " +
        s"CASE WHEN $okSql THEN g.used||chr(30)||n.a||chr(31)||chr(30)||n.b||chr(31)||chr(30)||n.a||n.b||chr(31) ELSE g.used END, " +
        s"n.a, n.b, n.c, $okSql " +
        s"FROM g$r g JOIN cand$r n ON n.rk = g.rk + 1 AND g.n_acc < $cap), "
      sb ++= s"acc$r AS (SELECT a, b, c, row_number() OVER (ORDER BY rk) AS seq " +
        s"FROM g$r WHERE acc), "
      sb ++= s"wa$r AS (SELECT state, cnt, 0 AS j FROM w$r " +
        s"UNION ALL SELECT replace(wa.state, chr(30)||m.a||chr(31)||chr(30)||m.b||chr(31), " +
        s"chr(30)||m.a||m.b||chr(31)), wa.cnt, wa.j + 1 " +
        s"FROM wa$r wa JOIN acc$r m ON m.seq = wa.j + 1), "
      sb ++= s"w${r + 1} AS (SELECT state, cnt FROM wa$r " +
        s"WHERE j = (SELECT coalesce(max(seq), 0) FROM acc$r)), "
    }
    sb ++= "mmb AS (" + (0 until nRounds).map(r =>
      s"SELECT $r AS rnd, seq, a, b, c FROM acc$r").mkString(" UNION ALL ") + "), "
    sb.toString
  }

  /** The 8-round train + apply-to-every-word derivation shared verbatim by
    * `text_bpe_segment` (replace chain) and `text_bpe_segment_fast`
    * (`Corpus.bpeSegment`, which picks the native rank-priority loop for
    * a trained table) — one oracle, two execution strategies. */
  private lazy val BpeSegmentOracleSql: String =
    ("WITH " + bpeRoundsSql(8) +
     "tok AS (SELECT doc_id, ts, unnest(range(1, len(ts)+1)) AS p FROM " +
     "(SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
     "base AS (SELECT doc_id, p, array_to_string(list_transform(regexp_extract_all(ts[p], '.'), " +
     "c -> chr(30)||c||chr(31)), '') AS st FROM tok), " +
     "app AS (SELECT doc_id, p, " +
     (0 until 8).foldLeft("st") { (acc, r) =>
       s"replace($acc, chr(30)||m$r.a||chr(31)||chr(30)||m$r.b||chr(31), chr(30)||m$r.a||m$r.b||chr(31))"
     } + " AS st FROM base, " + (0 until 8).map("m" + _).mkString(", ") + "), " +
     "fin AS (SELECT doc_id, p, replace(replace(replace(st, chr(31)||chr(30), '+'), chr(30), ''), chr(31), '') AS seg, " +
     "len(string_split(st, chr(31)||chr(30))) AS nsw FROM app) " +
     "SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words, " +
     "CAST(SUM(nsw) AS BIGINT) AS n_subwords, " +
     "string_agg(seg, ' ' ORDER BY p) AS segmented FROM fin GROUP BY doc_id ORDER BY id")

  /** Generated A1.1 derivation (full SELECT, no ORDER BY) — shared by
    * `text_gopher_repetition` and the quality-profile composite. */
  private lazy val GopherRepetitionOracleSql: String = {
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      val thresholds = Map(2 -> 20, 3 -> 18, 4 -> 16,
        5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      val base =
        "t0 AS (SELECT doc_id AS id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM documents), " +
        "tl AS (SELECT id, CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS total FROM t0), " +
        "tok AS (SELECT id, p, ws[p] AS tk FROM (SELECT id, unnest(range(1, len(ws)+1)) AS p, ws FROM t0)), "
      val perN = (topNs ++ dupNs).map { n =>
        val g = s"g$n AS (SELECT id, i, array_to_string(ws[i:i+${n - 1}], '') AS gtxt " +
          s"FROM (SELECT id, unnest(range(1, len(ws)-${n - 1}+1)) AS i, ws FROM t0 WHERE len(ws) >= $n)), " +
          s"c$n AS (SELECT id, gtxt, count(*) AS cnt, min(length(gtxt)) AS glen FROM g$n GROUP BY id, gtxt), "
        val sig =
          if (topNs.contains(n))
            s"top$n AS (SELECT id, CAST(cnt * glen AS BIGINT) AS v FROM " +
              s"(SELECT id, cnt, glen, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, glen DESC) AS rn FROM c$n) WHERE rn = 1), "
          else
            s"w$n AS (SELECT g.id, g.i FROM g$n g JOIN c$n c ON g.id = c.id AND g.gtxt = c.gtxt WHERE c.cnt >= 2), " +
              s"cov$n AS (SELECT DISTINCT t.id, t.p, length(t.tk) AS lw FROM tok t JOIN w$n w ON t.id = w.id AND t.p BETWEEN w.i AND w.i + ${n - 1}), " +
              s"dup$n AS (SELECT id, CAST(sum(lw) AS BIGINT) AS v FROM cov$n GROUP BY id), "
        g + sig
      }.mkString
      val sigCols =
        topNs.map(n => s"coalesce(top$n.v, 0) AS top${n}_chars").mkString(", ") + ", " +
          dupNs.map(n => s"coalesce(dup$n.v, 0) AS dup${n}_chars").mkString(", ")
      val joins =
        topNs.map(n => s"LEFT JOIN top$n ON tl.id = top$n.id").mkString(" ") + " " +
          dupNs.map(n => s"LEFT JOIN dup$n ON tl.id = dup$n.id").mkString(" ")
      val allN = topNs.map(n => (s"top_${n}gram", s"top${n}_chars", thresholds(n))) ++
        dupNs.map(n => (s"dup_${n}gram", s"dup${n}_chars", thresholds(n)))
      val fracs = allN.map { case (_, f, _) =>
        s"CASE WHEN total > 0 THEN CAST($f AS DOUBLE) / CAST(total AS DOUBLE) ELSE 0.0 END AS ${f.stripSuffix("_chars")}_frac"
      }.mkString(", ")
      val ruleCases = allN.map { case (rule, f, pct) =>
        s"CASE WHEN 100 * $f > $pct * total THEN '$rule' END"
      }.mkString(", ")
      "WITH " + base + perN +
        s"sig AS (SELECT tl.id, tl.total AS total_chars, $sigCols FROM tl $joins), " +
        "v AS (SELECT sig.*, total_chars AS total FROM sig) " +
        s"SELECT id, total_chars, " +
        topNs.map(n => s"top${n}_chars").mkString(", ") + ", " +
        dupNs.map(n => s"dup${n}_chars").mkString(", ") + ", " +
        fracs + ", " +
        s"coalesce(array_to_string(list_filter([$ruleCases], x -> x IS NOT NULL), ','), '') AS reasons, " +
        s"CAST(len(list_filter([$ruleCases], x -> x IS NOT NULL)) AS BIGINT) AS n_reasons, " +
        s"len(list_filter([$ruleCases], x -> x IS NOT NULL)) = 0 AS keep " +
        "FROM v"
    }

  /** Char-stats derivation (full SELECT, no ORDER BY) — shared by
    * `text_char_stats` and the quality-profile composite. */
  private val CharStatsOracleSql: String =
    "WITH ch AS (SELECT doc_id, substr(text, p, 1) AS c FROM " +
       "(SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p FROM documents)), " +
       "cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c), " +
       "tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS t FROM cc GROUP BY doc_id), " +
       "ent AS (SELECT cc.doc_id, CAST(sum(cnt * (-CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000) AS BIGINT))) AS BIGINT) AS e " +
       "FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id) " +
       "SELECT d.doc_id AS id, CAST(length(d.text) AS BIGINT) AS n_chars, " +
       "CAST(length(d.text) - length(regexp_replace(d.text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha, " +
       "CAST(length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit, " +
       "CAST(length(d.text) - length(regexp_replace(d.text, '\\s', '', 'g')) AS BIGINT) AS n_space, " +
       "CAST(length(regexp_replace(regexp_replace(regexp_replace(d.text, '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'), '\\s', '', 'g')) AS BIGINT) AS n_other, " +
       "coalesce(ent.e, 0) AS entropy_micro_nats " +
       "FROM documents d LEFT JOIN ent ON d.doc_id = ent.doc_id"

  /** LM-quality derivation (full SELECT, no ORDER BY) — shared by
    * `text_lm_quality` and the quality-profile composite. */
  private val LmQualityOracleSql: String =
    "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term FROM documents), " +
       "tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''), " +
       "cnt AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt), " +
       "scored AS (SELECT tok2.doc_id, " +
       "CAST(round(ln((cnt.c + 1.0) / (tot.t + 1.0 * tot.v)) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM tok2 JOIN cnt USING (term) CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM scored GROUP BY doc_id) " +
       "SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, " +
       "round((-p.s) / (1000000.0 * p.n_tokens), 6) AS avg_nll, " +
       "round(exp((-p.s) / (1000000.0 * p.n_tokens)), 6) AS ppl " +
       "FROM documents d LEFT JOIN per_doc p ON d.doc_id IS NOT DISTINCT FROM p.doc_id"

  /** Signal + verdict derivation of the Gopher A1 rule set over an
    * EXISTING CTE `g(doc_id, txt)` — shared by `text_gopher_rules` (whose
    * `g` is the structured render) and the quality-profile composite
    * (whose `g` is the raw corpus). Yields a complete SELECT (no ORDER
    * BY); callers append ordering or wrap it as a subquery. */
  private val GopherRulesBodySql: String =
    "s0 AS (SELECT doc_id AS id, txt, " +
    "list_filter(regexp_split_to_array(txt, '\\s+'), w -> w <> '') AS ws, " +
    "string_split(txt, chr(10)) AS lns, " +
    "string_split(txt, chr(10)||chr(10)) AS ps FROM g), " +
    "c AS (SELECT id, " +
    "CAST(len(ws) AS BIGINT) AS n_words, " +
    "CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS word_chars, " +
    "CAST(length(txt) - length(replace(txt, '#', '')) AS BIGINT) AS n_hash, " +
    "CAST((length(txt) - length(replace(txt, '...', ''))) // 3 + " +
    "(length(txt) - length(replace(txt, chr(8230), ''))) AS BIGINT) AS n_ellipsis, " +
    "CAST(len(lns) AS BIGINT) AS n_lines, " +
    "CAST(len(list_filter(lns, l -> starts_with(ltrim(l), chr(8226)) OR " +
    "starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*'))) AS BIGINT) AS n_bullet_lines, " +
    "CAST(len(list_filter(lns, l -> ends_with(rtrim(l), '...') OR " +
    "ends_with(rtrim(l), chr(8230)))) AS BIGINT) AS n_ellipsis_lines, " +
    "CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words, " +
    "CAST(len(list_intersect(list_transform(ws, w -> lower(w)), " +
    "['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords, " +
    "CAST(len(lns) - len(list_distinct(lns)) AS BIGINT) AS n_dup_lines, " +
    "CAST(coalesce(list_sum(list_transform(lns, x -> length(x))), 0) AS BIGINT) AS line_chars, " +
    "CAST(coalesce(list_sum(list_transform(lns, x -> length(x))), 0) - " +
    "coalesce(list_sum(list_transform(list_distinct(lns), x -> length(x))), 0) AS BIGINT) AS dup_line_chars, " +
    "CAST(len(ps) AS BIGINT) AS n_paras, " +
    "CAST(len(ps) - len(list_distinct(ps)) AS BIGINT) AS n_dup_paras, " +
    "CAST(coalesce(list_sum(list_transform(ps, x -> length(x))), 0) AS BIGINT) AS para_chars, " +
    "CAST(coalesce(list_sum(list_transform(ps, x -> length(x))), 0) - " +
    "coalesce(list_sum(list_transform(list_distinct(ps), x -> length(x))), 0) AS BIGINT) AS dup_para_chars " +
    "FROM s0), " +
    "v AS (SELECT c.*, list_filter([" +
    "CASE WHEN n_words < 50 OR n_words > 100000 THEN 'bad_word_count' END, " +
    "CASE WHEN word_chars < 3*n_words OR word_chars > 10*n_words THEN 'bad_mean_word_length' END, " +
    "CASE WHEN 100*n_hash > 10*n_words THEN 'too_many_hashes' END, " +
    "CASE WHEN 100*n_ellipsis > 10*n_words THEN 'too_many_ellipses' END, " +
    "CASE WHEN 100*n_bullet_lines > 90*n_lines THEN 'too_many_bullet_lines' END, " +
    "CASE WHEN 100*n_ellipsis_lines > 30*n_lines THEN 'too_many_ellipsis_lines' END, " +
    "CASE WHEN 100*n_alpha_words < 80*n_words THEN 'too_few_alpha_words' END, " +
    "CASE WHEN n_stopwords < 2 THEN 'too_few_stopwords' END, " +
    "CASE WHEN 100*n_dup_lines > 30*n_lines THEN 'dup_lines' END, " +
    "CASE WHEN 100*dup_line_chars > 20*line_chars THEN 'dup_line_chars' END, " +
    "CASE WHEN 100*n_dup_paras > 30*n_paras THEN 'dup_paragraphs' END, " +
    "CASE WHEN 100*dup_para_chars > 20*para_chars THEN 'dup_paragraph_chars' END" +
    "], x -> x IS NOT NULL) AS rl FROM c) " +
    "SELECT v.* EXCLUDE (rl), coalesce(array_to_string(rl, ','), '') AS reasons, " +
    "CAST(len(rl) AS BIGINT) AS n_reasons, len(rl) = 0 AS keep FROM v"

  /** The text_quality heuristic score formula (inputs: n_tokens,
    * stopword_hits, text) — shared verbatim by the text_source_cap and
    * pipeline oracles so the cap stage can never drift from the declared
    * quality query. */
  private val QualityScoreSql: String =
    "round(" +
    " CAST(CASE WHEN n_tokens < 5 THEN 0.2 WHEN n_tokens > 5000 THEN 0.3 ELSE 1.0 END AS DOUBLE) * 0.4 + " +
    " CAST(CASE WHEN CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens < 2.0 OR " +
    "       CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens > 12.0 THEN 0.4 ELSE 1.0 END AS DOUBLE) * 0.3 + " +
    " CAST(CASE WHEN CAST(stopword_hits AS DOUBLE) / n_tokens > 0.05 AND " +
    "       CAST(stopword_hits AS DOUBLE) / n_tokens < 0.6 THEN 1.0 ELSE 0.6 END AS DOUBLE) * 0.3, 4)"

  /** DuckDB twin of [[cosinePairs]]: CTEs `e` (bounded vectors) and `pairs`
    * (id_a, id_b, cos) with the bit-identical left-to-right dot fold. */
  private val CosinePairsSql: String =
    "e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300), " +
    "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
    "(sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
    "sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos " +
    "FROM e a JOIN e b ON a.vec_id < b.vec_id) "

  /** DuckDB twin of the engine's cosine fold (no zero-norm branch — the
    * testdata embeddings and every mean of them have positive norm; same
    * convention as the sim_topk_ivf oracle). */
  private[queries] def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
    s"(sqrt(list_sum(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
    s"sqrt(list_sum(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"

  /** One DuckDB Lloyd round against centroid CTE `prev` (the twin of
    * [[Similarity.trainCentroids]]'s loop body): max-cosine assignment,
    * DRIFT-FREE means (each coordinate micro-quantized to an integer
    * BEFORE the exact per-cell sum, one double division + half-up round
    * after — the order-independent form the engine computes), empty cells
    * keep the previous centroid. Emits CTEs a$j / m$j / c$j. */
  private def lloydRoundSql(j: Int, prev: String): String =
    s"a$j AS (SELECT vec_id, cell FROM (" +
    s"SELECT e.vec_id, p.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
    cosSql("e.embedding", "p.cvec") + s" DESC, p.cell) AS rn " +
    s"FROM embeddings e CROSS JOIN $prev p) WHERE rn = 1), " +
    s"m$j AS (SELECT a.cell, i.pos, " +
    s"CAST(round(CAST(sum(CAST(round(CAST(e.embedding[i.pos + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) " +
    s"/ count(*)) / 1000000.0 AS FLOAT) AS m " +
    s"FROM a$j a JOIN embeddings e USING (vec_id) CROSS JOIN generate_series(0, 63) i(pos) " +
    s"GROUP BY a.cell, i.pos), " +
    s"c$j AS (SELECT p.cell, coalesce(l.lst, p.cvec) AS cvec FROM $prev p LEFT JOIN " +
    s"(SELECT cell, list(m ORDER BY pos) AS lst FROM m$j GROUP BY cell) l USING (cell))"

  /** DuckDB twin of the engine's squared-L2 fold (PQ assignment metric). */
  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
    "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"

  /** DuckDB twin of the engine's inner-product fold (the ADC table entry). */
  private[queries] def ipSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  /** One DuckDB PQ Lloyd round against codebook CTE `prev` (the twin of
    * [[Similarity.trainPqCodebooks]]'s loop body at m=8/dsub=8/ksub=8):
    * per-(vector, subspace) L2 argmin with (dist, code) tiebreak,
    * micro-quantized means per (sub, code, spos), empty cells keep the
    * previous codeword. Emits CTEs a$j / m$j / c$j. */
  private[queries] def pqRoundSql(j: Int, prev: String, src: String = "embeddings"): String =
    s"a$j AS (SELECT vec_id, sub, code FROM (" +
    s"SELECT e.vec_id, p.sub, p.code, row_number() OVER (PARTITION BY e.vec_id, p.sub ORDER BY " +
    l2Sql("e.embedding[p.sub*8+1 : p.sub*8+8]", "p.cvec") + s" ASC, p.code) AS rn " +
    s"FROM $src e CROSS JOIN $prev p) WHERE rn = 1), " +
    s"m$j AS (SELECT a.sub, a.code, i.spos, " +
    s"CAST(round(CAST(sum(CAST(round(CAST(e.embedding[a.sub*8 + i.spos + 1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) " +
    s"/ count(*)) / 1000000.0 AS FLOAT) AS mc " +
    s"FROM a$j a JOIN $src e USING (vec_id) CROSS JOIN generate_series(0, 7) i(spos) " +
    s"GROUP BY a.sub, a.code, i.spos), " +
    s"c$j AS (SELECT p.sub, p.code, coalesce(l.lst, p.cvec) AS cvec FROM $prev p LEFT JOIN " +
    s"(SELECT sub, code, list(mc ORDER BY spos) AS lst FROM m$j GROUP BY sub, code) l USING (sub, code))"

  /** The full PQ train→encode→ADC-search derivation over any source CTE
    * exposing (vec_id, embedding): both training rounds re-run, every
    * vector re-encoded against the final codebooks (the a3 assignment),
    * then the ADC search. Prefix with "WITH " (plus any CTEs `src` needs). */
  private def pqTopkOracleBody(src: String): String =
    pqSeedsSql(src) + ", " + pqRoundSql(1, "seeds", src) + ", " + pqRoundSql(2, "c1", src) + ", " +
    pqRoundSql(3, "c2", src) + ", " +
    "enc AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM a3 GROUP BY vec_id), " +
    s"q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM $src WHERE vec_id < 5), " +
    "lt AS (SELECT query_id, list(ip ORDER BY sub, code) AS lut FROM (" +
    "SELECT q.query_id, p.sub, p.code, " + ipSql("q.query_vec[p.sub*8+1 : p.sub*8+8]", "p.cvec") + " AS ip " +
    "FROM q CROSS JOIN c2 p) z GROUP BY query_id), " +
    "scored AS (SELECT l.query_id, e.vec_id AS neighbor_id, " +
    "list_sum(list_transform(range(0, 8), s -> l.lut[s*8 + e.codes[s+1] + 1])) AS score " +
    "FROM lt l CROSS JOIN enc e WHERE e.vec_id <> l.query_id) " +
    "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score FROM " +
    "(SELECT query_id, neighbor_id, score, " +
    "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
    "WHERE rank <= 10 ORDER BY query_id, rank"

  /** The sim_topk_pq oracle — shared verbatim by `sql_native_pq_adc`,
    * whose declared query re-expresses the identical pipeline over the
    * registered native expressions. */
  private lazy val SimTopkPqOracle: String = "WITH " + pqTopkOracleBody("embeddings")

  /** Exact-integer variance ranking of coordinates + the round-robin
    * (sub, slot) deal — the DuckDB twin of
    * [[Similarity.pqBalancedPermutation]] (DuckDB sums BIGINT into
    * HUGEINT, so n·Σq² − (Σq)² is exact there like the driver's BigInt).
    * Emits CTEs qs / st / rk (rk: pos, r = 0-based rank). */
  private val PermRankSql: String =
    "qs AS (SELECT i.pos, CAST(round(CAST(e.embedding[i.pos+1] AS DOUBLE) * 1000000) AS BIGINT) AS q " +
    "FROM embeddings e CROSS JOIN generate_series(0, 63) i(pos)), " +
    "st AS (SELECT pos, count(*) AS n, sum(q) AS sq, sum(q*q) AS sq2 FROM qs GROUP BY pos), " +
    "rk AS (SELECT pos, row_number() OVER (ORDER BY (n*sq2 - sq*sq) DESC, pos) - 1 AS r FROM st)"

  /** Seed codebooks: the 8 lowest-id vectors' subspace slices, codes
    * numbered in id order — [[Similarity.trainPqCodebooks]]'s seeding.
    * `src` is any CTE/table exposing (vec_id, embedding) — "embeddings"
    * for raw-vector codebooks, the residual CTE for residual ones. */
  private def pqSeedsSql(src: String = "embeddings"): String =
    "seeds AS (SELECT CAST(i.sub AS INT) AS sub, CAST(s.code AS INT) AS code, " +
    "s.embedding[i.sub*8+1 : i.sub*8+8] AS cvec " +
    "FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding " +
    s"FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 8)) s " +
    "CROSS JOIN generate_series(0, 7) i(sub))"

  private[queries] val PqSeedsSql: String = pqSeedsSql()

  /** DuckDB twin of one [[Corpus]] unigram Viterbi pass over a
    * (w, cnt) words CTE under a (piece, sc) score CTE: the per-position
    * best-score chain `<prefix>0..<prefix><cap>` (each stage the argmax
    * over the last piece's start j, ties to the SMALLER j — the engine's
    * fold order), their union `<prefix>dp`, and the recursive backpointer
    * walk `<prefix>rec` emitting one row per chosen piece with its
    * 0-based start `start0`. */
  private def unigramDpSql(
      prefix: String, wordsCte: String, scoreCte: String,
      cap: Int = 12, maxLen: Int = 3): String = {
    val unk = Corpus.UnigramUnkMicro
    val fb = Corpus.UnigramForbiddenMicro
    val b0 = s"${prefix}0 AS MATERIALIZED (SELECT w, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS bp FROM $wordsCte)"
    val stages = (1 to cap).map { p =>
      val branches = (math.max(0, p - maxLen) until p).map { j =>
        s"SELECT b.w, b.cnt, b.score + coalesce(s.sc, CAST(CASE WHEN ${p - j} = 1 " +
        s"THEN $unk ELSE $fb END AS BIGINT)) AS score, $j AS bp " +
        s"FROM ${prefix}$j b LEFT JOIN $scoreCte s ON s.piece = substr(b.w, ${j + 1}, ${p - j}) " +
        s"WHERE len(b.w) >= $p"
      }.mkString(" UNION ALL ")
      s"${prefix}$p AS MATERIALIZED (SELECT w, cnt, $p AS pos, score, bp FROM (SELECT c.w, c.cnt, c.score, c.bp, " +
      s"row_number() OVER (PARTITION BY c.w ORDER BY c.score DESC, c.bp ASC) AS rn " +
      s"FROM ($branches) c) WHERE rn = 1)"
    }
    val dp = s"${prefix}dp AS MATERIALIZED (" +
      (1 to cap).map(p => s"SELECT * FROM ${prefix}$p").mkString(" UNION ALL ") + ")"
    val rec = s"${prefix}rec(w, cnt, pos, start0, piece) AS (" +
      s"SELECT w, cnt, CAST(len(w) AS INTEGER), 0, CAST(NULL AS VARCHAR) FROM $wordsCte " +
      s"UNION ALL SELECT r.w, r.cnt, d.bp, d.bp, substr(r.w, d.bp + 1, r.pos - d.bp) " +
      s"FROM ${prefix}rec r JOIN ${prefix}dp d ON d.w = r.w AND d.pos = r.pos WHERE r.pos > 0)"
    (Seq(b0) ++ stages ++ Seq(dp, rec)).mkString(", ")
  }

  /** DuckDB twin of the full [[Corpus.unigramTrain]] chain at the declared
    * dial (cap 12, pieces ≤ 3, seed 200, 2 EM rounds, vocab 60): word
    * frequencies → substring seed → per-round DP + recount + rescore →
    * count-rank prune, ending in CTE `uvocab` (piece, n, score_micro). */
  private def unigramTrainCtes(
      rounds: Int = 2, seedSize: Int = 200, vocabSize: Int = 60): String = {
    val fb = Corpus.UnigramForbiddenMicro
    val words = "uwords AS MATERIALIZED (SELECT substr(tok, 1, 12) AS w, count(*) AS cnt FROM " +
      "(SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents) " +
      "WHERE tok <> '' GROUP BY 1)"
    val seed = "useed AS MATERIALIZED (SELECT piece, sum(cnt) AS n FROM (SELECT " +
      "unnest(flatten(list_transform(generate_series(1, CAST(len(w) AS INTEGER)), p -> " +
      "list_transform(generate_series(1, least(3, CAST(len(w) AS INTEGER) - p + 1)), " +
      "l -> substr(w, p, l))))) AS piece, cnt FROM uwords) GROUP BY piece), " +
      "useedsel AS MATERIALIZED (SELECT piece, n FROM useed WHERE len(piece) = 1 UNION ALL " +
      s"SELECT piece, n FROM (SELECT piece, n FROM useed WHERE len(piece) > 1 " +
      s"ORDER BY n DESC, piece LIMIT $seedSize)), " +
      "ut0 AS (SELECT sum(n) AS total FROM useedsel), " +
      "us0 AS MATERIALIZED (SELECT piece, CAST(round(ln(CAST(n AS DOUBLE) / t.total) * 1e6) AS BIGINT) AS sc " +
      "FROM useedsel, ut0 t)"
    val roundsSql = (1 to rounds).map { r =>
      unigramDpSql(s"ur${r}b", "uwords", s"us${r - 1}") + ", " +
      s"uc$r AS MATERIALIZED (SELECT piece, sum(cnt) AS n FROM ur${r}brec WHERE piece IS NOT NULL GROUP BY piece), " +
      s"ut$r AS (SELECT sum(n) AS total FROM uc$r), " +
      s"us$r AS MATERIALIZED (SELECT m.piece, CASE WHEN c.n IS NULL OR c.n <= 0 THEN CAST($fb AS BIGINT) " +
      "ELSE CAST(round(ln(CAST(c.n AS DOUBLE) / t.total) * 1e6) AS BIGINT) END AS sc " +
      s"FROM (SELECT piece FROM useedsel) m LEFT JOIN uc$r c USING (piece), ut$r t)"
    }.mkString(", ")
    val prune =
      s"ukept AS MATERIALIZED (SELECT piece, n FROM uc$rounds ORDER BY n DESC, piece LIMIT $vocabSize), " +
      "ukt AS (SELECT sum(n) AS total FROM ukept), " +
      "uvocab AS MATERIALIZED (SELECT piece, n, CAST(round(ln(CAST(n AS DOUBLE) / t.total) * 1e6) AS BIGINT) " +
      "AS score_micro FROM ukept, ukt t)"
    Seq(words, seed, roundsSql, prune).mkString(", ")
  }

  private val UnigramTrainCtes: String = unigramTrainCtes()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------------ text analysis
    "text_tokencount" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .withColumn("n_subtokens", TextFunctions.subTokenCount(col("text")))
        .select("doc_id", "n_tokens", "n_subtokens")
        .orderBy("doc_id")),

    // script-aware tokenization vs the whitespace default, over the corpus
    // PLUS planted CJK twins (Han+Kana+Hangul prefix under a shifted id —
    // scripts with no whitespace word boundaries, where split("\s+") reads
    // a whole clause as ~1 giant token): n_ws stays the old count on every
    // original row (the default-unchanged pin) while n_script explodes the
    // planted rows' CJK runs into per-codepoint tokens
    "text_tokens_script" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val planted = docs.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("深度学習モデル학습 데이터 "),
            substring(col("text"), 1, 40)).as("text"))
      docs.select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_ws"),
          TextFunctions.tokenCount(col("text"), "script").as("n_script"))
        .orderBy("doc_id")
    }),

    // the Southeast-Asian half of the no-space-script fix (r15 verdict:
    // "CJK/Thai" shipped CJK-only): planted Thai/Lao/Myanmar/Khmer twins
    // under shifted ids — under whitespace mode each phrase reads as ONE
    // giant token; script mode explodes every SEA codepoint (combining
    // vowel/tone marks included, the documented single-char dial) while
    // original corpus rows keep their old counts on BOTH columns
    "text_tokens_script_sea" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val planted = docs.filter(col("doc_id") % 100 === 13)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("สวัสดีชาวโลก ສະບາຍດີ မင်္ဂလာပါ កម្ពុជា "),
            substring(col("text"), 1, 40)).as("text"))
      docs.select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_ws"),
          TextFunctions.tokenCount(col("text"), "script").as("n_script"))
        .orderBy("doc_id")
    }),

    // the grapheme-cluster quality rung over the SEA single-char dial
    // (r18): the same planted Thai/Lao/Myanmar/Khmer twins, now counted
    // under BOTH script mode (every codepoint its own token — combining
    // vowel/tone marks included) and grapheme mode (base + \p{M}* marks =
    // one token), row-exact in DuckDB with the identical RE2 classes; a
    // Thai syllable with combining marks drops from 2–3 tokens to 1 on the
    // planted rows while pure-Latin corpus rows count identically in both
    "text_tokens_grapheme" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val planted = docs.filter(col("doc_id") % 100 === 13)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("สวัสดีชาวโลก ສະບາຍດີ မင်္ဂလာပါ កម្ពុជា "),
            substring(col("text"), 1, 40)).as("text"))
      docs.select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text"), "script").as("n_script"),
          TextFunctions.tokenCount(col("text"), "grapheme").as("n_grapheme"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .withColumn("avg_token_len", round(TextFunctions.avgTokenLen(col("text")), 4))
        .withColumn("stopword_hits", TextFunctions.stopwordCount(col("text"), TextFunctions.DefaultStopwords))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .select("doc_id", "n_tokens", "avg_token_len", "stopword_hits", "quality")
        .orderBy("doc_id")),

    "text_lang_distribution" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang").df),

    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")),

    // heuristic language-ID: the stopword-profile argmax is plain ANSI set
    // arithmetic, so DuckDB re-derives the full prediction distribution
    // exactly (see the text_langid_pred oracle)
    "text_langid_pred" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("pred_lang", TextFunctions.langId(col("text")))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang").df),

    // token-budget shard packing: each doc lands in the training shard
    // where its block's running token count starts (5000-token shards,
    // packed per lang block so the window parallelizes across blocks — a
    // single global ordering would serialize 100 TB through one partition)
    "text_shard_pack" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      t(s, d, "documents").df
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("shard_id",
          ((col("cum_tokens") - col("n_tokens")) / lit(5000)).cast("int"))
        .orderBy("doc_id")
    }),

    // TF-IDF top-3 terms per doc: integer-deterministic ranking
    // (tf desc, df asc, term asc) so the selected row set can never diverge
    // from the oracle over a last-ulp ln difference; the float score is
    // informational and rounded
    "text_tfidf_topterms" -> ((s, d) =>
      Corpus.tfidfTopTerms(t(s, d, "documents").df, "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("rank"), col("term"), col("tf"),
          col("df"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")),

    // corpus-trained unigram LM quality score: per-token log-probs are
    // quantized to integer micro-nats before the per-doc reduce, so the
    // document sums are exact integer sums — bit-identical across engines
    // and partition orders (see Corpus.lmScore)
    "text_lm_quality" -> ((s, d) =>
      Corpus.lmScore(t(s, d, "documents").df, "doc_id", "text", addK = 1.0)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 6).as("avg_nll"), round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")),

    // corpus vocabulary profile (Zipf head): top-20 terms with occurrence
    // counts and cumulative coverage — the standard tokenizer-budget /
    // stopword sanity check before training. Selection is
    // TakeOrderedAndProject (no global sort); the cum-sum window runs over
    // the 20 SELECTED rows only (k-bounded, not corpus-bounded)
    "text_vocab_stats" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents").df
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val cnt = toks.groupBy("term").agg(count(lit(1)).as("n_occurrences"))
      val tot = cnt.agg(sum(col("n_occurrences")).as("t"))
      val ord = Window.orderBy(desc("n_occurrences"), asc("term"))
      cnt.orderBy(desc("n_occurrences"), asc("term")).limit(20)
        .crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("frac",
          round(col("n_occurrences").cast("double") / col("t"), 6))
        .withColumn("cum_frac",
          round(sum(col("n_occurrences"))
            .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / col("t"), 6))
        .select("rank", "term", "n_occurrences", "frac", "cum_frac")
        .orderBy("rank")
    }),

    // winnowing fingerprints (k=3 grams, w=4 windows): the MOSS
    // substring-level near-dup signal, entirely row-local; the portable
    // md5-56 gram hash makes every selected window minimum exactly
    // re-derivable in SQL
    "text_winnow" -> ((s, d) =>
      t(s, d, "documents").df
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"), k = 3, w = 4)).as("fp"))
        .orderBy("doc_id", "fp")),

    // interpolated bigram LM (lambda=0.7, add-1): the CCNet-fidelity step up
    // from the unigram scorer — same micro-nat integer determinism, so the
    // full conditional-probability pipeline is exact, not property-checked
    "text_lm_bigram" -> ((s, d) =>
      Corpus.lmScoreBigram(t(s, d, "documents").df, "doc_id", "text",
          addK = 1.0, lambda = 0.7)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 6).as("avg_nll"), round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")),

    // the composite Gopher/C4-style quality gate: token budget + repetition
    // + LM thresholds chosen to split the testdata (measured: n_tokens
    // 10-99, top_frac p90~0.11, dup_frac p99~0.21, nll p90~3.41) so both
    // keep outcomes and several distinct reason sets occur at every oracle
    // SF. All signals are deterministic, so keep/reasons are exact, not
    // property-checked
    "text_quality_gate" -> ((s, d) =>
      Corpus.qualityGate(t(s, d, "documents").df, "doc_id", "text",
          minTokens = 20L, maxTokens = 100000L,
          maxTopNgramFrac = 0.10, maxDupNgramFrac = 0.15, maxAvgNll = 3.45)
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"),
          round(col("avg_nll"), 6).as("avg_nll"),
          col("keep"), col("n_reasons"), col("reasons"))
        .orderBy("doc_id")),

    // overlapping token-window chunking (size=32, stride=24): the standard
    // long-document → training-context slicing; row-local HOFs + explode,
    // window arithmetic exactly re-derivable in SQL
    "text_chunk" -> ((s, d) =>
      t(s, d, "documents").df
        .select(col("doc_id"), explode(TextFunctions.tokenChunks(col("text"), 32, 24)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_chunk_tokens").as("n_chunk_tokens"), col("c.chunk_text").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")),

    // PII scrub (emails then long digit runs → placeholders): the corpus has
    // no planted PII, so a deterministic per-doc contact suffix is appended
    // first — every row provably exercises both patterns and DuckDB rebuilds
    // the identical input
    "text_pii_redact" -> ((s, d) => {
      val withPii = t(s, d, "documents").df
        .withColumn("t2", concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 555"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      withPii.select(
        col("doc_id"),
        TextFunctions.piiCount(col("t2")).as("n_pii"),
        TextFunctions.redactPii(col("t2")).as("redacted"))
        .orderBy("doc_id")
    }),

    // the category-audited form over deterministic injections that light
    // every category (email keyed on doc_id%3, phone on %5, ip on %7 —
    // some docs carry all three, some none); per-category counts on the
    // ORIGINAL text, replacement chain re-derived literally by DuckDB
    "text_pii_categories" -> ((s, d) => {
      val withPii = t(s, d, "documents").df
        .withColumn("t2", concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" mail user"), col("doc_id"), lit("@example.org")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" from 10.0.0."), (col("doc_id") % 256).cast("string")))
            .otherwise(lit(""))))
      Corpus.redactPiiAudited(withPii, "doc_id", "t2").orderBy("id")
    }),

    // ------------------------------------------------------------- dedup
    "dedup_exact_hash" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents").df, "doc_id", "text")
        .orderBy("content_hash")),

    // exact dedup over the CANONICAL rendering: NFC + casefold + whitespace
    // collapse before hashing (native NormalizeText expression). DuckDB
    // re-derives the full normalize-then-hash key per row; the unicode edge
    // cases invisible in this ASCII corpus (NFD input, NFKC ligatures) are
    // pinned in PipelineOpsSpec.
    "dedup_exact_normalized" -> ((s, d) =>
      Dedup.exactNormalized(t(s, d, "documents").df, "doc_id", "text")
        .orderBy("content_hash")),

    // CCNet/RefinedWeb line-level dedup: the corpus has no newlines, so the
    // query first renders each doc as deterministic 8-token lines (the
    // text_chunk slicing at size=stride=8) — the planted near-dup docs then
    // share exact lines across docs, which is precisely the boilerplate
    // signal the operator exists to remove (53 docs lose lines at sf0.01).
    // First-global-occurrence-keeps is exactly re-derivable in SQL.
    "text_line_dedup" -> ((s, d) =>
      Corpus.lineDedup(multiLineDocs(s, d), "doc_id", "ml_text").orderBy("id")),

    // incremental form: docs ≥ 250 dedup their lines against the < 250
    // corpus store only (corpus precedence, no within-batch dedup) — the
    // per-increment ingestion shape; same SQL re-derivation with the
    // store as a DISTINCT line set
    "text_line_dedup_incremental" -> ((s, d) => {
      val ml = multiLineDocs(s, d)
      Corpus.lineDedupAgainst(ml.filter(col("doc_id") >= 250),
        ml.filter(col("doc_id") < 250), "doc_id", "ml_text").orderBy("id")
    }),

    // HTML boilerplate extraction (r17): the corpus has no markup, so the
    // query first renders deterministic HTML per doc — head with script+
    // style payloads (incl. a decoy '<p>' INSIDE the script that must not
    // become a block), a link-only nav div, the text as two <p> blocks
    // (first 12 words / rest — the rest is EMPTY for short docs, so the
    // min-chars rule genuinely fires), a link-farm ads div on every 3rd
    // doc (varying n_blocks_total), and a link-dense footer. The oracle
    // re-implements the generic rule arithmetic (RE2-safe regexes + list
    // lambdas), not the construction inverse.
    "text_html_extract" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val words = split(col("text"), "\\s+")
      val html = concat(
        lit("<html><head><title>Doc</title><script>var a=1; track('<p>x</p>');</script>" +
          "<style>p{margin:0}</style></head><body>" +
          "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a></div><p>"),
        // coalesce mirrors the oracle's COALESCE(..., '') on each slice: a
        // NULL text must still render the nav/p/footer markup (4 blocks),
        // not null-propagate the whole page to a 0-block NULL html —
        // engine and oracle stay aligned even if fixtures gain NULLs
        coalesce(array_join(slice(words, 1, 12), " "), lit("")),
        lit("</p><p>"),
        coalesce(array_join(slice(words, 13, 1 << 20), " "), lit("")),
        lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<div class=\"ads\"><a href=\"x\">Buy cheap</a> <a href=\"y\">Best deals</a> " +
            "<a href=\"z\">Click here</a></div>")).otherwise(lit("")),
        lit("<div class=\"footer\"><a href=\"/tos\">Terms of Service</a> " +
          "<a href=\"/priv\">Privacy</a> (c) 2026</div></body></html>"))
      Corpus.htmlExtract(docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .orderBy("id")
    }),

    // C4 line+doc filter: the corpus has no punctuation, so the query first
    // renders deterministic 6-token lines with a cycling suffix
    // (./?/!/none), a "javascript " prefix on every 7th (doc_id+idx) line,
    // and doc-level "lorem ipsum." / "code { block." injections — all four
    // line rules and all three doc rules fire somewhere at every SF, and
    // DuckDB rebuilds the identical input
    "text_c4_filter" -> ((s, d) => {
      val docs = t(s, d, "documents").df.select(col("doc_id"),
        concat(
          concat_ws("\n", transform(TextFunctions.tokenChunks(col("text"), 6, 6), c => {
            val i = c.getField("chunk_idx").cast("long")
            val pre = when((col("doc_id") + i) % 7 === 0, lit("javascript ")).otherwise(lit(""))
            val suf = element_at(array(lit("."), lit("?"), lit("!"), lit("")),
              (((col("doc_id") + i) % 4) + 1).cast("int"))
            concat(pre, c.getField("chunk_text"), suf)
          })),
          when(col("doc_id") % 23 === 0, lit("\nlorem ipsum.")).otherwise(lit("")),
          when(col("doc_id") % 29 === 0, lit("\ncode { block.")).otherwise(lit(""))).as("ml_text"))
      Corpus.c4LineFilter(docs, "doc_id", "ml_text").orderBy("id")
    }),

    // the unified per-doc quality profile: A1 rules + A1.1 repetition +
    // char stats + frozen-LM score joined on the id (self-trained counts
    // here, as in text_lm_quality); the oracle assembles the four
    // families' own derivations as subqueries and joins them identically
    "text_quality_profile" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.qualityProfile(docs, Corpus.lmCounts(docs, "text"), "doc_id", "text")
        .orderBy("id")
    }),

    // char-class counts + exact-integer Shannon entropy (the gibberish
    // gate); DuckDB re-derives the per-char histogram and the micro-nat
    // entropy sum from raw text
    "text_char_stats" -> ((s, d) =>
      Corpus.charStats(t(s, d, "documents").df, "doc_id", "text")
        .orderBy("id")),

    // Zipf fit over the corpus frequency spectrum: one term reduce, a
    // top-100 cut, two quantized lns per point, integer OLS — one row
    "text_zipf_fit" -> ((s, d) =>
      Corpus.zipfFit(t(s, d, "documents").df, "text", topN = 100)),

    // Flesch reading ease over a punctuation-planted render (the corpus
    // has no sentence terminators, so ÷5 docs get 0..4 appended ' stop.'
    // sentences — exercising the sentence counter, the min-1 clamp, and
    // all three bands); DuckDB re-derives every regexp count
    "text_readability" -> ((s, d) =>
      Corpus.readability(
          t(s, d, "documents").df.withColumn("text",
            concat(col("text"),
              expr("repeat(' stop.', CAST(doc_id % 5 AS INT))"))),
          "doc_id", "text")
        .orderBy("id")),

    // the complete Gopher A1.1 repetition family (nine signals from one
    // native row-local pass); DuckDB re-derives every n's gram counts,
    // the most-frequent-gram mass, and the overlap-once coverage unions
    // from raw text
    "text_gopher_repetition" -> ((s, d) =>
      Corpus.gopherRepetition(t(s, d, "documents").df, "doc_id", "text")
        .orderBy("id")),

    // the full Gopher A1 document-rule set over a deterministic structured
    // render (8-token lines; bullet prefixes, stopword injections, hash
    // and ellipsis suffixes, and a doubled-text paragraph duplicate keyed
    // on doc_id) so every rule family sees live positives; DuckDB
    // re-derives the render and every integer signal from raw text
    "text_gopher_rules" -> ((s, d) => {
      val chunks = TextFunctions.tokenChunks(col("text"), 8, 8)
      val lineArr = transform(chunks, c => {
        val i = c.getField("chunk_idx").cast("long")
        val bullet = when((col("doc_id") + i) % 6 === 0, lit("- ")).otherwise(lit(""))
        val stop = when(i === 0 && col("doc_id") % 3 === 0, lit("the of and "))
          .otherwise(lit(""))
        val hash = when((col("doc_id") + i) % 11 === 0, lit(" ##")).otherwise(lit(""))
        val ell = when((col("doc_id") + i) % 9 === 0, lit(" ...")).otherwise(lit(""))
        concat(bullet, stop, c.getField("chunk_text"), hash, ell)
      })
      val body = concat_ws("\n", lineArr)
      val full = when(col("doc_id") % 13 === 0, concat(body, lit("\n\n"), body))
        .otherwise(body)
      Corpus.gopherRules(
        t(s, d, "documents").df.select(col("doc_id"), full.as("gtext")),
        "doc_id", "gtext").orderBy("id")
    }),

    // GPT-style pack-then-chunk sequence layout (seqLen=64, sharded by
    // lang, md5-digest order): every fragment boundary is pure window
    // arithmetic over the deterministic order, so DuckDB re-derives the
    // complete fragment table including the sliced text
    "text_pack_sequences" -> ((s, d) =>
      Corpus.packSequences(t(s, d, "documents").df, "doc_id", "text",
          seqLen = 64, shardCol = "lang")
        .orderBy("shard", "seq_id", "start_in_seq", "id")),

    // BPE vocabulary training (Sennrich et al. 2016), 8 merges over the
    // corpus word table: the merge sequence exercises merged-symbol reuse
    // (round 5 merges 'm' with the round-0 product 'er') and exact
    // integer tie-breaking; DuckDB re-runs all 8 rounds from raw text
    "text_bpe_train" -> ((s, d) =>
      Corpus.bpeTrain(t(s, d, "documents").df, "text", nMerges = 8)
        .orderBy("merge_rank")),

    // batched BPE at the same 8 merges in 2 rounds of 4: the conflict
    // rule (skip any pair sharing a symbol — or its concatenation — with
    // an earlier same-round acceptance) runs against the real corpus;
    // DuckDB re-runs both rounds, the recursive greedy candidate scan,
    // and the recursive merge fold from raw text
    "text_bpe_train_batched" -> ((s, d) =>
      Corpus.bpeTrain(t(s, d, "documents").df, "text", nMerges = 8, batchSize = 4)
        .orderBy("merge_rank")),

    // the trained merges applied to every word of every doc through the
    // replace chain (train + segment re-derived end-to-end by the oracle,
    // like the PQ pipelines)
    "text_bpe_segment" -> ((s, d) => {
      val m = Corpus.bpeTrain(t(s, d, "documents").df, "text", nMerges = 8)
      Corpus.bpeSegmentChain(t(s, d, "documents").df, "doc_id", "text", m).orderBy("id")
    }),

    // the public segmenter, which runs a trained table on the native
    // rank-priority loop (table-size-independent), must reproduce the
    // replace chain exactly — this query shares text_bpe_segment's oracle
    // VERBATIM, so the two execution strategies are pinned to one DuckDB
    // derivation
    "text_bpe_segment_fast" -> ((s, d) => {
      val m = Corpus.bpeTrain(t(s, d, "documents").df, "text", nMerges = 8)
      Corpus.bpeSegment(t(s, d, "documents").df, "doc_id", "text", m).orderBy("id")
    }),

    // unigram-LM (SentencePiece/Kudo 2018, hard-EM) tokenizer training:
    // frequent-substring seed (all single chars + top-200 multis), two
    // Viterbi-EM rounds over the word-frequency table, count-rank prune to
    // 60 pieces with micro-nat scores. DuckDB re-derives the seed, BOTH
    // rounds' per-position DP chains (12 unrolled stages each, same
    // score-desc/backpointer-asc tie order), the recursive backpointer
    // walks, and the prune from raw text.
    "text_unigram_train" -> ((s, d) =>
      Corpus.unigramTrain(t(s, d, "documents").df, "text", vocabSize = 60)
        .orderBy("piece")),

    // tokenizer fertility by language under the trained vocabulary — the
    // multilingual-tokenizer health metric (pieces/word, chars/piece);
    // DuckDB re-runs the train chain, one more DP with the FINAL pruned
    // scores over the corpus word set, and the per-lang rollup
    "text_unigram_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val v = Corpus.unigramTrain(docs, "text", vocabSize = 60)
      Corpus.unigramFertility(docs, "lang", "text", v).orderBy("lang")
    }),

    // the trained vocabulary segmenting a doc subset (train + segment
    // re-derived end-to-end, the text_bpe_segment convention): one row per
    // piece with its word index and in-word start offset
    "text_unigram_segment" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val v = Corpus.unigramTrain(docs, "text", vocabSize = 60)
      Corpus.unigramSegment(docs.filter(col("doc_id") % 50 === 3),
          "doc_id", "text", v)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "word_idx", "piece_start")
    }),

    // Lee et al. 2022 exact-substring dedup at token granularity: every
    // 20-token span occurring >1 time in the corpus is removed everywhere
    // but its first global occurrence, overlaps removed as a position
    // union. DuckDB re-derives windows, keepers, and the coverage filter
    // from raw text (the engine's md5 span key is collision-free at 128
    // bits, so grouping by the hash ≡ grouping by the span string).
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.spanDedup(t(s, d, "documents").df, "doc_id", "text", spanLen = 20)
        .orderBy("id")),

    // the round-11 families composed end to end (line dedup → span
    // decontamination → OOV gate → epoch mix): corpus = 8-token-line
    // render of docs ≥ 100, benchmark = raw docs < 100; every stage
    // interaction (spans over dedup rewrites, vocab over excised text,
    // quotas over post-gate source sizes) is re-derived by one chained
    // DuckDB oracle
    "pipeline_curation_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val corpus = multiLineDocs(s, d).filter(col("doc_id") >= 100)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val bench = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text").as("ml_text"))
      Assembly.curateCorpus(corpus, bench, "doc_id", "ml_text", "source")
        .orderBy("id")
    }),

    // the curation chain with the audited PII stage ON: one deterministic
    // planted PII line per doc_id % 3/5/7 (email / phone / IP — the
    // text_pii_categories planting, appended as its OWN line so the
    // 8-token-chunk line algebra stays exact) rides line dedup and span
    // excision, then masking rewrites between excision and the OOV gate
    // (whose self-trained vocabulary sees the MASKED text), and the audit
    // carries n_email/n_phone/n_ip/n_pii — the whole chain re-derived by
    // the parameterized DuckDB oracle
    "pipeline_curation_pii" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val piiLine = ltrim(concat(
        when(col("doc_id") % 3 === 0,
          concat(lit(" mail user"), col("doc_id").cast("string"), lit("@example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0.0."), (col("doc_id") % 256).cast("string")))
          .otherwise(lit(""))))
      val corpus = multiLineDocs(s, d).filter(col("doc_id") >= 100)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("ml_text",
          when(piiLine === "", col("ml_text"))
            .otherwise(concat(col("ml_text"), lit("\n"), piiLine)))
      val bench = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text").as("ml_text"))
      Assembly.curateCorpus(corpus, bench, "doc_id", "ml_text", "source",
          piiPatterns = Corpus.DefaultPiiPatterns)
        .orderBy("id")
    }),

    // frozen-vocab scoring split: model from docs < 250, batch = docs ≥
    // 250 scored row-locally against the collected frequent set (the
    // production train-once/score-streams shape; stream twin pinned in
    // StreamingSpec)
    "text_vocab_coverage_frozen" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val model = Corpus.vocabModel(docs.filter(col("doc_id") < 250), "text", perMille = 5L)
      Corpus.vocabCoverageAgainst(docs.filter(col("doc_id") >= 250), model, "doc_id", "text")
        .orderBy("id")
    }),

    // token-exact blocklist filter (C4 badword component) on a two-term
    // corpus-vocabulary list — hit/clean docs and both terms occur at
    // every SF; whole-token matching only (no Scunthorpe over-blocking)
    "text_blocklist_filter" -> ((s, d) =>
      Corpus.blocklistFilter(t(s, d, "documents").df, "doc_id", "text",
          blocklist = Seq("merge", "dup"))
        .orderBy("id")),

    // per-benchmark-item leak report: which < 100 docs have a 20-token
    // span verbatim inside the ≥ 100 corpus, and how often
    "text_decontaminate_report" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.decontaminationReport(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", spanLen = 20)
        .orderBy("bench_id")
    }),

    // OOV-rate scoring at a 5-per-mille relative threshold: the corpus
    // plants one rare token below it (26 occurrences vs ~900 for every
    // frequent word at sf0.01), so both the in- and out-of-vocab paths
    // exercise and the frequent set is threshold-stable across SFs
    "text_vocab_coverage" -> ((s, d) =>
      Corpus.vocabCoverage(t(s, d, "documents").df, "doc_id", "text", perMille = 5L)
        .orderBy("id")),

    // data-constrained epoch mixing: budget 600 over 20 equal sources at
    // maxEpochs=2 → quota 30 per 25-doc source = one full epoch + a
    // 5-doc digest-ordered fractional epoch; both the div and mod paths
    // exercise at every SF
    "corpus_epoch_mix" -> ((s, d) =>
      Corpus.epochMix(t(s, d, "documents").df, "doc_id", "source",
          salt = "emix", budget = 600L, maxEpochs = 2)
        .select(col("doc_id"), col("source"), col("n_source"), col("quota"),
          col("mix_rank"), col("n_repeats"))
        .orderBy("doc_id")),

    // incremental span dedup: docs ≥ 250 lose any 20-token span already
    // present in the < 250 corpus (coverage union, corpus precedence)
    "dedup_substring_spans_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Dedup.spanDedupAgainst(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "doc_id", "text", spanLen = 20)
        .orderBy("id")
    }),

    // surgical decontamination: benchmark = docs < 100; corpus docs keep
    // everything except verbatim 20-token benchmark passages (the planted
    // near-dups straddling the split provide real excisions at every SF)
    "text_decontaminate_spans" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.decontaminateSpans(docs.filter(col("doc_id") >= 100),
          docs.filter(col("doc_id") < 100), "doc_id", "text", spanLen = 20)
        .orderBy("id")
    }),

    // quantized-quantile bucketing of the quality score into 10 curriculum
    // tiers (bin width 1000 micro = 3 quality decimals): histogram,
    // integer cumulative thresholds, row-local assignment — fully
    // re-derivable in SQL
    // CDC apply: a deterministic change feed over the documents snapshot —
    // ÷17 deleted, ÷13 upserted TWICE (later ts wins), ÷19 upsert+delete
    // at the SAME ts (delete wins — the destructive-bias tiebreak), and
    // new ids appended; result = the post-change snapshot, exact oracle
    "corpus_apply_changes" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      def payload(suffix: String) = Seq(col("doc_id"), concat(col("text"),
        lit(suffix)).as("text"), col("lang"), col("source"), col("n_chars"))
      val deletes = docs.filter(col("doc_id") % 17 === 0)
        .select((payload("") :+ lit("delete").as("op")) :+
          (lit(100L) + col("doc_id") % 3).as("cts"): _*)
      val upsertV1 = docs.filter(col("doc_id") % 13 === 0)
        .select((payload(" v1") :+ lit("upsert").as("op")) :+ lit(50L).as("cts"): _*)
      val upsertV2 = docs.filter(col("doc_id") % 13 === 0)
        .select((payload(" v2") :+ lit("upsert").as("op")) :+ lit(60L).as("cts"): _*)
      val tieUp = docs.filter(col("doc_id") % 19 === 0)
        .select((payload(" tie") :+ lit("upsert").as("op")) :+ lit(70L).as("cts"): _*)
      val tieDel = docs.filter(col("doc_id") % 19 === 0)
        .select((payload("") :+ lit("delete").as("op")) :+ lit(70L).as("cts"): _*)
      val fresh = docs.filter(col("doc_id") % 23 === 0)
        .select((Seq((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"), col("lang"),
          col("source"), col("n_chars")) :+ lit("upsert").as("op")) :+
          lit(10L).as("cts"): _*)
      val feed = Seq(deletes, upsertV1, upsertV2, tieUp, tieDel, fresh)
        .reduce(_ unionByName _)
      Corpus.applyChanges(docs, feed, "doc_id", "op", "cts").orderBy("doc_id")
    }),

    // cross-source quantile normalization: per-lang quality scores mapped
    // onto the GLOBAL distribution at the row's within-group mid-rank —
    // the calibration step before a global threshold; all-integer mapping
    // (mid-rank div, global-position div, bin lower bound), full oracle
    "corpus_quantile_normalize" -> ((s, d) =>
      Corpus.quantileNormalizeBy(
          t(s, d, "documents").df
            .withColumn("quality", TextFunctions.qualityScore(col("text"))),
          "lang", "doc_id", "quality")
        .orderBy("id")),

    // frozen quantile normalization: model trained on the < 250 half,
    // applied to ALL docs — unseen bins carry down to the largest trained
    // bin ≤ theirs within the group, below-range rows get NULL (visible)
    "corpus_quantile_normalize_frozen" -> ((s, d) => {
      val docs = t(s, d, "documents").df
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      val model = Corpus.quantileNormalizeModel(
        docs.filter(col("doc_id") < 250), "lang", "quality")
      Corpus.quantileNormalizeAgainst(docs, model, "lang", "doc_id", "quality")
        .orderBy("id")
    }),

    "corpus_quality_buckets" -> ((s, d) =>
      Corpus.scoreBuckets(
          t(s, d, "documents").df
            .withColumn("quality", TextFunctions.qualityScore(col("text"))),
          "doc_id", "quality", nBuckets = 10, binWidthMicro = 1000L)
        .orderBy("id")),

    // frozen-bucket serving split: thresholds trained on the < 250 length
    // scores, docs ≥ 250 assigned row-locally (LABEL of the largest
    // threshold ≤ bin — agrees on trained bins even when tied scores skip
    // labels, clamps unseen ones)
    "corpus_buckets_frozen" -> ((s, d) => {
      val docs = t(s, d, "documents").df.withColumn("len_score", col("n_chars").cast("double"))
      val model = Corpus.bucketModel(docs.filter(col("doc_id") < 250),
        "doc_id", "len_score", nBuckets = 10, binWidthMicro = 1000000L)
      Corpus.scoreBucketsAgainst(docs.filter(col("doc_id") >= 250), model,
          "doc_id", "len_score", binWidthMicro = 1000000L)
        .orderBy("id")
    }),

    // the same bucketing over the CONTINUOUS length score (binWidthMicro =
    // 1e6 → integer char-count bins): a short-to-long curriculum with
    // near-equal decile counts
    "corpus_length_curriculum" -> ((s, d) =>
      Corpus.scoreBuckets(
          t(s, d, "documents").df.withColumn("len_score", col("n_chars").cast("double")),
          "doc_id", "len_score", nBuckets = 10, binWidthMicro = 1000000L)
        .orderBy("id")),

    // token-budget selection: best-quality-first greedy prefix until 12k
    // tokens (≈44% of the sf0.01 corpus) — histogram + boundary-bin
    // running total in Spark, re-derived in DuckDB as the single
    // (bin DESC, id ASC) running-total window the semantics are defined by
    "corpus_token_budget" -> ((s, d) =>
      Corpus.selectTokenBudget(
          t(s, d, "documents").df
            .withColumn("quality", TextFunctions.qualityScore(col("text")))
            .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
          "doc_id", "quality", "n_toks", budget = 12000L, binWidthMicro = 1000L)
        .orderBy("id")),

    // per-LANGUAGE token budgets: each language contributes its best 3000
    // tokens independently (equal allocation, not proportional) — the
    // per-group histogram/boundary machinery re-derived in DuckDB as one
    // group-partitioned running-total window
    "corpus_lang_token_budget" -> ((s, d) =>
      Corpus.selectTokenBudgetBy(
          t(s, d, "documents").df
            .withColumn("quality", TextFunctions.qualityScore(col("text")))
            .withColumn("n_toks", TextFunctions.tokenCount(col("text"))),
          "lang", "doc_id", "quality", "n_toks", budget = 3000L, binWidthMicro = 1000L)
        .orderBy("id")),

    // soft quality sampling: deterministic md5 coin vs min(1, score/τ) —
    // row-local, re-randomizable by salt. The CONTINUOUS length score
    // (n_chars/500, the corpus_length_curriculum signal) spreads the keep
    // probability across ~140 distinct levels with the clamp engaged on
    // the long tail, so the oracle exercises the whole dial, not two
    // points; DuckDB re-derives the score, the clamp, and the identical
    // integer-hash uniform draw
    "corpus_soft_sample" -> ((s, d) =>
      Corpus.softQualitySample(
          t(s, d, "documents").df
            .withColumn("len_score", col("n_chars").cast("double") / lit(500.0)),
          "doc_id", "len_score", tau = 0.8)
        .orderBy("id")),

    // per-GROUP curriculum: the same deterministic quantile machinery
    // computed independently inside each language — a doc's decile depends
    // only on its own language's length distribution
    "corpus_lang_curricula" -> ((s, d) =>
      Corpus.scoreBucketsBy(
          t(s, d, "documents").df.withColumn("len_score", col("n_chars").cast("double")),
          "lang", "doc_id", "len_score", nBuckets = 10, binWidthMicro = 1000000L)
        .orderBy("id")),

    // CCNet head/middle/tail: frozen-LM scoring (self-trained here, as in
    // text_lm_quality) + per-language terciles on avg_nll — DuckDB
    // re-derives token scores, exact micro-nat sums, the one-division
    // average, quantized bins, and the per-language cumulative tiers
    "text_ccnet_tiers" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.ccnetTiers(docs, Corpus.lmCounts(docs, "text"),
          "doc_id", "text", "lang", nTiers = 3)
        .orderBy("id")
    }),

    // canonical election by QUALITY over exact near-dup clusters: connected
    // components of the hi-Jaccard pair graph (singletons = own component),
    // keep the highest-quality member per component — DuckDB re-derives
    // pairs, components (recursive CTE), quality, and the election rank
    "dedup_elect_quality" -> ((s, d) => {
      val docs = t(s, d, "documents").df
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      val comp = Dedup.connectedComponents(hiJaccardPairs(s, d), "id_a", "id_b")
      val assigned = docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id").as("id"),
          coalesce(col("component"), col("doc_id")).as("component"), col("quality"))
      Dedup.electBest(assigned, "id", "component", "quality").orderBy("id")
    }),

    // MinHash+LSH property oracle: planted near-dup pairs (exact shingle
    // Jaccard ≥ 0.8, DuckDB-recomputable) must land in one cluster with both
    // docs flagged. With r=4/b=8 banding the per-pair miss probability at
    // j ≥ 0.9 is (1−j⁴)⁸ ≈ 2e-4; the run is deterministic (measured recall
    // 100% on the shipped corpus) but the ORACLE pins a ≥ 95% floor rather
    // than exact equality so regenerating the corpus — more plants, plants
    // near j = 0.8 — can't spuriously fail on a banding miss the guarantee
    // explicitly allows. n_hi_pairs stays DuckDB-exact.
    "dedup_minhash_lsh" -> ((s, d) => {
      val clusters = Dedup.minHashLsh(t(s, d, "documents").df, "doc_id", "text")
      hiJaccardPairs(s, d)
        .join(clusters.select(col("doc_id").as("id_a"),
          col("cluster_id").as("cl_a"), col("has_candidate").as("hc_a")), Seq("id_a"))
        .join(clusters.select(col("doc_id").as("id_b"),
          col("cluster_id").as("cl_b"), col("has_candidate").as("hc_b")), Seq("id_b"))
        .agg(
          count(lit(1)).as("n_hi_pairs"),
          (coalesce(sum(when(col("cl_a") === col("cl_b"), 1L).otherwise(0L)), lit(0L))
            .cast("double") >= count(lit(1)).cast("double") * 0.95)
            .cast("long").as("cluster_recall_ok"),
          (coalesce(sum(when(col("hc_a") && col("hc_b"), 1L).otherwise(0L)), lit(0L))
            .cast("double") >= count(lit(1)).cast("double") * 0.95)
            .cast("long").as("flag_recall_ok"))
    }),

    // SimHash property oracle: banded candidate generation must recover
    // ≥ 80% of the planted pairs (measured: 23/25 at sf0.01 — hamming ≤ 3
    // guarantees one clean 16-bit band by pigeonhole; hamming 4–5 can
    // straddle all four bands, the documented recall dial). n_hi_pairs is
    // DuckDB-exact; the flag is deterministic.
    "dedup_simhash" -> ((s, d) => {
      val cand = Dedup.simhashNearDup(t(s, d, "documents").df, "doc_id", "text")
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      hiJaccardPairs(s, d)
        .join(cand, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_hi_pairs"),
          (coalesce(sum(col("hit")), lit(0L)).cast("double") >=
            count(lit(1)).cast("double") * 0.8).cast("long").as("recall_ok"))
    }),

    // winnowing near-dup property oracle: the winnowing GUARANTEE (any
    // shared run >= w+k-1 tokens yields a shared fingerprint) makes recall
    // of the planted hi-Jaccard pairs exactly 1.0 — the flag demands
    // equality, not a floor, unlike the probabilistic banding families
    "dedup_winnow" -> ((s, d) => {
      val cand = Dedup.winnowPairs(t(s, d, "documents").df, "doc_id", "text")
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      hiJaccardPairs(s, d)
        .join(cand, Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_hi_pairs"),
          (coalesce(sum(col("hit")), lit(0L)) === count(lit(1)))
            .cast("long").as("recall_ok"))
    }),

    // one-call winnow dedup: every planted hi-Jaccard pair must land in the
    // SAME cluster with both docs flagged confirmed — exact equality again:
    // candidates are guaranteed (winnowing), and the confirm threshold is
    // the hi-pair definition itself (same rolled-shingle arithmetic), so a
    // single missed pair means a real bug, not noise
    "dedup_winnow_cluster" -> ((s, d) => {
      val clusters = Dedup.winnowNearDup(t(s, d, "documents").df, "doc_id", "text")
      hiJaccardPairs(s, d)
        .join(clusters.select(col("id").as("id_a"),
          col("cluster_id").as("cl_a"), col("confirmed_dup").as("cd_a")), Seq("id_a"))
        .join(clusters.select(col("id").as("id_b"),
          col("cluster_id").as("cl_b"), col("confirmed_dup").as("cd_b")), Seq("id_b"))
        .agg(
          count(lit(1)).as("n_hi_pairs"),
          (coalesce(sum(when(col("cl_a") === col("cl_b") && col("cd_a") && col("cd_b"),
              1L).otherwise(0L)), lit(0L)) === count(lit(1)))
            .cast("long").as("cluster_recall_exact"))
    }),

    // incremental (batch-vs-corpus) near-dedup property oracle: batch =
    // doc_id % 5 == 0 against the rest as corpus. Every planted hi-Jaccard
    // pair straddling the split must be matched (DuckDB recomputes the
    // exact straddling set; recall floor 95% mirrors dedup_minhash_lsh's
    // banding guarantee), and false matches are structurally zero — the
    // operator confirms candidates with the same exact shingle arithmetic
    // the oracle uses.
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val out = Dedup.incrementalNearDup(corpus, batch, "doc_id", "text")
      // both verdict tables feed two consumers below (the semi-join and an
      // aggregate) — pinned via checkpoint so the operator and the exact
      // inverted-index pair derivation each execute ONCE, same as the
      // Assembly stage tables (values unchanged; this is the composite
      // whose sf1 ratio was dominated by branch re-execution)
      val matched = Materialize.pin(out.filter(col("matched_id").isNotNull)
        .select(col("id"), col("matched_id")))
      val hi = Materialize.pin(hiJaccardPairs(s, d)
        .filter((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
        .select(
          when(col("id_a") % 5 === 0, col("id_a")).otherwise(col("id_b")).as("b_id"),
          when(col("id_a") % 5 === 0, col("id_b")).otherwise(col("id_a")).as("c_id")))
      val nTrue = matched.join(hi,
        matched("id") === hi("b_id") && matched("matched_id") === hi("c_id"), "left_semi")
      matched.agg(count(lit(1)).as("__nm")).crossJoin(
          nTrue.agg(count(lit(1)).as("__nt")))
        .crossJoin(hi.agg(countDistinct(col("b_id")).as("__ne")))
        .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
        .select(
          col("n_batch"),
          col("__ne").as("n_expected"),
          (col("__nm") - col("__nt")).as("n_false_matches"),
          (col("__nt").cast("double") >= col("__ne").cast("double") * 0.95)
            .cast("long").as("recall_ok"))
    }),

    // incremental WINNOW near-dedup, row-exact oracle (unlike the banded
    // incremental path's property flags): the winnowing guarantee makes the
    // candidate set a superset of the straddling hi-Jaccard pairs, and the
    // exact-Jaccard confirm cuts it back to exactly that set — so every
    // batch doc's (matched_id, best_jaccard) is a pure function of the
    // exact pair table and DuckDB re-derives all three columns per row
    "dedup_winnow_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Dedup.winnowIncremental(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .orderBy("id")
    }),

    // Declared exact (the DuckDB oracle re-derives every score with full
    // set arithmetic), so the exact opt-in is explicit; the production
    // default is the finite Dedup.DefaultMaxShingleDf, exercised under
    // oracle by dedup_ngram_jaccard_capped below and isolated for scale in
    // AuditScale's ngram_jaccard_operator entry.
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardBestMatch(t(s, d, "documents").df, "doc_id", "text", blockCol = "lang",
          maxShingleDf = Dedup.Exact)
        .orderBy("id")),

    // The df-cut dial under oracle: maxShingleDf=5 sits below the testdata's
    // max shingle document frequency (7 at sf0.01, 9 at sf0.001 — measured),
    // so the cap genuinely drops shingles here, and DuckDB re-derives every
    // CAPPED score through its own independent df-cut (intersections count
    // surviving shingles, set sizes stay full). One row per exact hi-Jaccard
    // (≥0.8) planted pair; the DuckDB side PINS found=1 (recall through the
    // cap is 1.0), le_exact=1 (capped is a lower bound of exact), and
    // cap_engaged=1 (some shingle exceeded the cap) — any property breach
    // turns a literal into a computed 0 and breaks the hash.
    "dedup_ngram_jaccard_capped" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val exact = hiJaccardPairs(s, d)
        .select(col("id_a"), col("id_b"), col("jaccard").as("exact_j"))
      val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          minJaccard = 0.4, maxShingleDf = 5)
        .select(col("id_a"), col("id_b"), col("jaccard").as("capped_j"))
      val nDropped = docs.select(col("doc_id"),
          explode(array_distinct(graft.expressions.MinHashSignature.shingleHashes(
            transform(TextFunctions.tokens(col("text")), t => xxhash64(t)), 3))).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > 5)
        .agg(count(lit(1)).as("__nd"))
      // crossJoin is a 1×1 broadcast of the single-row drop-count aggregate
      exact.join(capped, Seq("id_a", "id_b"), "left")
        .crossJoin(nDropped)
        .select(
          col("id_a"), col("id_b"), col("exact_j"),
          coalesce(col("capped_j"), lit(-1.0)).as("capped_j"),
          col("capped_j").isNotNull.cast("long").as("found"),
          when(col("capped_j").isNotNull && col("capped_j") <= col("exact_j"), 1L)
            .otherwise(0L).as("le_exact"),
          (col("__nd") > 0).cast("long").as("cap_engaged"))
        .orderBy("id_a", "id_b")
    }),

    // Embedding-LSH property oracle against the exact twin below:
    // n_exact_pairs is DuckDB's bit-identical fold count; zero false
    // positives is structural (the operator confirms with the same exact
    // cosine ≥ threshold); the recall flag pins the measured bucketing
    // recall (0.327 at nbits=2, sf0.01 — the documented recall/cost dial)
    // well above its floor.
    "dedup_embedding_cosine" -> ((s, d) => {
      val found = Dedup.embeddingNearDup(t(s, d, "embeddings").df, "vec_id", "embedding",
          dim = 64, threshold = 0.3, nbits = 2)
        .filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = cosinePairs(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("ex"))
      // one distributed pass: full outer join classifies every pair as
      // exact-only (miss), found-only (false positive), or both (hit)
      exact.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(col("ex")), lit(0L)).as("n_exact_pairs"),
          coalesce(sum(when(col("ex").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_false_positives"),
          (coalesce(sum(when(col("ex") === 1L && col("hit") === 1L, 1L).otherwise(0L)), lit(0L))
            .cast("double") >=
            coalesce(sum(col("ex")), lit(0L)).cast("double") * 0.15)
            .cast("long").as("recall_ok"))
    }),

    // OR-amplified multi-table twin at FULL defaults — both dials
    // auto-size ((nbits, K) contract: occupancy from the corpus count,
    // table count from (nbits, threshold) via the Charikar collision
    // model) — same property-oracle shape as the single-table row, but
    // the recall flag pins the amplified target: >= 0.8 of the exact
    // pair set recovered (vs 0.35 single-table at nbits=2), zero false
    // positives structural (exact-cosine confirm)
    "dedup_embedding_multitable" -> ((s, d) => {
      val found = Dedup.embeddingNearDupMultiTable(t(s, d, "embeddings").df,
          "vec_id", "embedding", dim = 64, threshold = 0.3)
        .filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = cosinePairs(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("ex"))
      exact.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(col("ex")), lit(0L)).as("n_exact_pairs"),
          coalesce(sum(when(col("ex").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_false_positives"),
          (coalesce(sum(when(col("ex") === 1L && col("hit") === 1L, 1L).otherwise(0L)), lit(0L))
            .cast("double") >=
            coalesce(sum(col("ex")), lit(0L)).cast("double") * 0.8)
            .cast("long").as("recall_ok"))
    }),

    // Multi-probe twin at equal candidate budget (r17 — the fix for the
    // multi-table watch item): ONE O(n)-row index probed at T
    // margin-ranked buckets per vector (Lv et al., VLDB 2007) instead of
    // K=T independent tables. Same property-oracle shape; the recall flag
    // pins >= 0.9 — STRICTLY above the multitable row's 0.8 — because the
    // measured equal-budget recall is 1.00 vs multitable's 0.82 (sf0.01,
    // nbits=2, T=4; MeasureProps), zero false positives structural.
    "dedup_embedding_multiprobe" -> ((s, d) => {
      val found = Dedup.embeddingNearDupMultiProbe(t(s, d, "embeddings").df,
          "vec_id", "embedding", dim = 64, threshold = 0.3)
        .filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = cosinePairs(s, d)
        .select(col("id_a"), col("id_b"), lit(1L).as("ex"))
      exact.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(col("ex")), lit(0L)).as("n_exact_pairs"),
          coalesce(sum(when(col("ex").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_false_positives"),
          (coalesce(sum(when(col("ex") === 1L && col("hit") === 1L, 1L).otherwise(0L)), lit(0L))
            .cast("double") >=
            coalesce(sum(col("ex")), lit(0L)).cast("double") * 0.9)
            .cast("long").as("recall_ok"))
    }),

    // Incremental multi-probe (r18 — the serving-shape twin): a BATCH of
    // new vectors (vec_id % 5 == 0) probed at T margin-ranked buckets
    // against the ONE O(n) base-bucket index of the STATIC corpus (the
    // rest) — the corpus never self-joins, never re-buckets, and the
    // probe count is a pure per-batch dial over the same index. Explicit
    // nbits=3 keeps the probing PARTIAL (equal-budget T=7 of the 8
    // buckets), so the recall flag pins the one-sided probe model (a pair
    // is missed iff ALL THREE hyperplane signs differ — ≤ 0.403³ ≈ 6.5%
    // at the threshold boundary, far less above it) rather than a
    // saturated schedule; zero false positives structural (every
    // candidate passes the row-local exact cosine).
    "dedup_embedding_multiprobe_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val found = Dedup.embeddingNearDupMultiProbeIncremental(
          emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", dim = 64, threshold = 0.3, nbits = 3)
        .filter(col("id") < 300 && col("matched_id") < 300)
        .select(col("id").as("b_id"), col("matched_id").as("c_id"), lit(1L).as("hit"))
      val exact = cosinePairs(s, d)
        .filter((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
        .select(
          when(col("id_a") % 5 === 0, col("id_a")).otherwise(col("id_b")).as("b_id"),
          when(col("id_a") % 5 === 0, col("id_b")).otherwise(col("id_a")).as("c_id"),
          lit(1L).as("ex"))
      exact.join(found, Seq("b_id", "c_id"), "full_outer")
        .agg(
          coalesce(sum(col("ex")), lit(0L)).as("n_exact_pairs"),
          coalesce(sum(when(col("ex").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_false_positives"),
          (coalesce(sum(when(col("ex") === 1L && col("hit") === 1L, 1L).otherwise(0L)), lit(0L))
            .cast("double") >=
            coalesce(sum(col("ex")), lit(0L)).cast("double") * 0.8)
            .cast("long").as("recall_ok"))
    }),

    // exact all-pairs reference for the LSH-bucketed near-dup above, on a
    // bounded id-range so the quadratic term stays test-sized; DuckDB
    // recomputes the identical left-to-right double fold (list_zip+list_sum)
    "dedup_embedding_cosine_exact" -> ((s, d) =>
      cosinePairs(s, d)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")),

    // exact connected components (min-label propagation to fixpoint) over
    // the oracle-reproducible cosine candidate pairs; DuckDB re-derives the
    // components with a recursive reachability CTE
    // asymmetric containment: every ÷50≡7 doc contributes a 30-token
    // truncated QUOTE under a shifted id (the canary-plant pattern) —
    // containment(quote in source) reads 1.0 while their Jaccard sits far
    // below any dedup bar, the case this operator exists for
    "dedup_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val quotes = docs.filter(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(split(col("text"), "\\s+"), 1, 30), " ").as("text"))
      Dedup.ngramContainment(
          docs.select("doc_id", "text").unionByName(quotes),
          "doc_id", "text", minContainment = 0.9)
        .orderBy("id_a", "id_b")
    }),

    "dedup_cc_exact" -> ((s, d) =>
      Dedup.connectedComponents(
        cosinePairs(s, d).select("id_a", "id_b"), "id_a", "id_b").orderBy("id")),

    // cluster-size audit over the same bounded component labeling: the
    // over-merge detector — a too-loose banding threshold reads as one
    // giant size class carrying most of nodes_share_micro
    "dedup_cc_sizes" -> ((s, d) =>
      Graph.componentSizes(
          Dedup.connectedComponents(
            cosinePairs(s, d).select("id_a", "id_b"), "id_a", "id_b"))
        .orderBy("component_size")),

    // SemDeDup end to end (train the coarse quantizer → cluster → within-
    // cell exact-cosine pairs → connected components → farthest-from-
    // centroid representative election): every stage is deterministic, so
    // DuckDB re-runs the WHOLE pipeline from raw vectors — both Lloyd
    // rounds, the assignment, the pair cosines, a recursive-CTE CC, and
    // the keep election — and the per-document verdict table hash-matches
    "dedup_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, "cell", "cvec",
          threshold = 0.3)
        .orderBy("id")
    }),

    // the CAPPED SemDeDup path forced on (maxCellSize = 16 « every cell at
    // sf0.01's 500/8 ≈ 62): every cell sub-splits into md5-salted
    // sub-cells, pairs confirm within sub-cells plus the representative
    // boundary band — the 100 TB skew guard, its whole candidate algebra
    // (counts → ⌈n/16⌉ → salt bucket → band reps) re-derived by DuckDB
    "dedup_semantic_capped" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, "cell", "cvec",
          threshold = 0.3, maxCellSize = 16L)
        .orderBy("id")
    }),

    // incremental SemDeDup: the 20% batch (vec_id % 5 = 0) matched against
    // the 80% store under a frozen quantizer — candidates are batch×store
    // rows sharing a cell only (the store never self-joins), every match
    // exact-cosine-confirmed; DuckDB re-derives the Lloyd rounds, both
    // assignments, the cell join, and the per-batch-doc min/max verdict
    "dedup_semantic_incremental" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Dedup.semanticDedupIncremental(
          emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", centroids, "cell", "cvec", threshold = 0.3)
        .orderBy("id")
    }),

    // D4 (SemDeDup → SSL-prototype pruning, frozen quantizer): the full
    // dedup_semantic pipeline, then the 25% most-prototypical survivors
    // per cell dropped by round-then-rank with the integer quota — DuckDB
    // re-derives BOTH stages from raw vectors on top of the dedup_semantic
    // oracle's own chain
    "corpus_d4_select" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Dedup.d4Select(emb, "vec_id", "embedding", centroids, "cell", "cvec",
          threshold = 0.3, dropPct = 25)
        .orderBy("id")
    }),

    // IVF-blocked kNN graph: every doc's exact-cosine top-5 neighbors
    // within its trained cell, ranked by the bounded TopKAgg (O(k) state,
    // map-side partials) — shares the window formulation's oracle: raw-
    // double cosine rank, id tiebreak, 6dp rounding on output only
    "sim_knn_graph" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.knnGraph(emb, "vec_id", "embedding", centroids, "cell", "cvec", k = 5)
        .orderBy("id", "rank")
    }),

    // the CAPPED kNN-graph path forced on (maxCellNeighbors = 16 « every
    // cell at sf0.01's 500/8 ≈ 62): each cell contributes only its 16 most
    // central members (6dp cent_cos desc, id tiebreak) as neighbor
    // candidates — the oversized-cell guard, its candidate-prefix algebra
    // re-derived by DuckDB
    "sim_knn_graph_capped" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.knnGraph(emb, "vec_id", "embedding", centroids, "cell", "cvec",
          k = 5, maxCellNeighbors = 16L)
        .orderBy("id", "rank")
    }),

    // WIMBD-style per-source corpus profile: doc/token/char volume,
    // language spread, and the exact-duplicate rate over the full-text
    // digest (cross-source duplicates counted) — one digest groupBy plus
    // one per-source reduce, no window
    "corpus_report" -> ((s, d) =>
      Corpus.corpusReport(t(s, d, "documents").df, "doc_id", "text", "source", "lang")
        .orderBy("source")),

    // group-level MinHash sketch (TypedImperativeAggregate): per-source
    // signature, then pairwise estimated Jaccard between sources — carries a
    // full property oracle (exact per-source shingle Jaccard, DuckDB-recomputed)
    "dedup_source_sketch_sim" -> ((s, d) => {
      // sketch estimate vs EXACT per-source shingle-set Jaccard, both fully
      // distributed: the sketch's hash family has no DuckDB twin but the
      // exact pair arithmetic does, so the declared output carries the exact
      // jaccard per source pair plus a tolerance flag on the k=64 estimate
      // (SE = sqrt(j(1-j)/64) ≤ 0.0625; 0.25 is 4σ, and the run is
      // deterministic — measured max error 0.05 at sf0.01)
      import graft.expressions.MinHashSketchAgg.{minhashSketch, sketchJaccard}
      import graft.functions.TextFunctions.shingles
      val docsh = t(s, d, "documents").df
        .select(col("source"), transform(shingles(col("text")), sh => xxhash64(sh)).as("hs"))
      val sketches = docsh
        .groupBy("source")
        .agg(minhashSketch(col("hs"), 64).as("sig"))
      val est = sketches.select(col("source").as("src_a"), col("sig").as("sig_a"))
        .join(sketches.select(col("source").as("src_b"), col("sig").as("sig_b")),
          col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), sketchJaccard(col("sig_a"), col("sig_b")).as("est"))
      // exact source-level sets via the inverted index (never all-pairs over docs)
      val u = docsh.select(col("source"), explode(col("hs")).as("h")).distinct()
      val sz = u.groupBy("source").agg(count(lit(1)).as("nsh"))
      val inter = u.select(col("source").as("src_a"), col("h"))
        .join(u.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      est.join(inter, Seq("src_a", "src_b"), "left")
        .join(sz.select(col("source").as("src_a"), col("nsh").as("n_a")), Seq("src_a"))
        .join(sz.select(col("source").as("src_b"), col("nsh").as("n_b")), Seq("src_b"))
        .withColumn("exact",
          coalesce(col("inter"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))).cast("double"))
        .select(col("src_a"), col("src_b"),
          round(col("exact"), 6).as("exact_jaccard"),
          (abs(col("est") - col("exact")) <= 0.25).cast("long").as("est_ok"))
        .orderBy("src_a", "src_b")
    }),

    // -------------------------------------------------- similarity search
    "sim_topk_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "query_id", "query_vec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // JL random-projection rung: deterministic ±1 signs (middle-square
    // parity), exact integer projected dots for the coarse 4k cut, exact
    // cosine rerank — DuckDB re-derives the projection grid, both ranks
    "sim_topk_rp" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.randomProjectionTopK(emb, "vec_id", "embedding",
          queries, "query_id", "query_vec", k = 10, projDim = 32, expand = 8)
        .orderBy("query_id", "rank")
    }),

    // triplet mining: nearest same-label positive + nearest
    // different-label hard negative + margin, for 20 anchors — the
    // metric-training batch constructor, exactly re-derivable
    "sim_contrastive_triplets" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val anchors = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("aid"), col("embedding").as("avec"),
          col("label").as("alabel"))
      Similarity.contrastiveTriplets(emb, "vec_id", "embedding", "label",
          anchors, "aid", "avec", "alabel")
        .orderBy("anchor_id")
    }),

    // hard-negative mining: top-10 nearest DIFFERENT-label neighbors per
    // query — the embeddings table carries the cluster label, so the
    // exact brute-force derivation is one label-disequality join away
    // from sim_topk_brute's
    "sim_hard_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
          col("label").as("query_label"))
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          queries, "query_id", "query_vec", "query_label", k = 10)
        .orderBy("query_id", "rank")
    }),

    // end-to-end IVF index path (quantize → probe 2 cells → rank): fully
    // oracle-checked because every step is windows + the reproducible fold.
    // The centroid set is bounded sf-INDEPENDENTLY (vec_id < 3200, a no-op
    // at the oracle SFs): an IVF index keeps |cells| ~fixed as the corpus
    // grows — deriving centroids from the full corpus made the assignment
    // crossJoin quadratic in sf (10× rows × 10× centroids = 100× work at
    // the amplified sf1), which is a benchmark-input artifact, not the
    // operator's scaling shape.
    "sim_topk_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = emb.filter(col("vec_id") % 64 === 0 && col("vec_id") < 3200)
        .select((col("vec_id") / 64).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, "cell_id", "centroid_vec",
          queries, "query_id", "query_vec", k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // spherical k-means training for the IVF quantizer (k=8, 2 Lloyd
    // rounds): deterministic lowest-id seeding and micro-quantized means
    // make the trained centroids bit-reproducible, so DuckDB re-runs the
    // SAME two iterations from scratch and the final centroid table
    // hash-matches coordinate for coordinate
    "sim_ivf_train" -> ((s, d) =>
      Similarity.trainCentroids(t(s, d, "embeddings").df, "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("cell"), posexplode(col("cvec")).as(Seq("pos", "m")))
        .orderBy("cell", "pos")),

    // SSL-prototypes pruning (Sorscher et al. 2022) over the trained
    // k-means clustering: drop the 25% most-prototypical examples per
    // cell (round-then-rank on the 6dp cosine, id tiebreak, integer drop
    // quota) — DuckDB re-runs training, assignment, and the per-cell
    // rank/quota from raw vectors
    "corpus_prototype_prune" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      Similarity.prototypePrune(emb, "vec_id", "embedding", cents, "cell", "cvec",
          dropPct = 25)
        .orderBy("id")
    }),

    // the SELF-CONTAINED ANN path end to end: train the coarse quantizer
    // (2 Lloyd rounds), then IVF-search with the trained centroids
    // (assign → probe 2 cells → rank). Every stage is deterministic
    // (micro-quantized means, bit-identical cosine folds, integer
    // tie-breaks), so DuckDB re-runs the WHOLE pipeline from raw vectors
    // and the final top-k hash-matches.
    "sim_topk_ivf_trained" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, "cell", "cvec",
          queries, "query_id", "query_vec", k = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // product-quantization codebook training (m=8 subspaces × ksub=8
    // codes, 2 Lloyd rounds): deterministic lowest-id slice seeding, L2
    // argmin assignment with (dist, code) tiebreak, micro-quantized means
    // — DuckDB re-runs both per-subspace rounds from scratch and the
    // codebook table hash-matches coordinate for coordinate
    "sim_pq_train" -> ((s, d) =>
      Similarity.trainPqCodebooks(t(s, d, "embeddings").df, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 8, iters = 2)
        .select(col("sub"), col("code"), posexplode(col("cvec")).as(Seq("spos", "mc")))
        .orderBy("sub", "code", "spos")),

    // the COMPRESSED-DOMAIN ANN path end to end: train PQ codebooks (2
    // rounds), encode every vector to m=8 codes (32x smaller than the
    // float vectors), ADC-score 5 queries against the codes alone
    // (approximate inner product via the per-query lookup table). Every
    // stage is deterministic, so DuckDB re-runs the whole pipeline from
    // raw vectors and the final top-k hash-matches.
    "sim_topk_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqTopK(emb, "vec_id", "embedding", cb, dim = 64, m = 8, ksub = 8,
          queries, "query_id", "query_vec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // PQ shortlist + exact cosine rerank — the production serving shape:
    // the code-only ADC scan nominates 50 candidates per query, only
    // those re-attach float vectors for the exact rerank. Deterministic
    // end to end, so DuckDB re-runs training, encoding, the ADC
    // shortlist, and the cosine rerank from raw vectors.
    "sim_topk_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqTopKReranked(emb, "vec_id", "embedding", cb, dim = 64, m = 8, ksub = 8,
          queries, "query_id", "query_vec", k = 10, shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    // IVF×PQ composite (the FAISS IVFPQ shape): the coarse quantizer
    // bounds WHICH rows are scanned (nprobe=2 cells per query), the
    // trained PQ codes bound WHAT the scan reads, and the exact cosine
    // rerank runs over the 50 ADC nominees alone. Same fixed centroid
    // derivation as sim_topk_ivf, same trained codebooks as sim_topk_pq —
    // deterministic end to end, so DuckDB re-runs training, assignment,
    // the probed ADC scan, and the rerank from raw vectors.
    "sim_topk_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = emb.filter(col("vec_id") % 64 === 0 && col("vec_id") < 3200)
        .select((col("vec_id") / 64).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
      val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", centroids, "cell_id", "centroid_vec",
          cb, dim = 64, m = 8, ksub = 8, queries, "query_id", "query_vec",
          k = 10, nprobe = 2, shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    // RESIDUAL-encoded IVF×PQ — the exact FAISS IVFPQ shape: codebooks
    // train on vec − cvec[assigned cell] (the residual distribution is far
    // tighter than the vector distribution, so the same code budget buys a
    // finer quantization), codes quantize the residuals, and the ADC score
    // restores the inner-product decomposition q·x ≈ q·cvec[cell] +
    // lut-sum with one extra probe-side dot. Deterministic end to end
    // (float residual subtraction is exact IEEE arithmetic), so DuckDB
    // re-runs assignment, residual training, the corrected ADC scan, and
    // the rerank from raw vectors.
    "sim_topk_ivfpq_residual" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val centroids = emb.filter(col("vec_id") % 64 === 0 && col("vec_id") < 3200)
        .select((col("vec_id") / 64).cast("int").as("cell_id"), col("embedding").as("centroid_vec"))
      val res = Similarity.ivfResiduals(emb, "vec_id", "embedding",
        centroids, "cell_id", "centroid_vec")
      val cb = Similarity.trainPqCodebooks(res, "vec_id", "residual",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", centroids, "cell_id", "centroid_vec",
          cb, dim = 64, m = 8, ksub = 8, queries, "query_id", "query_vec",
          k = 10, nprobe = 2, shortlist = 50, residual = true)
        .orderBy("query_id", "rank")
    }),

    // variance-balancing coordinate permutation (OPQ parametric init,
    // round-robin deal): coordinates rank by the EXACT integer variance
    // numerator N*sum(q^2) - sum(q)^2 over micro-quantized values — no
    // float compare anywhere, so the permutation (and its oracle) is
    // engine-independent. Output = one row per source coordinate with its
    // rank and (sub, slot) target.
    "sim_pq_balanced_perm" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings").df
      val perm = Similarity.pqBalancedPermutation(emb, "embedding", dim = 64, m = 8)
      // perm(i) = source pos at target index i; invert to (pos, rank, sub, slot)
      perm.zipWithIndex.map { case (pos, i) =>
        val sub = i / 8; val slot = i % 8
        (pos, (slot * 8 + sub).toLong, sub, slot)
      }.toDF("pos", "rank", "sub", "slot").orderBy("pos")
    }),

    // PQ over the balance-permuted space end to end: permutation from the
    // corpus (exact integer ranking), row-local gather on corpus AND
    // queries, codebook training + ADC search in the permuted space (inner
    // products are permutation-invariant, so the ADC scores approximate
    // the same similarity). Deterministic at every stage, so DuckDB
    // re-runs variance ranking, the gather, both Lloyd rounds, and the
    // ADC scan from raw vectors.
    "sim_topk_pq_permuted" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val perm = Similarity.pqBalancedPermutation(emb, "embedding", dim = 64, m = 8)
      val pemb = emb.select(col("vec_id"),
        Similarity.permuteVec(col("embedding"), perm).as("embedding"))
      val cb = Similarity.trainPqCodebooks(pemb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = pemb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqTopK(pemb, "vec_id", "embedding", cb, dim = 64, m = 8, ksub = 8,
          queries, "query_id", "query_vec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // PQ over the Hadamard-ROTATED space end to end: the sign-flipped
    // Walsh–Hadamard structured rotation (training-free OPQ stand-in —
    // spreads any variance-hoarding coordinate's energy across ALL
    // coordinates, which the permutation above cannot do) applied
    // row-locally to corpus AND queries, then codebook training + ADC
    // search in the rotated space. The rotation is a fixed ±1 matrix with
    // an order-defined left-to-right sum, so DuckDB re-derives the rotated
    // vectors bit for bit and re-runs the identical PQ derivation over
    // them.
    "sim_topk_pq_rotated" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val remb = emb.select(col("vec_id"),
        Similarity.rotateVec(col("embedding")).as("embedding"))
      val cb = Similarity.trainPqCodebooks(remb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      val queries = remb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqTopK(remb, "vec_id", "embedding", cb, dim = 64, m = 8, ksub = 8,
          queries, "query_id", "query_vec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // int8-quantized brute-force top-k: both sides compress 4x before
    // scoring (the 100 TB memory/bandwidth shape). The quantization is
    // deterministic double+integer arithmetic (scale = max|v|/127,
    // q = round(v/scale), integer dot x scales), so the ENTIRE compressed
    // path — not just a recall bound — is exactly re-derived by DuckDB.
    "sim_topk_int8" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.quantizedTopK(emb, "vec_id", "embedding", queries, "query_id", "query_vec", k = 10)
        .orderBy("query_id", "rank")
    }),

    // LSH top-k property oracle: per-query recall@10 against the in-engine
    // exact top-k (whose own output is fully DuckDB-checked as
    // sim_topk_brute). At nbits=2/tables=4 the measured per-query recall is
    // 0.7–0.9 (sf0.01, deterministic), so no query may fall under the 0.5
    // floor; n_queries anchors the check to a DuckDB-computable count.
    "sim_topk_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "query_id", "query_vec", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", queries,
          "query_id", "query_vec", dim = 64, k = 10, nbits = 2, tables = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((coalesce(sum(col("hit")), lit(0L)).cast("double") / 10.0).as("recall"))
        .agg(
          count(lit(1)).as("n_queries"),
          coalesce(sum(when(col("recall") < 0.5, 1L).otherwise(0L)), lit(0L))
            .as("n_below_bound"))
    }),

    // ----------------------------------------------------- corpus assembly
    // deterministic hash split: bucket from md5 hex prefix — a pure function
    // of the doc id, so the assignment is reproducible across engines and
    // stable under corpus growth (exact DuckDB oracle on every row)
    "split_hash" -> ((s, d) =>
      Corpus.hashSplit(t(s, d, "documents").df, "doc_id", salt = "graft")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),

    // benchmark decontamination: docs with doc_id % 97 == 0 stand in for the
    // eval suite; the corpus side is flagged by distinct-shingle overlap
    // against the BROADCAST benchmark shingle set. Exact DuckDB oracle: the
    // per-doc shared-shingle counts are plain string-shingle set arithmetic.
    "text_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_shared_shingles"),
          col("contaminated").cast("long").as("contaminated"))
        .orderBy("doc_id")
    }),

    // temperature-balanced mix (mT5/XLM-R n^alpha sampling at alpha = 1/2,
    // the one exponent exactly portable across engines — sqrt is
    // correctly-rounded IEEE, pow is not): integer quotas from the
    // micro-quantized sqrt weights, per-source md5-order selection —
    // the kept SET and every rank/quota column are exactly re-derivable
    "corpus_temperature_mix" -> ((s, d) =>
      Corpus.temperatureMix(t(s, d, "documents").df, "doc_id", "lang",
          salt = "tmix", budget = 200L)
        .select("doc_id", "lang", "mix_rank", "n_source", "keep_quota")
        .orderBy("doc_id")),

    // DSIR importance selection: target = the %13 doc slice (the
    // "look like this" corpus), raw pool = the rest. Hashed unigram+bigram
    // bag weights (md5 buckets, add-1 smoothed log-ratios in integer
    // micro-nats) + md5-seeded Gumbel-top-k resampling — every stage is
    // integer/md5 arithmetic, so the selected SET (not just its size) is
    // exactly re-derivable by the oracle.
    "text_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.dsirSelect(
          docs.filter(col("doc_id") % 13 =!= 0),
          docs.filter(col("doc_id") % 13 === 0),
          "doc_id", "text", k = 40)
        .select(col("id").as("doc_id"), col("n_feats"), col("w_micro"),
          col("g_micro"), col("key_micro"), col("selected"))
        .orderBy("doc_id")
    }),

    // per-domain quality cap (top-3 per source by quality, doc_id
    // tie-break): the standard no-domain-dominates step, rank pushed down
    // (WindowGroupLimit). Quality is the oracle-pinned formula from
    // text_quality, so every surviving row and rank is exactly re-derivable.
    "text_source_cap" -> ((s, d) =>
      Corpus.capPerGroup(
          t(s, d, "documents").df
            .withColumn("quality", TextFunctions.qualityScore(col("text"))),
          "source", "quality", "doc_id", cap = 3)
        .select("doc_id", "source", "quality", "rank_in_group")
        .orderBy("doc_id")),

    // deterministic corpus mixing: per-source retention percentages decided
    // by the same md5 bucket arithmetic as split_hash (different salt) — a
    // pure function of (doc_id, salt), row-local, exact DuckDB oracle
    "corpus_mix" -> ((s, d) =>
      Corpus.mixSources(t(s, d, "documents").df, "doc_id", "source", salt = "mix",
          weights = Map("src0" -> 100, "src1" -> 50, "src2" -> 0, "src3" -> 5),
          defaultPct = 25)
        .select("doc_id", "source", "bucket", "retain_pct")
        .orderBy("doc_id")),

    // the former Bloom-prefiltered decontamination twin, kept under its
    // name: it now runs Corpus.decontaminate. The exact broadcast path was
    // the faster of the two (graft.tools.Profile, 4 cores, median of 5
    // runs: sf0.1 0.907 s / 7 jobs vs 1.031 s / 10 jobs; 10x amplified
    // 1.854 s / 7 jobs vs 1.927 s / 10 jobs) and gives identical rows.
    "text_decontaminate_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      Corpus.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_shared_shingles"),
          col("contaminated").cast("long").as("contaminated"))
        .orderBy("doc_id")
    }),

    // the registered native-expression SQL surface end to end under the
    // oracle: a plain spark.sql query over the temp-registered
    // normalize_text (same registry the cluster-deploy extensions path
    // uses), hashed to the dedup key — DuckDB re-derives both columns
    "sql_native_normalize" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      t(s, d, "documents").df.createOrReplaceTempView("__docs_norm")
      s.sql("SELECT doc_id, normalize_text(text) AS norm, " +
        "md5(CAST(normalize_text(text) AS BINARY)) AS norm_hash " +
        "FROM __docs_norm ORDER BY doc_id")
    }),

    // the repetition side of the quality gate from PURE spark.sql: the
    // registered row-local ngram_repetition expression over the registered
    // shingle_hashes — one expression per doc, no explode/shuffle — with
    // the fracs derived in SQL. Oracle: the same string-gram re-derivation
    // as text_repetition (hash grouping ≡ string grouping while the rolled
    // 64-bit hash is collision-free on the corpus vocabulary).
    "sql_native_repetition" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      t(s, d, "documents").df.createOrReplaceTempView("__docs_rep")
      s.sql(
        "SELECT doc_id, r.n_ngrams, r.top_ngram_count, r.dup_ngram_count, " +
        "CASE WHEN r.n_ngrams > 0 THEN CAST(r.top_ngram_count AS DOUBLE) / r.n_ngrams " +
        "ELSE 0.0 END AS top_ngram_frac, " +
        "CASE WHEN r.n_ngrams > 0 THEN CAST(r.dup_ngram_count AS DOUBLE) / r.n_ngrams " +
        "ELSE 0.0 END AS dup_ngram_frac " +
        "FROM (SELECT doc_id, ngram_repetition(" +
        "shingle_hashes(transform(split(text, '\\\\s+'), t -> xxhash64(t)), 2)) AS r " +
        "FROM __docs_rep) ORDER BY doc_id")
    }),

    // the compressed-domain layer from PURE spark.sql: the registered
    // native pq_encode (per-subspace L2 argmin, the codegen'd replacement
    // of the HOF fold) encodes every vector against the trained codebooks,
    // exposed as (vec_id, sub, code). Oracle: DuckDB re-runs both training
    // rounds and re-derives the final assignment (the a3 CTE) from scratch.
    "sql_native_pq_encode" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val emb = t(s, d, "embeddings").df
      val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      cb.createOrReplaceTempView("__pq_cb_enc")
      emb.createOrReplaceTempView("__pq_emb_enc")
      s.sql(
        "WITH cbv AS (SELECT transform(array_sort(collect_list(struct(sub, code, cvec))), " +
        "x -> x.cvec) AS vecs FROM __pq_cb_enc) " +
        "SELECT vec_id, pos AS sub, code FROM " +
        "(SELECT vec_id, pq_encode(embedding, cbv.vecs, 8) AS codes " +
        "FROM __pq_emb_enc CROSS JOIN cbv) " +
        "LATERAL VIEW posexplode(codes) t AS pos, code " +
        "ORDER BY vec_id, sub")
    }),

    // the full ADC top-k from PURE spark.sql: pq_encode for the corpus
    // codes, float_vector_dot for the per-query LUT, pq_adc_score for the
    // m-lookup compressed scan — the exact pqTopK pipeline re-expressed
    // over the registered natives, so its oracle IS sim_topk_pq's.
    "sql_native_pq_adc" -> ((s, d) => {
      graft.GraftExtensions.register(s)
      val emb = t(s, d, "embeddings").df
      val cb = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 8, iters = 2)
      cb.createOrReplaceTempView("__pq_cb_adc")
      emb.createOrReplaceTempView("__pq_emb_adc")
      s.sql(
        "WITH cbs AS (SELECT array_sort(collect_list(struct(sub, code, cvec))) AS cb FROM __pq_cb_adc), " +
        "enc AS (SELECT vec_id, pq_encode(embedding, transform(cbs.cb, x -> x.cvec), 8) AS codes " +
        "FROM __pq_emb_adc CROSS JOIN cbs), " +
        "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM __pq_emb_adc WHERE vec_id < 5), " +
        "lt AS (SELECT query_id, transform(cbs.cb, x -> float_vector_dot(" +
        "slice(query_vec, x.sub * size(x.cvec) + 1, size(x.cvec)), x.cvec)) AS lut " +
        "FROM q CROSS JOIN cbs), " +
        "scored AS (SELECT l.query_id, e.vec_id AS neighbor_id, pq_adc_score(l.lut, e.codes, 8) AS score " +
        "FROM enc e CROSS JOIN lt l WHERE e.vec_id <> l.query_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score " +
        "FROM (SELECT query_id, neighbor_id, score, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
        "WHERE rank <= 10 ORDER BY query_id, rank")
    }),

    // corpus version diff: v1 = %3<>0 slice, v2 = %5<>0 slice with text
    // edited for %11==0 — all four transition statuses engage; the status
    // table is pure hash arithmetic, exactly re-derivable
    "corpus_version_diff" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val v1 = docs.filter(col("doc_id") % 3 =!= 0)
      val v2 = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Corpus.corpusDiff(v1, v2, "doc_id", "text")
        .select(col("id").as("doc_id"), col("status"), col("old_hash"), col("new_hash"))
        .orderBy("doc_id")
    }),

    // deterministic exact-size stratified sample: exactly k docs per
    // language, selected by the md5(id:salt) order — a pure function of the
    // id, so the SET (not just its size) is exactly re-derivable by the
    // oracle, unlike probabilistic sample()/sampleBy()
    "misc_stratified_sample" -> ((s, d) =>
      Corpus.stratifiedSample(t(s, d, "documents").df, "lang", "doc_id",
          salt = "strat", k = 5)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("doc_id")),

    // Gopher-style intra-doc repetition signals over bigrams: counts reduce
    // on rolled 64-bit gram hashes (16-byte shuffle rows, map-side partial
    // agg); the DuckDB oracle re-derives every count from the STRING grams
    // — hash grouping and string grouping agree whenever the rolled hash is
    // collision-free on the corpus vocabulary (same equivalence the
    // decontamination oracle already pins)
    "text_repetition" -> ((s, d) =>
      Corpus.repetitionStats(t(s, d, "documents").df, "doc_id", "text", n = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // C4-style cross-corpus repeated-block removal: non-overlapping 3-token
    // blocks, corpus-wide counts via groupBy(hash) partial agg (no window
    // on the hot hash), canonical first occurrence survives, docs
    // reassembled in block order — exact DuckDB oracle incl. the cleaned
    // text itself
    "text_block_dedup" -> ((s, d) =>
      Corpus.dropRepeatedBlocks(t(s, d, "documents").df, "doc_id", "text",
          blockTokens = 3, maxOccurrences = 1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // the END-TO-END corpus assembly: gate → winnow-dedup keep-canonical →
    // decontaminate → split → per-source cap → shard-pack, as ONE audited
    // run through the metadata layer. The untested surface in a pipeline of
    // individually-green stages is their interaction (the gate's LM trains
    // on exactly this corpus slice, dedup clusters only the gate's
    // survivors, AQE replans across stage boundaries) — every stage is
    // deterministic, so the composition is exact: DuckDB re-runs the whole
    // six-stage pipeline from raw text, including the recursive
    // connected-components canonical election, and every audit row
    // (drop_stage, keep, split, shard_id) must hash-match
    "pipeline_corpus_e2e" -> ((s, d) => {
      import graft.operators.PipelineSyntax._
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 97 =!= 0)
        .assembleCorpus(
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", "source", "lang",
          minTokens = 20L, maxTokens = 100000L,
          maxTopNgramFrac = 0.10, maxDupNgramFrac = 0.15, maxAvgNll = 3.45,
          capPerSource = 5, shardTokens = 200L)
        .orderBy("id").df
    }),

    // the INGESTION micro-batch twin of pipeline_corpus_e2e: the %7==0
    // slice stands in for the already-accepted store (it also trains the
    // frozen gate LM — the realistic artifact), the %7<>0 slice is the
    // arriving batch. Five stages engage: frozen-LM gate, in-batch
    // canonical election, batch-vs-store near-dedup (duplicate_corpus),
    // decontamination, split. Every stage deterministic → exact oracle.
    // one CURATED micro-batch against frozen artifacts: store = ml render
    // of doc_id % 7 = 0 (line precedence), benchmark = raw docs < 100
    // (span excision), vocab frozen from the store, md5 split of the
    // accepted — the full audit row incl. the REWRITTEN final text is
    // re-derived by one chained oracle
    "pipeline_ingest_curated" -> ((s, d) => {
      val ml = multiLineDocs(s, d)
      val docs = t(s, d, "documents").df
      val store = ml.filter(col("doc_id") % 7 === 0)
      val batch = ml.filter(col("doc_id") % 7 =!= 0)
        .join(docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      val bench = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text").as("ml_text"))
      val vocab = Corpus.vocabModel(store, "ml_text", perMille = 5L)
      graft.streaming.Ingest.curateMicroBatch(
          batch, store, bench, vocab, "doc_id", "ml_text", "source", "lang",
          maxOovFrac = 0.025)
        .orderBy("id")
    }),

    "pipeline_ingest_batch" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val store = docs.filter(col("doc_id") % 7 === 0)
      val batch = docs.filter(col("doc_id") % 7 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      graft.streaming.Ingest.assembleMicroBatch(
          batch, store, bench, Corpus.lmCounts(store, "text"),
          "doc_id", "text", "source", "lang",
          minTokens = 20L, maxTokens = 100000L,
          maxTopNgramFrac = 0.10, maxDupNgramFrac = 0.15, maxAvgNll = 3.60)
        .orderBy("id")
    }),

    // --------------------------------------------------------- multimodal
    // frame sampling over binary payloads: row-local slice + explode —
    // exact DuckDB oracle (frame idx/len are integer arithmetic on octet_length)
    "mm_frame_sample" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.attachBinary(t(s, d, "documents").df, "doc_id", "text", "video")
      Multimodal.sampleFrames(media, stride = 2)
        .select("id", "frame_idx", "frame_len")
        .orderBy("id", "frame_idx")
    }),

    // partition-local typed feature extraction (mapPartitions, the JVM
    // analogue of mapInPandas) over REAL audio payloads: the generic decode
    // dispatch routes each doc's deterministic WAV through the from-scratch
    // RIFF parser, so feature 0 is bin 0 of the amplitude histogram over
    // 100 samples — pure integer arithmetic on doc_id, exact DuckDB oracle.
    // (The video stub path stays pinned in MultimodalSpec.)
    "mm_features" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val wavs = Multimodal.encodeDemoWav(t(s, d, "documents").df, "doc_id")
      import wavs.sparkSession.implicits._
      val media = wavs.map(w => Multimodal.MediaRecord(
        w.id, w.wav, Multimodal.MediaMeta("audio", "audio/x-wav", 0, 0, 16000, 1)))
      Multimodal.extractFeatures(media)
        .toDF()
        .select(col("id"), col("modality"), col("dim"),
          round(element_at(col("features"), 1), 6).as("f0"))
        .orderBy("id")
    }),

    // REAL codec round-trip, oracle-checked: ImageIO ENCODES a deterministic
    // 8×8 RGB PNG per doc (pixel i = (doc_id·31+i) mod 256) and DECODES it
    // back into a 16-bin luminance histogram, all partition-local. The pixel
    // function is pure arithmetic on doc_id, so DuckDB re-derives the decoded
    // counts exactly — any codec bug (encode, decode, or the luminance
    // binning) breaks the hash match.
    "mm_image_histogram" -> ((s, d) => {
      import graft.multimodal.Multimodal
      Multimodal.decodedHistogram(
        Multimodal.encodeDemoPng(t(s, d, "documents").df, "doc_id"))
        .toDF()
        .select(col("id").as("doc_id"), col("bin"), col("n"))
        .orderBy("doc_id", "bin")
    }),

    // multimodal ↔ dedup bridge: near-dup detection over the REAL image
    // decode path — luminance histograms become feature vectors and
    // high-cosine pairs are flagged (the pixel generator repeats exactly
    // at id+256, so true duplicate pairs exist at every SF; DuckDB
    // re-derives the histograms by integer arithmetic and the same
    // cosine fold). At corpus scale the pair stage swaps for the LSH /
    // semantic-dedup bucketed variants — the vectors, not the join, are
    // the point here.
    "mm_image_near_dup" -> ((s, d) => {
      import graft.functions.VectorFunctions.cosine
      import graft.multimodal.Multimodal
      val vecs = Multimodal.decodedHistogram(
          Multimodal.encodeDemoPng(t(s, d, "documents").df, "doc_id")).toDF()
        .groupBy(col("id")).agg(
          transform(array_sort(collect_list(struct(col("bin"), col("n")))),
            x => x.getField("n").cast("float")).as("hvec"))
      val a = vecs.select(col("id").as("id_a"), col("hvec").as("va"))
      val b = vecs.select(col("id").as("id_b"), col("hvec").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", cosine(col("va"), col("vb")))
        .filter(col("cos") >= 0.995)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // perceptual-hash near-dup over the REAL PNG decode path: identical
    // pixel patterns (the generator repeats exactly at id+256) MUST land
    // in one hamming-0 pair — identical bytes → identical pHash → shared
    // bands is a structural guarantee, so the oracle pins exact planted
    // recall (the property-flag convention: DCT doubles aren't SQL, the
    // guarantee is)
    "mm_image_phash_neardup" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val ids = t(s, d, "documents").df.select(col("doc_id"))
      val hashes = Multimodal.imagePHashes(
        Multimodal.encodeDemoPng(ids, "doc_id"))
      val found = Multimodal.imageNearDup(hashes, "id", "phash", maxHamming = 0)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val planted = ids.select(col("doc_id").as("id_a"))
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_a") < col("id_b") && (col("id_b") - col("id_a")) % 256 === 0)
      planted.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_identical_pairs"),
          (coalesce(sum(col("hit")), lit(0L)) === count(lit(1)))
            .cast("long").as("recall_ok"))
    }),

    // video near-dup planted recall: the AVI generator repeats exactly at
    // id+256, so same-phase clips share EVERY frame hash (share = 1e6) —
    // identical bytes → identical per-frame pHashes → paired is
    // structural, the property-oracle convention
    "mm_video_phash_neardup" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val ids = t(s, d, "documents").df.select(col("doc_id"))
      val frames = Multimodal.videoPHashes(
        Multimodal.encodeDemoAvi(ids, "doc_id"))
      val found = Multimodal.videoNearDup(frames, "id", "fhash",
          minShareMicro = 1000000L)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val planted = ids.select(col("doc_id").as("id_a"))
        .join(ids.select(col("doc_id").as("id_b")),
          col("id_a") < col("id_b") && (col("id_b") - col("id_a")) % 256 === 0)
      planted.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_identical_pairs"),
          (coalesce(sum(col("hit")), lit(0L)) === count(lit(1)))
            .cast("long").as("recall_ok"))
    }),

    // audio-fingerprint volume invariance over the WHOLE corpus: per doc,
    // a quarter-volume demo clip and its exact 2x-volume twin must
    // fingerprint bit-identically (energies, AC coefficients, and their
    // mean all scale together — the pHash argument in 1D; exact because
    // the doubled samples are exact integer multiples, no clipping at
    // quarter range). Property oracle: every doc passes.
    "mm_audio_fp_invariance" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val session = s
      import session.implicits._
      val fps = t(s, d, "documents").df.select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { ids =>
          val header = Multimodal.wavHeader(Multimodal.DemoWavSamples, 16000)
          def wav(id: Long, vol: Int): Array[Byte] = {
            val pcm = new Array[Byte](Multimodal.DemoWavSamples * 2)
            var i = 0
            while (i < Multimodal.DemoWavSamples) {
              val base = ((((id * 37 + i * 13) % 65536 + 65536) % 65536) - 32768).toInt / 4
              val v = base * vol
              pcm(2 * i) = (v & 0xff).toByte
              pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            val out = new Array[Byte](header.length + pcm.length)
            System.arraycopy(header, 0, out, 0, header.length)
            System.arraycopy(pcm, 0, out, header.length, pcm.length)
            out
          }
          ids.map { id =>
            val a = Multimodal.MediaCodec.audioFingerprint64(wav(id, 1))
            val b = Multimodal.MediaCodec.audioFingerprint64(wav(id, 2))
            (id, a.isDefined && a == b)
          }
        }.toDF("doc_id", "ok")
      fps.agg(count(lit(1)).as("n_docs"),
        (coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)) === count(lit(1)))
          .cast("long").as("all_invariant"))
    }),

    // REAL audio container round-trip, oracle-checked: each doc gets a
    // deterministic 100-sample 16-bit mono PCM WAV (sample i =
    // ((doc_id·37+i·13) mod 65536) − 32768 at 16 kHz; container bytes
    // byte-equality-checked against the JDK's own WAVE writer once per
    // partition) and an independent from-scratch RIFF parser DECODES it
    // back into a 16-bin amplitude histogram, all partition-local. The
    // sample function is pure integer arithmetic on doc_id, so DuckDB
    // re-derives the decoded counts (and the header's sample rate) exactly
    // — a bug in the container layout, the chunk walk, or the little-endian
    // sample unpack breaks the hash match.
    "mm_audio_histogram" -> ((s, d) => {
      import graft.multimodal.Multimodal
      Multimodal.decodedAudioHistogram(
        Multimodal.encodeDemoWav(t(s, d, "documents").df, "doc_id"))
        .toDF()
        .select(col("id").as("doc_id"), col("sampleRate").as("sample_rate"),
          col("bin"), col("n"))
        .orderBy("doc_id", "bin")
    }),

    // REAL video container round-trip, oracle-checked: each doc gets a
    // deterministic 4-frame 8×8 uncompressed-DIB AVI (frame f, pixel i =
    // (doc_id·31 + f·7 + i) mod 256 gray; container from the from-scratch
    // RIFF/AVI writer) and the independent chunk-walker DECODES it back into
    // per-frame 16-bin luminance histograms, with the pixel unpack
    // cross-checked against the JDK's own BMP decoder once per partition.
    // The pixel function is pure integer arithmetic on doc_id, so DuckDB
    // re-derives every decoded count exactly — a bug in the container
    // layout, the LIST/movi walk, the bottom-up BGR unpack, or the
    // luminance binning breaks the hash match.
    "mm_video_histogram" -> ((s, d) => {
      import graft.multimodal.Multimodal
      Multimodal.decodedVideoHistogram(
        Multimodal.encodeDemoAvi(t(s, d, "documents").df, "doc_id"))
        .toDF()
        .select(col("id").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("bin"), col("n"))
        .orderBy("doc_id", "frame_idx", "bin")
    }),

    "mm_binary_meta" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          sha2(col("payload"), 256).as("payload_sha256"))
        .orderBy("doc_id")),
  )

  val oracleSql: Map[String, String] = Map(
    "text_tokencount" ->
      ("SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subtokens " +
       "FROM documents ORDER BY doc_id"),

    "text_tokens_script" ->
      ("WITH p AS (SELECT doc_id + 2000000 AS doc_id, " +
       "'深度学習モデル학습 데이터 ' || substr(text, 1, 40) AS text " +
       "FROM documents WHERE doc_id % 100 = 7), " +
       "u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM p) " +
       "SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws, " +
       s"CAST(len(regexp_extract_all(text, '[$NoSpace]|[^\\s$NoSpace]+')) AS BIGINT) AS n_script " +
       "FROM u ORDER BY doc_id"),

    "text_tokens_script_sea" ->
      ("WITH p AS (SELECT doc_id + 3000000 AS doc_id, " +
       "'สวัสดีชาวโลก ສະບາຍດີ မင်္ဂလာပါ កម្ពុជា ' || substr(text, 1, 40) AS text " +
       "FROM documents WHERE doc_id % 100 = 13), " +
       "u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM p) " +
       "SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws, " +
       s"CAST(len(regexp_extract_all(text, '[$NoSpace]|[^\\s$NoSpace]+')) AS BIGINT) AS n_script " +
       "FROM u ORDER BY doc_id"),

    // both modes re-derived with the identical RE2 classes — \p{M} is the
    // same general-category class in Java regex and RE2
    "text_tokens_grapheme" ->
      ("WITH p AS (SELECT doc_id + 3000000 AS doc_id, " +
       "'สวัสดีชาวโลก ສະບາຍດີ မင်္ဂလာပါ កម្ពុជា ' || substr(text, 1, 40) AS text " +
       "FROM documents WHERE doc_id % 100 = 13), " +
       "u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM p) " +
       "SELECT doc_id, " +
       s"CAST(len(regexp_extract_all(text, '[$NoSpace]|[^\\s$NoSpace]+')) AS BIGINT) AS n_script, " +
       s"CAST(len(regexp_extract_all(text, '[$NoSpace]\\p{M}*|[^\\s$NoSpace]+')) AS BIGINT) AS n_grapheme " +
       "FROM u ORDER BY doc_id"),

    "text_quality" ->
      ("WITH q AS (SELECT doc_id, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents) " +
       "SELECT doc_id, n_tokens, " +
       "round(CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS avg_token_len, " +
       "stopword_hits, " +
       "round(" +
       " CAST(CASE WHEN n_tokens < 5 THEN 0.2 WHEN n_tokens > 5000 THEN 0.3 ELSE 1.0 END AS DOUBLE) * 0.4 + " +
       " CAST(CASE WHEN CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens < 2.0 OR " +
       "       CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens > 12.0 THEN 0.4 ELSE 1.0 END AS DOUBLE) * 0.3 + " +
       " CAST(CASE WHEN CAST(stopword_hits AS DOUBLE) / n_tokens > 0.05 AND " +
       "       CAST(stopword_hits AS DOUBLE) / n_tokens < 0.6 THEN 1.0 ELSE 0.6 END AS DOUBLE) * 0.3, 4) AS quality " +
       "FROM q ORDER BY doc_id"),

    "text_lang_distribution" ->
      ("SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
       "CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_chars " +
       "FROM documents GROUP BY lang ORDER BY lang"),

    "text_fingerprint" ->
      ("SELECT doc_id, CAST(SUM((length(w) * 131 + ascii(w)) * (length(w) + 7)) AS BIGINT) AS fingerprint " +
       "FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) " +
       "GROUP BY doc_id ORDER BY doc_id"),

    // full independent re-derivation: tf/df reduces, smoothed-idf score, and
    // the integer-only (tf desc, df asc, term asc) ranking — so the selected
    // top-k set cannot diverge over a last-ulp ln difference
    "text_tfidf_topterms" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term FROM documents), " +
       "tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''), " +
       "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term), " +
       "dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
       "n AS (SELECT count(*) AS n_docs FROM documents), " +
       "scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfc.df, " +
       "(1.0 + ln(tf.tf)) * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0) AS tfidf " +
       "FROM tf JOIN dfc USING (term) CROSS JOIN n) " +
       "SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, round(tfidf, 6) AS tfidf " +
       "FROM (SELECT doc_id, term, tf, df, tfidf, " +
       "row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rank FROM scored) " +
       "WHERE rank <= 3 ORDER BY doc_id, rank"),

    // per-token log-probs quantized to integer micro-nats before the per-doc
    // sum (exact integer arithmetic — reduce-order-independent on both
    // engines); only the final one-division average and exp are float
    "text_lm_quality" ->
      (LmQualityOracleSql + " ORDER BY d.doc_id"),

    "text_vocab_stats" ->
      ("WITH tok AS (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS term FROM documents), " +
       "tok2 AS (SELECT term FROM tok WHERE term <> ''), " +
       "cnt AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t FROM cnt), " +
       "top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 20), " +
       "r AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rank, " +
       "sum(c) OVER (ORDER BY c DESC, term ROWS UNBOUNDED PRECEDING) AS cum FROM top) " +
       "SELECT CAST(rank AS BIGINT) AS rank, term, c AS n_occurrences, " +
       "round(CAST(c AS DOUBLE) / t, 6) AS frac, " +
       "round(CAST(cum AS DOUBLE) / t, 6) AS cum_frac " +
       "FROM r CROSS JOIN tot ORDER BY rank"),

    // same gram construction as the shingle-family oracles, the portable
    // md5-56 hash, and the same window-minima selection
    "text_winnow" ->
      ("WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "g AS (SELECT doc_id, CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END AS gs FROM toks), " +
       "h AS (SELECT doc_id, list_transform(gs, x -> CAST('0x' || substr(md5(x), 1, 14) AS BIGINT)) AS hs FROM g), " +
       "m AS (SELECT doc_id, CASE WHEN len(hs) < 4 THEN [list_min(hs)] " +
       "ELSE [list_min(hs[i:i+3]) FOR i IN generate_series(1, len(hs)-3)] END AS ms FROM h) " +
       "SELECT doc_id, unnest(list_sort(list_distinct(ms))) AS fp FROM m ORDER BY doc_id, fp"),

    // full re-derivation of the interpolated bigram LM: row-local prev-token
    // context, both count tables, smoothed conditional + unigram mix in the
    // engine's exact arithmetic order, micro-nat integer document sums
    "text_lm_bigram" ->
      ("WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts FROM documents), " +
       "occ AS (SELECT doc_id, ts[i] AS term, CASE WHEN i > 1 THEN ts[i-1] END AS prev " +
       "FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks)), " +
       "cnt1 AS (SELECT term, count(*) AS c1 FROM occ GROUP BY term), " +
       "tot AS (SELECT sum(c1) AS t, count(*) AS v FROM cnt1), " +
       "cnt2 AS (SELECT prev, term, count(*) AS c2 FROM occ WHERE prev IS NOT NULL GROUP BY prev, term), " +
       "scored AS (SELECT o.doc_id, CAST(round(ln(" +
       "CASE WHEN o.prev IS NULL THEN (coalesce(u.c1, 0) + 1.0) / (tot.t + 1.0 * tot.v) " +
       "ELSE 0.7 * ((coalesce(b.c2, 0) + 1.0) / (coalesce(p.c1, 0) + 1.0 * tot.v)) + " +
       "(1 - 0.7) * ((coalesce(u.c1, 0) + 1.0) / (tot.t + 1.0 * tot.v)) END) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM occ o LEFT JOIN cnt1 u USING (term) LEFT JOIN cnt1 p ON o.prev = p.term " +
       "LEFT JOIN cnt2 b ON o.prev = b.prev AND o.term = b.term CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM scored GROUP BY doc_id) " +
       "SELECT d.doc_id, CAST(coalesce(p2.n_tokens, 0) AS BIGINT) AS n_tokens, " +
       "round((-p2.s) / (1000000.0 * p2.n_tokens), 6) AS avg_nll, " +
       "round(exp((-p2.s) / (1000000.0 * p2.n_tokens)), 6) AS ppl " +
       "FROM documents d LEFT JOIN per_doc p2 ON d.doc_id IS NOT DISTINCT FROM p2.doc_id " +
       "ORDER BY d.doc_id"),

    // full independent re-derivation of BOTH signal pipelines (bigram
    // repetition fractions + micro-nat LM scores) and the same five
    // threshold rules; comparisons run on the UNROUNDED deterministic
    // doubles exactly as the engine's do
    "text_quality_gate" ->
      ("WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "g AS (SELECT doc_id, CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+1], ' ') FOR i IN generate_series(1, len(ts)-1)] END AS ng FROM toks), " +
       "e AS (SELECT doc_id, unnest(ng) AS s FROM g), " +
       "c AS (SELECT doc_id, s, count(*) AS c FROM e GROUP BY 1, 2), " +
       "a AS (SELECT doc_id, sum(c) AS t, max(c) AS m, " +
       "coalesce(sum(c) FILTER (c > 1), 0) AS dup FROM c GROUP BY 1), " +
       "tok2 AS (SELECT doc_id, unnest(ts) AS term FROM toks), " +
       "tok3 AS (SELECT doc_id, term FROM tok2 WHERE term <> ''), " +
       "cnt AS (SELECT term, count(*) AS c FROM tok3 GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt), " +
       "scored AS (SELECT tok3.doc_id, " +
       "CAST(round(ln((cnt.c + 1.0) / (tot.t + 1.0 * tot.v)) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM tok3 JOIN cnt USING (term) CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM scored GROUP BY doc_id), " +
       "m AS (SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.m AS DOUBLE) / a.t ELSE 0.0 END AS topf, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.dup AS DOUBLE) / a.t ELSE 0.0 END AS dupf, " +
       "(-p.s) / (1000000.0 * p.n_tokens) AS nll " +
       "FROM documents d LEFT JOIN a USING (doc_id) " +
       "LEFT JOIN per_doc p ON d.doc_id IS NOT DISTINCT FROM p.doc_id), " +
       "r AS (SELECT doc_id, n_tokens, topf, dupf, nll, list_filter([" +
       "CASE WHEN n_tokens < 20 THEN 'too_short' END, " +
       "CASE WHEN n_tokens > 100000 THEN 'too_long' END, " +
       "CASE WHEN topf > 0.10 THEN 'repetitive_top_ngram' END, " +
       "CASE WHEN dupf > 0.15 THEN 'repetitive_dup_ngrams' END, " +
       "CASE WHEN nll IS NULL OR nll > 3.45 THEN 'low_lm_quality' END], x -> x IS NOT NULL) AS rs FROM m) " +
       "SELECT doc_id, n_tokens, round(topf, 6) AS top_ngram_frac, round(dupf, 6) AS dup_ngram_frac, " +
       "round(nll, 6) AS avg_nll, len(rs) = 0 AS keep, CAST(len(rs) AS BIGINT) AS n_reasons, " +
       // array_to_string([]) is NULL in DuckDB; concat_ws gives '' in Spark
       "coalesce(array_to_string(rs, ','), '') AS reasons FROM r ORDER BY doc_id"),

    "dedup_exact_hash" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS dup_count " +
       "FROM documents GROUP BY md5(text) ORDER BY content_hash"),

    // normalize-then-hash: DuckDB's nfc_normalize/lower/regexp collapse
    // mirror the NormalizeText expression's canonical rendering
    "dedup_exact_normalized" ->
      ("SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))) AS content_hash, " +
       "min(doc_id) AS canonical_id, count(*) AS dup_count " +
       "FROM documents GROUP BY 1 ORDER BY content_hash"),

    // same per-lang running token sum; shard = start offset // 5000 (both
    // engines: double division truncated toward zero == floor on
    // non-negative offsets)
    "text_shard_pack" ->
      ("WITH t AS (SELECT doc_id, lang, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens FROM documents) " +
       "SELECT doc_id, lang, n_tokens, " +
       "CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens, " +
       "CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens) // 5000 AS INT) AS shard_id " +
       "FROM t ORDER BY doc_id"),

    // window k covers tokens [k*24+1, k*24+32] (1-based inclusive list
    // slice, clamped), window count = ceil(max(n-32,0)/24)+1
    "text_chunk" ->
      ("WITH c AS (SELECT doc_id, ts, len(ts) AS n, " +
       "(greatest(len(ts) - 32, 0) + 23) // 24 + 1 AS nc " +
       "FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents)) " +
       "SELECT doc_id, CAST(k AS INT) AS chunk_idx, " +
       "CAST(least(32, n - k*24) AS BIGINT) AS n_chunk_tokens, " +
       "array_to_string(ts[k*24+1 : k*24+32], ' ') AS chunk_text " +
       "FROM (SELECT doc_id, ts, n, unnest(range(0, nc)) AS k FROM c) " +
       "ORDER BY doc_id, chunk_idx"),

    // same two-pass replace (emails first, then 7+-digit runs) over the
    // identical rebuilt input; DuckDB needs the explicit 'g' flag Spark
    // applies by default
    "text_pii_redact" ->
      ("WITH w AS (SELECT doc_id, text || ' contact user' || doc_id || " +
       "'@example.com or call 555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2 " +
       "FROM documents) " +
       "SELECT doc_id, " +
       "CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) + " +
       "len(regexp_extract_all(regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
       "'[0-9]{7,}')) AS BIGINT) AS n_pii, " +
       "regexp_replace(regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
       "'[0-9]{7,}', '<NUM>', 'g') AS redacted " +
       "FROM w ORDER BY doc_id"),

    // injections rebuilt, then the three category counts on the original
    // text and the email→phone→ip replacement chain (explicit 'g' flags)
    "text_pii_categories" ->
      ("WITH w AS (SELECT doc_id, text || " +
       "(CASE WHEN doc_id % 3 = 0 THEN ' mail user' || doc_id || '@example.org' ELSE '' END) || " +
       "(CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END) || " +
       "(CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END) AS t2 " +
       "FROM documents) " +
       "SELECT doc_id AS id, " +
       "CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, " +
       "CAST(len(regexp_extract_all(t2, '\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS BIGINT) AS n_phone, " +
       "CAST(len(regexp_extract_all(t2, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip, " +
       "CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) + " +
       "len(regexp_extract_all(t2, '\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) + " +
       "len(regexp_extract_all(t2, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_pii, " +
       "regexp_replace(regexp_replace(regexp_replace(t2, " +
       "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
       "'\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'), " +
       "'([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g') AS text_redacted " +
       "FROM w ORDER BY id"),

    // same 8-token line rendering as the engine query, then
    // first-global-occurrence-keeps by (doc, line idx) rank; docs whose
    // every line is removed reassemble to ''
    "text_line_dedup" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "l AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts), 8)) AS i FROM t), " +
       "l2 AS (SELECT doc_id, CAST((i-1)//8 AS INT) AS idx, array_to_string(ts[i:i+7], ' ') AS line FROM l), " +
       "k AS (SELECT doc_id, idx, line, row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn FROM l2) " +
       "SELECT doc_id AS id, count(*) AS n_lines, " +
       "count(*) FILTER (WHERE rn > 1) AS n_removed_lines, " +
       "coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE rn = 1), '') AS text_deduped " +
       "FROM k GROUP BY doc_id ORDER BY id"),

    // the curated micro-batch chain end to end: store-precedence line
    // dedup (%7 split), span excision vs the <100 raw benchmark with the
    // byte-identity rule, frozen store vocabulary, oov gate at 0.025,
    // md5 split of the accepted
    "pipeline_ingest_curated" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "l AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts), 8)) AS i FROM t), " +
       "l2 AS (SELECT doc_id, CAST((i-1)//8 AS INT) AS idx, array_to_string(ts[i:i+7], ' ') AS line FROM l), " +
       "store AS (SELECT DISTINCT line FROM l2 WHERE doc_id % 7 = 0), " +
       "bl AS (SELECT b.doc_id, b.idx, b.line, (s.line IS NOT NULL) AS dup " +
       "FROM (SELECT * FROM l2 WHERE doc_id % 7 <> 0) b LEFT JOIN store s ON b.line = s.line), " +
       "s1 AS (SELECT doc_id AS id, CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_removed_lines, " +
       "coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT dup), '') AS t1 " +
       "FROM bl GROUP BY doc_id), " +
       "t1tok AS (SELECT id, t1, regexp_split_to_array(t1, '\\s+') AS ts FROM s1), " +
       "bstore AS (SELECT DISTINCT array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
       "(SELECT unnest(range(0, len(ts)-20+1)) AS s, ts FROM " +
       "(SELECT ts FROM t WHERE doc_id < 100) WHERE len(ts) >= 20)), " +
       "w2 AS (SELECT id, s, array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
       "(SELECT id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM t1tok WHERE len(ts) >= 20)), " +
       "rm2 AS (SELECT w2.id, w2.s FROM w2 JOIN bstore ON w2.key = bstore.key), " +
       "tok2 AS (SELECT id, ts, unnest(range(1, len(ts)+1)) AS p FROM t1tok), " +
       "kept2 AS (SELECT tk.id, tk.p, tk.ts[tk.p] AS tok FROM tok2 tk " +
       "WHERE NOT EXISTS (SELECT 1 FROM rm2 WHERE rm2.id = tk.id AND tk.p BETWEEN rm2.s+1 AND rm2.s+20)), " +
       "s2agg AS (SELECT id, count(*) AS n_kept, coalesce(string_agg(tok, ' ' ORDER BY p), '') AS t2 FROM kept2 GROUP BY id), " +
       "rmc2 AS (SELECT id, count(*) AS c FROM rm2 GROUP BY id), " +
       "s2 AS (SELECT t1tok.id, CAST(len(t1tok.ts) - coalesce(s2agg.n_kept, 0) AS BIGINT) AS n_decont_tokens, " +
       "CASE WHEN rmc2.c IS NULL THEN t1tok.t1 ELSE coalesce(s2agg.t2, '') END AS t2 " +
       "FROM t1tok LEFT JOIN s2agg USING (id) LEFT JOIN rmc2 USING (id)), " +
       "vo AS (SELECT w FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 7 = 0) WHERE w <> ''), " +
       "c3 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM vo GROUP BY w), " +
       "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c3), " +
       "v3 AS (SELECT w FROM c3, tt WHERE c * 1000 >= tot * 5), " +
       "o2 AS (SELECT id, w FROM (SELECT id, unnest(regexp_split_to_array(t2, '\\s+')) AS w FROM s2) WHERE w <> ''), " +
       "sc3 AS (SELECT o2.id, CAST(count(*) AS BIGINT) AS n_tok, " +
       "CAST(SUM(CASE WHEN v3.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
       "FROM o2 LEFT JOIN v3 ON o2.w = v3.w GROUP BY o2.id), " +
       "s3 AS (SELECT s2.id, CASE WHEN sc3.id IS NULL THEN 0.0 ELSE round(CAST(sc3.n_oov AS DOUBLE) / sc3.n_tok, 6) END AS oov_frac " +
       "FROM s2 LEFT JOIN sc3 ON s2.id = sc3.id) " +
       "SELECT s1.id, d.source, d.lang, s1.n_removed_lines, s2.n_decont_tokens, s3.oov_frac, " +
       "CASE WHEN s3.oov_frac > 0.025 THEN 'oov' END AS drop_stage, " +
       "s3.oov_frac <= 0.025 AS keep, " +
       "CASE WHEN s3.oov_frac <= 0.025 THEN (" +
       "CASE WHEN CAST(('0x' || substr(md5(s1.id || ':graft'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' " +
       "WHEN CAST(('0x' || substr(md5(s1.id || ':graft'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val' " +
       "ELSE 'test' END) END AS split, " +
       "s2.t2 AS text_final " +
       "FROM s1 JOIN documents d ON d.doc_id = s1.id " +
       "JOIN s2 ON s2.id = s1.id JOIN s3 ON s3.id = s1.id ORDER BY s1.id"),

    // batch lines (docs ≥ 250) flagged against the DISTINCT < 250 line
    // store, then the same reassembly arithmetic
    "text_line_dedup_incremental" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "l AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts), 8)) AS i FROM t), " +
       "l2 AS (SELECT doc_id, CAST((i-1)//8 AS INT) AS idx, array_to_string(ts[i:i+7], ' ') AS line FROM l), " +
       "store AS (SELECT DISTINCT line FROM l2 WHERE doc_id < 250), " +
       "k AS (SELECT b.doc_id, b.idx, b.line, (s.line IS NOT NULL) AS dup " +
       "FROM (SELECT * FROM l2 WHERE doc_id >= 250) b LEFT JOIN store s ON b.line = s.line) " +
       "SELECT doc_id AS id, count(*) AS n_lines, " +
       "count(*) FILTER (WHERE dup) AS n_removed_lines, " +
       "coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT dup), '') AS text_deduped " +
       "FROM k GROUP BY doc_id ORDER BY id"),

    // all 8 training rounds unrolled (bpeRoundsSql), then the merge table
    "text_bpe_train" ->
      ("WITH " + bpeRoundsSql(8) +
       "mm AS (" + (0 until 8).map(r =>
         s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, a||b AS merged, CAST(c AS BIGINT) AS pair_count FROM m$r")
         .mkString(" UNION ALL ") + ") " +
       "SELECT * FROM mm ORDER BY merge_rank"),

    // both batched rounds unrolled (bpeBatchedRoundsSql): recursive greedy
    // candidate scan per round + recursive merge fold, then the accepted
    // pairs in global (round, seq) acceptance order
    "text_bpe_train_batched" ->
      ("WITH RECURSIVE " + bpeBatchedRoundsSql(nMerges = 8, batchSize = 4, window = 32) +
       "mm AS (SELECT CAST(row_number() OVER (ORDER BY rnd, seq) - 1 AS INTEGER) AS merge_rank, " +
       "a AS lhs, b AS rhs, a||b AS merged, CAST(c AS BIGINT) AS pair_count FROM mmb) " +
       "SELECT * FROM mm ORDER BY merge_rank"),

    // the same 8 rounds, then the merge chain applied to every word in
    // doc order and reassembled
    "text_bpe_segment" -> BpeSegmentOracleSql,

    "text_unigram_train" ->
      ("WITH RECURSIVE " + UnigramTrainCtes +
       " SELECT piece, CAST(n AS BIGINT) AS n, score_micro FROM uvocab ORDER BY piece"),

    "text_unigram_fertility" ->
      ("WITH RECURSIVE " + UnigramTrainCtes + ", " +
       "usf AS MATERIALIZED (SELECT piece, score_micro AS sc FROM uvocab), " +
       unigramDpSql("uff", "uwords", "usf") + ", " +
       "ufc AS MATERIALIZED (SELECT w, count(*) AS np FROM uffrec " +
       "WHERE piece IS NOT NULL GROUP BY w), " +
       "lw AS (SELECT lang, substr(tok, 1, 12) AS w, count(*) AS cnt FROM " +
       "(SELECT lang, unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents) " +
       "WHERE tok <> '' GROUP BY 1, 2), " +
       "fr AS (SELECT l.lang, CAST(sum(l.cnt) AS BIGINT) AS n_words, " +
       "CAST(sum(l.cnt * c.np) AS BIGINT) AS n_pieces, " +
       "CAST(sum(l.cnt * len(l.w)) AS BIGINT) AS n_chars " +
       "FROM lw l JOIN ufc c ON c.w = l.w GROUP BY l.lang) " +
       "SELECT lang, n_words, n_pieces, " +
       "CAST(round((CAST(n_pieces AS DOUBLE) * 1e6) / n_words) AS BIGINT) AS fertility_micro, " +
       "CAST(round((CAST(n_chars AS DOUBLE) * 1e6) / n_pieces) AS BIGINT) AS chars_per_piece_micro " +
       "FROM fr ORDER BY lang"),

    "text_unigram_segment" ->
      ("WITH RECURSIVE " + UnigramTrainCtes + ", " +
       "usf AS MATERIALIZED (SELECT piece, score_micro AS sc FROM uvocab), " +
       "sdocs AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks " +
       "FROM documents WHERE doc_id % 50 = 3), " +
       "swords0 AS MATERIALIZED (SELECT doc_id, i AS word_idx, substr(toks[i], 1, 12) AS w " +
       "FROM sdocs CROSS JOIN generate_series(1, 8192) g(i) " +
       "WHERE i <= len(toks) AND toks[i] <> ''), " +
       "segw AS MATERIALIZED (SELECT DISTINCT w, 1 AS cnt FROM swords0), " +
       unigramDpSql("usg", "segw", "usf") + " " +
       "SELECT s.doc_id, CAST(s.word_idx AS BIGINT) AS word_idx, " +
       "CAST(r.start0 + 1 AS BIGINT) AS piece_start, r.piece " +
       "FROM swords0 s JOIN usgrec r ON r.w = s.w WHERE r.piece IS NOT NULL " +
       "ORDER BY doc_id, word_idx, piece_start"),

    // the native-loop path shares the replace-chain derivation VERBATIM:
    // one oracle pins both execution strategies to the same rows
    "text_bpe_segment_fast" -> BpeSegmentOracleSql,

    // identical HTML rebuild, then the GENERIC rule chain re-implemented:
    // script/style strips (two RE2-safe single-tag passes — no
    // backreferences), p/div block extraction, per-block tag-strip +
    // whitespace-collapse, anchor-char link density vs the 0.4 dial,
    // min-15-chars gate, kept blocks rejoined with \n. DuckDB's
    // out-of-range list slice is NULL (Spark's is empty) — coalesced.
    "text_html_extract" ->
      ("WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents), " +
       "h AS (SELECT doc_id, " +
       "'<html><head><title>Doc</title><script>var a=1; track(' || chr(39) || '<p>x</p>' || chr(39) || ');</script>" +
       "<style>p{margin:0}</style></head><body>" +
       "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div><p>' || " +
       "coalesce(array_to_string(w[1:12], ' '), '') || '</p><p>' || " +
       "coalesce(array_to_string(w[13:], ' '), '') || '</p>' || " +
       "CASE WHEN doc_id % 3 = 0 THEN '<div class=\"ads\"><a href=\"x\">Buy cheap</a> " +
       "<a href=\"y\">Best deals</a> <a href=\"z\">Click here</a></div>' ELSE '' END || " +
       "'<div class=\"footer\"><a href=\"/tos\">Terms of Service</a> <a href=\"/priv\">Privacy</a> " +
       "(c) 2026</div></body></html>' AS html FROM base), " +
       "c AS (SELECT doc_id, regexp_replace(regexp_replace(html, " +
       "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS cleaned FROM h), " +
       "b AS (SELECT doc_id, regexp_extract_all(cleaned, '(?is)<(?:p|div)[^>]*>(.*?)</(?:p|div)>', 1) AS blocks FROM c), " +
       "j AS (SELECT doc_id, len(blocks) AS nt, list_transform(blocks, x -> struct_pack(" +
       "txt := trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')), " +
       "ach := coalesce(list_sum(list_transform(regexp_extract_all(x, '(?is)<a[^>]*>(.*?)</a>', 1), " +
       "a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))))), 0))) AS js FROM b), " +
       "k AS (SELECT doc_id, nt, list_filter(js, s2 -> length(s2.txt) >= 15 AND " +
       "CAST(s2.ach AS DOUBLE) <= 0.4 * greatest(length(s2.txt), 1)) AS kept FROM j) " +
       "SELECT doc_id AS id, CAST(nt AS BIGINT) AS n_blocks_total, " +
       "CAST(len(kept) AS BIGINT) AS n_blocks_kept, " +
       "array_to_string(list_transform(kept, s2 -> s2.txt), chr(10)) AS extracted_text " +
       "FROM k ORDER BY id"),

    // identical line rebuild (6-token chunks, cycling suffix, javascript
    // prefix, doc-level injections), then the four line rules and three
    // doc rules verbatim
    "text_c4_filter" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "r AS (SELECT doc_id, list_concat(list_concat(" +
       "[CASE WHEN (doc_id + (i-1)//6) % 7 = 0 THEN 'javascript ' ELSE '' END || " +
       "array_to_string(ts[i:i+5], ' ') || " +
       "['.','?','!',''][CAST((doc_id + (i-1)//6) % 4 AS INT) + 1] " +
       "FOR i IN generate_series(1, len(ts), 6)], " +
       "CASE WHEN doc_id % 23 = 0 THEN ['lorem ipsum.'] ELSE []::VARCHAR[] END), " +
       "CASE WHEN doc_id % 29 = 0 THEN ['code { block.'] ELSE []::VARCHAR[] END) AS lines FROM t), " +
       "f AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS full_text, " +
       "list_filter(lines, l -> right(rtrim(l), 1) IN ('.', '!', '?', '\"') AND " +
       "len(regexp_split_to_array(l, '\\s+')) >= 5 AND NOT contains(lower(l), 'javascript')) AS kept FROM r) " +
       "SELECT doc_id AS id, CAST(len(lines) AS BIGINT) AS n_lines, " +
       "CAST(len(kept) AS BIGINT) AS n_kept_lines, " +
       "(NOT contains(full_text, '{') AND NOT contains(lower(full_text), 'lorem ipsum') " +
       "AND len(kept) >= 3) AS keep, " +
       "coalesce(array_to_string(kept, chr(10)), '') AS text_filtered FROM f ORDER BY id"),

    // per-lang md5-digest order → cumulative token offsets → one row per
    // (doc × intersecting 64-token sequence) with the exact slice bounds
    "text_pack_sequences" ->
      ("WITH t AS (SELECT lang AS shard, doc_id AS id, " +
       "regexp_split_to_array(text, '\\s+') AS ts, md5(doc_id || ':pack') AS d FROM documents), " +
       "c AS (SELECT shard, id, ts, CAST(len(ts) AS BIGINT) AS n, " +
       "CAST(SUM(len(ts)) OVER (PARTITION BY shard ORDER BY d, id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(ts) AS BIGINT) AS off FROM t), " +
       "e AS (SELECT shard, id, ts, n, off, unnest(range(off//64, (off+n-1)//64 + 1)) AS q FROM c) " +
       "SELECT shard, id, q AS seq_id, q - off//64 AS frag_idx, " +
       "greatest(off, q*64) - q*64 AS start_in_seq, " +
       "least(off+n, (q+1)*64) - greatest(off, q*64) AS n_frag_tokens, " +
       "array_to_string(ts[CAST(greatest(off, q*64)-off+1 AS INT) : CAST(least(off+n, (q+1)*64)-off AS INT)], ' ') AS frag_text " +
       "FROM e ORDER BY shard, seq_id, start_in_seq, id"),

    // the four families' own (already-verified) derivations as
    // subqueries, joined per doc exactly as the engine joins the
    // operators — the rules fragment runs on RAW text via the shared
    // source-parameterized body
    "text_quality_profile" ->
      ("SELECT ru.* EXCLUDE (reasons, n_reasons, keep), " +
       "ru.reasons AS rules_reasons, ru.n_reasons AS rules_n_reasons, ru.keep AS rules_keep, " +
       "rp.* EXCLUDE (id, reasons, n_reasons, keep), " +
       "rp.reasons AS rep_reasons, rp.n_reasons AS rep_n_reasons, rp.keep AS rep_keep, " +
       "cs.* EXCLUDE (id), " +
       "lm.n_tokens, lm.avg_nll, lm.ppl, " +
       "ru.keep AND rp.keep AS keep " +
       "FROM (WITH g AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents), " +
       GopherRulesBodySql + ") ru " +
       "JOIN (" + GopherRepetitionOracleSql + ") rp ON ru.id = rp.id " +
       "JOIN (" + CharStatsOracleSql + ") cs ON ru.id = cs.id " +
       "JOIN (" + LmQualityOracleSql + ") lm ON ru.id = lm.doc_id " +
       "ORDER BY ru.id"),

    // per-char histogram → one ln per DISTINCT char → exact micro-nat sum
    "text_char_stats" ->
      (CharStatsOracleSql + " ORDER BY id"),

    // one term reduce → ranked head → quantized log-log points → exact
    // integer OLS sums and one division
    "text_zipf_fit" ->
      ("WITH tok AS (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS term " +
       "FROM documents), " +
       "tc AS (SELECT term, count(*) AS cnt FROM tok WHERE term <> '' GROUP BY term), " +
       "top AS (SELECT cnt FROM (SELECT cnt, term, row_number() OVER " +
       "(ORDER BY cnt DESC, term ASC) AS r FROM tc) WHERE r <= 100), " +
       "q AS (SELECT CAST(round(ln(row_number() OVER (ORDER BY cnt DESC)) " +
       "* 1000000.0) AS BIGINT) AS x, " +
       "CAST(round(ln(cnt) * 1000000.0) AS BIGINT) AS y, cnt FROM top), " +
       "s AS (SELECT count(*) AS n_terms, max(cnt) AS top_count, sum(x) AS sx, " +
       "sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM q) " +
       "SELECT CAST(n_terms AS BIGINT) AS n_terms, " +
       "CAST(top_count AS BIGINT) AS top_count, " +
       "CASE WHEN n_terms * sxx - sx * sx <> 0 THEN " +
       "CAST(round((CAST(n_terms * sxy - sx * sy AS DOUBLE) * 1000000.0) / " +
       "(n_terms * sxx - sx * sx)) AS BIGINT) END AS slope_micro FROM s"),

    // render → the three regexp counts (words non-empty-token, sentence
    // terminator runs, vowel runs clamped up to words) → one quantized
    // Flesch → threshold bands on the quantized long
    "text_readability" ->
      ("WITH rt AS (SELECT doc_id, " +
       // NULL-propagating concat then coalesce — the engine's
       // concat-then-coalesce order, so a NULL text renders as ''
       "coalesce(text || repeat(' stop.', CAST(doc_id % 5 AS INT)), '') AS txt " +
       "FROM documents), " +
       "b AS (SELECT doc_id AS id, " +
       "greatest(1, len(list_filter(regexp_split_to_array(txt, '\\s+'), " +
       "t -> t <> ''))) AS words, " +
       "greatest(1, len(regexp_extract_all(txt, '[.!?]+'))) AS sentences, " +
       "len(regexp_extract_all(lower(txt), '[aeiouy]+')) AS raw_syl FROM rt), " +
       "c AS (SELECT id, CAST(words AS BIGINT) AS words, " +
       "CAST(sentences AS BIGINT) AS sentences, " +
       "CAST(greatest(words, raw_syl) AS BIGINT) AS syllables FROM b), " +
       "f AS (SELECT *, CAST(round((206.835 - " +
       "1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE)) - " +
       "84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))) " +
       "* 1000000.0) AS BIGINT) AS flesch_micro FROM c) " +
       "SELECT id, words, sentences, syllables, flesch_micro, " +
       "CASE WHEN flesch_micro >= 70000000 THEN 'easy' " +
       "WHEN flesch_micro >= 50000000 THEN 'standard' " +
       "ELSE 'difficult' END AS band " +
       "FROM f ORDER BY id"),

    // per n: gram windows → per-doc counts → most-frequent mass (count
    // desc, len desc) for n=2..4 / overlap-once coverage char sums for
    // n=5..10; charLen = length of the separator-free join (= sum of
    // token lengths), matching the engine's documented unit
    "text_gopher_repetition" -> (GopherRepetitionOracleSql + " ORDER BY id"),

    // the structured render re-derived line for line, then every Gopher
    // signal as exact integer arithmetic and the rule list in rule order
    "text_gopher_rules" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "r AS (SELECT doc_id, [" +
       "(CASE WHEN (doc_id + (i-1)//8) % 6 = 0 THEN '- ' ELSE '' END) || " +
       "(CASE WHEN (i-1)//8 = 0 AND doc_id % 3 = 0 THEN 'the of and ' ELSE '' END) || " +
       "array_to_string(ts[i:i+7], ' ') || " +
       "(CASE WHEN (doc_id + (i-1)//8) % 11 = 0 THEN ' ##' ELSE '' END) || " +
       "(CASE WHEN (doc_id + (i-1)//8) % 9 = 0 THEN ' ...' ELSE '' END) " +
       "FOR i IN generate_series(1, len(ts), 8)] AS ls FROM t), " +
       "g AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN b || chr(10)||chr(10) || b ELSE b END AS txt " +
       "FROM (SELECT doc_id, array_to_string(ls, chr(10)) AS b FROM r)), " +
       GopherRulesBodySql + " ORDER BY id"),

    // windows → keeper rank → removed starts → coverage anti-filter →
    // ordered reassembly; docs with <20 tokens never window and pass
    // through byte-identical
    "dedup_substring_spans" ->
      ("WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "w AS (SELECT doc_id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM t WHERE len(ts) >= 20), " +
       "w2 AS (SELECT doc_id, s, array_to_string(ts[s+1:s+20], ' ') AS key FROM w), " +
       "k AS (SELECT doc_id, s, row_number() OVER (PARTITION BY key ORDER BY doc_id, s) AS rn, " +
       "count(*) OVER (PARTITION BY key) AS cnt FROM w2), " +
       "rm AS (SELECT doc_id, s FROM k WHERE cnt > 1 AND rn > 1), " +
       "tok AS (SELECT doc_id, ts, unnest(range(1, len(ts)+1)) AS p FROM t), " +
       "kept AS (SELECT tk.doc_id, tk.p, tk.ts[tk.p] AS tok FROM tok tk " +
       "WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.doc_id = tk.doc_id AND tk.p BETWEEN rm.s+1 AND rm.s+20)), " +
       "agg AS (SELECT doc_id, count(*) AS n_kept, coalesce(string_agg(tok, ' ' ORDER BY p), '') AS txt FROM kept GROUP BY doc_id), " +
       "rmc AS (SELECT doc_id, count(*) AS n_spans FROM rm GROUP BY doc_id) " +
       "SELECT t.doc_id AS id, len(t.ts) AS n_tokens, " +
       "coalesce(rmc.n_spans, 0) AS n_dup_spans, " +
       "len(t.ts) - coalesce(agg.n_kept, 0) AS n_removed_tokens, " +
       "CASE WHEN rmc.n_spans IS NULL THEN t.text ELSE coalesce(agg.txt, '') END AS text_deduped " +
       "FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id LEFT JOIN rmc ON t.doc_id = rmc.doc_id " +
       "ORDER BY id"),

    // the chained curation derivation (line dedup of the >=100 render,
    // span excision vs the <100 raw store, OOV over the cleaned corpus,
    // sqrt-weight epoch quotas) — shared, parameterized helper
    "pipeline_curation_e2e" -> curationOracleSql(plantPii = false),

    // the same chain with the audited PII stage forced on: planted
    // email/phone/IP lines ride the line-dedup and span algebra, masking
    // rewrites between excision and the OOV gate (which therefore trains
    // on and scores the MASKED text), and the audit carries per-category
    // counts
    "pipeline_curation_pii" -> curationOracleSql(plantPii = true),

    // model vocab from the < 250 half at the same relative threshold,
    // then the row-local score of the ≥ 250 half
    "text_vocab_coverage_frozen" ->
      ("WITH o AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w " +
       "FROM documents WHERE doc_id < 250) WHERE w <> ''), " +
       "c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY w), " +
       "t2 AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c), " +
       "v AS (SELECT w FROM c, t2 WHERE c * 1000 >= tot * 5), " +
       "b AS (SELECT id, w FROM (SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\\s+')) AS w " +
       "FROM documents WHERE doc_id >= 250) WHERE w <> ''), " +
       "sc AS (SELECT b.id, CAST(count(*) AS BIGINT) AS n_tokens, " +
       "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
       "FROM b LEFT JOIN v ON b.w = v.w GROUP BY b.id) " +
       "SELECT d.doc_id AS id, coalesce(sc.n_tokens, 0) AS n_tokens, " +
       "coalesce(sc.n_oov, 0) AS n_oov, " +
       "coalesce(round(CAST(sc.n_oov AS DOUBLE) / sc.n_tokens, 6), 0.0) AS oov_frac " +
       "FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d " +
       "LEFT JOIN sc ON d.doc_id = sc.id ORDER BY id"),

    // lowercased token-exact hits against the literal two-term list
    "text_blocklist_filter" ->
      ("SELECT doc_id AS id, " +
       "CAST(len(hits) AS BIGINT) AS n_blocked_hits, " +
       "coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '') AS blocked_terms, " +
       "len(hits) = 0 AS keep FROM " +
       "(SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('merge', 'dup')) AS hits FROM documents) ORDER BY id"),

    // distinct benchmark spans joined to corpus window occurrences,
    // grouped back to the benchmark id; clean items report zeros
    "text_decontaminate_report" ->
      ("WITH b AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents WHERE doc_id < 100), " +
       "c AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents WHERE doc_id >= 100), " +
       "bw AS (SELECT DISTINCT doc_id AS bench_id, array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
       "(SELECT doc_id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM b WHERE len(ts) >= 20)), " +
       "cw AS (SELECT doc_id AS corpus_id, array_to_string(ts[s+1:s+20], ' ') AS key FROM " +
       "(SELECT doc_id, unnest(range(0, len(ts)-20+1)) AS s, ts FROM c WHERE len(ts) >= 20)), " +
       "hits AS (SELECT bench_id, CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_leaked_docs, " +
       "CAST(count(*) AS BIGINT) AS n_leaked_windows FROM bw JOIN cw USING (key) GROUP BY bench_id) " +
       "SELECT b2.doc_id AS bench_id, coalesce(hits.n_leaked_docs, 0) AS n_leaked_docs, " +
       "coalesce(hits.n_leaked_windows, 0) AS n_leaked_windows " +
       "FROM (SELECT doc_id FROM documents WHERE doc_id < 100) b2 " +
       "LEFT JOIN hits ON hits.bench_id = b2.doc_id ORDER BY bench_id"),

    // word counts → relative threshold → frequent set → per-doc OOV join
    "text_vocab_coverage" ->
      ("WITH o2 AS (SELECT id, w FROM (SELECT doc_id AS id, " +
       "unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) WHERE w <> ''), " +
       "c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM o2 GROUP BY w), " +
       "t2 AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c), " +
       "v AS (SELECT w FROM c, t2 WHERE c * 1000 >= tot * 5), " +
       "sc AS (SELECT o2.id, CAST(count(*) AS BIGINT) AS n_tokens, " +
       "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
       "FROM o2 LEFT JOIN v ON o2.w = v.w GROUP BY o2.id) " +
       "SELECT d.doc_id AS id, coalesce(sc.n_tokens, 0) AS n_tokens, " +
       "coalesce(sc.n_oov, 0) AS n_oov, " +
       "coalesce(round(CAST(sc.n_oov AS DOUBLE) / sc.n_tokens, 6), 0.0) AS oov_frac " +
       "FROM documents d LEFT JOIN sc ON d.doc_id = sc.id ORDER BY id"),

    // sqrt-weight quotas capped at n*maxEpochs, digest-order ranks,
    // div/mod repeat split — all integer arithmetic
    "corpus_epoch_mix" ->
      ("WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source), " +
       "w AS (SELECT source, n, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wt FROM c), " +
       "t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w), " +
       "q AS (SELECT source, n AS n_source, CAST(least(n * 2, (600 * wt) // tw) AS BIGINT) AS quota FROM w, t), " +
       "r AS (SELECT doc_id, source, md5(doc_id || ':emix') AS dg FROM documents), " +
       "k AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY dg, doc_id) AS mix_rank FROM r) " +
       "SELECT k.doc_id, k.source, q.n_source, q.quota, CAST(k.mix_rank AS BIGINT) AS mix_rank, " +
       "CAST(q.quota // q.n_source + CASE WHEN k.mix_rank <= q.quota % q.n_source THEN 1 ELSE 0 END AS BIGINT) AS n_repeats " +
       "FROM k JOIN q USING (source) ORDER BY doc_id"),

    // store spans (distinct) from the corpus side, batch windows flagged
    // by membership, coverage anti-filter, ordered reassembly
    "dedup_substring_spans_incremental" -> spanAgainstOracle(250),

    // identical derivation with the benchmark (< 100) as the store
    "text_decontaminate_spans" -> spanAgainstOracle(100),

    // same quality formula, micro-quantized bins, window cumulative
    // counts, integer bucket thresholds
    "corpus_apply_changes" ->
      ("WITH feed AS (" +
       "SELECT doc_id, text, lang, source, n_chars, 'delete' AS op, " +
       "100 + doc_id % 3 AS cts FROM documents WHERE doc_id % 17 = 0 " +
       "UNION ALL SELECT doc_id, text || ' v1', lang, source, n_chars, 'upsert', 50 " +
       "FROM documents WHERE doc_id % 13 = 0 " +
       "UNION ALL SELECT doc_id, text || ' v2', lang, source, n_chars, 'upsert', 60 " +
       "FROM documents WHERE doc_id % 13 = 0 " +
       "UNION ALL SELECT doc_id, text || ' tie', lang, source, n_chars, 'upsert', 70 " +
       "FROM documents WHERE doc_id % 19 = 0 " +
       "UNION ALL SELECT doc_id, text, lang, source, n_chars, 'delete', 70 " +
       "FROM documents WHERE doc_id % 19 = 0 " +
       "UNION ALL SELECT doc_id + 200000, text || ' new', lang, source, n_chars, 'upsert', 10 " +
       "FROM documents WHERE doc_id % 23 = 0), " +
       "w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cts DESC, " +
       "CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC) AS rk FROM feed), " +
       "win AS (SELECT * FROM w WHERE rk = 1), " +
       "kept AS (SELECT d.* FROM documents d LEFT JOIN win ON d.doc_id = win.doc_id " +
       "WHERE win.doc_id IS NULL) " +
       "SELECT doc_id, text, lang, source, n_chars FROM kept " +
       "UNION ALL SELECT doc_id, text, lang, source, n_chars FROM win " +
       "WHERE op = 'upsert' ORDER BY doc_id"),

    "corpus_quantile_normalize_frozen" ->
      ("WITH qq AS (SELECT doc_id, lang, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "s AS (SELECT doc_id AS id, lang AS grp, " + QualityScoreSql + " AS score FROM qq), " +
       "b AS (SELECT id, grp, score, CAST(floor(round(score * 1000000) / 1000) AS BIGINT) AS bin FROM s), " +
       "tb AS (SELECT * FROM b WHERE id < 250), " +
       "h AS (SELECT grp, bin, count(*) AS c FROM tb GROUP BY 1, 2), " +
       "gn AS (SELECT grp, sum(c) AS n FROM h GROUP BY grp), " +
       "gc AS (SELECT grp, bin, c, coalesce(sum(c) OVER (PARTITION BY grp ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM h), " +
       "r AS (SELECT gc.grp, gc.bin, " +
       "((2 * gc.cb + gc.c) * 1000000) // (2 * greatest(gn.n, 1)) AS rank_micro " +
       "FROM gc JOIN gn ON gc.grp = gn.grp), " +
       "gh AS (SELECT bin, sum(c) AS c FROM h GROUP BY bin), " +
       "gcum AS (SELECT bin, coalesce(sum(c) OVER (ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st, " +
       "sum(c) OVER (ORDER BY bin) AS en FROM gh), " +
       "nt AS (SELECT sum(c) AS n FROM gh), " +
       "m AS (SELECT r.grp, r.bin, r.rank_micro, g2.bin * 1000 AS norm " +
       "FROM r CROSS JOIN nt JOIN gcum g2 " +
       "ON least(nt.n - 1, (r.rank_micro * nt.n) // 1000000) >= g2.st " +
       "AND least(nt.n - 1, (r.rank_micro * nt.n) // 1000000) < g2.en) " +
       "SELECT b.id, b.grp AS \"group\", b.score, b.bin, " +
       "CAST(mm.rank_micro AS BIGINT) AS rank_micro, " +
       "CAST(mm.norm AS BIGINT) AS normalized_score_micro " +
       "FROM b LEFT JOIN LATERAL (SELECT m.rank_micro, m.norm FROM m " +
       "WHERE m.grp = b.grp AND m.bin <= b.bin ORDER BY m.bin DESC LIMIT 1) mm " +
       "ON TRUE ORDER BY b.id"),

    "corpus_quantile_normalize" ->
      ("WITH qq AS (SELECT doc_id, lang, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "s AS (SELECT doc_id AS id, lang AS grp, " + QualityScoreSql + " AS score FROM qq), " +
       "b AS (SELECT id, grp, score, CAST(floor(round(score * 1000000) / 1000) AS BIGINT) AS bin FROM s), " +
       "h AS (SELECT grp, bin, count(*) AS c FROM b GROUP BY 1, 2), " +
       "gn AS (SELECT grp, sum(c) AS n FROM h GROUP BY grp), " +
       "gc AS (SELECT grp, bin, c, coalesce(sum(c) OVER (PARTITION BY grp ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM h), " +
       "r AS (SELECT gc.grp, gc.bin, " +
       "((2 * gc.cb + gc.c) * 1000000) // (2 * greatest(gn.n, 1)) AS rank_micro " +
       "FROM gc JOIN gn ON gc.grp = gn.grp), " +
       "gh AS (SELECT bin, sum(c) AS c FROM h GROUP BY bin), " +
       "gcum AS (SELECT bin, coalesce(sum(c) OVER (ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st, " +
       "sum(c) OVER (ORDER BY bin) AS en FROM gh), " +
       "nt AS (SELECT sum(c) AS n FROM gh), " +
       "m AS (SELECT r.grp, r.bin, r.rank_micro, g2.bin * 1000 AS norm " +
       "FROM r CROSS JOIN nt JOIN gcum g2 " +
       "ON least(nt.n - 1, (r.rank_micro * nt.n) // 1000000) >= g2.st " +
       "AND least(nt.n - 1, (r.rank_micro * nt.n) // 1000000) < g2.en) " +
       "SELECT b.id, b.grp AS \"group\", b.score, b.bin, " +
       "CAST(m.rank_micro AS BIGINT) AS rank_micro, " +
       "CAST(m.norm AS BIGINT) AS normalized_score_micro " +
       "FROM b JOIN m ON b.grp = m.grp AND b.bin = m.bin ORDER BY b.id"),

    "corpus_quality_buckets" ->
      ("WITH qq AS (SELECT doc_id, source, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "s AS (SELECT doc_id AS id, " + QualityScoreSql + " AS score FROM qq), " +
       "b AS (SELECT id, score, CAST(floor(round(score * 1000000) / 1000) AS BIGINT) AS bin FROM s), " +
       "h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin), " +
       "m AS (SELECT bin, CAST(least(9, (coalesce(SUM(c) OVER (ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10) // " +
       "(SELECT count(*) FROM b)) AS INT) AS bucket FROM h) " +
       "SELECT b.id, b.score, b.bin, m.bucket FROM b JOIN m USING (bin) ORDER BY b.id"),

    // thresholds = (label, min bin) of each trained bucket ≥ 1 over the
    // < 250 half; batch bucket = LABEL of the largest threshold ≤ its bin
    // (0 when none) — labels ascend with thresholds, so max(bucket) over
    // the qualifying thresholds IS that label; count-of-thresholds would
    // drift on skipped labels (tied scores overfilling a bin)
    "corpus_buckets_frozen" ->
      ("WITH s AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS score FROM documents WHERE doc_id < 250), " +
       "b AS (SELECT id, score, CAST(floor(round(score * 1000000) / 1000000) AS BIGINT) AS bin FROM s), " +
       "h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin), " +
       "m AS (SELECT bin, CAST(least(9, (coalesce(SUM(c) OVER (ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10) // " +
       "(SELECT count(*) FROM b)) AS INT) AS bucket FROM h), " +
       "thr AS (SELECT bucket, min(bin) AS tbin FROM m WHERE bucket >= 1 GROUP BY bucket), " +
       "q AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS score, " +
       "CAST(floor(round(n_chars * 1000000) / 1000000) AS BIGINT) AS bin " +
       "FROM documents WHERE doc_id >= 250) " +
       "SELECT q.id, q.score, q.bin, " +
       "CAST(coalesce((SELECT max(thr.bucket) FROM thr WHERE thr.tbin <= q.bin), 0) AS INT) AS bucket " +
       "FROM q ORDER BY q.id"),

    // the same machinery over a CONTINUOUS score (doc length in chars —
    // the short-to-long curriculum signal): near-equal decile counts,
    // threshold bins landing whole on one side
    "corpus_length_curriculum" ->
      ("WITH s AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS score FROM documents), " +
       "b AS (SELECT id, score, CAST(floor(round(score * 1000000) / 1000000) AS BIGINT) AS bin FROM s), " +
       "h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin), " +
       "m AS (SELECT bin, CAST(least(9, (coalesce(SUM(c) OVER (ORDER BY bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10) // " +
       "(SELECT count(*) FROM b)) AS INT) AS bucket FROM h) " +
       "SELECT b.id, b.score, b.bin, m.bucket FROM b JOIN m USING (bin) ORDER BY b.id"),

    // per-language windowed cumulative deciles over integer char-count bins
    "corpus_lang_curricula" ->
      ("WITH s AS (SELECT doc_id AS id, lang AS grp, CAST(n_chars AS DOUBLE) AS score FROM documents), " +
       "b AS (SELECT id, grp, score, CAST(floor(round(score * 1000000) / 1000000) AS BIGINT) AS bin FROM s), " +
       "h AS (SELECT grp, bin, count(*) AS c FROM b GROUP BY grp, bin), " +
       "t2 AS (SELECT grp, count(*) AS n FROM b GROUP BY grp), " +
       "m AS (SELECT h.grp, h.bin, CAST(least(9, (coalesce(SUM(c) OVER (PARTITION BY h.grp ORDER BY h.bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10) // t2.n) AS INT) AS bucket " +
       "FROM h JOIN t2 USING (grp)) " +
       "SELECT b.id, b.grp AS \"group\", b.score, b.bin, m.bucket " +
       "FROM b JOIN m USING (grp, bin) ORDER BY b.id"),

    // the token-budget greedy prefix IS a running-total window over the
    // (quantized-score DESC, id ASC) order — the Spark histogram/boundary
    // machinery is provably equivalent (the bins above the boundary are
    // exactly the fully-selected ones, the boundary bin's id-prefix is the
    // window's residual), so the oracle states the semantics directly
    "corpus_token_budget" ->
      ("WITH qq AS (SELECT doc_id, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "s AS (SELECT doc_id AS id, " + QualityScoreSql + " AS score, n_tokens FROM qq), " +
       "b AS (SELECT id, score, CAST(floor(round(score * 1000000) / 1000) AS BIGINT) AS bin, " +
       "n_tokens FROM s) " +
       "SELECT id, score, bin, n_tokens, " +
       "CAST(CASE WHEN sum(n_tokens) OVER (ORDER BY bin DESC, id ASC " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 12000 " +
       "THEN 1 ELSE 0 END AS BIGINT) AS selected FROM b ORDER BY id"),

    // per-language token budgets: the same running-total equivalence,
    // partitioned by language (NULL-free here; the operator's NUL-keyed
    // sentinel map and the window's NULL partition agree regardless)
    "corpus_lang_token_budget" ->
      ("WITH qq AS (SELECT doc_id, lang, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "s AS (SELECT doc_id AS id, lang AS grp, " + QualityScoreSql + " AS score, n_tokens FROM qq), " +
       "b AS (SELECT id, grp, score, CAST(floor(round(score * 1000000) / 1000) AS BIGINT) AS bin, " +
       "n_tokens FROM s) " +
       "SELECT id, grp AS \"group\", score, bin, n_tokens, " +
       "CAST(CASE WHEN sum(n_tokens) OVER (PARTITION BY grp ORDER BY bin DESC, id ASC " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 3000 " +
       "THEN 1 ELSE 0 END AS BIGINT) AS selected FROM b ORDER BY id"),

    // soft sampling: identical continuous length score, keep probability
    // min(1, score/0.8), and the same first-8-md5-hex-digits / 2^32
    // uniform draw (explicit DOUBLE casts keep every division in IEEE
    // double on both engines)
    "corpus_soft_sample" ->
      ("WITH s AS (SELECT doc_id AS id, " +
       "CAST(n_chars AS DOUBLE) / CAST(500.0 AS DOUBLE) AS score FROM documents), " +
       "k AS (SELECT id, score, " +
       "least(CAST(1.0 AS DOUBLE), score / CAST(0.8 AS DOUBLE)) AS kp, " +
       "CAST(('0x' || substr(md5(id || ':softsample'), 1, 8)) AS BIGINT) / " +
       "CAST(4294967296 AS DOUBLE) AS u FROM s) " +
       "SELECT id, score, round(kp, 6) AS keep_prob, " +
       "CAST(CASE WHEN u < kp THEN 1 ELSE 0 END AS BIGINT) AS selected " +
       "FROM k ORDER BY id"),

    // the text_lm_quality micro-nat derivation, then quantized avg_nll
    // bins and per-language cumulative terciles; token-less docs drop at
    // the inner join (no LM evidence)
    "text_ccnet_tiers" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term FROM documents), " +
       "tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''), " +
       "cnt AS (SELECT term, count(*) AS c FROM tok2 GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt), " +
       "scored AS (SELECT tok2.doc_id, " +
       "CAST(round(ln((cnt.c + 1.0) / (tot.t + 1.0 * tot.v)) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM tok2 JOIN cnt USING (term) CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM scored GROUP BY doc_id), " +
       "sc AS (SELECT d.doc_id AS id, d.lang AS grp, (-p.s) / (1000000.0 * p.n_tokens) AS score " +
       "FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id), " +
       "b AS (SELECT id, grp, score, CAST(floor(round(score * 1000000) / 1000.0) AS BIGINT) AS bin FROM sc), " +
       "h AS (SELECT grp, bin, count(*) AS c FROM b GROUP BY grp, bin), " +
       "t2 AS (SELECT grp, count(*) AS n FROM b GROUP BY grp), " +
       "m AS (SELECT h.grp, h.bin, CAST(least(2, (coalesce(SUM(c) OVER (PARTITION BY h.grp ORDER BY h.bin " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 3) // t2.n) AS INT) AS tier " +
       "FROM h JOIN t2 USING (grp)) " +
       "SELECT b.id, b.grp AS \"group\", b.score, b.bin, m.tier " +
       "FROM b JOIN m USING (grp, bin) ORDER BY b.id"),

    // hi-Jaccard pairs → recursive-CTE components → quality → election
    // (quality desc, id asc); docs outside every pair are their own
    // component and trivially keep
    "dedup_elect_quality" ->
      ("WITH RECURSIVE " + HiJaccardPairsSql +
       ", edges AS (SELECT id_a AS src, id_b AS dst FROM hi " +
       "UNION SELECT id_b AS src, id_a AS dst FROM hi), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "qq AS (SELECT doc_id, source, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "scored AS (SELECT doc_id, " + QualityScoreSql + " AS quality FROM qq), " +
       "assigned AS (SELECT s.doc_id AS id, coalesce(c.component, s.doc_id) AS component, " +
       "s.quality FROM scored s LEFT JOIN comp c ON c.id = s.doc_id) " +
       "SELECT id, component, quality, elect_rank, elect_rank = 1 AS keep FROM " +
       "(SELECT id, component, quality, " +
       "CAST(row_number() OVER (PARTITION BY component ORDER BY quality DESC, id) AS BIGINT) AS elect_rank " +
       "FROM assigned) ORDER BY id"),

    // exact re-derivation of the blocked shingle-set Jaccard best-match:
    // 3-token shingles (whole text when <3 tokens), block = lang,
    // jaccard = |intersect| / |distinct union|, ties broken on partner id
    "dedup_ngram_jaccard" ->
      ("WITH toks AS (SELECT doc_id, lang, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT doc_id, lang, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
       "pairs AS (SELECT a.doc_id AS id, b.doc_id AS id_b, " +
       "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(a.sh, b.sh))) AS j " +
       "FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id <> b.doc_id) " +
       "SELECT id, id_b AS best_match, round(j, 6) AS jaccard FROM " +
       "(SELECT id, id_b, j, row_number() OVER (PARTITION BY id ORDER BY j DESC, id_b) AS rn " +
       "FROM pairs) WHERE rn = 1 ORDER BY id"),

    // the df-cut under oracle: DuckDB re-derives the CAPPED scores through
    // its own independent df filter (drop shingles with corpus df > 5 before
    // intersecting; set sizes stay full), and PINS the three property flags
    // as literals — a recall miss, a lower-bound breach, or a cap that never
    // engages each turn a 1 into a computed 0 and break the hash
    "dedup_ngram_jaccard_capped" ->
      ("WITH toks AS (SELECT doc_id, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
       "hi AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS exact_j FROM toks a JOIN toks b " +
       "ON a.doc_id < b.doc_id AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8), " +
       "u AS (SELECT doc_id, unnest(sh) AS s FROM toks), " +
       "keep AS (SELECT s FROM u GROUP BY s HAVING count(*) <= 5), " +
       "uk AS (SELECT doc_id, s FROM u SEMI JOIN keep USING (s)), " +
       "sz AS (SELECT doc_id, count(*) AS nsh FROM u GROUP BY doc_id), " +
       "it AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
       "FROM uk a JOIN uk b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
       "capped AS (SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 6) AS capped_j " +
       "FROM it JOIN sz sa ON sa.doc_id = it.id_a JOIN sz sb ON sb.doc_id = it.id_b " +
       "WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.4) " +
       "SELECT h.id_a, h.id_b, h.exact_j, COALESCE(c.capped_j, -1.0) AS capped_j, " +
       "CAST(1 AS BIGINT) AS found, CAST(1 AS BIGINT) AS le_exact, CAST(1 AS BIGINT) AS cap_engaged " +
       "FROM hi h LEFT JOIN capped c USING (id_a, id_b) ORDER BY id_a, id_b"),

    // property oracles for the hash-family paths: DuckDB re-derives the
    // ground-truth pair/query counts exactly from raw text/vectors; the
    // recall columns are structural (MinHash: banding at j≥0.9 is lossless
    // here) or deterministic measured flags (SimHash/LSH recall dials)
    "dedup_minhash_lsh" ->
      ("WITH " + HiJaccardPairsSql +
       "SELECT count(*) AS n_hi_pairs, CAST(1 AS BIGINT) AS cluster_recall_ok, " +
       "CAST(1 AS BIGINT) AS flag_recall_ok FROM hi"),

    "dedup_simhash" ->
      ("WITH " + HiJaccardPairsSql +
       "SELECT count(*) AS n_hi_pairs, CAST(1 AS BIGINT) AS recall_ok FROM hi"),

    "dedup_winnow" ->
      ("WITH " + HiJaccardPairsSql +
       "SELECT count(*) AS n_hi_pairs, CAST(1 AS BIGINT) AS recall_ok FROM hi"),

    "dedup_winnow_cluster" ->
      ("WITH " + HiJaccardPairsSql +
       "SELECT count(*) AS n_hi_pairs, CAST(1 AS BIGINT) AS cluster_recall_exact FROM hi"),

    // exact batch size + exact count of batch docs with a straddling
    // hi-Jaccard corpus partner; zero false matches is structural, the
    // recall flag pins the banding guarantee
    "dedup_incremental" ->
      ("WITH " + HiJaccardPairsSql +
       "SELECT (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS n_batch, " +
       "(SELECT count(DISTINCT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END) FROM hi " +
       "WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)) AS n_expected, " +
       "CAST(0 AS BIGINT) AS n_false_matches, CAST(1 AS BIGINT) AS recall_ok"),

    // row-exact re-derivation: straddling hi-Jaccard pairs (batch =
    // doc_id % 5 == 0, corpus = the rest), matched_id = min corpus partner,
    // best_jaccard = max exact jaccard — every value recomputed from raw
    // text, no property flags needed (recall is the winnowing guarantee,
    // precision is the exact confirm)
    "dedup_winnow_incremental" ->
      ("WITH " + HiJaccardPairsJSql + ", " +
       "straddle AS (SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS b_id, " +
       "CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS c_id, j FROM hi " +
       "WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)), " +
       "m AS (SELECT b_id, min(c_id) AS matched_id, round(max(j), 6) AS best_jaccard " +
       "FROM straddle GROUP BY b_id) " +
       "SELECT d.doc_id AS id, m.matched_id, m.best_jaccard " +
       "FROM documents d LEFT JOIN m ON d.doc_id = m.b_id " +
       "WHERE d.doc_id % 5 = 0 ORDER BY id"),

    "dedup_embedding_cosine" ->
      ("WITH " + CosinePairsSql +
       "SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM pairs WHERE cos >= 0.3"),

    "dedup_embedding_multitable" ->
      ("WITH " + CosinePairsSql +
       "SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM pairs WHERE cos >= 0.3"),

    "dedup_embedding_multiprobe" ->
      ("WITH " + CosinePairsSql +
       "SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM pairs WHERE cos >= 0.3"),

    // straddling subset of the same exact pair CTE (batch = vec_id % 5 = 0
    // on either end); flags constant by the operator's structure — any
    // false positive or sub-0.8 recall changes the Spark aggregate and the
    // hash mismatches
    "dedup_embedding_multiprobe_incremental" ->
      ("WITH " + CosinePairsSql +
       "SELECT count(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM pairs " +
       "WHERE cos >= 0.3 AND ((id_a % 5 = 0) <> (id_b % 5 = 0))"),

    "sim_topk_lsh" ->
      ("SELECT count(*) AS n_queries, CAST(0 AS BIGINT) AS n_below_bound " +
       "FROM embeddings WHERE vec_id < 5"),

    // exact re-derivation of the stopword-profile argmax language-ID:
    // per-profile hit counts over whitespace tokens of lower(text), winner =
    // first profile (en,es,fr,de order) reaching the max, 'en' when all
    // zero, CJK codepoint presence short-circuits to 'zh'
    "text_langid_pred" ->
      ("WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents), " +
       "s AS (SELECT doc_id, text, " +
       "len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','for','it'))) AS h_en, " +
       "len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS h_es, " +
       "len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','est','que'))) AS h_fr, " +
       "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','den','mit'))) AS h_de " +
       "FROM t), " +
       "p AS (SELECT CASE " +
       "WHEN regexp_matches(text, '[一-鿿]') THEN 'zh' " +
       "WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'en' " +
       "WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en' " +
       "WHEN h_es >= h_fr AND h_es >= h_de THEN 'es' " +
       "WHEN h_fr >= h_de THEN 'fr' " +
       "ELSE 'de' END AS pred_lang FROM s) " +
       "SELECT pred_lang, count(*) AS n FROM p GROUP BY pred_lang ORDER BY pred_lang"),

    // deterministic split: DuckDB re-derives the md5 hex-prefix bucket and
    // the threshold labels exactly (hex literal cast, same salt)
    "split_hash" ->
      ("SELECT doc_id, CAST(('0x' || substr(md5(doc_id || ':graft'), 1, 8)) AS BIGINT) % 100 AS bucket, " +
       "CASE WHEN CAST(('0x' || substr(md5(doc_id || ':graft'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' " +
       "WHEN CAST(('0x' || substr(md5(doc_id || ':graft'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val' " +
       "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),

    // temperature mix: per-source counts, micro-quantized sqrt weights,
    // integer floor quotas, and the per-source md5-order rank — DuckDB's
    // // is floor division like Spark's div on these positive integers
    "corpus_temperature_mix" ->
      ("WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
       "w AS (SELECT lang, n, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
       "t AS (SELECT sum(w) AS tw FROM w), " +
       "q AS (SELECT lang, n, CAST(least(n, (200 * w) // t.tw) AS BIGINT) AS keep " +
       "FROM w CROSS JOIN t), " +
       "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
       "ORDER BY md5(doc_id || ':tmix'), doc_id) AS mix_rank FROM documents) " +
       "SELECT r.doc_id, r.lang, CAST(r.mix_rank AS BIGINT) AS mix_rank, " +
       "q.n AS n_source, q.keep AS keep_quota " +
       "FROM r JOIN q USING (lang) WHERE r.mix_rank <= q.keep ORDER BY r.doc_id"),

    // DSIR: hashed-bucket bag counts for both pools, per-occurrence add-1
    // log-ratios in micro-nats (each ln rounded separately, like the
    // engine), per-doc integer sums, the md5-seeded Gumbel key, and the
    // top-40 selection re-ranked with the (key desc, id) tiebreak
    "text_dsir_select" ->
      ("WITH tokq AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ts FROM documents), " +
       "g1 AS (SELECT doc_id, unnest(ts) AS gram FROM tokq), " +
       "g2 AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram FROM " +
       "(SELECT doc_id, ts, unnest(generate_series(1, len(ts)-1)) AS i FROM tokq WHERE len(ts) >= 2)), " +
       "ga AS (SELECT doc_id, CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 4096 AS b " +
       "FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)), " +
       "cp AS (SELECT b, count(*) AS cp FROM ga WHERE doc_id % 13 = 0 GROUP BY b), " +
       "cq AS (SELECT b, count(*) AS cq FROM ga WHERE doc_id % 13 <> 0 GROUP BY b), " +
       "tots AS (SELECT (SELECT coalesce(sum(cp), 0) FROM cp) AS tp, " +
       "(SELECT coalesce(sum(cq), 0) FROM cq) AS tq), " +
       "occ AS (SELECT g.doc_id, " +
       "CAST(round(ln((coalesce(cp.cp, 0) + 1.0) / (t.tp + 1.0 * 4096)) * 1000000) AS BIGINT) - " +
       "CAST(round(ln((coalesce(cq.cq, 0) + 1.0) / (t.tq + 1.0 * 4096)) * 1000000) AS BIGINT) AS llr " +
       "FROM ga g LEFT JOIN cp USING (b) LEFT JOIN cq USING (b) CROSS JOIN tots t " +
       "WHERE g.doc_id % 13 <> 0), " +
       "pd AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(llr) AS BIGINT) AS w FROM occ GROUP BY doc_id), " +
       "sc AS (SELECT d.doc_id, coalesce(pd.n_feats, 0) AS n_feats, CAST(coalesce(pd.w, 0) AS BIGINT) AS w_micro, " +
       "CAST(round(-ln(-ln(((CAST(('0x' || substr(md5(d.doc_id || ':dsir'), 1, 8)) AS BIGINT) % 1000000) + 0.5) / 1000000.0)) * 1000000) AS BIGINT) AS g_micro " +
       "FROM (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0) d LEFT JOIN pd USING (doc_id)), " +
       "rk AS (SELECT doc_id, n_feats, w_micro, g_micro, w_micro + g_micro AS key_micro, " +
       "row_number() OVER (ORDER BY w_micro + g_micro DESC, doc_id) AS rn FROM sc) " +
       "SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, w_micro, g_micro, key_micro, " +
       "rn <= 40 AS selected FROM rk ORDER BY doc_id"),

    // decontamination: per-doc count of distinct shingles shared with the
    // benchmark union set — plain string-shingle set arithmetic
    "text_decontaminate" ->
      ("WITH toks AS (SELECT doc_id, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
       "bench AS (SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 97 = 0), " +
       "corp AS (SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 97 <> 0), " +
       "ov AS (SELECT doc_id, count(*) AS n FROM corp SEMI JOIN bench USING (s) GROUP BY doc_id) " +
       "SELECT t.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_shared_shingles, " +
       "CAST(COALESCE(ov.n, 0) >= 1 AS BIGINT) AS contaminated " +
       "FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) t " +
       "LEFT JOIN ov USING (doc_id) ORDER BY doc_id"),

    // per-source cap: the text_quality formula feeding a partitioned
    // row_number with the same (quality DESC, doc_id) tie-break
    "text_source_cap" ->
      ("WITH q AS (SELECT doc_id, source, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits " +
       "FROM documents), " +
       "scored AS (SELECT doc_id, source, " + QualityScoreSql + " AS quality " +
       "FROM q), " +
       "ranked AS (SELECT doc_id, source, quality, " +
       "row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank_in_group FROM scored) " +
       "SELECT doc_id, source, quality, CAST(rank_in_group AS BIGINT) AS rank_in_group " +
       "FROM ranked WHERE rank_in_group <= 3 ORDER BY doc_id"),

    // SAME oracle as text_decontaminate: the query runs the same operator
    // (the Bloom twin was removed; the exact path measured faster — 4
    // cores, sf0.1 0.907 s vs 1.031 s, 10x 1.854 s vs 1.927 s median)
    "text_decontaminate_bloom" ->
      ("WITH toks AS (SELECT doc_id, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
       "bench AS (SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 97 = 0), " +
       "corp AS (SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 97 <> 0), " +
       "ov AS (SELECT doc_id, count(*) AS n FROM corp SEMI JOIN bench USING (s) GROUP BY doc_id) " +
       "SELECT t.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_shared_shingles, " +
       "CAST(COALESCE(ov.n, 0) >= 1 AS BIGINT) AS contaminated " +
       "FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) t " +
       "LEFT JOIN ov USING (doc_id) ORDER BY doc_id"),

    // SQL-surface normalize: the canonical rendering and its dedup key,
    // re-derived per row
    "sql_native_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm, " +
       "md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))) AS norm_hash " +
       "FROM documents ORDER BY doc_id"),

    // SQL-surface repetition: identical math to text_repetition's oracle
    // (the Spark side differs — registered row-local expression vs the
    // operator's explode+groupBy — but the counts are the same integers)
    "sql_native_repetition" ->
      ("WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "g AS (SELECT doc_id, CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+1], ' ') FOR i IN generate_series(1, len(ts)-1)] END AS ng FROM toks), " +
       "e AS (SELECT doc_id, unnest(ng) AS s FROM g), " +
       "c AS (SELECT doc_id, s, count(*) AS c FROM e GROUP BY 1, 2), " +
       "a AS (SELECT doc_id, sum(c) AS t, max(c) AS m, " +
       "coalesce(sum(c) FILTER (c > 1), 0) AS dup FROM c GROUP BY 1) " +
       "SELECT d.doc_id, CAST(coalesce(a.t, 0) AS BIGINT) AS n_ngrams, " +
       "CAST(coalesce(a.m, 0) AS BIGINT) AS top_ngram_count, " +
       "CAST(coalesce(a.dup, 0) AS BIGINT) AS dup_ngram_count, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.m AS DOUBLE) / a.t ELSE 0.0 END AS top_ngram_frac, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.dup AS DOUBLE) / a.t ELSE 0.0 END AS dup_ngram_frac " +
       "FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id"),

    // version diff: the same hash arithmetic over both slices with a FULL
    // OUTER join; null-safe hash compare decides changed vs unchanged
    "corpus_version_diff" ->
      ("WITH v1 AS (SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id % 3 <> 0), " +
       "v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS new_hash " +
       "FROM documents WHERE doc_id % 5 <> 0) " +
       "SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, " +
       "CASE WHEN v1.doc_id IS NULL THEN 'added' " +
       "WHEN v2.doc_id IS NULL THEN 'removed' " +
       "WHEN v1.old_hash IS DISTINCT FROM v2.new_hash THEN 'changed' " +
       "ELSE 'unchanged' END AS status, v1.old_hash, v2.new_hash " +
       "FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id ORDER BY doc_id"),

    // stratified sample: the md5(id:salt) per-stratum order re-derived
    // exactly — rank and the selected set are both pinned
    "misc_stratified_sample" ->
      ("WITH r AS (SELECT doc_id, lang, row_number() OVER (" +
       "PARTITION BY lang ORDER BY md5(doc_id || ':strat'), doc_id) AS sample_rank " +
       "FROM documents) " +
       "SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank " +
       "FROM r WHERE sample_rank <= 5 ORDER BY doc_id"),

    // corpus mixing: the split_hash md5 bucket (salt 'mix') against a
    // per-source retention CASE — every kept row re-derived exactly
    "corpus_mix" ->
      ("WITH b AS (SELECT doc_id, source, " +
       "CAST(('0x' || substr(md5(doc_id || ':mix'), 1, 8)) AS BIGINT) % 100 AS bucket, " +
       "CAST(CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 0 " +
       "WHEN 'src3' THEN 5 ELSE 25 END AS BIGINT) AS retain_pct FROM documents) " +
       "SELECT doc_id, source, bucket, retain_pct FROM b WHERE bucket < retain_pct " +
       "ORDER BY doc_id"),

    // repetition signals: string-bigram counts (short docs = one whole-text
    // gram, the shingle convention), integer-exact fractions
    "text_repetition" ->
      ("WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "g AS (SELECT doc_id, CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+1], ' ') FOR i IN generate_series(1, len(ts)-1)] END AS ng FROM toks), " +
       "e AS (SELECT doc_id, unnest(ng) AS s FROM g), " +
       "c AS (SELECT doc_id, s, count(*) AS c FROM e GROUP BY 1, 2), " +
       "a AS (SELECT doc_id, sum(c) AS t, max(c) AS m, " +
       "coalesce(sum(c) FILTER (c > 1), 0) AS dup FROM c GROUP BY 1) " +
       "SELECT d.doc_id, CAST(coalesce(a.t, 0) AS BIGINT) AS n_ngrams, " +
       "CAST(coalesce(a.m, 0) AS BIGINT) AS top_ngram_count, " +
       "CAST(coalesce(a.dup, 0) AS BIGINT) AS dup_ngram_count, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.m AS DOUBLE) / a.t ELSE 0.0 END AS top_ngram_frac, " +
       "CASE WHEN coalesce(a.t, 0) > 0 THEN CAST(a.dup AS DOUBLE) / a.t ELSE 0.0 END AS dup_ngram_frac " +
       "FROM documents d LEFT JOIN a USING (doc_id) ORDER BY doc_id"),

    // repeated-block removal: DuckDB forms the same non-overlapping 3-token
    // blocks, ranks occurrences by (doc_id, idx) per block TEXT, keeps
    // singletons plus each repeat's first occurrence, and reassembles the
    // cleaned text with an ordered string_agg
    "text_block_dedup" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM documents), " +
       "n AS (SELECT doc_id, ts, CAST((len(ts) + 2) // 3 AS BIGINT) AS nb FROM t), " +
       "b AS (SELECT doc_id, idx, array_to_string(ts[idx*3+1 : idx*3+3], ' ') AS blk " +
       "FROM (SELECT doc_id, ts, unnest(generate_series(0, CAST(nb AS INT) - 1)) AS idx FROM n)), " +
       "k AS (SELECT doc_id, idx, blk, count(*) OVER (PARTITION BY blk) AS cnt, " +
       "row_number() OVER (PARTITION BY blk ORDER BY doc_id, idx) AS rn FROM b), " +
       "r AS (SELECT doc_id, string_agg(blk, ' ' ORDER BY idx) AS text_clean, " +
       "count(*) AS n_kept FROM k WHERE cnt <= 1 OR rn = 1 GROUP BY doc_id) " +
       "SELECT n.doc_id, CASE WHEN n.nb > 0 THEN coalesce(r.text_clean, '') END AS text_clean, " +
       "coalesce(n.nb, 0) AS n_blocks, coalesce(n.nb, 0) - coalesce(r.n_kept, 0) AS n_blocks_dropped " +
       "FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id"),

    // full from-scratch re-run of the SIX-stage assembly over the same
    // corpus slice: gate (bigram repetition + micro-nat unigram LM trained
    // on the slice) → hi-Jaccard pairs among the gate's survivors →
    // recursive connected components → canonical election → benchmark
    // decontamination → md5 split → per-source quality cap → per-(split,
    // lang) shard packing — then the identical first-failing-stage
    // attribution per input doc. Every stage reuses a fragment proven by
    // its standalone oracle (text_quality_gate / dedup_cc_exact /
    // text_decontaminate / text_source_cap / split_hash / text_shard_pack).
    "pipeline_corpus_e2e" ->
      ("WITH RECURSIVE " +
       "corp AS (SELECT doc_id, text, source, lang FROM documents WHERE doc_id % 97 <> 0), " +
       // stage 1: quality gate (text_quality_gate form, over corp)
       "ts0 AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM corp), " +
       "g0 AS (SELECT doc_id, CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+1], ' ') FOR i IN generate_series(1, len(ts)-1)] END AS ng FROM ts0), " +
       "e0 AS (SELECT doc_id, unnest(ng) AS s FROM g0), " +
       "c0 AS (SELECT doc_id, s, count(*) AS c FROM e0 GROUP BY 1, 2), " +
       "a0 AS (SELECT doc_id, sum(c) AS t, max(c) AS m, " +
       "coalesce(sum(c) FILTER (c > 1), 0) AS dup FROM c0 GROUP BY 1), " +
       "tok2 AS (SELECT doc_id, unnest(ts) AS term FROM ts0), " +
       "tok3 AS (SELECT doc_id, term FROM tok2 WHERE term <> ''), " +
       "cnt AS (SELECT term, count(*) AS c FROM tok3 GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt), " +
       "lp AS (SELECT tok3.doc_id, CAST(round(ln((cnt.c + 1.0) / (tot.t + 1.0 * tot.v)) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM tok3 JOIN cnt USING (term) CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM lp GROUP BY doc_id), " +
       "gatek AS (SELECT corp.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, " +
       "(coalesce(p.n_tokens, 0) >= 20 AND coalesce(p.n_tokens, 0) <= 100000 " +
       "AND (CASE WHEN coalesce(a0.t, 0) > 0 THEN CAST(a0.m AS DOUBLE) / a0.t ELSE 0.0 END) <= 0.10 " +
       "AND (CASE WHEN coalesce(a0.t, 0) > 0 THEN CAST(a0.dup AS DOUBLE) / a0.t ELSE 0.0 END) <= 0.15 " +
       "AND p.s IS NOT NULL AND (-p.s) / (1000000.0 * p.n_tokens) <= 3.45) AS gate_keep " +
       "FROM corp LEFT JOIN a0 USING (doc_id) LEFT JOIN per_doc p ON corp.doc_id IS NOT DISTINCT FROM p.doc_id), " +
       "kept1 AS (SELECT corp.* FROM corp JOIN gatek USING (doc_id) WHERE gate_keep), " +
       // stage 2: hi-Jaccard pairs among survivors → recursive CC → canonical
       "sh1 AS (SELECT * FROM " + shSetSql("kept1") + "), " +
       "hi AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM sh1 x JOIN sh1 y " +
       "ON x.doc_id < y.doc_id AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8), " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM hi UNION SELECT id_b AS src, id_a AS dst FROM hi), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "dd AS (SELECT k.doc_id, (c2.component IS NULL OR c2.component = k.doc_id) AS canonical " +
       "FROM kept1 k LEFT JOIN comp c2 USING (doc_id)), " +
       "kept2 AS (SELECT kept1.* FROM kept1 JOIN dd USING (doc_id) WHERE canonical), " +
       // stage 3: decontamination against the benchmark slice
       "bsh AS (SELECT DISTINCT unnest(sh) AS s FROM " +
       shSetSql("(SELECT * FROM documents WHERE doc_id % 97 = 0)") + "), " +
       "csh AS (SELECT doc_id, unnest(sh) AS s FROM " + shSetSql("kept2") + "), " +
       "ov AS (SELECT doc_id, count(*) AS n FROM csh SEMI JOIN bsh USING (s) GROUP BY doc_id), " +
       "dec AS (SELECT kept2.doc_id, coalesce(ov.n, 0) >= 1 AS contaminated " +
       "FROM kept2 LEFT JOIN ov USING (doc_id)), " +
       "kept3 AS (SELECT kept2.* FROM kept2 JOIN dec USING (doc_id) WHERE NOT contaminated), " +
       // stages 4/5: per-source quality cap, then the md5 split
       "q3 AS (SELECT doc_id, source, text, " +
       "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens, " +
       "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), " +
       "t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS stopword_hits FROM kept3), " +
       "sc3 AS (SELECT doc_id, source, " + QualityScoreSql + " AS quality FROM q3), " +
       "rk AS (SELECT doc_id, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rg FROM sc3), " +
       "kept4 AS (SELECT kept3.* FROM kept3 JOIN rk USING (doc_id) WHERE rg <= 5), " +
       "spl AS (SELECT doc_id, lang, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split " +
       "FROM (SELECT doc_id, lang, CAST(('0x' || substr(md5(doc_id || ':graft'), 1, 8)) AS BIGINT) % 100 AS b FROM kept4)), " +
       // stage 6: shard packing per (split, lang) block
       "packed AS (SELECT s2.doc_id, s2.split, " +
       "CAST((SUM(gk2.n_tokens) OVER (PARTITION BY s2.split, s2.lang ORDER BY s2.doc_id) - gk2.n_tokens) // 200 AS INT) AS shard_id " +
       "FROM spl s2 JOIN gatek gk2 USING (doc_id)) " +
       // audit: first-failing-stage attribution, one row per input doc
       "SELECT corp.doc_id AS id, corp.source, corp.lang, gk.n_tokens, " +
       "CASE WHEN NOT gk.gate_keep THEN 'quality' " +
       "WHEN NOT coalesce(d2.canonical, FALSE) THEN 'duplicate' " +
       "WHEN dc.contaminated THEN 'contaminated' " +
       "WHEN k4.doc_id IS NULL THEN 'capped' END AS drop_stage, " +
       "p.split IS NOT NULL AS keep, p.split, p.shard_id " +
       "FROM corp " +
       "JOIN gatek gk ON corp.doc_id = gk.doc_id " +
       "LEFT JOIN dd d2 ON corp.doc_id = d2.doc_id " +
       "LEFT JOIN dec dc ON corp.doc_id = dc.doc_id " +
       "LEFT JOIN (SELECT doc_id FROM rk WHERE rg <= 5) k4 ON corp.doc_id = k4.doc_id " +
       "LEFT JOIN packed p ON corp.doc_id = p.doc_id " +
       "ORDER BY id"),

    // ingestion micro-batch: the e2e oracle's stage algebra with three
    // swaps — the LM counts come from the %7==0 store (LEFT JOIN: OOV
    // scores with c=0), a batch-vs-store hi-Jaccard stage labels
    // duplicate_corpus, and there is no cap/shard (global stages are
    // batch-side by contract)
    "pipeline_ingest_batch" ->
      ("WITH RECURSIVE " +
       "store AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0), " +
       "corp AS (SELECT doc_id, text, source, lang FROM documents WHERE doc_id % 7 <> 0), " +
       // gate repetition signals over the batch
       "ts0 AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM corp), " +
       "g0 AS (SELECT doc_id, CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+1], ' ') FOR i IN generate_series(1, len(ts)-1)] END AS ng FROM ts0), " +
       "e0 AS (SELECT doc_id, unnest(ng) AS s FROM g0), " +
       "c0 AS (SELECT doc_id, s, count(*) AS c FROM e0 GROUP BY 1, 2), " +
       "a0 AS (SELECT doc_id, sum(c) AS t, max(c) AS m, " +
       "coalesce(sum(c) FILTER (c > 1), 0) AS dup FROM c0 GROUP BY 1), " +
       // the FROZEN LM: counts from the store, batch tokens LEFT-join them
       "stok AS (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS term FROM store), " +
       "cnt AS (SELECT term, count(*) AS c FROM stok WHERE term <> '' GROUP BY term), " +
       "tot AS (SELECT sum(c) AS t, count(*) AS v FROM cnt), " +
       "tok2 AS (SELECT doc_id, unnest(ts) AS term FROM ts0), " +
       "tok3 AS (SELECT doc_id, term FROM tok2 WHERE term <> ''), " +
       "lp AS (SELECT tok3.doc_id, CAST(round(ln((coalesce(cnt.c, 0) + 1.0) / (tot.t + 1.0 * tot.v)) * 1000000) AS BIGINT) AS micro_lp " +
       "FROM tok3 LEFT JOIN cnt USING (term) CROSS JOIN tot), " +
       "per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(micro_lp) AS s FROM lp GROUP BY doc_id), " +
       "gatek AS (SELECT corp.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, " +
       "(coalesce(p.n_tokens, 0) >= 20 AND coalesce(p.n_tokens, 0) <= 100000 " +
       "AND (CASE WHEN coalesce(a0.t, 0) > 0 THEN CAST(a0.m AS DOUBLE) / a0.t ELSE 0.0 END) <= 0.10 " +
       "AND (CASE WHEN coalesce(a0.t, 0) > 0 THEN CAST(a0.dup AS DOUBLE) / a0.t ELSE 0.0 END) <= 0.15 " +
       "AND p.s IS NOT NULL AND (-p.s) / (1000000.0 * p.n_tokens) <= 3.60) AS gate_keep " +
       "FROM corp LEFT JOIN a0 USING (doc_id) LEFT JOIN per_doc p ON corp.doc_id IS NOT DISTINCT FROM p.doc_id), " +
       "kept1 AS (SELECT corp.* FROM corp JOIN gatek USING (doc_id) WHERE gate_keep), " +
       // in-batch canonical election among gate survivors
       "sh1 AS (SELECT * FROM " + shSetSql("kept1") + "), " +
       "hi AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM sh1 x JOIN sh1 y " +
       "ON x.doc_id < y.doc_id AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8), " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM hi UNION SELECT id_b AS src, id_a AS dst FROM hi), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "dd AS (SELECT k.doc_id, (c2.component IS NULL OR c2.component = k.doc_id) AS canonical " +
       "FROM kept1 k LEFT JOIN comp c2 USING (doc_id)), " +
       "kept2 AS (SELECT kept1.* FROM kept1 JOIN dd USING (doc_id) WHERE canonical), " +
       // batch-vs-store near-dedup: any store doc at Jaccard >= 0.8
       "shk AS (SELECT * FROM " + shSetSql("kept2") + "), " +
       "shs AS (SELECT * FROM " + shSetSql("store") + "), " +
       "cm AS (SELECT DISTINCT x.doc_id FROM shk x JOIN shs y " +
       "ON CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / " +
       "len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8), " +
       "kept3 AS (SELECT kept2.* FROM kept2 ANTI JOIN cm USING (doc_id)), " +
       // decontamination against the benchmark slice
       "bsh AS (SELECT DISTINCT unnest(sh) AS s FROM " +
       shSetSql("(SELECT * FROM documents WHERE doc_id % 97 = 0)") + "), " +
       "csh AS (SELECT doc_id, unnest(sh) AS s FROM " + shSetSql("kept3") + "), " +
       "ov AS (SELECT doc_id, count(*) AS n FROM csh SEMI JOIN bsh USING (s) GROUP BY doc_id), " +
       "dec AS (SELECT kept3.doc_id, coalesce(ov.n, 0) >= 1 AS contaminated " +
       "FROM kept3 LEFT JOIN ov USING (doc_id)), " +
       "kept4 AS (SELECT kept3.* FROM kept3 JOIN dec USING (doc_id) WHERE NOT contaminated), " +
       // deterministic split of the accepted docs
       "spl AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split " +
       "FROM (SELECT doc_id, CAST(('0x' || substr(md5(doc_id || ':graft'), 1, 8)) AS BIGINT) % 100 AS b FROM kept4)) " +
       // audit: first-failing-stage attribution, one row per batch doc
       "SELECT corp.doc_id AS id, corp.source, corp.lang, gk.n_tokens, " +
       "CASE WHEN NOT gk.gate_keep THEN 'quality' " +
       "WHEN NOT coalesce(d2.canonical, FALSE) THEN 'duplicate' " +
       "WHEN cm2.doc_id IS NOT NULL THEN 'duplicate_corpus' " +
       "WHEN dc.contaminated THEN 'contaminated' END AS drop_stage, " +
       "p.split IS NOT NULL AS keep, p.split " +
       "FROM corp " +
       "JOIN gatek gk ON corp.doc_id = gk.doc_id " +
       "LEFT JOIN dd d2 ON corp.doc_id = d2.doc_id " +
       "LEFT JOIN cm cm2 ON corp.doc_id = cm2.doc_id " +
       "LEFT JOIN dec dc ON corp.doc_id = dc.doc_id " +
       "LEFT JOIN spl p ON corp.doc_id = p.doc_id " +
       "ORDER BY id"),

    // frame sampling is pure integer arithmetic on the payload byte length:
    // nFrames = len%30+1, frameLen = max(len//nFrames, 1), keep even frame
    // idx; the last frame of a short (<30-byte) payload can run past the end
    // and clamp (possibly to zero bytes) — the CASE reproduces the substr
    // clamping exactly
    "mm_frame_sample" ->
      ("WITH f AS (SELECT doc_id, len, len % 30 + 1 AS nf, greatest(len // (len % 30 + 1), 1) AS fl " +
       "FROM (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS len FROM documents)), " +
       "g AS (SELECT doc_id, len, fl, unnest(range(0, nf)) AS i FROM f) " +
       "SELECT doc_id AS id, CAST(i AS INT) AS frame_idx, " +
       "CAST(CASE WHEN (i + 1) * fl <= len THEN fl ELSE greatest(len - i * fl, 0) END AS BIGINT) AS frame_len " +
       "FROM g WHERE i % 2 = 0 ORDER BY id, frame_idx"),

    // group-level sketch: the k=64 MinHash estimate has no DuckDB twin, but
    // the declared output is the EXACT per-source shingle-set Jaccard (same
    // string-shingle arithmetic as HiJaccardPairsSql, aggregated per source)
    // plus a deterministic 4σ tolerance flag on the estimate (SE ≤ 0.0625,
    // measured max error 0.05 at sf0.01) — DuckDB re-derives every exact
    // cell and pins the flag
    "dedup_source_sketch_sim" ->
      ("WITH toks AS (SELECT source, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT source, text, regexp_split_to_array(text, '\\s+') AS ts FROM documents)), " +
       "u AS (SELECT DISTINCT source, s FROM (SELECT source, unnest(sh) AS s FROM toks)), " +
       "sz AS (SELECT source, count(*) AS nsh FROM u GROUP BY source), " +
       "it AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS i " +
       "FROM u a JOIN u b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2) " +
       "SELECT sa.source AS src_a, sb.source AS src_b, " +
       "round(CAST(COALESCE(it.i, 0) AS DOUBLE) / (sa.nsh + sb.nsh - COALESCE(it.i, 0)), 6) AS exact_jaccard, " +
       "CAST(1 AS BIGINT) AS est_ok " +
       "FROM sz sa JOIN sz sb ON sa.source < sb.source " +
       "LEFT JOIN it ON it.src_a = sa.source AND it.src_b = sb.source " +
       "ORDER BY src_a, src_b"),

    // histogram vectors by the same integer arithmetic, then the exact
    // cosine fold over every (a < b) pair at the 0.995 threshold
    "mm_image_near_dup" ->
      ("WITH h AS (SELECT doc_id, [CAST(len(list_filter(range(0, 64), " +
       "i -> (((doc_id*31+i)%256+256)%256)//16 = b)) AS FLOAT) " +
       "FOR b IN generate_series(0, 15)] AS hvec FROM documents) " +
       "SELECT a.doc_id AS id_a, b.doc_id AS id_b, round(" +
       cosSql("a.hvec", "b.hvec") + ", 6) AS cos " +
       "FROM h a JOIN h b ON a.doc_id < b.doc_id " +
       "WHERE " + cosSql("a.hvec", "b.hvec") + " >= 0.995 " +
       "ORDER BY id_a, id_b"),

    // grayscale pixel v has luminance (299v+587v+114v)/1000 = v exactly, so
    // bin(i) = ((doc_id*31+i) % 256) // 16 — pure integer arithmetic
    "mm_image_histogram" ->
      ("SELECT doc_id, CAST(b AS INT) AS bin, " +
       "CAST(len(list_filter(range(0, 64), i -> (((doc_id*31+i)%256+256)%256)//16 = b)) AS BIGINT) AS n " +
       "FROM documents, range(0, 16) t(b) ORDER BY doc_id, bin"),

    "mm_image_phash_neardup" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_identical_pairs, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM documents a JOIN documents b " +
       "ON a.doc_id < b.doc_id AND (b.doc_id - a.doc_id) % 256 = 0"),

    "mm_audio_fp_invariance" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(1 AS BIGINT) AS all_invariant " +
       "FROM documents"),

    "mm_video_phash_neardup" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_identical_pairs, " +
       "CAST(1 AS BIGINT) AS recall_ok FROM documents a JOIN documents b " +
       "ON a.doc_id < b.doc_id AND (b.doc_id - a.doc_id) % 256 = 0"),

    // feature 0 of the audio decode = amplitude-bin-0 count / 100 samples;
    // k/100 has ≤2 decimals so round(...,6) can't hit a midpoint tie
    "mm_features" ->
      ("SELECT doc_id AS id, 'audio' AS modality, CAST(16 AS INT) AS dim, " +
       "round(CAST(len(list_filter(range(0, 100), i -> (((doc_id*37+i*13)%65536+65536)%65536)//4096 = 0)) AS DOUBLE) / 100, 6) AS f0 " +
       "FROM documents ORDER BY id"),

    // the decoded amplitude bin of sample i is ((doc_id*37+i*13) % 65536) //
    // 4096 (the -32768 sign shift and the +32768 bin shift cancel), and the
    // header's sample rate is the constant 16000 the encoder wrote — pure
    // integer arithmetic
    "mm_audio_histogram" ->
      ("SELECT doc_id, CAST(16000 AS INT) AS sample_rate, CAST(b AS INT) AS bin, " +
       "CAST(len(list_filter(range(0, 100), i -> (((doc_id*37+i*13)%65536+65536)%65536)//4096 = b)) AS BIGINT) AS n " +
       "FROM documents, range(0, 16) t(b) ORDER BY doc_id, bin"),

    // gray pixel v has luminance (299v+587v+114v)/1000 = v exactly, so the
    // bin of frame f, pixel i is ((doc_id*31 + f*7 + i) % 256) // 16 — pure
    // integer arithmetic, same family as mm_image_histogram plus the frame term
    "mm_video_histogram" ->
      ("SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(b AS INT) AS bin, " +
       "CAST(len(list_filter(range(0, 64), i -> (((doc_id*31+f*7+i)%256+256)%256)//16 = b)) AS BIGINT) AS n " +
       "FROM documents, range(0, 4) t(f), range(0, 16) u(b) ORDER BY doc_id, frame_idx, bin"),

    "mm_binary_meta" ->
      ("SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, " +
       "md5(text) AS payload_md5, sha256(text) AS payload_sha256 " +
       "FROM documents ORDER BY doc_id"),

    // DuckDB's list_sum(list_transform(list_zip(a,b), ...)) reproduces the
    // engine's left-to-right double-precision dot fold bit-for-bit, so the
    // exact similarity path is fully oracle-checkable.
    "sim_topk_brute" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
       "list_sum(list_transform(list_zip(e.embedding, q.query_vec), " +
       "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
       "(sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
       "sqrt(list_sum(list_transform(q.query_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos " +
       "FROM embeddings e, q WHERE e.vec_id <> q.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // micro-quantize → ±1 middle-square signs on an (i, j) grid → exact
    // integer projected dots → coarse 40-cut → exact cosine rerank
    "sim_topk_rp" ->
      ("WITH q AS (SELECT vec_id, list_transform(embedding, " +
       "v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qe " +
       "FROM embeddings), " +
       "pj AS (SELECT vec_id, j, sum(CASE WHEN " +
       "((((i - 1) * 1297 + j * 7919 + 104729) * " +
       "((i - 1) * 1297 + j * 7919 + 104729) // 64) % 2) = 0 " +
       "THEN qe[CAST(i AS INT)] ELSE -qe[CAST(i AS INT)] END) AS y " +
       "FROM q, unnest(range(1, 65)) t(i), unnest(range(0, 32)) w(j) " +
       "GROUP BY vec_id, j), " +
       "pv AS (SELECT vec_id, array_agg(y ORDER BY j) AS pv FROM pj GROUP BY vec_id), " +
       "qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5), " +
       "coarse AS (SELECT qs.query_id, c.vec_id AS cid, " +
       "list_sum(list_transform(list_zip(c.pv, qp.pv), x -> x[1] * x[2])) AS dot " +
       "FROM pv c, qs JOIN pv qp ON qp.vec_id = qs.query_id " +
       "WHERE c.vec_id <> qs.query_id), " +
       "cand AS (SELECT query_id, cid FROM (SELECT query_id, cid, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cid ASC) AS cr " +
       "FROM coarse) WHERE cr <= 80), " +
       "resc AS (SELECT cand.query_id, cand.cid AS neighbor_id, " +
       cosSql("e.embedding", "qe2.embedding") + " AS cos " +
       "FROM cand JOIN embeddings e ON e.vec_id = cand.cid " +
       "JOIN embeddings qe2 ON qe2.vec_id = cand.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, " +
       "round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, row_number() OVER " +
       "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM resc) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // two rank-1 selections (same-label / different-label) over the same
    // scored pass, joined on the anchor; margin rounded after the join
    "sim_contrastive_triplets" ->
      ("WITH a AS (SELECT vec_id AS aid, embedding AS avec, label AS alabel " +
       "FROM embeddings WHERE vec_id < 20), " +
       "scored AS (SELECT a.aid, a.alabel, e.vec_id AS nid, e.label AS nlabel, " +
       cosSql("e.embedding", "a.avec") + " AS cos " +
       "FROM embeddings e, a WHERE e.vec_id <> a.aid), " +
       "pos AS (SELECT aid, alabel, nid AS pos_id, round(cos, 6) AS pos_cos FROM " +
       "(SELECT aid, alabel, nid, cos, row_number() OVER (PARTITION BY aid ORDER BY cos DESC, nid) AS rn " +
       "FROM scored WHERE nlabel = alabel) WHERE rn = 1), " +
       "neg AS (SELECT aid, nid AS neg_id, round(cos, 6) AS neg_cos FROM " +
       "(SELECT aid, nid, cos, row_number() OVER (PARTITION BY aid ORDER BY cos DESC, nid) AS rn " +
       "FROM scored WHERE nlabel <> alabel) WHERE rn = 1) " +
       "SELECT pos.aid AS anchor_id, pos.alabel AS anchor_label, pos.pos_id, pos.pos_cos, " +
       "neg.neg_id, neg.neg_cos, round(pos.pos_cos - neg.neg_cos, 6) AS margin " +
       "FROM pos JOIN neg USING (aid) ORDER BY anchor_id"),

    // brute derivation with the label-disequality predicate folded in
    "sim_hard_negatives" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec, label AS query_label " +
       "FROM embeddings WHERE vec_id < 5), " +
       "scored AS (SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id, e.label AS neighbor_label, " +
       cosSql("e.embedding", "q.query_vec") + " AS cos " +
       "FROM embeddings e, q WHERE e.vec_id <> q.query_id AND e.label <> q.query_label) " +
       "SELECT query_id, query_label, CAST(rank AS BIGINT) AS rank, neighbor_id, neighbor_label, " +
       "round(cos, 6) AS cos FROM " +
       "(SELECT query_id, query_label, neighbor_id, neighbor_label, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // exact re-derivation of the int8 quantization and integer-dot cosine:
    // multiplication order mirrors the engine ((s_corpus*s_query)*sum,
    // (s*s)*sum under each sqrt) so the doubles are bit-identical
    "sim_topk_int8" ->
      ("WITH qz AS (SELECT vec_id, CASE WHEN mx = 0 THEN 1.0 ELSE mx/127.0 END AS s, " +
       "list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) / " +
       "(CASE WHEN mx = 0 THEN 1.0 ELSE mx/127.0 END)) AS BIGINT)) AS q " +
       "FROM (SELECT vec_id, embedding, " +
       "list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx FROM embeddings)), " +
       "qs AS (SELECT vec_id AS query_id, s AS sq, q AS qq FROM qz WHERE vec_id < 5), " +
       "scored AS (SELECT qs.query_id, z.vec_id AS neighbor_id, " +
       "CASE WHEN sqrt(z.s*z.s*CAST(list_sum(list_transform(z.q, x -> x*x)) AS DOUBLE)) * " +
       "sqrt(qs.sq*qs.sq*CAST(list_sum(list_transform(qs.qq, x -> x*x)) AS DOUBLE)) = 0 THEN 0.0 " +
       "ELSE (z.s*qs.sq*CAST(list_sum(list_transform(list_zip(z.q, qs.qq), x -> x[1]*x[2])) AS DOUBLE)) / " +
       "(sqrt(z.s*z.s*CAST(list_sum(list_transform(z.q, x -> x*x)) AS DOUBLE)) * " +
       "sqrt(qs.sq*qs.sq*CAST(list_sum(list_transform(qs.qq, x -> x*x)) AS DOUBLE))) END AS cos_q " +
       "FROM qz z, qs WHERE z.vec_id <> qs.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos_q, 6) AS cos_q FROM " +
       "(SELECT query_id, neighbor_id, cos_q, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS rank FROM scored) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // full from-scratch re-run of both Lloyd rounds: lowest-id seeding,
    // max-cosine assignment, micro-quantized means, empty-cell fallback —
    // the final centroid table must hash-match coordinate for coordinate
    "sim_ivf_train" ->
      ("WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + " " +
       "SELECT cell, CAST(i.pos AS INT) AS pos, CAST(cvec[i.pos + 1] AS FLOAT) AS m " +
       "FROM c2 CROSS JOIN generate_series(0, 63) i(pos) ORDER BY cell, pos"),

    // training + assignment re-run, then round-then-rank per cell with
    // the integer drop quota
    "corpus_prototype_prune" ->
      ("WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       cosSql("e.embedding", "c.cvec") + " DESC, c.cell) AS rn " +
       "FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "r AS (SELECT vec_id, cell, round(cos, 6) AS cell_cos FROM assign), " +
       "k AS (SELECT vec_id, cell, cell_cos, " +
       "CAST(row_number() OVER (PARTITION BY cell ORDER BY cell_cos DESC, vec_id) AS BIGINT) AS proto_rank, " +
       "CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_size FROM r) " +
       "SELECT vec_id AS id, cell, cell_cos, proto_rank, cell_size, " +
       "proto_rank > (cell_size * 25) // 100 AS keep FROM k ORDER BY id"),

    // both Lloyd rounds re-run from scratch, then the same three-stage IVF
    // search the sim_topk_ivf oracle uses, against the TRAINED centroids
    "sim_topk_ivf_trained" ->
      ("WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "assign AS (SELECT vec_id, cell FROM (" +
       "SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       cosSql("e.embedding", "c.cvec") + " DESC, c.cell) AS rn " +
       "FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "probe AS (SELECT query_id, query_vec, cell FROM (" +
       "SELECT q.query_id, q.query_vec, c.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY " +
       cosSql("q.query_vec", "c.cvec") + " DESC, c.cell) AS rn " +
       "FROM q CROSS JOIN c2 c) WHERE rn <= 2), " +
       "cand AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
       cosSql("e.embedding", "p.query_vec") + " AS cos " +
       "FROM probe p JOIN assign a ON a.cell = p.cell " +
       "JOIN embeddings e ON e.vec_id = a.vec_id WHERE e.vec_id <> p.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM cand) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // full from-scratch re-run of both per-subspace Lloyd rounds: slice
    // seeding, L2 argmin, micro-quantized means — the final codebook table
    // must hash-match coordinate for coordinate
    "sim_pq_train" ->
      ("WITH " + PqSeedsSql + ", " + pqRoundSql(1, "seeds") + ", " + pqRoundSql(2, "c1") + " " +
       "SELECT sub, code, CAST(i.spos AS INT) AS spos, CAST(cvec[i.spos+1] AS FLOAT) AS mc " +
       "FROM c2 CROSS JOIN generate_series(0, 7) i(spos) ORDER BY sub, code, spos"),

    // both training rounds re-run, every vector re-encoded against the
    // final codebooks (the a3 assignment), then the ADC search: per-query
    // lookup table of subspace inner products, score = sum of the m
    // looked-up entries, rank with the engine's (score desc, id) tiebreak
    "sim_topk_pq" -> SimTopkPqOracle,

    // exact-integer variance ranking + round-robin deal, re-derived in
    // HUGEINT arithmetic — the permutation table must match row for row
    "sim_pq_balanced_perm" ->
      ("WITH " + PermRankSql + " " +
       "SELECT CAST(pos AS INT) AS pos, CAST(r AS BIGINT) AS rank, " +
       "CAST(r % 8 AS INT) AS sub, CAST(r // 8 AS INT) AS slot " +
       "FROM rk ORDER BY pos"),

    // the permutation re-derived, applied as a list gather to EVERY vector
    // (pvec), then the complete PQ train→encode→ADC pipeline re-run in the
    // permuted space — the same parameterized derivation as sim_topk_pq
    // with pvec as its source
    "sim_topk_pq_permuted" ->
      ("WITH " + PermRankSql + ", " +
       "pl AS (SELECT list(pos ORDER BY r % 8, r // 8) AS pm FROM rk), " +
       "pvec AS (SELECT e.vec_id, list_transform(p.pm, s -> e.embedding[s+1]) AS embedding " +
       "FROM embeddings e CROSS JOIN pl p), " +
       pqTopkOracleBody("pvec")),

    // the Hadamard rotation re-derived coordinate for coordinate (H[i][j]
    // = (-1)^bit_count(i&j), D's signs from the same multiplicative hash,
    // the same left-to-right double fold, /8 = /sqrt(64), one double→float
    // round), then the complete PQ train→encode→ADC pipeline re-run in the
    // rotated space — the same parameterized derivation as sim_topk_pq
    // with rvec as its source
    "sim_topk_pq_rotated" ->
      ("WITH rvec AS (SELECT vec_id, list(yv ORDER BY i) AS embedding FROM (" +
       "SELECT e.vec_id, i.i AS i, CAST(list_sum(list_transform(range(0, 64), j -> " +
       "CASE WHEN (bit_count(i.i & j) + bit_count((j * 2654435761) % 4294967296)) % 2 = 0 " +
       "THEN CAST(e.embedding[j+1] AS DOUBLE) ELSE -CAST(e.embedding[j+1] AS DOUBLE) END)) " +
       "/ 8.0 AS FLOAT) AS yv " +
       "FROM embeddings e CROSS JOIN generate_series(0, 63) i(i)) z GROUP BY vec_id), " +
       pqTopkOracleBody("rvec")),

    // pure-SQL-surface twin of sim_topk_pq (pq_encode + float_vector_dot +
    // pq_adc_score re-express the identical pipeline) — same oracle
    "sql_native_pq_adc" -> SimTopkPqOracle,

    // both training rounds re-run from scratch; the declared query's
    // (vec_id, sub, code) output IS the final assignment CTE
    "sql_native_pq_encode" ->
      ("WITH " + PqSeedsSql + ", " + pqRoundSql(1, "seeds") + ", " + pqRoundSql(2, "c1") + ", " +
       pqRoundSql(3, "c2") + " " +
       "SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code " +
       "FROM a3 ORDER BY vec_id, sub"),

    // training + encoding + ADC shortlist (rank<=50) re-run from scratch,
    // then the exact cosine rerank over only the shortlisted pairs
    "sim_topk_pq_rerank" ->
      ("WITH " + PqSeedsSql + ", " + pqRoundSql(1, "seeds") + ", " + pqRoundSql(2, "c1") + ", " +
       pqRoundSql(3, "c2") + ", " +
       "enc AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM a3 GROUP BY vec_id), " +
       "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "lt AS (SELECT query_id, list(ip ORDER BY sub, code) AS lut FROM (" +
       "SELECT q.query_id, p.sub, p.code, " + ipSql("q.query_vec[p.sub*8+1 : p.sub*8+8]", "p.cvec") + " AS ip " +
       "FROM q CROSS JOIN c2 p) z GROUP BY query_id), " +
       "adc AS (SELECT l.query_id, e.vec_id AS neighbor_id, " +
       "list_sum(list_transform(range(0, 8), s -> l.lut[s*8 + e.codes[s+1] + 1])) AS score " +
       "FROM lt l CROSS JOIN enc e WHERE e.vec_id <> l.query_id), " +
       "shortlist AS (SELECT query_id, neighbor_id FROM " +
       "(SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn " +
       "FROM adc) WHERE rn <= 50), " +
       "rr AS (SELECT s.query_id, s.neighbor_id, " + cosSql("e.embedding", "q.query_vec") + " AS cos " +
       "FROM shortlist s JOIN embeddings e ON e.vec_id = s.neighbor_id " +
       "JOIN q ON q.query_id = s.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM rr) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // PQ training + encoding re-run from scratch, the IVF cent/assign/probe
    // stages of the sim_topk_ivf oracle, then the ADC scan RESTRICTED to
    // probed cells (the join through `assign`), shortlist rank<=50, and
    // the exact cosine rerank — the full IVFPQ composite re-derived
    "sim_topk_ivfpq" ->
      ("WITH " + PqSeedsSql + ", " + pqRoundSql(1, "seeds") + ", " + pqRoundSql(2, "c1") + ", " +
       pqRoundSql(3, "c2") + ", " +
       "enc AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM a3 GROUP BY vec_id), " +
       "cent AS (SELECT CAST(vec_id / 64 AS INTEGER) AS cell_id, embedding AS centroid_vec " +
       "FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 3200), " +
       "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "assign AS (SELECT vec_id, cell_id FROM (" +
       "SELECT e.vec_id, c.cell_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       cosSql("e.embedding", "c.centroid_vec") + " DESC, c.cell_id) AS rn " +
       "FROM embeddings e CROSS JOIN cent c) WHERE rn = 1), " +
       "probe AS (SELECT query_id, cell_id FROM (" +
       "SELECT q.query_id, c.cell_id, row_number() OVER (PARTITION BY q.query_id ORDER BY " +
       cosSql("q.query_vec", "c.centroid_vec") + " DESC, c.cell_id) AS rn " +
       "FROM q CROSS JOIN cent c) WHERE rn <= 2), " +
       "lt AS (SELECT query_id, list(ip ORDER BY sub, code) AS lut FROM (" +
       "SELECT q.query_id, p.sub, p.code, " + ipSql("q.query_vec[p.sub*8+1 : p.sub*8+8]", "p.cvec") + " AS ip " +
       "FROM q CROSS JOIN c2 p) z GROUP BY query_id), " +
       "adc AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
       "list_sum(list_transform(range(0, 8), s -> l.lut[s*8 + e.codes[s+1] + 1])) AS score " +
       "FROM probe p JOIN assign a ON a.cell_id = p.cell_id " +
       "JOIN enc e ON e.vec_id = a.vec_id " +
       "JOIN lt l ON l.query_id = p.query_id WHERE a.vec_id <> p.query_id), " +
       "shortlist AS (SELECT query_id, neighbor_id FROM " +
       "(SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn " +
       "FROM adc) WHERE rn <= 50), " +
       "rr AS (SELECT s.query_id, s.neighbor_id, " + cosSql("e.embedding", "q.query_vec") + " AS cos " +
       "FROM shortlist s JOIN embeddings e ON e.vec_id = s.neighbor_id " +
       "JOIN q ON q.query_id = s.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM rr) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // residual IVFPQ re-derived from raw vectors: coarse assignment, the
    // exact float residuals (double subtraction rounded once to FLOAT —
    // IEEE single-precision subtraction, matching the engine), BOTH
    // residual-codebook Lloyd rounds, residual encoding (a3), the probed
    // ADC scan with the q·cvec[cell] correction, shortlist, exact rerank
    "sim_topk_ivfpq_residual" ->
      ("WITH cent AS (SELECT CAST(vec_id / 64 AS INTEGER) AS cell_id, embedding AS centroid_vec " +
       "FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 3200), " +
       "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "assign AS (SELECT vec_id, cell_id FROM (" +
       "SELECT e.vec_id, c.cell_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       cosSql("e.embedding", "c.centroid_vec") + " DESC, c.cell_id) AS rn " +
       "FROM embeddings e CROSS JOIN cent c) WHERE rn = 1), " +
       "res AS (SELECT e.vec_id, list_transform(list_zip(e.embedding, c.centroid_vec), " +
       "x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS FLOAT)) AS embedding " +
       "FROM embeddings e JOIN assign a USING (vec_id) JOIN cent c ON c.cell_id = a.cell_id), " +
       pqSeedsSql("res") + ", " + pqRoundSql(1, "seeds", "res") + ", " +
       pqRoundSql(2, "c1", "res") + ", " + pqRoundSql(3, "c2", "res") + ", " +
       "enc AS (SELECT vec_id, list(code ORDER BY sub) AS codes FROM a3 GROUP BY vec_id), " +
       "probe AS (SELECT query_id, cell_id FROM (" +
       "SELECT q.query_id, c.cell_id, row_number() OVER (PARTITION BY q.query_id ORDER BY " +
       cosSql("q.query_vec", "c.centroid_vec") + " DESC, c.cell_id) AS rn " +
       "FROM q CROSS JOIN cent c) WHERE rn <= 2), " +
       "qc AS (SELECT p.query_id, p.cell_id, " + ipSql("q.query_vec", "c.centroid_vec") + " AS qc " +
       "FROM probe p JOIN cent c USING (cell_id) JOIN q USING (query_id)), " +
       "lt AS (SELECT query_id, list(ip ORDER BY sub, code) AS lut FROM (" +
       "SELECT q.query_id, p.sub, p.code, " + ipSql("q.query_vec[p.sub*8+1 : p.sub*8+8]", "p.cvec") + " AS ip " +
       "FROM q CROSS JOIN c2 p) z GROUP BY query_id), " +
       "adc AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
       "x.qc + list_sum(list_transform(range(0, 8), s -> l.lut[s*8 + e.codes[s+1] + 1])) AS score " +
       "FROM probe p JOIN assign a ON a.cell_id = p.cell_id " +
       "JOIN enc e ON e.vec_id = a.vec_id " +
       "JOIN lt l ON l.query_id = p.query_id " +
       "JOIN qc x ON x.query_id = p.query_id AND x.cell_id = p.cell_id " +
       "WHERE a.vec_id <> p.query_id), " +
       "shortlist AS (SELECT query_id, neighbor_id FROM " +
       "(SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn " +
       "FROM adc) WHERE rn <= 50), " +
       "rr AS (SELECT s.query_id, s.neighbor_id, " + cosSql("e.embedding", "q.query_vec") + " AS cos " +
       "FROM shortlist s JOIN embeddings e ON e.vec_id = s.neighbor_id " +
       "JOIN q ON q.query_id = s.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM rr) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    "sim_topk_ivf" ->
      ("WITH cent AS (SELECT CAST(vec_id / 64 AS INTEGER) AS cell_id, embedding AS centroid_vec " +
       "FROM embeddings WHERE vec_id % 64 = 0 AND vec_id < 3200), " +
       "q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5), " +
       "assign AS (SELECT vec_id, cell_id FROM (" +
       "SELECT e.vec_id, c.cell_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       "list_sum(list_transform(list_zip(e.embedding, c.centroid_vec), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
       "(sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
       "sqrt(list_sum(list_transform(c.centroid_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) DESC, c.cell_id) AS rn " +
       "FROM embeddings e CROSS JOIN cent c) WHERE rn = 1), " +
       "probe AS (SELECT query_id, query_vec, cell_id FROM (" +
       "SELECT q.query_id, q.query_vec, c.cell_id, row_number() OVER (PARTITION BY q.query_id ORDER BY " +
       "list_sum(list_transform(list_zip(q.query_vec, c.centroid_vec), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
       "(sqrt(list_sum(list_transform(q.query_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
       "sqrt(list_sum(list_transform(c.centroid_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) DESC, c.cell_id) AS rn " +
       "FROM q CROSS JOIN cent c) WHERE rn <= 2), " +
       "cand AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
       "list_sum(list_transform(list_zip(e.embedding, p.query_vec), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
       "(sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * " +
       "sqrt(list_sum(list_transform(p.query_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos " +
       "FROM probe p JOIN assign a ON a.cell_id = p.cell_id " +
       "JOIN embeddings e ON e.vec_id = a.vec_id WHERE e.vec_id <> p.query_id) " +
       "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cos FROM " +
       "(SELECT query_id, neighbor_id, cos, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM cand) " +
       "WHERE rank <= 10 ORDER BY query_id, rank"),

    // exact all-pairs containment over the planted corpus: string trigram
    // shingles stand in for the engine's hash shingles (distinct-set
    // cardinalities agree), |A ∩ B| normalized by |A| alone
    "dedup_containment" ->
      ("WITH base AS (SELECT doc_id, text FROM documents UNION ALL " +
       "SELECT doc_id + 1000000, " +
       "array_to_string((regexp_split_to_array(text, '\\s+'))[1:30], ' ') " +
       "FROM documents WHERE doc_id % 50 = 7), " +
       "toks AS (SELECT doc_id, list_distinct(" +
       "CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')] " +
       "ELSE [array_to_string(ts[i:i+2], ' ') FOR i IN generate_series(1, len(ts)-2)] END) AS sh " +
       "FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts FROM base)), " +
       "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS c " +
       "FROM toks a JOIN toks b ON a.doc_id <> b.doc_id) " +
       "SELECT id_a, id_b, round(c, 6) AS containment FROM pairs " +
       "WHERE c >= 0.9 ORDER BY id_a, id_b"),

    "dedup_cc_exact" ->
      ("WITH RECURSIVE " + CosinePairsSql + ", " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs WHERE cos >= 0.3 " +
       "UNION SELECT id_b AS src, id_a AS dst FROM pairs WHERE cos >= 0.3), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src) " +
       "SELECT src AS id, least(src, min(dst)) AS component FROM reach " +
       "GROUP BY src ORDER BY id"),

    // the same recursive component labeling, rolled up to size classes
    "dedup_cc_sizes" ->
      ("WITH RECURSIVE " + CosinePairsSql + ", " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs WHERE cos >= 0.3 " +
       "UNION SELECT id_b AS src, id_a AS dst FROM pairs WHERE cos >= 0.3), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach " +
       "GROUP BY src), " +
       "szs AS (SELECT component, count(*) AS sz FROM comp GROUP BY component), " +
       "h AS (SELECT sz AS component_size, count(*) AS n_components FROM szs " +
       "GROUP BY sz), " +
       "nn AS (SELECT count(*) AS n FROM comp) " +
       "SELECT CAST(component_size AS BIGINT) AS component_size, " +
       "CAST(n_components AS BIGINT) AS n_components, " +
       "CAST(component_size * n_components AS BIGINT) AS n_nodes, " +
       "CAST(round(((component_size * n_components) * 1000000.0) / n) AS BIGINT) " +
       "AS nodes_share_micro FROM h, nn ORDER BY component_size"),

    "dedup_embedding_cosine_exact" ->
      ("WITH " + CosinePairsSql +
       "SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs WHERE cos >= 0.3 " +
       "ORDER BY id_a, id_b"),

    // full SemDeDup re-derivation: both Lloyd rounds, max-cosine assignment,
    // within-cell pair confirmation, recursive-CTE connected components,
    // then the paper's keep rule (lowest centroid cosine, id tiebreak)
    "dedup_semantic" ->
      ("WITH RECURSIVE seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cosSql("e.embedding", "c.cvec") +
       " DESC, c.cell) AS rn FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "dpairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
       "FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
       "JOIN embeddings ea ON ea.vec_id = a.vec_id JOIN embeddings eb ON eb.vec_id = b.vec_id " +
       "WHERE " + cosSql("ea.embedding", "eb.embedding") + " >= 0.3), " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM dpairs " +
       "UNION SELECT id_b AS src, id_a AS dst FROM dpairs), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "labeled AS (SELECT a.vec_id AS id, a.cell, round(a.cos, 6) AS cent_cos, " +
       "coalesce(c.component, a.vec_id) AS component " +
       "FROM assign a LEFT JOIN comp c ON c.id = a.vec_id) " +
       "SELECT id, cell, component, cent_cos, " +
       "CAST(CASE WHEN row_number() OVER (PARTITION BY component ORDER BY cent_cos, id) = 1 " +
       "THEN 1 ELSE 0 END AS BIGINT) AS keep FROM labeled ORDER BY id"),

    // the capped path: identical training/assignment, then the sub-split
    // candidate algebra — per-cell counts, m = (n + 15) // 16 sub-cells,
    // md5-salt bucket per row, pairs within (cell, sub) plus the min-id
    // representative band across a split cell's sub-cells, the same exact
    // cosine confirm, and the unchanged CC + election tail
    "dedup_semantic_capped" ->
      ("WITH RECURSIVE seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cosSql("e.embedding", "c.cvec") +
       " DESC, c.cell) AS rn FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "cellcnt AS (SELECT cell, count(*) AS n FROM assign GROUP BY cell), " +
       "sub AS (SELECT a.vec_id, a.cell, a.cos, (c.n + 15) // 16 AS m, " +
       "CAST(('0x' || substr(md5(a.vec_id || ':semsplit'), 1, 8)) AS BIGINT) % ((c.n + 15) // 16) AS s " +
       "FROM assign a JOIN cellcnt c USING (cell)), " +
       "wcand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM sub x JOIN sub y " +
       "ON x.cell = y.cell AND x.s = y.s AND x.vec_id < y.vec_id), " +
       "reps AS (SELECT cell, s, min(vec_id) AS vec_id FROM sub WHERE m > 1 GROUP BY cell, s), " +
       "bcand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM reps x JOIN reps y " +
       "ON x.cell = y.cell AND x.vec_id < y.vec_id), " +
       "cand AS (SELECT id_a, id_b FROM wcand UNION SELECT id_a, id_b FROM bcand), " +
       "dpairs AS (SELECT c.id_a, c.id_b FROM cand c " +
       "JOIN embeddings ea ON ea.vec_id = c.id_a JOIN embeddings eb ON eb.vec_id = c.id_b " +
       "WHERE " + cosSql("ea.embedding", "eb.embedding") + " >= 0.3), " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM dpairs " +
       "UNION SELECT id_b AS src, id_a AS dst FROM dpairs), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "labeled AS (SELECT a.vec_id AS id, a.cell, round(a.cos, 6) AS cent_cos, " +
       "coalesce(c.component, a.vec_id) AS component " +
       "FROM assign a LEFT JOIN comp c ON c.id = a.vec_id) " +
       "SELECT id, cell, component, cent_cos, " +
       "CAST(CASE WHEN row_number() OVER (PARTITION BY component ORDER BY cent_cos, id) = 1 " +
       "THEN 1 ELSE 0 END AS BIGINT) AS keep FROM labeled ORDER BY id"),

    // incremental SemDeDup: same frozen-quantizer training and assignment,
    // batch (vec_id % 5 = 0) × store (the rest) candidates on the shared
    // cell only, exact-cosine confirm, per-batch-doc min/max verdict with
    // NULLs for semantically-new docs
    "dedup_semantic_incremental" ->
      ("WITH RECURSIVE seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cosSql("e.embedding", "c.cvec") +
       " DESC, c.cell) AS rn FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "b AS (SELECT vec_id AS id, cell, round(cos, 6) AS cent_cos FROM assign WHERE vec_id % 5 = 0), " +
       "st AS (SELECT vec_id AS corpus_id, cell FROM assign WHERE vec_id % 5 <> 0), " +
       "m AS (SELECT b.id, min(st.corpus_id) AS matched_id, " +
       "round(max(" + cosSql("eb.embedding", "ec.embedding") + "), 6) AS best_cos " +
       "FROM b JOIN st USING (cell) " +
       "JOIN embeddings eb ON eb.vec_id = b.id JOIN embeddings ec ON ec.vec_id = st.corpus_id " +
       "WHERE " + cosSql("eb.embedding", "ec.embedding") + " >= 0.3 GROUP BY b.id) " +
       "SELECT b.id, b.cell, b.cent_cos, m.matched_id, m.best_cos " +
       "FROM b LEFT JOIN m USING (id) ORDER BY b.id"),

    // D4: the dedup_semantic chain (training, assignment, pair confirm,
    // recursive CC, election) folded into a `sem` CTE, then the survivor-
    // side prototype rank/quota — stage 2 exactly as the
    // corpus_prototype_prune oracle derives it, over sem_keep = 1 rows
    "corpus_d4_select" ->
      ("WITH RECURSIVE seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cosSql("e.embedding", "c.cvec") +
       " DESC, c.cell) AS rn FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "dpairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
       "FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
       "JOIN embeddings ea ON ea.vec_id = a.vec_id JOIN embeddings eb ON eb.vec_id = b.vec_id " +
       "WHERE " + cosSql("ea.embedding", "eb.embedding") + " >= 0.3), " +
       "edges AS (SELECT id_a AS src, id_b AS dst FROM dpairs " +
       "UNION SELECT id_b AS src, id_a AS dst FROM dpairs), " +
       "reach(src, dst) AS (SELECT src, dst FROM edges " +
       "UNION SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src), " +
       "comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src), " +
       "labeled AS (SELECT a.vec_id AS id, a.cell, round(a.cos, 6) AS cent_cos, " +
       "coalesce(c.component, a.vec_id) AS component " +
       "FROM assign a LEFT JOIN comp c ON c.id = a.vec_id), " +
       "sem AS (SELECT id, cell, component, cent_cos, " +
       "CAST(CASE WHEN row_number() OVER (PARTITION BY component ORDER BY cent_cos, id) = 1 " +
       "THEN 1 ELSE 0 END AS BIGINT) AS sem_keep FROM labeled), " +
       "rk AS (SELECT id, CAST(row_number() OVER (PARTITION BY cell ORDER BY cent_cos DESC, id) AS BIGINT) AS proto_rank, " +
       "CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_size FROM sem WHERE sem_keep = 1) " +
       "SELECT s.id, s.cell, s.component, s.cent_cos, s.sem_keep, r.proto_rank, r.cell_size, " +
       "coalesce(r.proto_rank > (r.cell_size * 25) // 100, false) AS keep " +
       "FROM sem s LEFT JOIN rk r ON r.id = s.id ORDER BY s.id"),

    // kNN graph: training + assignment re-run, within-cell candidate
    // pairs (both directions, self excluded), raw-double cosine rank with
    // id tiebreak — the TopKAgg result shares the window formulation's
    // oracle; 6dp rounding on the emitted cosine only
    "sim_knn_graph" ->
      ("WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell FROM (" +
       "SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       cosSql("e.embedding", "c.cvec") + " DESC, c.cell) AS rn " +
       "FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "cand AS (SELECT x.vec_id AS id, x.cell, y.vec_id AS nid, " +
       cosSql("ex.embedding", "ey.embedding") + " AS cos " +
       "FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id <> y.vec_id " +
       "JOIN embeddings ex ON ex.vec_id = x.vec_id JOIN embeddings ey ON ey.vec_id = y.vec_id), " +
       "r AS (SELECT id, cell, nid, cos, " +
       "row_number() OVER (PARTITION BY id ORDER BY cos DESC, nid) AS rank FROM cand) " +
       "SELECT id, cell, CAST(rank AS BIGINT) AS rank, nid AS neighbor_id, " +
       "round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY id, rank"),

    // the capped kNN-graph path: identical training/assignment, then the
    // neighbor-side prefix algebra — per-cell counts, cells over the cap
    // keep their 16 most central members (6dp cent_cos desc, id tiebreak)
    // as candidates, under-cap cells pass whole — and the same rank tail
    "sim_knn_graph_capped" ->
      ("WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cvec " +
       "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)), " +
       lloydRoundSql(1, "seeds") + ", " + lloydRoundSql(2, "c1") + ", " +
       "assign AS (SELECT vec_id, cell, cos FROM (" +
       "SELECT e.vec_id, c.cell, " + cosSql("e.embedding", "c.cvec") + " AS cos, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cosSql("e.embedding", "c.cvec") +
       " DESC, c.cell) AS rn FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1), " +
       "cellcnt AS (SELECT cell, count(*) AS n FROM assign GROUP BY cell), " +
       "cc AS (SELECT a.vec_id, a.cell, round(a.cos, 6) AS cent_cos, c.n " +
       "FROM assign a JOIN cellcnt c USING (cell)), " +
       "neigh AS (SELECT vec_id, cell FROM cc WHERE n <= 16 " +
       "UNION ALL SELECT vec_id, cell FROM (SELECT vec_id, cell, " +
       "row_number() OVER (PARTITION BY cell ORDER BY cent_cos DESC, vec_id) AS rk " +
       "FROM cc WHERE n > 16) WHERE rk <= 16), " +
       "cand AS (SELECT x.vec_id AS id, x.cell, y.vec_id AS nid, " +
       cosSql("ex.embedding", "ey.embedding") + " AS cos " +
       "FROM assign x JOIN neigh y ON x.cell = y.cell AND x.vec_id <> y.vec_id " +
       "JOIN embeddings ex ON ex.vec_id = x.vec_id JOIN embeddings ey ON ey.vec_id = y.vec_id), " +
       "r AS (SELECT id, cell, nid, cos, " +
       "row_number() OVER (PARTITION BY id ORDER BY cos DESC, nid) AS rank FROM cand) " +
       "SELECT id, cell, CAST(rank AS BIGINT) AS rank, nid AS neighbor_id, " +
       "round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY id, rank"),

    // per-source profile: duplicate verdict over full-text equality (the
    // engine's 16-byte digest is the narrow-key form of the same
    // predicate), token/char volume, language spread
    "corpus_report" ->
      ("WITH d AS (SELECT doc_id, source, lang, coalesce(text, '') AS t FROM documents), " +
       "dup AS (SELECT t FROM d GROUP BY t HAVING count(*) > 1), " +
       "j AS (SELECT d.source, d.lang, " +
       "CAST(len(regexp_split_to_array(d.t, '\\s+')) AS BIGINT) AS tok, " +
       "CAST(length(d.t) AS BIGINT) AS ch, " +
       "CASE WHEN u.t IS NOT NULL THEN 1 ELSE 0 END AS isdup " +
       "FROM d LEFT JOIN dup u ON u.t = d.t) " +
       "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens, " +
       "CAST(sum(ch) AS BIGINT) AS n_chars, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
       "CAST(sum(isdup) AS BIGINT) AS n_exact_dup_docs, " +
       "round(CAST(sum(isdup) AS DOUBLE) / count(*), 6) AS dup_frac " +
       "FROM j GROUP BY source ORDER BY source"),
  )
}
