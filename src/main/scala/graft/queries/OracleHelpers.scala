package graft

import graft.functions._
import graft.operators._

/** DuckDB-oracle SQL generators shared by the oracle map (CTE builders generated from the SAME constants the queries pin)
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait OracleHelpers extends ExtQueriesC {
  // the traits form one object (Queries); forward references across
  // tiers resolve through the self-type, exactly as in the single file
  self: OraclesExt =>

  // ---------------------------------------------------------------- oracles

  private[graft] val normToks = "string_split_regex(lower(trim(text)), '\\s+')"

  /** The langid-artifact oracle's scoring SQL, generated from the SAME
    * profile constant the query's store pins: per language a
    * weighted-sum column over `toks`, plus the argmax CASE chain with
    * first-profile tie-break (each branch only needs `>=` against the
    * LATER profiles — if an earlier one lost, the global max sits at
    * or below this one).
    */
  private[graft] def langArtifactVerdictSql(
      profiles: Seq[(String, Seq[(String, Long)])],
      tag: String): (String, String) = {
    val scores = profiles.map { case (lang, ws) =>
      val cases = ws.map { case (t, w) => s"WHEN '$t' THEN $w" }
        .mkString(" ")
      s"coalesce(list_sum(list_transform(toks, t -> CASE t $cases " +
        s"ELSE 0 END)), 0) AS s_${tag}_$lang"
    }.mkString(",\n  ")
    val langs = profiles.map(_._1)
    val verdict = langs.init.zipWithIndex.map { case (l, i) =>
      val cond = langs.drop(i + 1)
        .map(o => s"s_${tag}_$l >= s_${tag}_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    (scores, s"CASE $verdict ELSE '${langs.last}' END")
  }

  /** The vocabulary + whole-corpus-encode CTE chain shared by the
    * ids-producing BPE oracles (`text_bpe_ids`,
    * `tokenize_from_artifact`) — appended after [[bpeTrainCtes]]:
    * `base` (distinct corpus code points in binary order), `vocab0`
    * (base + terminal marker + merged symbols in learning order),
    * `vocab` (min-id per surface, mirroring `bpeVocab`'s dedup rule),
    * `d0` (boundary-wrapped whole-doc encoding), `e` (the trained rules
    * applied as the same literal replace chain Spark runs). One builder
    * so a future change to the vocab/encode contract cannot silently fix
    * one oracle and miss the other.
    */
  private[graft] def bpeVocabEncodeCtes(steps: Int): String = {
    val applied = (1 to steps).foldLeft("enc") { (acc, i) =>
      s"replace($acc, (SELECT pair FROM b$i),\n" +
        s"      (SELECT replace(pair, chr(2) || chr(1), '') FROM b$i))"
    }
    val mergeRows = (1 to steps).map { i =>
      s"""SELECT CAST((SELECT count(*) FROM base) + $i AS BIGINT) AS token_id,
         |  string_split(substring(pair, 2, length(pair) - 2),
         |    chr(2) || chr(1))[1] ||
         |  string_split(substring(pair, 2, length(pair) - 2),
         |    chr(2) || chr(1))[2] AS symbol FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    // concatenated, NOT an outer stripMargin: mergeRows contains lines
    // beginning with `||` whose first pipe a second pass would eat
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT c AS symbol FROM (
       |    SELECT unnest(string_split(word, '')) AS c FROM wrd)),
       |vocab0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT)
       |           AS token_id, symbol
       |  FROM base
       |  UNION ALL
       |  SELECT CAST((SELECT count(*) FROM base) AS BIGINT), '</w>'
       |  UNION ALL
       |""".stripMargin + mergeRows + "),\n" +
      s"""vocab AS MATERIALIZED (
         |  SELECT min(token_id) AS token_id, symbol FROM vocab0
         |  GROUP BY symbol),
         |d0 AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(list_transform(
         |    list_filter($normToks, w -> length(w) > 0),
         |    w -> array_to_string(list_transform(string_split(w, ''),
         |           c -> chr(1) || c || chr(2)), '')
         |         || chr(1) || '</w>' || chr(2)), '') AS enc
         |  FROM documents),
         |e AS (SELECT doc_id, $applied AS enc FROM d0)""".stripMargin
  }

  /** Per-doc duplicated-span coverage of the held-out docs against the
    * rest-of-corpus fingerprint set — the oracle BOTH
    * `dedup_span_incremental` (recompute-per-call) and
    * `dedup_streaming_spans` (persisted epoch-frozen store) must match:
    * the two forms differ only in where the corpus sig table lives.
    */
  private[graft] lazy val spanIncrementalOracle: String =
    spanScreenOracle("doc_id % 10 <> 7", "doc_id % 10 = 7")

  /** The incremental span-screening oracle, parameterized by which docs
    * form the screening corpus and which are screened — one replay shared
    * by `dedup_span_incremental`, `dedup_streaming_spans` (same split)
    * and `dedup_span_rotate` (rotation shifts the corpus to standing ∪
    * wave 1, screening wave 2).
    */
  private[graft] def spanScreenOracle(corpusPred: String, batchPred: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, $normToks AS toks FROM documents),
       |cs AS (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 6),
       |           i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS sig
       |  FROM t WHERE $corpusPred),
       |b AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |         list_transform(range(1, len(toks) - 6),
       |           i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS sigs
       |  FROM t WHERE $batchPred),
       |w AS (
       |  SELECT doc_id, unnest(range(1, len(sigs) + 1)) AS pos,
       |         unnest(sigs) AS sig FROM b),
       |h AS (
       |  SELECT w.doc_id, w.pos,
       |         lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS nxt
       |  FROM w JOIN cs USING (sig)),
       |c AS (
       |  SELECT doc_id, count(*) AS n_dup_windows,
       |         CAST(sum(CASE WHEN nxt IS NULL THEN 8
       |                       ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_tokens
       |  FROM h GROUP BY 1)
       |SELECT b.doc_id, b.n_toks,
       |       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       |       coalesce(c.dup_tokens, 0) AS dup_tokens,
       |       round(coalesce(c.dup_tokens, 0) / b.n_toks, 4) AS dup_fraction
       |FROM b LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The planted-media dimension CTE `f` — the oracle's independent
    * derivation of what [[plantedMedia]] encodes into the bytes.
    */
  private[graft] val mediaDimsCte: String =
    """f AS (
      |  SELECT doc_id AS media_id, doc_id % 5 AS kind,
      |         CAST(doc_id % 1000 + 1 AS INTEGER) AS w,
      |         CAST(doc_id % 700 + 1 AS INTEGER) AS h,
      |         (doc_id % 16) // 4 AS extra, text
      |  FROM documents)""".stripMargin

  /** `f` + `p` (payload HEX per row): rebuilds the exact planted
    * container bytes from the same shared hex constants the Spark
    * builder concatenates, so a fingerprint match proves byte identity.
    */
  private[graft] val mediaOracleCtes: String = {
    def le16(v: String) =
      s"lpad(to_hex($v % 256), 2, '0') || lpad(to_hex($v // 256), 2, '0')"
    val gifFrame =
      s"'$GifFrameHead' || ${le16("w")} || ${le16("h")} || '$GifFrameTail'"
    mediaDimsCte + ",\n" +
      s"""p AS (
         |  SELECT media_id, kind, w, h, extra,
         |    CASE kind
         |      WHEN 0 THEN '$PngHead' || lpad(to_hex(w), 8, '0') ||
         |           lpad(to_hex(h), 8, '0') || '$PngTail'
         |      WHEN 1 THEN '$JpegHead' || lpad(to_hex(h), 4, '0') ||
         |           lpad(to_hex(w), 4, '0') || '$JpegTail'
         |      WHEN 2 THEN '$GifHead' || ${le16("w")} || ${le16("h")} ||
         |           '000000' || repeat($gifFrame, 1 + extra) || '3B'
         |      WHEN 3 THEN '52494646' || '12000000' || '57454250' ||
         |           '5650384C' || '05000000' || '2F' ||
         |           lpad(to_hex((w-1) % 256), 2, '0') ||
         |           lpad(to_hex((w-1) // 256 % 64 + (h-1) % 4 * 64), 2, '0') ||
         |           lpad(to_hex((h-1) // 4 % 256), 2, '0') ||
         |           lpad(to_hex((h-1) // 1024 % 16), 2, '0') || '00'
         |      ELSE to_hex(encode(text)) END AS hexstr
         |  FROM f)""".stripMargin
  }

  /** The planted AV fixture replayed as DuckDB CTEs: per-doc facts by
    * construction (`g`) + the exact payload hex (`p`) from the SAME
    * shared constants [[plantedAvMedia]] concatenates.
    */
  private[graft] val avOracleCtes: String = {
    def le16(v: String) =
      s"lpad(to_hex($v % 256), 2, '0') || lpad(to_hex($v // 256), 2, '0')"
    def le32(v: String) =
      s"lpad(to_hex($v % 256), 2, '0') || lpad(to_hex($v // 256 % 256), 2, '0') || " +
        s"lpad(to_hex($v // 65536 % 256), 2, '0') || lpad(to_hex($v // 16777216 % 256), 2, '0')"
    s"""g AS (
       |  SELECT doc_id AS media_id, doc_id % 4 AS kind,
       |         CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
       |         CAST(doc_id % 2 * 8 + 8 AS INTEGER) AS bits,
       |         CAST(doc_id % 8 * 1000 + 8000 AS INTEGER) AS rate,
       |         CAST(doc_id % 5 + 1 AS INTEGER) AS dur_sec,
       |         CAST((doc_id % 30 + 1) * 500 AS BIGINT) AS dur_ms,
       |         CAST(doc_id % 1920 + 1 AS INTEGER) AS w,
       |         CAST(doc_id % 1080 + 1 AS INTEGER) AS h, text
       |  FROM documents),
       |gg AS (
       |  SELECT *, rate * (ch * bits // 8) AS byte_rate,
       |         ch * bits // 8 AS block_align FROM g),
       |p AS (
       |  SELECT *, byte_rate * dur_sec AS data_size,
       |    CASE kind
       |      WHEN 0 THEN '$RiffTag' || ${le32("(byte_rate * dur_sec + 36)")} ||
       |           '$WavFmtHead' || ${le16("ch")} || ${le32("rate")} ||
       |           ${le32("byte_rate")} || ${le16("block_align")} ||
       |           ${le16("bits")} || '$WavDataTag' ||
       |           ${le32("(byte_rate * dur_sec)")}
       |      WHEN 1 THEN '$Mp4Head' || '$Mp4MoovHead' || '$Mp4MvhdHead' ||
       |           lpad(to_hex(dur_ms), 8, '0') || '$Mp4TrakHead' ||
       |           '$Mp4TkhdPre' || lpad(to_hex(dur_ms), 8, '0') ||
       |           '$Mp4TkhdMid' || lpad(to_hex(w), 4, '0') || '0000' ||
       |           lpad(to_hex(h), 4, '0') || '0000'
       |      WHEN 2 THEN '$RiffTag' || '24000000' || '57415645'
       |      ELSE to_hex(encode(text)) END AS hexstr
       |  FROM gg)""".stripMargin
  }

  /** DuckDB rendition of TextOps.shingles: distinct word n-gram strings. */
  private[graft] def duckShingles(n: Int): String =
    s"""list_distinct(list_transform(
       |  range(1, greatest(len($normToks) - ${n - 1}, 0) + 1),
       |  i -> array_to_string(list_slice($normToks, i, i + ${n - 1}), ' ')))""".stripMargin

  /** The BPE trainer ([[graft.functions.TextOps.bpeTrainMerges]]) replayed
    * as a DuckDB CTE chain, the merge loop unrolled: w0 is the encoded word
    * histogram; per step i, s_i splits symbols, p_i counts adjacent pairs,
    * b_i is the arg-max (count desc, pair asc), w_i applies the merge as
    * the same literal replace Spark runs. MATERIALIZED so DuckDB doesn't
    * inline the chain exponentially.
    */
  private[graft] def bpeTrainCtes(steps: Int, src: String = "documents"): String = {
    val head =
      s"""wrd AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest($normToks) AS word FROM $src)
         |  WHERE length(word) > 0 GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT array_to_string(list_transform(string_split(word, ''),
         |           c -> chr(1) || c || chr(2)), '')
         |         || chr(1) || '</w>' || chr(2) AS enc, cnt
         |  FROM wrd)""".stripMargin
    val iters = (1 to steps).map { i =>
      s"""s$i AS MATERIALIZED (SELECT cnt, string_split(substring(enc, 2,
         |          length(enc) - 2), chr(2) || chr(1)) AS syms
         |        FROM w${i - 1}),
         |p$i AS MATERIALIZED (SELECT chr(1) || syms[j] || chr(2) ||
         |          chr(1) || syms[j + 1] || chr(2) AS pair,
         |          CAST(sum(cnt) AS BIGINT) AS pc
         |        FROM s$i, unnest(range(1, len(syms))) AS t(j)
         |        GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pair, pc FROM p$i ORDER BY pc DESC, pair LIMIT 1),
         |w$i AS MATERIALIZED (SELECT replace(enc, (SELECT pair FROM b$i),
         |          replace((SELECT pair FROM b$i), chr(2) || chr(1), ''))
         |          AS enc, cnt
         |        FROM w${i - 1})""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** The BM25 oracle, shared verbatim by `text_bm25_top` (full-scan
    * scorer) and `text_bm25_indexed` (postings-index probe): literals
    * generated from the SAME Scala doubles the queries use (toString is
    * the shortest round-tripping decimal, so DuckDB parses back the
    * bit-identical double; fl(1.2)+1 need not equal fl("2.2") - never
    * hand-write derived constants).
    */
  private[graft] lazy val bm25OracleSql: String = bm25OracleSql(10)

  private[graft] def bm25OracleSql(k: Int): String = bm25OracleSql(k, "")

  /** The BATCHED BM25 oracle (per-(q_id, term) replay of
    * [[graft.operators.Retrieval.bm25TopKBatchFromIndex]]) at top-`k`,
    * shared by `text_bm25_queries` and the hybrid batch fusion.
    */
  /** Shared oracle for `sample_weighted` AND `sample_streaming`: the
    * Efraimidis–Spirakis race with deterministic md5 uniforms replayed
    * in SQL — the streaming reservoir's fold priority is a pure
    * function of the key, so the end-of-stream sample equals the
    * one-shot race whatever the batching (sharing the oracle pins it).
    */
  private[graft] lazy val weightedSampleOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len($normToks) AS BIGINT) AS n_toks
       |           FROM documents),
       |p AS (SELECT doc_id, source, n_toks,
       |        round(-ln((CAST(('0x' ||
       |            substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
       |            AS BIGINT) + 1) / 4503599627370496.0) / n_toks,
       |          9) AS pr
       |      FROM t WHERE n_toks > 0),
       |r AS (SELECT doc_id, source, n_toks,
       |        CAST(row_number() OVER (ORDER BY pr, doc_id) AS INTEGER)
       |          AS rk
       |      FROM p)
       |SELECT doc_id, source, n_toks, rk FROM r WHERE rk <= 150
       |ORDER BY doc_id""".stripMargin

  /** Shared oracle for `text_hybrid_batch` AND `text_hybrid_stream`:
    * batched BM25 replay (top-10 per query) × exact cosine top-10 per
    * query (q_vec = embedding of vec_id = q_id, self excluded) ×
    * per-query RRF replay. The streaming query shares it VERBATIM —
    * the stores are read-only to the stream, so the micro-batch split
    * is a delivery detail and streamed ≡ batched.
    */
  private[graft] lazy val hybridBatchOracle: String = hybridBatchOracleSql(None)

  /** The batched-hybrid replay, optionally tenant-scoped: `allowedMod`
    * (e.g. `"% 3 <> 0"`) restricts the BM25 ranking and the cosine
    * candidate set to the allowed ids — each leg's pre-filter semantics
    * (stats corpus-wide, rank among allowed), mirroring
    * [[graft.operators.Retrieval.hybridSearchBatch]]'s `allowed`.
    */
  private[graft] def hybridBatchOracleSql(allowedMod: Option[String]): String = {
    val bmSub = bm25BatchOracleSql(10,
      allowedMod.map(m => s"WHERE doc_id $m").getOrElse(""))
    val cWhere = allowedMod.map(m => s"WHERE vec_id $m").getOrElse("")
    val qids = bm25Queries.map(_._1).mkString(", ")
    s"""WITH bm AS (SELECT q_id, doc_id, rk FROM ($bmSub)),
       |qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
       |       FROM embeddings WHERE vec_id IN ($qids)),
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
       |      $cWhere),
       |scored AS (
       |  SELECT qv.q_id, c.vec_id AS doc_id,
       |         list_dot_product(c.vec, qv.q_vec) /
       |         (sqrt(list_dot_product(c.vec, c.vec)) *
       |          sqrt(list_dot_product(qv.q_vec, qv.q_vec))) AS sim
       |  FROM c CROSS JOIN qv WHERE c.vec_id <> qv.q_id),
       |an AS (SELECT q_id, doc_id, rk FROM (
       |         SELECT q_id, doc_id,
       |           CAST(row_number() OVER (PARTITION BY q_id
       |             ORDER BY sim DESC, doc_id) AS INTEGER) AS rk
       |         FROM scored)
       |       WHERE rk <= 10),
       |fu AS (SELECT COALESCE(bm.q_id, an.q_id) AS q_id,
       |         COALESCE(bm.doc_id, an.doc_id) AS doc_id,
       |         CAST(round((
       |           (CASE WHEN bm.rk IS NOT NULL
       |              THEN 1.0 / (60 + bm.rk) ELSE 0.0 END)
       |           + (CASE WHEN an.rk IS NOT NULL
       |              THEN 1.0 / (60 + an.rk) ELSE 0.0 END))
       |           * 1000000000.0) AS BIGINT) AS rrf_nano
       |       FROM bm FULL JOIN an
       |         ON bm.q_id = an.q_id AND bm.doc_id = an.doc_id),
       |r2 AS (SELECT q_id, doc_id, rrf_nano,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY rrf_nano DESC, doc_id) AS INTEGER) AS rk
       |       FROM fu)
       |SELECT q_id, doc_id, rrf_nano, rk FROM r2 WHERE rk <= 5
       |ORDER BY q_id, doc_id""".stripMargin
  }

  /** The planted URL suffix rotation, shared by the URL-tier oracles. */
  private[graft] val urlSuffixCase: String =
    """CASE doc_id % 5 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
      |       WHEN 2 THEN '.org' WHEN 3 THEN '.github.io'
      |       ELSE '.com.au' END""".stripMargin

  /** The [[linkPageDocs]] plant replayed: `v` (per-doc moduli, page
    * URL, base-tag presence), `l` (each of the nine link positions'
    * RESOLVED string per RFC 3986 — the base-bearing docs resolve
    * every relative shape against the base), `lc` (+ the canonical
    * key: only position 0 needs case/port/tracking/fragment work,
    * 6 is NULL, 7 drops its fragment; the rest are already canonical
    * by construction). Shared by `text_html_links` and the frontier
    * pair.
    */
  /** The main-content block replay (d → raw → feat → cf → cum →
    * promo → rev → fin), shared by the `text_extract_main` oracle
    * and the `pipeline_pretrain_main` corpus reconstruction.
    */
  private[graft] lazy val defaultStopSql: String =
    "['the','a','data','line','value','row'," +
      "'key','order','part','small']"

  /** The main-content block replay, parameterized: `p` prefixes every
    * CTE name (so two pins can classify side-by-side in one query)
    * and `stopSql` is the DuckDB list expression the stopword count
    * matches against (it may reference `lang` — the per-language
    * artifact oracle does). `lang` rides the whole chain.
    */
  private[graft] def mainBlocksCtes(p: String = "",
                             stopSql: String = defaultStopSql,
                             textSql: String = "text"): String =
    s"""${p}d AS (SELECT doc_id, lang,
        |  trim(regexp_replace($textSql, '\\s+', ' ', 'g')) AS t
        |  FROM documents),
        |${p}raw AS (
        |  SELECT doc_id, lang, 0 AS pos, false AS heading,
        |         'Home About News Contact' AS btext, 20 AS link_chars
        |  FROM ${p}d
        |  UNION ALL SELECT doc_id, lang, 1, true,
        |    'Latest from site ' || (doc_id % 13), 0 FROM ${p}d
        |  UNION ALL SELECT doc_id, lang, 2, false, t, 0 FROM ${p}d
        |  UNION ALL SELECT doc_id, lang, 3, false, 'Read more', 8
        |    FROM ${p}d
        |  UNION ALL SELECT doc_id, lang, 4, false,
        |    trim(repeat('the data line holds a value for the row ', 6)),
        |    0 FROM ${p}d WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, lang, 5, false,
        |    chr(169) || ' 2026 site' || (doc_id % 13) ||
        |    '.com All rights reserved', 0 FROM ${p}d),
        |${p}feat AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      - 1 AS BIGINT) AS block_idx,
        |    heading, btext,
        |    CAST(length(btext) AS BIGINT) AS n_chars,
        |    CAST(len(string_split(btext, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(btext, ' '), w ->
        |      list_contains($stopSql, lower(w))))
        |      AS BIGINT) AS n_stop,
        |    CAST(link_chars AS BIGINT) AS link_chars,
        |    length(replace(btext, ' ', '')) AS nonws
        |  FROM ${p}raw),
        |${p}cf AS (
        |  SELECT *, CASE
        |    WHEN 5 * link_chars > nonws THEN 'bad'
        |    WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |    WHEN n_chars < 70 THEN
        |      CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |    WHEN 100 * n_stop >= 32 * n_words THEN
        |      CASE WHEN n_chars > 200 THEN 'good' ELSE 'neargood' END
        |    WHEN 10 * n_stop >= 3 * n_words THEN 'neargood'
        |    ELSE 'bad' END AS cf_class
        |  FROM ${p}feat),
        |${mainReviseCtes(p)}""".stripMargin

  /** The script-agnostic tail of the main-content replay — heading
    * promotion (cumulative-sum distance), anchor-neighbor windows and
    * the final revision — shared verbatim by the word-ladder chain
    * ([[mainBlocksCtes]]) and the char-branch chain
    * (`text_extract_main_cjk`): the classifier contract keeps these
    * class-level and branch-blind, so the oracle does too. Expects a
    * `${p}cf` CTE with (doc_id, block_idx, heading, btext, n_chars,
    * cf_class, ...) columns.
    */
  private[graft] def mainReviseCtes(p: String): String =
    s"""${p}cum AS (
        |  SELECT *, sum(n_chars) OVER (PARTITION BY doc_id
        |    ORDER BY block_idx) AS csum FROM ${p}cf),
        |${p}promo AS (
        |  SELECT *, CASE WHEN cf_class = 'short' AND heading AND
        |      (min(CASE WHEN cf_class = 'good' THEN csum - n_chars END)
        |         OVER (PARTITION BY doc_id ORDER BY block_idx
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |        - csum < 200
        |    THEN 'neargood' ELSE cf_class END AS cf2
        |  FROM ${p}cum),
        |${p}rev AS (
        |  SELECT *,
        |    coalesce(last_value(CASE WHEN cf2 IN ('good','bad')
        |        THEN cf2 END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'bad') AS prev_a,
        |    coalesce(first_value(CASE WHEN cf2 IN ('good','bad')
        |        THEN cf2 END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      'bad') AS next_a,
        |    coalesce(last_value(CASE WHEN cf2 <> 'short'
        |        THEN cf2 END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'bad') AS prev_any,
        |    coalesce(first_value(CASE WHEN cf2 <> 'short'
        |        THEN cf2 END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY block_idx
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      'bad') AS next_any
        |  FROM ${p}promo),
        |${p}fin AS (
        |  SELECT *, CASE cf2
        |    WHEN 'good' THEN 'good'
        |    WHEN 'bad' THEN 'bad'
        |    WHEN 'neargood' THEN CASE WHEN prev_a = 'bad' AND
        |      next_a = 'bad' THEN 'bad' ELSE 'good' END
        |    ELSE CASE
        |      WHEN prev_a = 'good' AND next_a = 'good' THEN 'good'
        |      WHEN prev_a = 'bad' AND next_a = 'bad' THEN 'bad'
        |      WHEN (prev_a = 'bad' AND prev_any = 'neargood') OR
        |           (next_a = 'bad' AND next_any = 'neargood')
        |        THEN 'good'
        |      ELSE 'bad' END END AS final_class
        |  FROM ${p}rev)""".stripMargin

  /** The space-free-script main-content replay ([[CjkMainFixture]]'s
    * planted pages), parameterized on the pin: `charEnabled=false`
    * replays the dark (en-only) pin — every block takes the word
    * ladder with an empty zh/ja list and the page extracts to
    * nothing; `true` replays the v3 char-branch contract. Char counts
    * are length deltas (the regexp class is the same Han+kana range
    * the classifier counts; everything planted is BMP so DuckDB code
    * points == JVM code units), stop-char counts are per-character
    * replace deltas generated from the SAME Scala constants the
    * artifact pins. The revision tail is [[mainReviseCtes]] — shared
    * with the word-ladder oracle because the contract shares it.
    */
  private[graft] def cjkMainBlocksCtes(p: String, charEnabled: Boolean,
      plangSql: String = "CASE WHEN doc_id % 2 = 0 THEN 'zh' " +
        "ELSE 'ja' END",
      whereSql: String = "", withEnglish: Boolean = true): String = {
    import CjkMainFixture._
    def stopSum(chars: Seq[String]): String =
      chars.map(c =>
        s"(length(btext) - length(replace(btext, '$c', '')))")
        .mkString("\n        + ")
    def byLang(zh: String, ja: String): String =
      s"CASE plang WHEN 'zh' THEN '$zh' ELSE '$ja' END"
    val chf = if (charEnabled) "2 * cjk >= nonws" else "false"
    s"""${p}d AS (SELECT doc_id,
        |  $plangSql AS plang,
        |  doc_id // 2 AS j,
        |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        |  FROM documents $whereSql),
        |${p}raw AS (
        |  SELECT doc_id, plang, 0 AS pos, false AS heading,
        |    ${byLang(zhNav.mkString(" "), jaNav.mkString(" "))} AS btext,
        |    CASE plang WHEN 'zh' THEN ${zhNav.map(_.length).sum}
        |      ELSE ${jaNav.map(_.length).sum} END AS link_chars
        |  FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 1, true,
        |    '第' || (doc_id % 9) || '章', 0 FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 2, false, t, 0
        |    FROM ${p}d WHERE ${if (withEnglish) "j % 7 = 0"
          else "FALSE"}
        |  UNION ALL SELECT doc_id, plang, 3, false,
        |    repeat(${byLang(zhHi, jaHi)}, CAST(j % 4 AS INTEGER)) ||
        |    repeat(${byLang(zhLo, jaLo)}, CAST(j % 3 AS INTEGER)), 0
        |    FROM ${p}d WHERE j % 4 <> 0 OR j % 3 <> 0
        |  UNION ALL SELECT doc_id, plang, 4, false,
        |    ${byLang(zhMed, jaMed)}, 0 FROM ${p}d WHERE j % 5 = 0
        |  UNION ALL SELECT doc_id, plang, 5, false,
        |    ${byLang(zhStub, jaStub)},
        |    CASE plang WHEN 'zh' THEN ${zhStub.length}
        |      ELSE ${jaStub.length} END FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 6, false,
        |    chr(169) || ' 2026 ' || ${byLang(zhFooter, jaFooter)}, 0
        |    FROM ${p}d),
        |${p}feat AS (
        |  SELECT doc_id, plang,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      - 1 AS BIGINT) AS block_idx,
        |    heading, btext,
        |    CAST(length(btext) AS BIGINT) AS n_chars,
        |    length(replace(btext, ' ', '')) AS nonws,
        |    CAST(link_chars AS BIGINT) AS link_chars,
        |    CAST(length(btext) - length(regexp_replace(btext,
        |      '[一-鿿぀-ヿ]', '', 'g')) AS BIGINT) AS cjk,
        |    CAST(CASE plang WHEN 'zh' THEN ${stopSum(zhStopChars)}
        |      ELSE ${stopSum(jaStopChars)} END AS BIGINT) AS stopc,
        |    CAST(len(string_split(btext, ' ')) AS BIGINT) AS wsplit
        |  FROM ${p}raw),
        |${p}cf AS (
        |  SELECT doc_id, plang, block_idx, heading, btext, n_chars,
        |    link_chars,
        |    CASE WHEN $chf THEN cjk ELSE wsplit END AS n_words,
        |    CASE WHEN $chf THEN stopc ELSE CAST(0 AS BIGINT) END
        |      AS n_stop,
        |    CASE WHEN $chf THEN
        |      CASE WHEN 5 * link_chars > nonws THEN 'bad'
        |        WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |        WHEN 2 * n_chars < 70 THEN
        |          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |        WHEN 100 * stopc >= 15 * cjk THEN
        |          CASE WHEN 2 * n_chars > 200 THEN 'good'
        |            ELSE 'neargood' END
        |        WHEN 10 * stopc >= cjk THEN 'neargood'
        |        ELSE 'bad' END
        |    ELSE
        |      CASE WHEN 5 * link_chars > nonws THEN 'bad'
        |        WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |        WHEN n_chars < 70 THEN
        |          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |        ELSE 'bad' END
        |    END AS cf_class
        |  FROM ${p}feat),
        |${mainReviseCtes(p)}""".stripMargin
  }

  /** The Viterbi DP of the unigram tokenizer replayed as a FIXED CTE
    * chain (the contract's [[graft.functions.Unigram.MaxWordLen]]
    * bound is what makes this finite): `dp_i` holds, per word of
    * `$wordsCte` with length ≥ i, the minimum-cost segmentation of
    * its first i characters under `$vocabCte`(token, cost), ties to
    * the larger last-token length (`ORDER BY cost ASC, t DESC`,
    * rn = 1 — the contract's tie-break verbatim). `${q}seg` gathers
    * each word's full segmentation; words beyond the bound take the
    * contract's per-character fallback.
    */
  private[graft] def unigramDpCtes(q: String, vocabCte: String,
                                   wordsCte: String): String = {
    val maxW = graft.functions.Unigram.MaxWordLen
    val maxT = graft.functions.Unigram.MaxTokenLen
    val dps = (1 to maxW).map { i =>
      val cands = (1 to math.min(maxT, i)).map { t =>
        s"""      SELECT d.word, d.cnt, d.cost + v.cost AS cost,
           |        $t AS t, list_append(d.seg, v.token) AS seg
           |      FROM ${q}dp${i - t} d JOIN $vocabCte v
           |        ON v.token = substring(d.word, ${i - t + 1}, $t)
           |      WHERE length(d.word) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""${q}dp$i AS MATERIALIZED (
         |  SELECT word, cnt, cost, seg FROM (
         |    SELECT *, row_number() OVER (PARTITION BY word
         |      ORDER BY cost ASC, t DESC) AS rn
         |    FROM (
         |$cands
         |    )) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val gather = (1 to maxW).map { i =>
      s"  SELECT word, cnt, seg FROM ${q}dp$i WHERE length(word) = $i"
    }.mkString("\n  UNION ALL\n")
    s"""${q}dp0 AS MATERIALIZED (
       |  SELECT word, cnt, CAST(0 AS BIGINT) AS cost,
       |    CAST([] AS VARCHAR[]) AS seg
       |  FROM $wordsCte WHERE length(word) <= $maxW),
       |$dps,
       |${q}seg AS MATERIALIZED (
       |$gather
       |  UNION ALL
       |  SELECT word, cnt, string_split(word, '') AS seg
       |  FROM $wordsCte WHERE length(word) > $maxW)""".stripMargin
  }

  /** The unigram tokenizer's TRAINING replayed whole
    * ([[graft.functions.Unigram]]'s integer contract): word histogram,
    * substring seed (length 1..MaxTokenLen, weight = count ×
    * occurrences), the seed vocabulary (all single chars + top-K
    * longer substrings by count desc / token asc), integer costs
    * `ilog2(T) - ilog2(cnt)` with `ilog2 = length(bin(x)) - 1`
    * (bit-length — exact in both engines), ONE hard-EM round (the
    * E-step Viterbi DP via [[unigramDpCtes]], usage re-count, M-step
    * re-derived costs with unused coverage chars at `ilog2(T)+1`),
    * ending in `${p}v1`(token, n_count, cost) — the final vocabulary.
    */
  private[graft] def unigramCtes(p: String, multiVocab: Int): String = {
    def ilog2Of(cte: String): String =
      s"(SELECT length(bin(total)) - 1 FROM $cte)"
    val maxT = graft.functions.Unigram.MaxTokenLen
    s"""${p}w AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest($normToks) AS word FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |${p}seed AS MATERIALIZED (
        |  SELECT substring(word, i, l) AS token,
        |    CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM ${p}w,
        |    (SELECT unnest(generate_series(1,
        |      (SELECT max(length(word)) FROM ${p}w))) AS i),
        |    (SELECT unnest(generate_series(1, $maxT)) AS l)
        |  WHERE i + l - 1 <= length(word)
        |  GROUP BY 1),
        |${p}t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total
        |  FROM ${p}seed),
        |${p}v0 AS MATERIALIZED (
        |  SELECT token, cnt,
        |    ${ilog2Of(p + "t0")} - (length(bin(cnt)) - 1) AS cost
        |  FROM (
        |    SELECT token, cnt FROM ${p}seed WHERE length(token) = 1
        |    UNION ALL
        |    SELECT token, cnt FROM (
        |      SELECT token, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, token ASC) AS rn
        |      FROM ${p}seed WHERE length(token) >= 2)
        |    WHERE rn <= $multiVocab)),
        |${unigramDpCtes(p + "e_", p + "v0", p + "w")},
        |${p}usage AS MATERIALIZED (
        |  SELECT token, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(seg) AS token, cnt FROM ${p}e_seg)
        |  GROUP BY 1),
        |${p}t1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS total
        |  FROM ${p}usage),
        |${p}v1 AS MATERIALIZED (
        |  SELECT c.token,
        |    CAST(coalesce(u.cnt, 0) AS BIGINT) AS n_count,
        |    CASE WHEN u.cnt IS NULL OR u.cnt < 1
        |      THEN ${ilog2Of(p + "t1")} + 1
        |      ELSE ${ilog2Of(p + "t1")} - (length(bin(u.cnt)) - 1)
        |      END AS cost
        |  FROM (SELECT DISTINCT token FROM ${p}seed
        |        WHERE length(token) = 1) c
        |  LEFT JOIN ${p}usage u USING (token)
        |  UNION ALL
        |  SELECT token, cnt AS n_count,
        |    ${ilog2Of(p + "t1")} - (length(bin(cnt)) - 1) AS cost
        |  FROM (
        |    SELECT token, cnt,
        |      row_number() OVER (ORDER BY cnt DESC, token ASC) AS rn
        |    FROM ${p}usage WHERE length(token) >= 2)
        |  WHERE rn <= $multiVocab)""".stripMargin
  }

  /** [[unigramCtes]] + the final-vocab DP + the per-doc flatten — the
    * shared tail of the unigram ENCODE oracles (`text_unigram_encode`
    * and the artifact round-trip, which must hash identically).
    */
  private[graft] lazy val unigramEncodeSql: String =
    s"""WITH ${unigramCtes("u_", 24)},
       |${unigramDpCtes("u_f_", "u_v1", "u_w")},
       |u_doc AS (
       |  SELECT doc_id, list_filter($normToks, w -> length(w) > 0)
       |    AS toks
       |  FROM documents),
       |u_expl AS (
       |  SELECT doc_id, unnest(toks) AS word,
       |    unnest(range(1, len(toks) + 1)) AS pos
       |  FROM u_doc),
       |u_enc AS (
       |  SELECT e.doc_id, flatten(list(s.seg ORDER BY e.pos)) AS toks
       |  FROM u_expl e JOIN u_f_seg s USING (word)
       |  GROUP BY e.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(len(u.toks), 0) AS BIGINT) AS n_tok,
       |  md5(coalesce(array_to_string(u.toks, chr(1)), '')) AS enc_md5
       |FROM documents d LEFT JOIN u_enc u USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The Thai main-content replay ([[ScriptMainFixture]]'s planted
    * pages) — [[cjkMainBlocksCtes]]'s shape for the third space-free
    * script: `charEnabled=false` replays the dark (en-only) pin
    * (word ladder, empty list, every page extracts to nothing — the
    * pre-v4 regression anchor); `true` replays the v4 char-branch
    * contract with the Thai function-char list. The space-free char
    * class is the FULL classifier class (Han + kana + Thai) even
    * though the planted pages are Thai-only — the oracle replays the
    * contract, not the fixture. Revision tail shared
    * ([[mainReviseCtes]]).
    */
  private[graft] def thaiMainBlocksCtes(p: String, charEnabled: Boolean,
      whereSql: String = "", withEnglish: Boolean = true): String = {
    import ScriptMainFixture._
    def stopSum(chars: Seq[String]): String =
      chars.map(c =>
        s"(length(btext) - length(replace(btext, '$c', '')))")
        .mkString("\n        + ")
    val chf = if (charEnabled) "2 * sfc >= nonws" else "false"
    s"""${p}d AS (SELECT doc_id,
        |  doc_id // 2 AS j,
        |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        |  FROM documents $whereSql),
        |${p}raw AS (
        |  SELECT doc_id, 0 AS pos, false AS heading,
        |    '${thNav.mkString(" ")}' AS btext,
        |    ${thNav.map(_.length).sum} AS link_chars
        |  FROM ${p}d
        |  UNION ALL SELECT doc_id, 1, true,
        |    '$thHead' || (doc_id % 9), 0 FROM ${p}d
        |  UNION ALL SELECT doc_id, 2, false, t, 0
        |    FROM ${p}d WHERE ${if (withEnglish) "j % 7 = 0" else "FALSE"}
        |  UNION ALL SELECT doc_id, 3, false,
        |    repeat('$thHi', CAST(j % 4 AS INTEGER)) ||
        |    repeat('$thLo', CAST(j % 3 AS INTEGER)), 0
        |    FROM ${p}d WHERE j % 4 <> 0 OR j % 3 <> 0
        |  UNION ALL SELECT doc_id, 4, false, '$thMed', 0
        |    FROM ${p}d WHERE j % 5 = 0
        |  UNION ALL SELECT doc_id, 5, false, '$thStub',
        |    ${thStub.length} FROM ${p}d
        |  UNION ALL SELECT doc_id, 6, false,
        |    chr(169) || ' 2026 ' || '$thFooter', 0 FROM ${p}d),
        |${p}feat AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      - 1 AS BIGINT) AS block_idx,
        |    heading, btext,
        |    CAST(length(btext) AS BIGINT) AS n_chars,
        |    length(replace(btext, ' ', '')) AS nonws,
        |    CAST(link_chars AS BIGINT) AS link_chars,
        |    CAST(length(btext) - length(regexp_replace(btext,
        |      '[一-鿿぀-ヿ฀-๿]', '', 'g')) AS BIGINT) AS sfc,
        |    CAST(${stopSum(thStopChars)} AS BIGINT) AS stopc,
        |    CAST(len(string_split(btext, ' ')) AS BIGINT) AS wsplit
        |  FROM ${p}raw),
        |${p}cf AS (
        |  SELECT doc_id, block_idx, heading, btext, n_chars,
        |    link_chars,
        |    CASE WHEN $chf THEN sfc ELSE wsplit END AS n_words,
        |    CASE WHEN $chf THEN stopc ELSE CAST(0 AS BIGINT) END
        |      AS n_stop,
        |    CASE WHEN $chf THEN
        |      CASE WHEN 5 * link_chars > nonws THEN 'bad'
        |        WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |        WHEN 2 * n_chars < 70 THEN
        |          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |        WHEN 100 * stopc >= 15 * sfc THEN
        |          CASE WHEN 2 * n_chars > 200 THEN 'good'
        |            ELSE 'neargood' END
        |        WHEN 10 * stopc >= sfc THEN 'neargood'
        |        ELSE 'bad' END
        |    ELSE
        |      CASE WHEN 5 * link_chars > nonws THEN 'bad'
        |        WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |        WHEN n_chars < 70 THEN
        |          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |        ELSE 'bad' END
        |    END AS cf_class
        |  FROM ${p}feat),
        |${mainReviseCtes(p)}""".stripMargin
  }

  /** The ru/ar main-content replay — the WORD ladder over the planted
    * ru (even) / ar (odd) pages: `stopsEnabled=false` replays the
    * dark (en-only) pin (empty stoplist → zero density → every page
    * empty); `true` replays the v4 pin's per-language word lists.
    * Pure [[mainBlocksCtes]]-family word classification — nothing in
    * the classifier changed for these scripts, only the DATA.
    */
  private[graft] def ruArMainBlocksCtes(p: String, stopsEnabled: Boolean)
      : String = {
    import ScriptMainFixture._
    def listOf(ws: Seq[String]): String =
      ws.map(w => s"'$w'").mkString("[", ", ", "]")
    def byLang(ru: String, ar: String): String =
      s"CASE plang WHEN 'ru' THEN '$ru' ELSE '$ar' END"
    val nstop =
      if (!stopsEnabled) "CAST(0 AS BIGINT)"
      else s"""CAST(CASE plang
        |      WHEN 'ru' THEN len(list_filter(string_split(btext, ' '),
        |        w -> list_contains(${listOf(ruStops)}, lower(w))))
        |      ELSE len(list_filter(string_split(btext, ' '),
        |        w -> list_contains(${listOf(arStops)}, lower(w))))
        |      END AS BIGINT)""".stripMargin
    s"""${p}d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ru' ELSE 'ar' END AS plang,
        |  doc_id // 2 AS j,
        |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        |  FROM documents),
        |${p}raw AS (
        |  SELECT doc_id, plang, 0 AS pos, false AS heading,
        |    ${byLang(ruNav.mkString(" "), arNav.mkString(" "))} AS btext,
        |    CASE plang WHEN 'ru' THEN ${ruNav.map(_.length).sum}
        |      ELSE ${arNav.map(_.length).sum} END AS link_chars
        |  FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 1, true,
        |    ${byLang(ruHead, arHead)} || ' ' || (doc_id % 9), 0
        |    FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 2, false, t, 0
        |    FROM ${p}d WHERE j % 7 = 0
        |  UNION ALL SELECT doc_id, plang, 3, false,
        |    trim(repeat(${byLang(ruHi, arHi)} || ' ',
        |        CAST(j % 4 AS INTEGER)) ||
        |      repeat(${byLang(ruLo, arLo)} || ' ',
        |        CAST(j % 3 AS INTEGER))), 0
        |    FROM ${p}d WHERE j % 4 <> 0 OR j % 3 <> 0
        |  UNION ALL SELECT doc_id, plang, 4, false,
        |    ${byLang(ruMed, arMed)}, 0 FROM ${p}d WHERE j % 5 = 0
        |  UNION ALL SELECT doc_id, plang, 5, false,
        |    ${byLang(ruStub, arStub)},
        |    CASE plang WHEN 'ru' THEN ${ruStub.length}
        |      ELSE ${arStub.length} END FROM ${p}d
        |  UNION ALL SELECT doc_id, plang, 6, false,
        |    chr(169) || ' 2026 ' || ${byLang(ruFooter, arFooter)}, 0
        |    FROM ${p}d),
        |${p}feat AS (
        |  SELECT doc_id, plang,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      - 1 AS BIGINT) AS block_idx,
        |    heading, btext,
        |    CAST(length(btext) AS BIGINT) AS n_chars,
        |    length(replace(btext, ' ', '')) AS nonws,
        |    CAST(link_chars AS BIGINT) AS link_chars,
        |    CAST(len(string_split(btext, ' ')) AS BIGINT) AS n_words,
        |    $nstop AS n_stop
        |  FROM ${p}raw),
        |${p}cf AS (
        |  SELECT *, CASE
        |    WHEN 5 * link_chars > nonws THEN 'bad'
        |    WHEN strpos(btext, chr(169)) > 0 THEN 'bad'
        |    WHEN n_chars < 70 THEN
        |      CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
        |    WHEN 100 * n_stop >= 32 * n_words THEN
        |      CASE WHEN n_chars > 200 THEN 'good' ELSE 'neargood' END
        |    WHEN 10 * n_stop >= 3 * n_words THEN 'neargood'
        |    ELSE 'bad' END AS cf_class
        |  FROM ${p}feat),
        |${mainReviseCtes(p)}""".stripMargin
  }

  private[graft] lazy val linksResolvedCtes: String =
    """v AS (
      |  SELECT doc_id,
      |    doc_id % 13 AS a, doc_id % 7 AS b, doc_id % 9 AS c,
      |    doc_id % 5 AS e, doc_id % 3 AS m,
      |    (doc_id + 1) % 13 AS a1, (doc_id + 1) % 9 AS c1,
      |    doc_id % 4 AS q4, doc_id % 6 AS b6,
      |    doc_id % 4 = 0 AS hasbase,
      |    'http://site' || (doc_id % 13) || '.com/dir' ||
      |      (doc_id % 7) || '/page' || (doc_id % 9) || '.html' AS p,
      |    'https://base' || (doc_id % 3) || '.org' AS borg
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, CAST(ps AS BIGINT) AS pos,
      |    CASE ps
      |      WHEN 0 THEN 'HTTPS://Ext' || e ||
      |        '.COM:443/x?b=2&utm_source=x&a=1#f'
      |      WHEN 1 THEN CASE WHEN hasbase
      |        THEN borg || '/bx/sub/p' || c1
      |        ELSE 'http://site' || a || '.com/dir' || b ||
      |          '/sub/p' || c1 END
      |      WHEN 2 THEN (CASE WHEN hasbase THEN borg
      |        ELSE 'http://site' || a || '.com' END) || '/up/q' || m
      |      WHEN 3 THEN (CASE WHEN hasbase THEN 'https' ELSE 'http'
      |        END) || '://site' || a1 || '.com/root'
      |      WHEN 4 THEN CASE WHEN hasbase THEN borg || '/bx/?q=' || q4
      |        ELSE p || '?q=' || q4 END
      |      WHEN 5 THEN (CASE WHEN hasbase THEN borg
      |        ELSE 'http://site' || a || '.com' END) || '/e?a=1&b=' || b6
      |      WHEN 6 THEN 'mailto:u' || b || '@x.com'
      |      WHEN 7 THEN (CASE WHEN hasbase THEN borg || '/bx/' ELSE p
      |        END) || '#sec' || m
      |      ELSE CASE WHEN hasbase THEN borg || '/bx/page' ||
      |        c || '.html' ELSE p END
      |    END AS resolved,
      |    hasbase, e, m, p, borg, ps
      |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS ps)),
      |lc AS (
      |  SELECT doc_id, pos, resolved,
      |    CASE ps
      |      WHEN 0 THEN 'https://ext' || e || '.com/x?a=1&b=2'
      |      WHEN 6 THEN NULL
      |      WHEN 7 THEN CASE WHEN hasbase THEN borg || '/bx/' ELSE p END
      |      ELSE resolved END AS url_canon
      |  FROM l)""".stripMargin

  /** The integer-nano PageRank replay over the `lc` link set (assumes
    * [[linksResolvedCtes]] precedes it): edges `ed` (self-loops out),
    * nodes/degrees, `p0` the uniform start, and three generated
    * iterations `d/c/p 1..3` — floor division at every step, dangling
    * mass uniform. Shared by the rank and the crawl-priority oracles.
    */
  private[graft] lazy val pagerankCtes: String = {
    val iters = (1 to 3).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""d$k AS (
         |  SELECT coalesce(sum(pr), 0) AS dangling
         |  FROM $prev LEFT JOIN od ON $prev.node = od.src
         |  WHERE od.outdeg IS NULL),
         |c$k AS (
         |  SELECT ed.dst, sum($prev.pr // od.outdeg) AS contrib
         |  FROM $prev JOIN od ON $prev.node = od.src
         |  JOIN ed ON ed.src = $prev.node GROUP BY 1),
         |p$k AS (
         |  SELECT $prev.node,
         |    CAST((15 * (1000000000 // $prev.n)) // 100 +
         |      (85 * (coalesce(c$k.contrib, 0) +
         |        d$k.dangling // $prev.n)) // 100 AS BIGINT) AS pr,
         |    $prev.n
         |  FROM $prev LEFT JOIN c$k ON $prev.node = c$k.dst
         |  CROSS JOIN d$k)""".stripMargin
    }.mkString(",\n")
    s"""ed AS (
       |  SELECT DISTINCT
       |    'http://site' || (doc_id % 13) || '.com/dir' ||
       |      (doc_id % 7) || '/page' || (doc_id % 9) || '.html' AS src,
       |    url_canon AS dst
       |  FROM lc
       |  WHERE url_canon IS NOT NULL
       |    AND (url_canon LIKE 'http://%' OR
       |         url_canon LIKE 'https://%')
       |    AND url_canon <> 'http://site' || (doc_id % 13) ||
       |      '.com/dir' || (doc_id % 7) || '/page' ||
       |      (doc_id % 9) || '.html'),
       |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
       |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |       FROM ed GROUP BY 1),
       |idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_in
       |        FROM ed GROUP BY 1),
       |p0 AS (SELECT node, CAST(1000000000 // n AS BIGINT) AS pr, n
       |       FROM nd, nn),
       |$iters""".stripMargin
  }

  /** [[linksResolvedCtes]] + the frontier steps: `pages` (the seen
    * set), `cand` (distinct canonical http(s) links), `fresh`
    * (anti-joined), `fr` (+ domain/path), `allowed` (the planted
    * [[plantedFrontierRobots]] decision replayed by domain kind).
    */
  private[graft] lazy val frontierAllowedCtes: String =
    linksResolvedCtes +
      """,
        |pages AS (SELECT DISTINCT p AS url FROM v),
        |cand AS (
        |  SELECT DISTINCT url_canon AS url FROM lc
        |  WHERE url_canon IS NOT NULL
        |    AND (url_canon LIKE 'http://%' OR url_canon LIKE 'https://%')),
        |fresh AS (
        |  SELECT url FROM cand WHERE url NOT IN (SELECT url FROM pages)),
        |fr AS (
        |  SELECT url,
        |    regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain,
        |    regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path
        |  FROM fresh),
        |allowed AS (
        |  SELECT domain, url, path FROM fr
        |  WHERE CASE
        |    WHEN domain LIKE 'site%' THEN
        |      CASE WHEN CAST(regexp_extract(domain, 'site([0-9]+)', 1)
        |          AS BIGINT) % 2 = 0
        |        THEN path NOT LIKE '/up%'
        |        ELSE path NOT LIKE '/root%' END
        |    WHEN domain LIKE 'ext%' THEN path NOT LIKE '/y%'
        |    ELSE path NOT LIKE '/e%' END)""".stripMargin

  /** The oracle's independent reconstruction of what extracting the
    * [[htmlAugmentedDocs]] wrapper must yield — (doc_id, source, text)
    * where text is the kept blocks joined by newline: h1 (entities
    * decoded), the inline-tag paragraph, the doc's own text
    * (escape→decode round-trip = identity, then per-block whitespace
    * collapse), and the two list items for every third doc. The
    * anchor-only nav/read-more/footer blocks are boilerplate-dropped
    * by the link-density rule, the head's raw-text elements never
    * contribute. Shared by `text_extract_html` (byte-level md5 pin)
    * and `pipeline_pretrain_html` (the composed chain).
    */
  /** What extracting [[pdfAugmentedDocs]]'s planted PDFs must yield —
    * the PDF sibling of [[htmlExtractedDocsRel]] (no whitespace
    * collapse: PDF extraction is byte-faithful).
    */
  private[graft] lazy val pdfExtractedDocsRel: String =
    """SELECT doc_id, source,
      |  'Doc ' || doc_id || ' overview.' || chr(10) || text ||
      |  CASE WHEN doc_id % 2 = 1
      |    THEN chr(12) || 'Appendix ' || doc_id || '.'
      |    ELSE '' END AS text
      |FROM documents""".stripMargin

  private[graft] lazy val htmlExtractedDocsRel: String =
    """SELECT doc_id, source,
      |  'Title & doc ' || doc_id || '!' || chr(10) ||
      |  'note' || doc_id || ' says <keep> this text' || doc_id ||
      |  ':' || chr(10) ||
      |  trim(regexp_replace(text, '\s+', ' ', 'g')) ||
      |  CASE WHEN doc_id % 3 = 0
      |    THEN chr(10) || 'alpha' || doc_id || chr(10) ||
      |         'beta A' || doc_id
      |    ELSE '' END AS text
      |FROM documents""".stripMargin

  /** The pretraining-pipeline replay (dedup keepers → decontaminate →
    * language/quality gates → mixture → shard) over `docsRel` — either
    * the documents table itself or a reconstruction subquery aliased
    * `AS documents` (the HTML-ingest variant).
    */
  private[graft] def pipelinePretrainOracle(docsRel: String): String = {
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
    val scores = TextOps.langProfiles.map { case (lang, markers) =>
      val set = markers.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
    }.mkString(", ")
    val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
      .map(l => s"s_en >= s_$l").mkString(" AND ")
    val cases = mixtureWeights.toSeq.sortBy(_._1).map { case (src, f) =>
      s"WHEN source = '$src' THEN '${Sampling.fracThreshold(f)}'"
    }.mkString("\n         ")
    s"""WITH keep AS (
       |  SELECT min(doc_id) AS keep_id FROM $docsRel
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |base AS (
       |  SELECT doc_id, text, source FROM $docsRel JOIN keep ON doc_id = keep_id
       |  WHERE doc_id % 17 <> 0),
       |bench AS (
       |  SELECT DISTINCT unnest(${duckShingles(5)}) AS sh
       |  FROM $docsRel WHERE doc_id % 17 = 0),
       |cont AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(${duckShingles(5)}) AS sh FROM base) c
       |  JOIN bench USING (sh)),
       |t AS (
       |  SELECT doc_id, source, $normToks AS toks FROM base
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |f AS (
       |  SELECT doc_id, source, len(toks) AS n_tokens,
       |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
       |           AS distinct_ratio,
       |         CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
       |           / len(toks) AS stopword_ratio,
       |         $scores
       |  FROM t),
       |gated AS (
       |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM f
       |  WHERE $enCond
       |    AND round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + distinct_ratio
       |          + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6) >= 0.6),
       |mixed AS (
       |  SELECT doc_id, source, n_tokens, md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM gated
       |  WHERE md5(CAST(doc_id AS VARCHAR)) <
       |    CASE $cases
       |         ELSE '${Sampling.fracThreshold(0.0)}' END),
       |sharded AS (
       |  SELECT doc_id, source, n_tokens, h,
       |         CAST(('0x' || substring(h, 1, 6)) AS BIGINT) % 4 AS shard
       |  FROM mixed)
       |SELECT doc_id, source, n_tokens, shard,
       |       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
       |FROM sharded ORDER BY shard, pos""".stripMargin
  }

  /** `allowedWhere` (e.g. `"WHERE doc_id % 3 <> 0"`) gates the ranking
    * stage — candidates restricted, tf/df/dl statistics corpus-wide —
    * mirroring [[graft.operators.Retrieval.bm25TopKBatchFromIndex]]'s
    * `allowed` pre-filter semantics.
    */
  private[graft] def bm25BatchOracleSql(k: Int, allowedWhere: String = ""): String = {
    val (k1, b) = (1.2, 0.75)
    val (k1p1, k1s, oneMb, bs) = ((k1 + 1).toString, k1.toString,
      (1 - b).toString, b.toString)
    val qvals = bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(dl) AS BIGINT) AS tot FROM d),
       |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, term
       |      FROM (VALUES $qvals) AS v(q_id, term)),
       |terms AS (SELECT DISTINCT term FROM q),
       |tfp AS (SELECT doc_id, term, dl, tf FROM (
       |          SELECT d.doc_id, terms.term, d.dl,
       |            CAST(len(list_filter(d.toks, x -> x = terms.term))
       |              AS BIGINT) AS tf
       |          FROM d, terms)
       |        WHERE tf > 0),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |          FROM tfp GROUP BY 1),
       |p AS (SELECT q.q_id, tfp.doc_id,
       |        CAST(round(ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |              * (CAST(tfp.tf AS DOUBLE) * $k1p1)
       |              / (CAST(tfp.tf AS DOUBLE)
       |                 + $k1s * ($oneMb + $bs
       |                    * (tfp.dl / (CAST(s.tot AS DOUBLE) / s.n))))
       |              * 1000000.0) AS BIGINT) AS sc
       |      FROM tfp JOIN dfreq USING (term) JOIN q USING (term)
       |           CROSS JOIN s),
       |sc AS (SELECT q_id, doc_id, CAST(count(*) AS INTEGER) AS n_hit,
       |         CAST(sum(sc) AS BIGINT) AS score_micro
       |       FROM p GROUP BY 1, 2),
       |r AS (SELECT q_id, doc_id, n_hit, score_micro,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rk
       |      FROM sc $allowedWhere)
       |SELECT q_id, doc_id, n_hit, score_micro, rk FROM r WHERE rk <= $k
       |ORDER BY q_id, doc_id""".stripMargin
  }

  private[graft] def bm25OracleSql(k: Int, allowedWhere: String): String = {
    val (k1, b) = (1.2, 0.75)
    val (k1p1, k1s, oneMb, bs) = ((k1 + 1).toString, k1.toString,
      (1 - b).toString, b.toString)
    val i = bm25Terms.indices
    val tfCols = bm25Terms.zipWithIndex.map { case (t, j) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$j"
    }.mkString(",\n        ")
    val dfCols = i.map(j =>
      s"CAST(sum(CASE WHEN tf_$j > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$j")
      .mkString(",\n        ")
    val hitSum = i.map(j => s"(CASE WHEN tf_$j > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val partials = i.map(j =>
      s"""CAST(round(ln(1.0 + (n - df_$j + 0.5) / (df_$j + 0.5))
         |          * (CAST(tf_$j AS DOUBLE) * $k1p1)
         |          / (CAST(tf_$j AS DOUBLE)
         |             + $k1s * ($oneMb + $bs * (dl / (CAST(tot AS DOUBLE) / n))))
         |          * 1000000.0) AS BIGINT)""".stripMargin)
      .mkString("\n        + ")
    s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |        $tfCols
       |      FROM t),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(dl) AS BIGINT) AS tot,
       |        $dfCols
       |      FROM d),
       |p AS (SELECT doc_id, CAST($hitSum AS INTEGER) AS n_hit,
       |        $partials AS score_micro
       |      FROM d, s),
       |r AS (SELECT doc_id, n_hit, score_micro,
       |        CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
       |          AS INTEGER) AS rk
       |      FROM p $allowedWhere)
       |SELECT doc_id, n_hit, score_micro, rk FROM r WHERE rk <= $k
       |ORDER BY doc_id""".stripMargin
  }

  /** The legacy-charset oracle, generated from the SAME
    * [[legacyCharsetPlants]] constant the query's fixture encodes and
    * the store saves — expected text reconstructed as chr() code
    * points (the charset-oracle discipline: no encoding round-trip
    * through the SQL text itself), md5'd per pin. v1 decodes only the
    * Japanese kinds; its rejected rows carry the RAW lowercased label
    * (the unsupported-label contract), which for alias labels (gb2312)
    * differs from v2's normalized encoding name (gbk).
    */
  private[graft] lazy val legacyCharsetOracle: String = {
    def chrs(cps: Seq[Int]): String =
      cps.map(c => s"chr($c)").mkString(" || ")
    val plants = legacyCharsetPlants.zipWithIndex
    val textCases = plants.map { case ((_, _, _, cps), k) =>
      if (cps.isEmpty) s"WHEN $k THEN NULL"
      else s"WHEN $k THEN prefix || ${chrs(cps)}"
    }.mkString("\n    ")
    def label(ct: String): String =
      if (ct == null) "shift_jis"
      else ct.substring(ct.indexOf("charset=") + 8)
        .toLowerCase(java.util.Locale.ROOT)
    val v2Name = plants.map { case ((ct, _, _, cps), k) =>
      val l = label(ct)
      val enc = graft.functions.EncodingStore.normalizeLegacyLabel(l)
      val name = if (cps.isEmpty) l else enc.getOrElse(l)
      s"WHEN $k THEN '$name'"
    }.mkString(" ")
    val v1Name = plants.map { case ((ct, v1ok, _, _), k) =>
      val l = label(ct)
      val name = if (v1ok)
        graft.functions.EncodingStore.normalizeLegacyLabel(l).get
      else l
      s"WHEN $k THEN '$name'"
    }.mkString(" ")
    val v2Method = plants.map { case ((ct, _, _, cps), k) =>
      val m = if (cps.isEmpty) "unsupported-label"
        else if (ct == null) "meta" else "header"
      s"WHEN $k THEN '$m'"
    }.mkString(" ")
    val v1Method = plants.map { case ((ct, v1ok, _, _), k) =>
      val m = if (!v1ok) "unsupported-label"
        else if (ct == null) "meta" else "header"
      s"WHEN $k THEN '$m'"
    }.mkString(" ")
    val v1Kinds = plants.collect { case ((_, true, _, _), k) => k }
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, doc_id % 10 AS kind FROM documents),
       |e AS (SELECT doc_id, kind,
       |  CASE WHEN kind = 1
       |    THEN '<meta charset=shift_jis>Doc ' || doc_id || ' '
       |    ELSE 'Doc ' || doc_id || ' ' END AS prefix FROM d),
       |t AS (SELECT doc_id, kind,
       |  CASE kind
       |    $textCases
       |  END AS text_v2 FROM e),
       |u AS (SELECT doc_id, kind, text_v2,
       |  CASE WHEN kind IN ($v1Kinds) THEN text_v2 END AS text_v1
       |  FROM t)
       |SELECT doc_id,
       |  CASE kind $v1Name END AS charset_v1,
       |  CASE kind $v1Method END AS method_v1,
       |  md5(text_v1) AS md5_v1,
       |  CASE kind $v2Name END AS charset_v2,
       |  CASE kind $v2Method END AS method_v2,
       |  md5(text_v2) AS md5_v2,
       |  CAST(length(text_v2) AS BIGINT) AS n_chars_v2
       |FROM u ORDER BY doc_id""".stripMargin
  }

  private[graft] lazy val crawlFunnelOracle: String = {
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")

      val scores = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
      }.mkString(", ")
      val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
        .map(l => s"s_en >= s_$l").mkString(" AND ")
      s"""WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
         |  doc_id % 13 AS n, doc_id % 9 AS p,
         |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS ctext
         |  FROM documents),
         |e AS (SELECT doc_id, kind, n, p,
         |  CASE WHEN kind = 1 THEN 'Doc ' || doc_id || ' ' ||
         |         chr(8364) || chr(10) || ctext
         |       WHEN kind = 3 THEN 'Doc ' || doc_id || ' ' ||
         |         chr(26085) || chr(26412) || chr(35486) ||
         |         chr(10) || ctext
         |       WHEN kind IN (0, 2) THEN 'Doc ' || doc_id ||
         |         chr(10) || ctext END AS text,
         |  (CASE WHEN n % 2 = 0 THEN p <> n % 3
         |        WHEN n % 3 = 0 THEN p = n % 9
         |        ELSE p <> n % 5 END) AS allowed FROM d),
         |t AS (SELECT doc_id, allowed, $normToks AS toks
         |      FROM e WHERE kind <> 4),
         |f AS (SELECT doc_id, allowed,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |          AS distinct_ratio,
         |        CAST(len(list_filter(toks, t -> t IN ($stop)))
         |          AS DOUBLE) / len(toks) AS stopword_ratio,
         |        $scores FROM t),
         |k AS (SELECT doc_id, allowed, n_tokens,
         |        (allowed AND $enCond AND
         |         round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
         |           + distinct_ratio
         |           + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6)
         |           >= 0.6) AS kept FROM f)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
         |    AS n_fetched,
         |  CAST(count(*) AS BIGINT) AS n_decoded,
         |  CAST(count(*) FILTER (WHERE allowed) AS BIGINT)
         |    AS n_allowed,
         |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(sum(n_tokens) FILTER (WHERE kept), 0)
         |    AS BIGINT) AS total_tokens
         |FROM k""".stripMargin
  }

  /** The mixed-media funnel replay: both extraction shapes by
    * construction (html → heading + whitespace-collapsed body, PDF →
    * heading + RAW body text), the per-media rejections (EUC-JP html
    * label, every 7th classic PDF encrypted), then the language +
    * quality arithmetic shared with [[crawlFunnelOracle]].
    */
  private[graft] lazy val crawlMixedOracle: String = {
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
    val scores = TextOps.langProfiles.map { case (lang, markers) =>
      val set = markers.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
    }.mkString(", ")
    val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
      .map(l => s"s_en >= s_$l").mkString(" AND ")
    s"""WITH d AS (SELECT doc_id, doc_id % 5 AS kind, text,
       |  trim(regexp_replace(text, '\\s+', ' ', 'g')) AS ctext
       |  FROM documents),
       |e AS (SELECT doc_id, kind,
       |  CASE WHEN kind = 0 THEN 'Doc ' || doc_id || chr(10) || ctext
       |       WHEN kind = 1 THEN 'Doc ' || doc_id || ' ' || chr(8364)
       |         || chr(10) || ctext
       |       WHEN kind = 2 AND doc_id % 7 <> 0 THEN 'Doc ' || doc_id
       |         || ' pdf.' || chr(10) || text
       |       WHEN kind = 3 THEN 'Doc ' || doc_id || ' pdfm.' ||
       |         chr(10) || text
       |       WHEN kind = 4 AND doc_id % 3 <> 0 THEN 'Doc ' || doc_id
       |         || ' ' || chr(26085) || chr(26412) || chr(35486) ||
       |         chr(10) || ctext
       |  END AS t FROM d),
       |x AS (SELECT doc_id, kind,
       |  string_split_regex(lower(trim(t)), '\\s+') AS toks
       |  FROM e WHERE t IS NOT NULL),
       |f AS (SELECT doc_id, kind,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
       |    AS distinct_ratio,
       |  CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
       |    / len(toks) AS stopword_ratio,
       |  $scores FROM x),
       |k AS (SELECT doc_id, kind, n_tokens,
       |  ($enCond AND
       |   round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
       |     + distinct_ratio + (1.0 - abs(stopword_ratio - 0.4)))
       |     / 3.0, 6) >= 0.6) AS kept FROM f)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
       |    AS n_fetched,
       |  (SELECT CAST(count(*) FILTER (WHERE doc_id % 5 IN (2, 3))
       |     AS BIGINT) FROM documents) AS n_pdf,
       |  CAST(count(*) AS BIGINT) AS n_decoded,
       |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       |  CAST(count(*) FILTER (WHERE kept AND kind IN (2, 3))
       |    AS BIGINT) AS n_pdf_kept,
       |  CAST(COALESCE(sum(n_tokens) FILTER (WHERE kept), 0)
       |    AS BIGINT) AS total_tokens
       |FROM k""".stripMargin
  }
}
