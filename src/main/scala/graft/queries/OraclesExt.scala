package graft

import graft.functions._
import graft.operators._

/** The oracle map's second half (the Map literal outgrew one file)
  * (pure move out of Queries.scala — no behavior change).
  */
private[graft] trait OraclesExt extends OracleHelpers {

  private[graft] def oraclesPartB: Map[String, String] = Map(
    "text_vocab" ->
      s"""WITH tok AS (
         |  SELECT unnest($normToks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         |top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200)
         |SELECT token, cnt,
         |       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
         |         AS rank
         |FROM top ORDER BY rank""".stripMargin,

    "sample_topquality" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, source, $normToks AS toks FROM documents),
         |f AS (
         |  SELECT doc_id, source,
         |         len(toks) AS n_tokens,
         |         CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
         |           / len(toks) AS stopword_ratio,
         |         CAST(len(list_distinct(toks)) AS DOUBLE)
         |           / len(toks) AS distinct_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, source,
         |         round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
         |                + distinct_ratio
         |                + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6)
         |           AS quality
         |  FROM f),
         |qq AS (SELECT doc_id, source, quality,
         |              CAST(round(quality * 1e6) AS BIGINT) AS qi FROM q),
         |thr AS (SELECT source, quantile_cont(qi, 0.75) AS thr
         |        FROM qq GROUP BY 1)
         |SELECT qq.doc_id, qq.source, qq.quality
         |FROM qq JOIN thr ON qq.source = thr.source
         |WHERE qq.qi >= thr.thr
         |ORDER BY doc_id""".stripMargin
    },

    "sample_fraction" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE md5(CAST(doc_id AS VARCHAR)) < '${Sampling.fracThreshold(0.25)}'
         |ORDER BY doc_id""".stripMargin,

    "sample_mixture" -> {
      val cases = mixtureWeights.toSeq.sortBy(_._1).map { case (src, f) =>
        s"WHEN source = '$src' THEN '${Sampling.fracThreshold(f)}'"
      }.mkString("\n         ")
      s"""SELECT doc_id, source FROM documents
         |WHERE md5(CAST(doc_id AS VARCHAR)) <
         |  CASE $cases
         |       ELSE '${Sampling.fracThreshold(0.0)}' END
         |ORDER BY doc_id""".stripMargin
    },

    "pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (
        |  SELECT doc_id, h,
        |         CAST(('0x' || substring(h, 1, 6)) AS BIGINT) % 8 AS shard
        |  FROM t)
        |SELECT doc_id, shard,
        |       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    "text_pii" -> {
      val counts = TextOps.piiPatterns.map { case (kind, pattern, _) =>
        s"CAST(len(regexp_extract_all(t, '$pattern')) AS BIGINT) AS n_${kind}s"
      }.mkString(",\n       ")
      val redacted = TextOps.piiPatterns.foldLeft("t") {
        case (acc, (_, pattern, repl)) =>
          s"regexp_replace($acc, '$pattern', '$repl', 'g')"
      }
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 5 <> 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' ||
         |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |      lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' ssn ' ||
         |      CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
         |      CAST(doc_id % 90 + 10 AS VARCHAR) || '-' ||
         |      CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 2 = 0 THEN ' from 10.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |      CAST(doc_id * 3 % 256 AS VARCHAR) ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |       $counts,
         |       md5($redacted) AS redacted_md5
         |FROM aug ORDER BY doc_id""".stripMargin
    },

    "text_unigram_lm" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($normToks) AS term FROM documents),
         |freq AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
         |SELECT doc_id, count(*) AS n_tokens,
         |       round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
         |FROM toks JOIN freq USING (term) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM t, unnest(range(1, len(toks))) AS r(i)
         |      WHERE len(toks) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(avg(ln(CAST(c12 AS DOUBLE) / c1)), 4) AS avg_logprob
         |FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PMI replay: same counts, same fixed-order double arithmetic
    // ((c12*T*T) / (B*c1*c2), products left-to-right), same 4-decimal
    // rounding BEFORE the (pmi desc, w1, w2) rank
    "text_pmi_bigrams" ->
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM t, unnest(range(1, len(toks))) AS r(i)
         |      WHERE len(toks) >= 2),
         |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
         |         SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
         |       FROM b GROUP BY 1, 2),
         |tot AS (SELECT (SELECT CAST(sum(n_pair) AS BIGINT) FROM pc) AS bb,
         |               (SELECT CAST(sum(cw) AS BIGINT) FROM uc) AS tt),
         |scored AS (
         |  SELECT pc.w1, pc.w2, pc.n_pair,
         |         round(ln((CAST(pc.n_pair AS DOUBLE) * tot.tt * tot.tt)
         |           / (CAST(tot.bb AS DOUBLE) * u1.cw * u2.cw)), 4) AS pmi
         |  FROM pc
         |  JOIN uc u1 ON u1.w = pc.w1
         |  JOIN uc u2 ON u2.w = pc.w2
         |  CROSS JOIN tot
         |  WHERE pc.n_pair >= 5),
         |r AS (SELECT w1, w2, n_pair, pmi,
         |        CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2)
         |          AS INTEGER) AS rk
         |      FROM scored)
         |SELECT w1, w2, n_pair, pmi, rk FROM r WHERE rk <= 20
         |ORDER BY w1, w2""".stripMargin,

    // maintained-store stats == the END corpus: n_docs, sum of token
    // counts (== n_postings by the one-entry-per-occurrence invariant),
    // distinct tokens
    "text_bm25_stats" ->
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(toks)) AS BIGINT) AS total_dl,
         |       (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM (
         |          SELECT unnest(toks) AS w FROM t)) AS n_terms,
         |       CAST(sum(len(toks)) AS BIGINT) AS n_postings
         |FROM t""".stripMargin,

    "text_backoff_lm" -> {
      // alpha literals generated from the SAME Scala doubles the query
      // uses (0.4*0.4 = 0.16000000000000003, not "0.16")
      val alpha = 0.4
      val (aS, a2S) = (alpha.toString, (alpha * alpha).toString)
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |tri AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
         |               toks[i + 2] AS w3
         |        FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
         |        WHERE len(toks) >= 3),
         |bi AS (SELECT doc_id, toks[i] AS wa, toks[i + 1] AS wb
         |       FROM t, unnest(range(1, len(toks))) AS r(i)
         |       WHERE len(toks) >= 2),
         |uni AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |tr3 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri
         |        WHERE doc_id % 10 != 7 GROUP BY 1, 2, 3),
         |tr2 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
         |        FROM tr3 GROUP BY 1, 2),
         |b2 AS (SELECT wa, wb, count(*) AS c23 FROM bi
         |       WHERE doc_id % 10 != 7 GROUP BY 1, 2),
         |b1 AS (SELECT wa, CAST(sum(c23) AS BIGINT) AS c2
         |       FROM b2 GROUP BY 1),
         |u1 AS (SELECT w, count(*) AS c3 FROM uni
         |       WHERE doc_id % 10 != 7 GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(count(DISTINCT w) AS BIGINT) AS v
         |        FROM uni WHERE doc_id % 10 != 7),
         |s AS (SELECT b.doc_id,
         |        CASE WHEN tr3.c123 IS NOT NULL
         |               THEN ln(CAST(tr3.c123 AS DOUBLE) / tr2.c12)
         |             WHEN b2.c23 IS NOT NULL
         |               THEN ln($aS * (CAST(b2.c23 AS DOUBLE) / b1.c2))
         |             ELSE ln($a2S *
         |               (CAST(COALESCE(u1.c3, 0) + 1 AS DOUBLE)
         |                / (tot.n + tot.v))) END AS lp
         |      FROM (SELECT * FROM tri WHERE doc_id % 10 = 7) b
         |      LEFT JOIN tr3 USING (w1, w2, w3)
         |      LEFT JOIN tr2 USING (w1, w2)
         |      LEFT JOIN b2 ON b.w2 = b2.wa AND b.w3 = b2.wb
         |      LEFT JOIN b1 ON b.w2 = b1.wa
         |      LEFT JOIN u1 ON b.w3 = u1.w
         |      CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |       round(avg(lp), 4) AS avg_logprob
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // snapshot drift: even vs odd doc ids per source — length means,
    // vocab Jaccard via the (source, token, side) presence table, and
    // the embedding-mean L2 shift over per-position ROUNDED means (the
    // rounding before the fixed-order norm is what makes the double
    // arithmetic replay bit-for-bit)
    "corpus_drift" ->
      s"""WITH b AS (SELECT source,
         |             CASE WHEN doc_id % 2 = 0 THEN 'old' ELSE 'new' END
         |               AS side,
         |             $normToks AS toks FROM documents),
         |lens AS (SELECT source,
         |    CAST(sum(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_old,
         |    CAST(sum(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_new,
         |    round(avg(CASE WHEN side = 'old' THEN len(toks) END), 4)
         |      AS len_mean_old,
         |    round(avg(CASE WHEN side = 'new' THEN len(toks) END), 4)
         |      AS len_mean_new
         |  FROM b GROUP BY source),
         |v AS (SELECT source, w,
         |        max(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS o,
         |        max(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS n
         |      FROM (SELECT source, side, unnest(toks) AS w FROM b)
         |      GROUP BY source, w),
         |vj AS (SELECT source,
         |         round(CAST(sum(o * n) AS DOUBLE) / count(*), 6)
         |           AS vocab_jaccard
         |       FROM v GROUP BY source),
         |ex AS (SELECT CASE WHEN vec_id % 2 = 0 THEN 'old' ELSE 'new' END
         |         AS side, i - 1 AS pos, (embedding::DOUBLE[])[i] AS x
         |       FROM embeddings,
         |            unnest(range(1, len(embedding) + 1)) AS r(i)),
         |mm AS (SELECT pos,
         |         round(avg(CASE WHEN side = 'old' THEN x END), 6) AS mo,
         |         round(avg(CASE WHEN side = 'new' THEN x END), 6) AS mn
         |       FROM ex GROUP BY pos),
         |sh AS (SELECT round(sqrt(sum((mo - mn) * (mo - mn))), 6)
         |         AS emb_shift FROM mm)
         |SELECT lens.source, n_old, n_new, len_mean_old, len_mean_new,
         |       vocab_jaccard, emb_shift
         |FROM lens JOIN vj USING (source) CROSS JOIN sh
         |ORDER BY source""".stripMargin,

    // the drift-response verdict: corpus_drift's signal replay with the
    // staged embedding drift (x*0.01 + 2.0 on odd vec_ids, applied in
    // DOUBLE inside the signal on both engines) + the threshold policy.
    // skew_exceeded is pinned TRUE: the k-means layout skew is the one
    // leg an oracle cannot recompute, but the fixture guarantees it by
    // construction — every drifted vector lies in a 0.01-radius cosine
    // ball around the 1-direction, so a single trained centroid absorbs
    // the whole new half and max_cluster/n >= ~0.5 > the 0.25 policy
    "pipeline_drift_response" ->
      s"""WITH b AS (SELECT source,
         |             CASE WHEN doc_id % 2 = 0 THEN 'old' ELSE 'new' END
         |               AS side,
         |             $normToks AS toks FROM documents),
         |lens AS (SELECT source,
         |    round(avg(CASE WHEN side = 'old' THEN len(toks) END), 4)
         |      AS len_mean_old,
         |    round(avg(CASE WHEN side = 'new' THEN len(toks) END), 4)
         |      AS len_mean_new
         |  FROM b GROUP BY source),
         |v AS (SELECT source, w,
         |        max(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS o,
         |        max(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS n
         |      FROM (SELECT source, side, unnest(toks) AS w FROM b)
         |      GROUP BY source, w),
         |vj AS (SELECT source,
         |         round(CAST(sum(o * n) AS DOUBLE) / count(*), 6)
         |           AS vocab_jaccard
         |       FROM v GROUP BY source),
         |ex AS (SELECT vec_id % 2 = 1 AS isnew, i - 1 AS pos,
         |         CASE WHEN vec_id % 2 = 1
         |           THEN (embedding::DOUBLE[])[i] * 0.01 + 2.0
         |           ELSE (embedding::DOUBLE[])[i] END AS x
         |       FROM embeddings,
         |            unnest(range(1, len(embedding) + 1)) AS r(i)),
         |mm AS (SELECT pos,
         |         round(avg(CASE WHEN NOT isnew THEN x END), 6) AS mo,
         |         round(avg(CASE WHEN isnew THEN x END), 6) AS mn
         |       FROM ex GROUP BY pos),
         |sh AS (SELECT round(sqrt(sum((mo - mn) * (mo - mn))), 6)
         |         AS emb_shift FROM mm),
         |per AS (SELECT lens.source, len_mean_old, len_mean_new,
         |          vocab_jaccard, emb_shift,
         |          abs(len_mean_new - len_mean_old) > len_mean_old * 0.1
         |            AS len_exceeded,
         |          vocab_jaccard < 0.5 AS vocab_exceeded,
         |          emb_shift > 0.5 AS emb_exceeded,
         |          TRUE AS skew_exceeded
         |        FROM lens JOIN vj USING (source) CROSS JOIN sh),
         |anyf AS (SELECT max(CASE WHEN len_exceeded OR vocab_exceeded
         |             OR emb_exceeded OR skew_exceeded THEN 1 ELSE 0 END)
         |           AS anyv FROM per)
         |SELECT source, len_mean_old, len_mean_new, vocab_jaccard,
         |       emb_shift, len_exceeded, vocab_exceeded, emb_exceeded,
         |       skew_exceeded,
         |       CASE WHEN anyv = 1 THEN 'retrain' ELSE 'hold' END
         |         AS decision
         |FROM per CROSS JOIN anyf ORDER BY source""".stripMargin,

    // CCNet perplexity bucketing: the backoff-LM replay scores ALL docs
    // (not just the held-out slice), then per-source tercile thresholds
    // come from the score at doc-rank ceil(n/3) / ceil(2n/3) — the value
    // at a doc rank is well-defined whatever the tie order, and equals
    // the engine's histogram-cumulative threshold; boundary ties share
    // the boundary bucket (threshold semantics)
    "pipeline_ppl_buckets" -> {
      val alpha = 0.4
      val (aS, a2S) = (alpha.toString, (alpha * alpha).toString)
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |tri AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
         |               toks[i + 2] AS w3
         |        FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
         |        WHERE len(toks) >= 3),
         |bi AS (SELECT doc_id, toks[i] AS wa, toks[i + 1] AS wb
         |       FROM t, unnest(range(1, len(toks))) AS r(i)
         |       WHERE len(toks) >= 2),
         |uni AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |tr3 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri
         |        WHERE doc_id % 10 != 7 GROUP BY 1, 2, 3),
         |tr2 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
         |        FROM tr3 GROUP BY 1, 2),
         |b2 AS (SELECT wa, wb, count(*) AS c23 FROM bi
         |       WHERE doc_id % 10 != 7 GROUP BY 1, 2),
         |b1 AS (SELECT wa, CAST(sum(c23) AS BIGINT) AS c2
         |       FROM b2 GROUP BY 1),
         |u1 AS (SELECT w, count(*) AS c3 FROM uni
         |       WHERE doc_id % 10 != 7 GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(count(DISTINCT w) AS BIGINT) AS v
         |        FROM uni WHERE doc_id % 10 != 7),
         |s AS (SELECT b.doc_id,
         |        CASE WHEN tr3.c123 IS NOT NULL
         |               THEN ln(CAST(tr3.c123 AS DOUBLE) / tr2.c12)
         |             WHEN b2.c23 IS NOT NULL
         |               THEN ln($aS * (CAST(b2.c23 AS DOUBLE) / b1.c2))
         |             ELSE ln($a2S *
         |               (CAST(COALESCE(u1.c3, 0) + 1 AS DOUBLE)
         |                / (tot.n + tot.v))) END AS lp
         |      FROM tri b
         |      LEFT JOIN tr3 USING (w1, w2, w3)
         |      LEFT JOIN tr2 USING (w1, w2)
         |      LEFT JOIN b2 ON b.w2 = b2.wa AND b.w3 = b2.wb
         |      LEFT JOIN b1 ON b.w2 = b1.wa
         |      LEFT JOIN u1 ON b.w3 = u1.w
         |      CROSS JOIN tot),
         |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |         round(avg(lp), 4) AS avg_logprob
         |       FROM s GROUP BY doc_id),
         |j AS (SELECT sc.doc_id, d.source, sc.n_trigrams, sc.avg_logprob
         |      FROM sc JOIN documents d USING (doc_id)),
         |r AS (SELECT source, avg_logprob,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY avg_logprob DESC) AS rn,
         |        count(*) OVER (PARTITION BY source) AS n
         |      FROM j),
         |th AS (SELECT source,
         |         max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
         |               THEN avg_logprob END) AS t1,
         |         max(CASE WHEN rn = CAST(ceil(n * 2.0 / 3.0) AS BIGINT)
         |               THEN avg_logprob END) AS t2
         |       FROM r GROUP BY source)
         |SELECT j.doc_id, j.source, j.n_trigrams, j.avg_logprob,
         |       CASE WHEN j.avg_logprob >= th.t1 THEN 'head'
         |            WHEN j.avg_logprob >= th.t2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM j JOIN th USING (source) ORDER BY doc_id""".stripMargin
    },

    "dedup_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id % 17 = 0),
         |c AS (
         |  SELECT doc_id, unnest(${duckShingles(5)}) AS sh
         |  FROM documents WHERE doc_id % 17 <> 0),
         |h AS (
         |  SELECT c.doc_id, count(*) AS n_hits
         |  FROM c JOIN bench USING (sh) GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |       coalesce(h.n_hits, 0) >= 1 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
         |LEFT JOIN h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // k=8 rolling windows; range stop n-6 = (n - k + 1) + 1; list_slice
    // end i+7 is inclusive. Zipped unnests give (pos, sig) per window.
    "dedup_substring" ->
      s"""WITH t AS (
         |  SELECT doc_id, $normToks AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         |         list_transform(range(1, len(toks) - 6),
         |           i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS sigs
         |  FROM t),
         |w AS (
         |  SELECT doc_id, unnest(range(1, len(sigs) + 1)) AS pos,
         |         unnest(sigs) AS sig FROM b),
         |dup AS (SELECT sig FROM w GROUP BY sig HAVING count(*) > 1),
         |h AS (
         |  SELECT w.doc_id, w.pos,
         |         lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS nxt
         |  FROM w JOIN dup USING (sig)),
         |c AS (
         |  SELECT doc_id, count(*) AS n_dup_windows,
         |         CAST(sum(CASE WHEN nxt IS NULL THEN 8
         |                       ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_tokens
         |  FROM h GROUP BY 1)
         |SELECT b.doc_id, b.n_toks,
         |       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
         |       coalesce(c.dup_tokens, 0) AS dup_tokens,
         |       round(coalesce(c.dup_tokens, 0) / b.n_toks, 4) AS dup_fraction
         |FROM b LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // corpus window-fingerprint SET (docs % 10 <> 7) probed by the batch
    // (docs % 10 = 7); coverage CTEs as in dedup_substring
    "dedup_span_incremental" -> spanIncrementalOracle,

    // the streaming epoch-frozen-store probe must reproduce the batch
    // operator's coverage exactly — ONE oracle string for both
    "dedup_streaming_spans" -> spanIncrementalOracle,

    // rotation folds wave 1's accumulated fingerprints into the next
    // epoch's frozen base, so screening wave 2 (≡ 8 mod 10) must equal
    // the one-shot incremental form over the UNION corpus (all but wave 2)
    "dedup_span_rotate" ->
      spanScreenOracle("doc_id % 10 <> 8", "doc_id % 10 = 8"),

    // same window/dup CTEs as dedup_substring; covered token positions =
    // union of [pos, pos+7] per duplicated window, anti-joined out, and
    // the survivors re-joined in order → md5 must match Spark's rewrite
    "dedup_span_rewrite" ->
      s"""WITH t AS (
         |  SELECT doc_id, $normToks AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, toks,
         |         list_transform(range(1, len(toks) - 6),
         |           i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS sigs
         |  FROM t),
         |w AS (
         |  SELECT doc_id, unnest(range(1, len(sigs) + 1)) AS pos,
         |         unnest(sigs) AS sig FROM b),
         |dup AS (SELECT sig FROM w GROUP BY sig HAVING count(*) > 1),
         |covered AS (
         |  SELECT DISTINCT doc_id, tpos FROM (
         |    SELECT doc_id, unnest(range(pos, pos + 8)) AS tpos
         |    FROM w JOIN dup USING (sig))),
         |toks AS (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tpos,
         |         unnest(toks) AS tok FROM b),
         |kept AS (
         |  SELECT tk.doc_id, count(*) AS n_kept,
         |         md5(string_agg(tk.tok, ' ' ORDER BY tk.tpos)) AS clean_md5
         |  FROM toks tk LEFT JOIN covered c
         |    ON tk.doc_id = c.doc_id AND tk.tpos = c.tpos
         |  WHERE c.tpos IS NULL GROUP BY tk.doc_id)
         |SELECT b.doc_id, b.n_toks,
         |       coalesce(k.n_kept, 0) AS n_kept,
         |       coalesce(k.clean_md5, md5('')) AS clean_md5
         |FROM b LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "corpus_sketch" ->
      """SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       true AS cardinality_ok, true AS p50_ok
        |FROM documents""".stripMargin,

    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, true AS recall_ok
        |FROM (
        |  SELECT a.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.vec, b.vec) /
        |        (sqrt(list_dot_product(a.vec, a.vec)) *
        |         sqrt(list_dot_product(b.vec, b.vec))) >= 0.4)""".stripMargin,

    // incremental semantic dedup: parity configuration makes the batch
    // probe provably the exact cosine argmax over the standing corpus,
    // so nn/sim/is_dup replay row-level (is_dup tests the UNROUNDED sim,
    // like the Spark side)
    "dedup_semantic_incremental" ->
      """WITH nb AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |            FROM embeddings WHERE vec_id % 4 = 3),
        |st AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |       FROM embeddings WHERE vec_id % 4 <> 3),
        |scored AS (
        |  SELECT nb.vec_id, st.vec_id AS nn_id,
        |         list_dot_product(st.vec, nb.vec) /
        |         (sqrt(list_dot_product(st.vec, st.vec)) *
        |          sqrt(list_dot_product(nb.vec, nb.vec))) AS sim
        |  FROM nb CROSS JOIN st),
        |ranked AS (
        |  SELECT vec_id, nn_id, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY sim DESC, nn_id) AS rk
        |  FROM scored)
        |SELECT vec_id, nn_id, round(sim, 6) AS sim, sim >= 0.4 AS is_dup
        |FROM ranked WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // streaming semantic dedup: sequential first-arrival-wins — wave 1
    // (%8=3) scores against the standing corpus, wave 2 (%8=7) against
    // standing PLUS wave 1 (it was ingested before wave 2 arrived);
    // parity configuration makes each probe the exact cosine argmax
    "dedup_semantic_stream" ->
      """WITH st AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |            FROM embeddings WHERE vec_id % 8 NOT IN (3, 7)),
        |w1 AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |       FROM embeddings WHERE vec_id % 8 = 3),
        |w2 AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |       FROM embeddings WHERE vec_id % 8 = 7),
        |scored AS (
        |  SELECT q.vec_id, c.vec_id AS nn_id,
        |         list_dot_product(c.vec, q.vec) /
        |         (sqrt(list_dot_product(c.vec, c.vec)) *
        |          sqrt(list_dot_product(q.vec, q.vec))) AS sim
        |  FROM w1 q CROSS JOIN st c
        |  UNION ALL
        |  SELECT q.vec_id, c.vec_id AS nn_id,
        |         list_dot_product(c.vec, q.vec) /
        |         (sqrt(list_dot_product(c.vec, c.vec)) *
        |          sqrt(list_dot_product(q.vec, q.vec))) AS sim
        |  FROM w2 q CROSS JOIN (SELECT * FROM st
        |                        UNION ALL SELECT * FROM w1) c),
        |ranked AS (
        |  SELECT vec_id, nn_id, sim,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY sim DESC, nn_id) AS rk
        |  FROM scored)
        |SELECT vec_id, nn_id, round(sim, 6) AS sim, sim >= 0.4 AS is_dup
        |FROM ranked WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY source, doc_id""".stripMargin,

    // the oracle IS the naive per-source cumulative window — equality
    // proves the engine's bucketed two-phase prefix sum on real data
    "sample_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($normToks) AS BIGINT) AS n_tokens
         |           FROM documents),
         |o AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS tok_before
         |  FROM t)
         |SELECT doc_id, source, n_tokens, tok_before
         |FROM o WHERE tok_before < 800 ORDER BY doc_id""".stripMargin,

    // sqrt-only arithmetic: every step is correctly-rounded IEEE in both
    // engines, so the 6-rounded fractions and integer hash thresholds
    // match bit-exactly
    "sample_temperature" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($normToks) AS BIGINT) AS n_tokens
         |           FROM documents),
         |p AS (SELECT source, sum(n_tokens) AS tot FROM t
         |      WHERE source IS NOT NULL GROUP BY 1
         |      HAVING sum(n_tokens) > 0),
         |z AS (SELECT sum(sqrt(tot)) AS z FROM p),
         |f AS (SELECT source,
         |        round(least(1.0, 15000 / (z * sqrt(tot))), 6) AS mix_frac
         |      FROM p, z)
         |SELECT doc_id, source, n_tokens, mix_frac
         |FROM t JOIN f USING (source)
         |WHERE mix_frac >= 1.0
         |   OR CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT)
         |      < CAST(round(mix_frac * 4294967295) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,

    "sample_weighted_stratified" ->
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
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY pr, doc_id) AS INTEGER) AS rk
         |      FROM p)
         |SELECT doc_id, source, n_toks, rk FROM r WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin,

    "sample_weighted" -> weightedSampleOracle,

    // streaming reservoir: the fold's priority is a pure function of the
    // key, so after the whole stream the persisted sample EQUALS the
    // one-shot weighted race — the oracle is sample_weighted's verbatim
    "sample_streaming" -> weightedSampleOracle,

    "text_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, $normToks AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |         greatest(CAST(ceil(CAST(len(toks) - 16 AS DOUBLE) / 48)
         |           AS INTEGER), 1) AS n_chunks
         |  FROM t)
         |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |       CAST(len(list_slice(toks, i * 48 + 1, i * 48 + 64)) AS BIGINT)
         |         AS chunk_tokens
         |FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM c)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "pack_sequences" ->
      s"""SELECT doc_id, source, n_tokens,
         |       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         / 2048.0) AS BIGINT) AS pack_id
         |FROM (SELECT doc_id, source,
         |        CAST(len($normToks) AS BIGINT) AS n_tokens FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "pack_contig" ->
      s"""WITH t AS (SELECT doc_id, source,
         |             CAST(len($normToks) AS BIGINT) AS n_tokens
         |           FROM documents),
         |o AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS off
         |  FROM t WHERE n_tokens > 0),
         |e AS (
         |  SELECT doc_id, source, off, n_tokens,
         |         unnest(range(CAST(floor(off / 512.0) AS BIGINT),
         |           CAST(floor((off + n_tokens - 1) / 512.0) AS BIGINT) + 1))
         |           AS seq_id
         |  FROM o)
         |SELECT doc_id, source, seq_id,
         |       greatest(seq_id * 512 - off, 0) AS tok_start,
         |       least((seq_id + 1) * 512 - off, n_tokens) AS tok_end,
         |       least((seq_id + 1) * 512 - off, n_tokens)
         |         - greatest(seq_id * 512 - off, 0) AS seq_tokens
         |FROM e ORDER BY doc_id, seq_id""".stripMargin,

    "pipeline_curation" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val scores = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
      }.mkString(", ")
      val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
        .map(l => s"s_en >= s_$l").mkString(" AND ")
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS keep_id FROM documents
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
         |t AS (
         |  SELECT doc_id, source, $normToks AS toks
         |  FROM documents JOIN keep ON doc_id = keep_id),
         |f AS (
         |  SELECT doc_id, source, toks, len(toks) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |           AS distinct_ratio,
         |         CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
         |           / len(toks) AS stopword_ratio,
         |         $scores
         |  FROM t)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM f
         |WHERE $enCond
         |  AND round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) + distinct_ratio
         |        + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6) >= 0.6
         |ORDER BY doc_id""".stripMargin
    },

    "pipeline_pretrain" -> pipelinePretrainOracle("documents"),
    // the HTML-ingest variant: the same chain replayed over the
    // oracle's RECONSTRUCTION of what extracting the planted wrapper
    // must yield (htmlExtractedDocsRel — text_extract_html pins the
    // reconstruction byte-for-byte via md5, this pins the composition)
    "pipeline_pretrain_html" ->
      pipelinePretrainOracle(s"($htmlExtractedDocsRel) AS documents"),
    // the PDF-ingest variant: same chain over the reconstruction of
    // what extracting the planted PDFs must yield (text_extract_pdf
    // pins the extraction byte-for-byte, this pins the composition)
    "pipeline_pretrain_pdf" ->
      pipelinePretrainOracle(s"($pdfExtractedDocsRel) AS documents"),

    // extraction facts per planted kind: the eleven success shapes
    // (classic raw/Flate, the PDF 1.5 xref-stream/ObjStm layouts,
    // LZW, the ASCII85→Flate chain, the /Differences font, the
    // CID/ToUnicode font, and the RC4 + AESV2 + AES-256/R6
    // empty-password decrypts) reconstructed as strings (specials via
    // chr(): é=233 €=8364 —=8212 ’=8217 •=8226 ł=322; pages join on
    // chr(12)), the five rejections by NAME with null facts (kind 15
    // is a REAL passworded AES-256 file the empty password cannot
    // open)
    "text_extract_pdf" ->
      """WITH e AS (SELECT doc_id, doc_id % 18 AS kind, text
        |  FROM documents),
        |x AS (SELECT doc_id, kind, CASE kind
        |    WHEN 0 THEN 'Doc ' || doc_id || ' heading.' || chr(10) ||
        |      text || chr(10) || 'caf' || chr(233) || ' ' ||
        |      chr(8364) || ' ' || chr(8212) || ' ' || chr(8217) ||
        |      ' tail'
        |    WHEN 1 THEN 'Doc ' || doc_id || ' page one.' || chr(10) ||
        |      text || chr(12) || 'Doc ' || doc_id || ' page two.'
        |    WHEN 5 THEN 'Doc ' || doc_id || ' modern.' || chr(10) ||
        |      text
        |    WHEN 6 THEN 'Doc ' || doc_id || ' xr one.' || chr(10) ||
        |      text || chr(12) || 'Doc ' || doc_id || ' xr two.'
        |    WHEN 7 THEN 'Doc ' || doc_id || ' lzw.' || chr(10) || text
        |    WHEN 8 THEN 'Doc ' || doc_id || ' chained.' || chr(10) ||
        |      text
        |    WHEN 9 THEN 'Doc ' || doc_id || ' diff.' || chr(10) ||
        |      text || chr(10) || chr(8364) || chr(8226) || chr(322)
        |    WHEN 10 THEN 'Doc ' || doc_id || ' cid.' || chr(10) ||
        |      text
        |    WHEN 12 THEN 'Doc ' || doc_id || ' rc4.' || chr(10) ||
        |      text
        |    WHEN 13 THEN 'Doc ' || doc_id || ' aes.' || chr(10) ||
        |      text
        |    WHEN 14 THEN 'Doc ' || doc_id || ' v5.' || chr(10) ||
        |      text
        |    WHEN 16 THEN 'Doc ' || doc_id || ' inline.' || chr(10) ||
        |      text
        |  END AS t FROM e)
        |SELECT doc_id,
        |  CAST(CASE kind WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 5 THEN 1
        |    WHEN 6 THEN 2 WHEN 7 THEN 1 WHEN 8 THEN 1 WHEN 9 THEN 1
        |    WHEN 10 THEN 1 WHEN 12 THEN 1 WHEN 13 THEN 1
        |    WHEN 14 THEN 1 WHEN 16 THEN 1
        |    END AS INTEGER) AS n_pages,
        |  CASE kind WHEN 2 THEN 'encrypted' WHEN 3 THEN 'type0-font'
        |    WHEN 4 THEN 'filter' WHEN 11 THEN 'malformed'
        |    WHEN 15 THEN 'encrypted'
        |    WHEN 17 THEN 'inline-image' END AS err,
        |  md5(t) AS text_md5,
        |  CAST(length(t) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin,

    "text_extract_html" ->
      s"""WITH e AS (SELECT doc_id, text FROM ($htmlExtractedDocsRel))
         |SELECT doc_id, md5(text) AS md5_text,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 3 END
         |         AS INTEGER) AS n_blocks,
         |       CAST(3 AS INTEGER) AS n_dropped
         |FROM e ORDER BY doc_id""".stripMargin,

    // the jusText contract replayed whole: integer-threshold ladder,
    // cumulative-sum heading distance, window-function neighbor
    // revision, final-good join md5'd — over the same six planted
    // blocks (the filler paragraph only on every third doc)
    "text_extract_main" ->
      s"""WITH ${mainBlocksCtes()},
         |agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5
         |  FROM fin GROUP BY doc_id)
         |SELECT f.doc_id, f.block_idx, f.heading, f.n_chars, f.n_words,
         |       f.n_stop, f.link_chars, f.cf_class, f.final_class,
         |       a.main_md5
         |FROM fin f JOIN agg a USING (doc_id)
         |ORDER BY f.doc_id, f.block_idx""".stripMargin,

    // both pins side-by-side: two prefixed block chains whose
    // stopword count is a per-language CASE over the SAME planted
    // lists; v1 knows only English, v2 adds de/es/fr, zh stays dark
    "text_extract_main_artifact" -> {
      def listSql(ws: Seq[String]): String =
        ws.map(w => s"'$w'").mkString("[", ",", "]")
      def caseSql(lists: Map[String, Seq[String]]): String =
        "(CASE lang " + lists.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"WHEN '$l' THEN ${listSql(ws.sorted)}"
        }.mkString(" ") + " ELSE [] END)"
      def agg(p: String, tag: String): String =
        s"""${p}v AS (
           |  SELECT doc_id,
           |    CAST(count(CASE WHEN final_class = 'good' THEN 1 END)
           |      AS BIGINT) AS n_good_$tag,
           |    md5(coalesce(string_agg(
           |      CASE WHEN final_class = 'good' THEN btext END, chr(10)
           |      ORDER BY block_idx), '')) AS main_md5_$tag,
           |    CAST(count(*) AS BIGINT) AS n_blocks_$tag
           |  FROM ${p}fin GROUP BY doc_id)""".stripMargin
      s"""WITH ${mainBlocksCtes("a_", caseSql(stoplistsV1))},
         |${mainBlocksCtes("b_", caseSql(stoplistsV2))},
         |${agg("a_", "v1")},
         |${agg("b_", "v2")}
         |SELECT d.doc_id, d.lang, b.n_blocks_v2 AS n_blocks,
         |  a.n_good_v1, a.main_md5_v1, b.n_good_v2, b.main_md5_v2
         |FROM documents d
         |JOIN a_v a ON d.doc_id = a.doc_id
         |JOIN b_v b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // the char-branch contract replayed whole over the planted zh/ja
    // pages: per-block branch selection (2·cjk >= nonws, char lists
    // pinned), the char ladder's halved length gates and 0.15/0.10
    // density rules, the shared promotion/revision tail — block rows
    // from the v3 pin, and BOTH pins' main md5s (the dark pin's word
    // ladder extracts every page to empty)
    "text_extract_main_cjk" ->
      s"""WITH ${cjkMainBlocksCtes("a_", charEnabled = false)},
         |${cjkMainBlocksCtes("b_", charEnabled = true)},
         |a_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_dark
         |  FROM a_fin GROUP BY doc_id),
         |b_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_v3
         |  FROM b_fin GROUP BY doc_id)
         |SELECT f.doc_id, f.plang, f.block_idx, f.heading, f.n_chars,
         |  f.n_words, f.n_stop, f.link_chars, f.cf_class,
         |  f.final_class, a.main_md5_dark, b.main_md5_v3
         |FROM b_fin f JOIN a_agg a USING (doc_id)
         |JOIN b_agg b USING (doc_id)
         |ORDER BY f.doc_id, f.block_idx""".stripMargin,

    // the Thai char-branch contract replayed whole over the planted
    // pages: Thai joins the space-free script class, the v4 pin
    // carries its vowel/tone function-char list, the dark pin is the
    // pre-v4 regression anchor (every page empty)
    "text_extract_main_thai" ->
      s"""WITH ${thaiMainBlocksCtes("a_", charEnabled = false)},
         |${thaiMainBlocksCtes("b_", charEnabled = true)},
         |a_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_dark
         |  FROM a_fin GROUP BY doc_id),
         |b_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_v4
         |  FROM b_fin GROUP BY doc_id)
         |SELECT f.doc_id, f.block_idx, f.heading, f.n_chars,
         |  f.n_words, f.n_stop, f.link_chars, f.cf_class,
         |  f.final_class, a.main_md5_dark, b.main_md5_v4
         |FROM b_fin f JOIN a_agg a USING (doc_id)
         |JOIN b_agg b USING (doc_id)
         |ORDER BY f.doc_id, f.block_idx""".stripMargin,

    // the ru/ar WORD-ladder replay: classifier unchanged, data only —
    // the v4 pin's per-language word stoplists against the dark pin's
    // empty list (every page empty, the regression anchor)
    "text_extract_main_ruar" ->
      s"""WITH ${ruArMainBlocksCtes("a_", stopsEnabled = false)},
         |${ruArMainBlocksCtes("b_", stopsEnabled = true)},
         |a_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_dark
         |  FROM a_fin GROUP BY doc_id),
         |b_agg AS (
         |  SELECT doc_id, md5(coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')) AS main_md5_v4
         |  FROM b_fin GROUP BY doc_id)
         |SELECT f.doc_id, f.plang, f.block_idx, f.heading, f.n_chars,
         |  f.n_words, f.n_stop, f.link_chars, f.cf_class,
         |  f.final_class, a.main_md5_dark, b.main_md5_v4
         |FROM b_fin f JOIN a_agg a USING (doc_id)
         |JOIN b_agg b USING (doc_id)
         |ORDER BY f.doc_id, f.block_idx""".stripMargin,

    // the whole Shift_JIS acceptance replayed BY CONSTRUCTION: the
    // planted ja pages' decoded text is the same closed form the
    // fixture encoded (the engine's artifact decode must invert the
    // fixture's encode exactly or every md5 diverges), the char-branch
    // extraction and the en word-ladder extraction run side by side,
    // and the funnel verdict (empty → dup → gate → kept) replays the
    // dedup keeper, the en langid+quality gates and the ja
    // translate-delta char gate
    "pipeline_pretrain_sjis" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val scores = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
      }.mkString(", ")
      val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
        .map(l => s"f.s_en >= f.s_$l").mkString(" AND ")
      val mainToks = normToks.replace("trim(text)", "trim(main)")
      val jaChars = CjkMainFixture.jaStopChars.mkString
      s"""WITH ${cjkMainBlocksCtes("c_", charEnabled = true,
             plangSql = "'ja'", whereSql = "WHERE doc_id % 3 = 0")},
         |${mainBlocksCtes("e_", textSql = "CASE WHEN doc_id % 5 = 2 " +
             "THEN trim(repeat('the a ', 40)) ELSE text END")},
         |m AS (
         |  SELECT doc_id, 'ja' AS plang, coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '') AS main
         |  FROM c_fin GROUP BY doc_id
         |  UNION ALL
         |  SELECT doc_id, 'en', coalesce(string_agg(
         |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
         |    ORDER BY block_idx), '')
         |  FROM e_fin WHERE doc_id % 3 <> 0 GROUP BY doc_id),
         |norm AS (
         |  SELECT doc_id, plang, main,
         |    CAST(length(main) AS BIGINT) AS n_main,
         |    md5(main) AS main_md5,
         |    md5(regexp_replace(lower(trim(main)), '\\s+', ' ', 'g'))
         |      AS k
         |  FROM m),
         |keep AS (
         |  SELECT k, min(doc_id) AS keep_id FROM norm
         |  WHERE n_main > 0 GROUP BY k),
         |f AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |      AS distinct_ratio,
         |    CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
         |      / len(toks) AS stopword_ratio,
         |    $scores
         |  FROM (SELECT doc_id, $mainToks AS toks FROM norm
         |        WHERE plang = 'en' AND n_main > 0)),
         |jg AS (
         |  SELECT doc_id,
         |    length(main) - length(regexp_replace(main,
         |      '[一-鿿぀-ヿ]', '', 'g')) AS cjk,
         |    length(main) - length(translate(main, '$jaChars', ''))
         |      AS stopc
         |  FROM norm WHERE plang = 'ja' AND n_main > 0)
         |SELECT n.doc_id, n.plang, n.n_main, n.main_md5,
         |  CASE WHEN n.n_main = 0 THEN 'empty'
         |    WHEN n.doc_id <> keep.keep_id THEN 'dup'
         |    WHEN n.plang = 'ja' THEN
         |      CASE WHEN jg.cjk >= 30 AND 100 * jg.stopc >= 8 * jg.cjk
         |        AND 100 * jg.stopc <= 60 * jg.cjk
         |        THEN 'kept' ELSE 'gate' END
         |    ELSE CASE WHEN $enCond AND
         |      round((least(CAST(f.n_tokens AS DOUBLE) / 64.0, 1.0)
         |        + f.distinct_ratio
         |        + (1.0 - abs(f.stopword_ratio - 0.4))) / 3.0, 6)
         |        >= 0.6
         |      THEN 'kept' ELSE 'gate' END END AS stage
         |FROM norm n
         |LEFT JOIN keep ON n.k = keep.k
         |LEFT JOIN f ON n.doc_id = f.doc_id
         |LEFT JOIN jg ON n.doc_id = jg.doc_id
         |ORDER BY n.doc_id""".stripMargin
    },

    // the DETECTED route replayed from first principles: per doc the
    // extract-kept blocks (the scanner's own 2·anchor>nonws drop)
    // aggregate to the detection counts, the script-dominance ladder
    // picks the route, and the rest is the sjis funnel keyed on the
    // COMPUTED route — a fixture/oracle margin error would flip one
    // side's branch and diverge every downstream hash
    "pipeline_pretrain_detect" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val scores = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
      }.mkString(", ")
      val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
        .map(l => s"f.s_en >= f.s_$l").mkString(" AND ")
      val mainToks = normToks.replace("trim(text)", "trim(main)")
      val jaChars = CjkMainFixture.jaStopChars.mkString
      val thChars = ScriptMainFixture.thStopChars.mkString
      val thSat = thChars * 6
      def detAgg(p: String, where: String): String =
        s"""SELECT doc_id,
           |    CAST(sum(CASE WHEN 2 * link_chars <= nonws
           |      THEN length(btext) - length(regexp_replace(btext,
           |        '[一-鿿぀-ヿ]', '', 'g')) ELSE 0 END) AS BIGINT)
           |      AS n_cjk,
           |    CAST(sum(CASE WHEN 2 * link_chars <= nonws
           |      THEN length(btext) - length(regexp_replace(btext,
           |        '[฀-๿]', '', 'g')) ELSE 0 END) AS BIGINT)
           |      AS n_thai,
           |    CAST(sum(CASE WHEN 2 * link_chars <= nonws
           |      THEN nonws ELSE 0 END) AS BIGINT) AS n_nonws
           |  FROM ${p}feat $where GROUP BY doc_id""".stripMargin
      def mAgg(fin: String, where: String): String =
        s"""SELECT doc_id, coalesce(string_agg(
           |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
           |    ORDER BY block_idx), '') AS main
           |  FROM $fin $where GROUP BY doc_id""".stripMargin
      s"""WITH ${cjkMainBlocksCtes("c_", charEnabled = true,
             plangSql = "'ja'", whereSql = "WHERE doc_id % 3 = 0",
             withEnglish = false)},
         |${thaiMainBlocksCtes("t_", charEnabled = true,
             whereSql = "WHERE doc_id % 3 = 1 AND doc_id % 11 <> 4",
             withEnglish = false)},
         |${mainBlocksCtes("e_", textSql = "CASE WHEN doc_id % 5 = 2 " +
             "THEN trim(repeat('the a ', 40)) ELSE text END")},
         |det AS (
         |  ${detAgg("c_", "")}
         |  UNION ALL
         |  ${detAgg("t_", "")}
         |  UNION ALL
         |  SELECT doc_id, CAST(0 AS BIGINT) AS n_cjk,
         |    CAST(120 AS BIGINT) AS n_thai,
         |    CAST(120 AS BIGINT) AS n_nonws
         |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 11 = 4
         |  UNION ALL
         |  ${detAgg("e_", "WHERE doc_id % 3 = 2")}),
         |m AS (
         |  ${mAgg("c_fin", "")}
         |  UNION ALL
         |  ${mAgg("t_fin", "")}
         |  UNION ALL
         |  SELECT doc_id, '$thSat' AS main
         |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 11 = 4
         |  UNION ALL
         |  ${mAgg("e_fin", "WHERE doc_id % 3 = 2")}),
         |norm AS (
         |  SELECT m.doc_id, m.main,
         |    CASE WHEN 4 * det.n_cjk >= det.n_nonws THEN 'ja'
         |      WHEN 4 * det.n_thai >= det.n_nonws THEN 'th'
         |      ELSE 'en' END AS dlang,
         |    det.n_cjk, det.n_thai, det.n_nonws,
         |    CAST(length(m.main) AS BIGINT) AS n_main,
         |    md5(m.main) AS main_md5,
         |    md5(regexp_replace(lower(trim(m.main)), '\\s+', ' ', 'g'))
         |      AS k
         |  FROM m JOIN det ON m.doc_id = det.doc_id),
         |keep AS (
         |  SELECT k, min(doc_id) AS keep_id FROM norm
         |  WHERE n_main > 0 GROUP BY k),
         |f AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |      AS distinct_ratio,
         |    CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
         |      / len(toks) AS stopword_ratio,
         |    $scores
         |  FROM (SELECT doc_id, $mainToks AS toks FROM norm
         |        WHERE dlang = 'en' AND n_main > 0)),
         |jg AS (
         |  SELECT doc_id,
         |    length(main) - length(regexp_replace(main,
         |      '[一-鿿぀-ヿ]', '', 'g')) AS cjk,
         |    length(main) - length(translate(main, '$jaChars', ''))
         |      AS stopc
         |  FROM norm WHERE dlang = 'ja' AND n_main > 0),
         |tg AS (
         |  SELECT doc_id,
         |    length(main) - length(regexp_replace(main,
         |      '[฀-๿]', '', 'g')) AS thai,
         |    length(main) - length(translate(main, '$thChars', ''))
         |      AS stopc
         |  FROM norm WHERE dlang = 'th' AND n_main > 0)
         |SELECT n.doc_id, n.dlang, n.n_cjk, n.n_thai, n.n_nonws,
         |  n.n_main, n.main_md5,
         |  CASE WHEN n.n_main = 0 THEN 'empty'
         |    WHEN n.doc_id <> keep.keep_id THEN 'dup'
         |    WHEN n.dlang = 'ja' THEN
         |      CASE WHEN jg.cjk >= 30 AND 100 * jg.stopc >= 8 * jg.cjk
         |        AND 100 * jg.stopc <= 60 * jg.cjk
         |        THEN 'kept' ELSE 'gate' END
         |    WHEN n.dlang = 'th' THEN
         |      CASE WHEN tg.thai >= 30 AND 100 * tg.stopc >= 8 * tg.thai
         |        AND 100 * tg.stopc <= 60 * tg.thai
         |        THEN 'kept' ELSE 'gate' END
         |    ELSE CASE WHEN $enCond AND
         |      round((least(CAST(f.n_tokens AS DOUBLE) / 64.0, 1.0)
         |        + f.distinct_ratio
         |        + (1.0 - abs(f.stopword_ratio - 0.4))) / 3.0, 6)
         |        >= 0.6
         |      THEN 'kept' ELSE 'gate' END END AS stage
         |FROM norm n
         |LEFT JOIN keep ON n.k = keep.k
         |LEFT JOIN f ON n.doc_id = f.doc_id
         |LEFT JOIN jg ON n.doc_id = jg.doc_id
         |LEFT JOIN tg ON n.doc_id = tg.doc_id
         |ORDER BY n.doc_id""".stripMargin
    },

    // the composed chain over the main-content corpus: the SAME block
    // replay feeds the SAME pretrain replay — furniture-only pages
    // yield empty text, exact-dedup to one keeper, and die at the
    // quality gate, all in SQL
    "pipeline_pretrain_main" ->
      pipelinePretrainOracle(
        s"""(WITH ${mainBlocksCtes()},
           |ag AS (
           |  SELECT doc_id, coalesce(string_agg(
           |    CASE WHEN final_class = 'good' THEN btext END, chr(10)
           |    ORDER BY block_idx), '') AS text
           |  FROM fin GROUP BY doc_id)
           |SELECT a.doc_id, a.text, doc.source
           |FROM ag a JOIN documents doc USING (doc_id)) AS documents"""
          .stripMargin),


    // the weighted scoring replayed IN FULL from the shared profile
    // constant (not just the plant): per language, the sum of its
    // token weights over the doc's tokens, then the argmax chain with
    // first-profile tie-break — v1 only knows en/de, v2 all four
    "text_langid_artifact" -> {
      val (sc1, vd1) = langArtifactVerdictSql(plantedLangProfilesV1, "v1")
      val (sc2, vd2) = langArtifactVerdictSql(plantedLangProfilesV2, "v2")
      s"""WITH e AS (SELECT doc_id,
         |  CASE doc_id % 4
         |    WHEN 0 THEN 'the cat and the dog of the house is to '
         |    WHEN 1 THEN 'der hund und die katze ist das nicht '
         |    WHEN 2 THEN 'el perro que los gatos una casa por '
         |    ELSE 'le chien et les chats une maison dans ' END || text
         |    AS text FROM documents),
         |x AS (SELECT doc_id, $normToks AS toks FROM e),
         |sc AS (SELECT doc_id,
         |  $sc1,
         |  $sc2 FROM x)
         |SELECT doc_id, $vd1 AS lang_v1, $vd2 AS lang_v2
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    // both pins replayed by construction: v1 sees only the base TLD
    // rules (github.io keys as 'github.io', k12.ma.us as 'ma.us'); v2
    // carries the multi-label/wildcard/exception rules, so the SAME
    // hosts re-key — and a host that IS a v2 public suffix has no
    // registrable domain (NULL)
    "text_url_domain_artifact" ->
      """WITH u AS (SELECT doc_id, doc_id % 8 AS kind,
        |  CAST(doc_id % 37 AS VARCHAR) AS n FROM documents)
        |SELECT doc_id,
        |  CASE kind WHEN 0 THEN 'www.site' || n || '.com'
        |    WHEN 1 THEN 'shop.site' || n || '.co.uk'
        |    WHEN 2 THEN 'user' || n || '.github.io'
        |    WHEN 3 THEN 'deep.sub' || n || '.k12.ma.us'
        |    WHEN 4 THEN 'a' || n || '.b.nom.br'
        |    WHEN 5 THEN 'sub.city.kawasaki.jp'
        |    WHEN 6 THEN 'x.other' || n || '.kawasaki.jp'
        |    ELSE 'github.io' END AS host,
        |  CASE kind WHEN 0 THEN 'site' || n || '.com'
        |    WHEN 1 THEN 'site' || n || '.co.uk'
        |    WHEN 2 THEN 'github.io'
        |    WHEN 3 THEN 'ma.us'
        |    WHEN 4 THEN 'nom.br'
        |    WHEN 5 THEN 'kawasaki.jp'
        |    WHEN 6 THEN 'kawasaki.jp'
        |    ELSE 'github.io' END AS domain_v1,
        |  CASE kind WHEN 0 THEN 'site' || n || '.com'
        |    WHEN 1 THEN 'site' || n || '.co.uk'
        |    WHEN 2 THEN 'user' || n || '.github.io'
        |    WHEN 3 THEN 'sub' || n || '.k12.ma.us'
        |    WHEN 4 THEN 'a' || n || '.b.nom.br'
        |    WHEN 5 THEN 'city.kawasaki.jp'
        |    WHEN 6 THEN 'x.other' || n || '.kawasaki.jp'
        |    ELSE NULL END AS domain_v2
        |FROM u ORDER BY doc_id""".stripMargin,

    // the canonical string, host and eTLD+1 by construction: scheme and
    // host lowercased, default port and fragment dropped, tracking
    // params removed, survivors sorted; the multi-label suffixes take
    // three labels, so domain = 'site'||n||sfx uniformly; malformed
    // rows (every 11th) pin NULL through all three columns
    "text_url_canonicalize" ->
      s"""WITH u AS (SELECT doc_id, $urlSuffixCase AS sfx FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN NULL ELSE
         |      (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
         |      || '://www.site' || (doc_id % 37) || sfx
         |      || (CASE WHEN doc_id % 4 <> 0 AND doc_id % 7 = 0
         |            THEN ':8080' ELSE '' END)
         |      || '/A/b' || (doc_id % 9)
         |      || (CASE WHEN doc_id % 3 = 0 THEN '?a=1&z=2'
         |               WHEN doc_id % 3 = 1 THEN '?a=2&b=1'
         |               ELSE '' END)
         |    END AS url_canon,
         |    CASE WHEN doc_id % 11 = 0 THEN NULL
         |         ELSE 'www.site' || (doc_id % 37) || sfx END AS host,
         |    CASE WHEN doc_id % 11 = 0 THEN NULL
         |         ELSE 'site' || (doc_id % 37) || sfx END AS domain
         |  FROM u)
         |SELECT doc_id, url_canon, host, domain FROM c
         |ORDER BY doc_id""".stripMargin,

    // the cap replayed as one rank window: under-cap domains pass
    // whole (n <= cap), over-cap domains keep the cap smallest
    // hash-order keys — exactly the engine's two-phase result
    "pipeline_domain_cap" ->
      s"""WITH u AS (SELECT doc_id, $urlSuffixCase AS sfx FROM documents),
         |h AS (SELECT doc_id, 'site' || (doc_id % 37) || sfx AS domain
         |      FROM u WHERE doc_id % 11 <> 0),
         |k AS (SELECT doc_id, domain,
         |        md5(CAST(doc_id AS VARCHAR)) AS kk FROM h),
         |r AS (SELECT doc_id, domain,
         |        row_number() OVER (PARTITION BY domain
         |          ORDER BY kk, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY domain) AS n
         |      FROM k)
         |SELECT doc_id, domain FROM r WHERE n <= 3 OR rn <= 3
         |ORDER BY doc_id""".stripMargin,

    // the robots DECISION replayed from the planted rule structure:
    // even sites' graftbot group shadows *, allow-over-disallow on the
    // n%3=0 odd sites (longest match), plain prefix disallow elsewhere
    "pipeline_robots_filter" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS n,
        |  'site' || (doc_id % 13) || '.com' AS domain,
        |  '/A/b' || (doc_id % 9) AS path,
        |  doc_id % 9 AS p FROM documents)
        |SELECT doc_id, domain, path,
        |  CASE WHEN n % 2 = 0 THEN p <> n % 3
        |       WHEN n % 3 = 0 THEN p = n % 9
        |       ELSE p <> n % 5 END AS allowed
        |FROM d ORDER BY doc_id""".stripMargin,

    // every planted link's resolved + canonical form by construction —
    // positions 1/2/3/4/5/8 canonicalize to their resolved string
    // (lowercase already, params pre-sorted), 0 needs the full
    // case/port/tracking/fragment treatment, 6 is the non-hierarchical
    // NULL, 7 only drops its fragment
    "text_html_links" ->
      s"""WITH $linksResolvedCtes
         |SELECT doc_id, pos, resolved, url_canon FROM lc
         |ORDER BY doc_id, pos""".stripMargin,

    // the script histogram replayed over the same planted prefixes:
    // integer code-unit counts via the same range classes (all-BMP by
    // contract, so DuckDB's codepoint length == Spark's UTF-16 length),
    // argmax chain in the same first-wins order
    "text_script_profile" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 1 AS INTEGER) AS reps,
        |    CASE doc_id % 7 WHEN 0 THEN ''
        |      WHEN 1 THEN '漢字文書かな'
        |      WHEN 2 THEN 'кириллица'
        |      WHEN 3 THEN 'مرحبا بالعالم'
        |      WHEN 4 THEN '한국어 문서'
        |      WHEN 5 THEN 'อักษรไทย'
        |      ELSE 'देवनागरी लिपि' END AS pre,
        |    text FROM documents),
        |t0 AS (SELECT doc_id, repeat(pre, reps) || ' ' || text AS t
        |       FROM b),
        |c AS (SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '',
        |    'g')) AS BIGINT) AS n_latin,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(19968) || '-' || chr(40959) || ']', '', 'g'))
        |    AS BIGINT) AS n_cjk,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(12352) || '-' || chr(12543) || ']', '', 'g'))
        |    AS BIGINT) AS n_kana,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(3584) || '-' || chr(3711) || ']', '', 'g'))
        |    AS BIGINT) AS n_thai,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(2304) || '-' || chr(2431) || ']', '', 'g'))
        |    AS BIGINT) AS n_devanagari,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(1024) || '-' || chr(1279) || ']', '', 'g'))
        |    AS BIGINT) AS n_cyrillic,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(1536) || '-' || chr(1791) || ']', '', 'g'))
        |    AS BIGINT) AS n_arabic,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[' || chr(44032) || '-' || chr(55203) || ']', '', 'g'))
        |    AS BIGINT) AS n_hangul
        |  FROM t0)
        |SELECT doc_id, n_chars, n_latin, n_cjk, n_kana, n_thai,
        |  n_devanagari, n_cyrillic, n_arabic, n_hangul,
        |  CASE WHEN n_latin >= n_cjk AND n_latin >= n_kana AND
        |    n_latin >= n_thai AND n_latin >= n_devanagari AND
        |    n_latin >= n_cyrillic AND n_latin >= n_arabic AND
        |    n_latin >= n_hangul THEN 'latin'
        |  WHEN n_cjk >= n_kana AND n_cjk >= n_thai AND
        |    n_cjk >= n_devanagari AND n_cjk >= n_cyrillic AND
        |    n_cjk >= n_arabic AND n_cjk >= n_hangul THEN 'cjk'
        |  WHEN n_kana >= n_thai AND n_kana >= n_devanagari AND
        |    n_kana >= n_cyrillic AND n_kana >= n_arabic AND
        |    n_kana >= n_hangul THEN 'kana'
        |  WHEN n_thai >= n_devanagari AND n_thai >= n_cyrillic AND
        |    n_thai >= n_arabic AND
        |    n_thai >= n_hangul THEN 'thai'
        |  WHEN n_devanagari >= n_cyrillic AND n_devanagari >= n_arabic
        |    AND n_devanagari >= n_hangul THEN 'devanagari'
        |  WHEN n_cyrillic >= n_arabic AND n_cyrillic >= n_hangul
        |    THEN 'cyrillic'
        |  WHEN n_arabic >= n_hangul THEN 'arabic'
        |  ELSE 'hangul' END AS script
        |FROM c ORDER BY doc_id""".stripMargin,

    // anchor texts are positional constants in the planted pages;
    // targets replay through the SAME resolution/canonicalization CTEs
    // as text_html_links, then aggregate
    "text_anchor_agg" ->
      s"""WITH $linksResolvedCtes,
         |t AS (
         |  SELECT doc_id, url_canon,
         |    CASE pos WHEN 0 THEN 'abs' WHEN 1 THEN 'rel'
         |      WHEN 2 THEN 'dots' WHEN 3 THEN 'proto'
         |      WHEN 4 THEN 'query' WHEN 5 THEN 'esc'
         |      WHEN 6 THEN 'mail' WHEN 7 THEN 'frag'
         |      ELSE 'self' END AS atext
         |  FROM lc
         |  WHERE url_canon IS NOT NULL AND
         |    (url_canon LIKE 'http://%' OR url_canon LIKE 'https://%'))
         |SELECT url_canon AS target,
         |  CAST(count(*) AS BIGINT) AS n_refs,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
         |  array_to_string(list_sort(list_distinct(list(atext))), '|')
         |    AS texts
         |FROM t GROUP BY 1 ORDER BY target""".stripMargin,

    // the integer-nano PageRank contract replayed exactly: floor
    // division at every step, dangling mass redistributed uniformly,
    // three unrolled iterations (generated, not copy-pasted)
    "pipeline_pagerank" ->
      s"""WITH $linksResolvedCtes,
         |$pagerankCtes
         |SELECT p3.node, CAST(p3.pr AS BIGINT) AS pr_nano,
         |  CAST(coalesce(idg.n_in, 0) AS BIGINT) AS n_in,
         |  CAST(coalesce(od.outdeg, 0) AS BIGINT) AS n_out
         |FROM p3 LEFT JOIN od ON p3.node = od.src
         |LEFT JOIN idg ON p3.node = idg.dst
         |ORDER BY node""".stripMargin,

    // the equivalence proof: the seeded + wave-maintained +
    // redelivered store must produce EXACTLY the full-graph rank —
    // same replay as pipeline_pagerank, deliberately
    "pipeline_pagerank_incremental" ->
      s"""WITH $linksResolvedCtes,
         |$pagerankCtes
         |SELECT p3.node, CAST(p3.pr AS BIGINT) AS pr_nano,
         |  CAST(coalesce(idg.n_in, 0) AS BIGINT) AS n_in,
         |  CAST(coalesce(od.outdeg, 0) AS BIGINT) AS n_out
         |FROM p3 LEFT JOIN od ON p3.node = od.src
         |LEFT JOIN idg ON p3.node = idg.dst
         |ORDER BY node""".stripMargin,

    // the revisit channel replayed closed-form by change-rate kind:
    // full responses only at content changes, revisits in between
    // referring to the last full capture (the referent ids are pinned
    // verbatim), every revisit resolving with consistent provenance,
    // and the estimator seeing the SAME change counts as a
    // full-fetch-only stream would — revisits are exactly the
    // unchanged observations
    "pipeline_revisit_resolve" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS a,
        |  CAST(doc_id % 4 AS INTEGER) AS kind FROM documents)
        |SELECT
        |  'site' || a || '.com' AS domain,
        |  'http://site' || a || '.com/page/' || doc_id AS url,
        |  CAST(CASE kind WHEN 0 THEN 5 WHEN 1 THEN 3 WHEN 2 THEN 2
        |    ELSE 1 END AS BIGINT) AS n_resp,
        |  CAST(CASE kind WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
        |    ELSE 4 END AS BIGINT) AS n_revisits,
        |  CAST(CASE kind WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
        |    ELSE 4 END AS BIGINT) AS n_resolved,
        |  CASE kind WHEN 0 THEN ''
        |    WHEN 1 THEN 'urn:uuid:doc-' || doc_id ||
        |      '-w0|urn:uuid:doc-' || doc_id || '-w2'
        |    WHEN 2 THEN 'urn:uuid:doc-' || doc_id || '-w1'
        |    ELSE 'urn:uuid:doc-' || doc_id || '-w0' END
        |    AS resolved_ids,
        |  CAST(CASE kind WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 2 THEN 1
        |    ELSE 0 END AS BIGINT) AS n_changes,
        |  CAST(CASE kind WHEN 0 THEN 2880 WHEN 1 THEN 4800
        |    WHEN 2 THEN 7200 ELSE 86400 END AS BIGINT) AS interval_s
        |FROM d ORDER BY url""".stripMargin,

    // the validator arithmetic replayed closed-form: even docs'
    // servers answer unchanged recrawls with bodiless 304s (bytes
    // move to the saved column), odd docs refetch everything — and
    // the interval estimate is IDENTICAL either way, which is the
    // point: conditional requests change the budget, not the estimate
    "pipeline_recrawl_conditional" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS a,
        |  CAST(doc_id % 4 AS INTEGER) AS kind,
        |  doc_id % 2 = 0 AS cond,
        |  100 + doc_id % 50 AS b FROM documents)
        |SELECT
        |  'site' || a || '.com' AS domain,
        |  'http://site' || a || '.com/page/' || doc_id AS url,
        |  cond,
        |  CAST(CASE WHEN NOT cond THEN 5 ELSE
        |    CASE kind WHEN 0 THEN 5 WHEN 1 THEN 3 WHEN 2 THEN 2
        |      ELSE 1 END END AS BIGINT) AS n_full,
        |  CAST(CASE WHEN NOT cond THEN 0 ELSE
        |    CASE kind WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
        |      ELSE 4 END END AS BIGINT) AS n_not_modified,
        |  CAST(b * (CASE WHEN NOT cond THEN 5 ELSE
        |    CASE kind WHEN 0 THEN 5 WHEN 1 THEN 3 WHEN 2 THEN 2
        |      ELSE 1 END END) AS BIGINT) AS bytes_fetched,
        |  CAST(b * (CASE WHEN NOT cond THEN 0 ELSE
        |    CASE kind WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
        |      ELSE 4 END END) AS BIGINT) AS bytes_saved,
        |  CAST(CASE kind WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 2 THEN 1
        |    ELSE 0 END AS BIGINT) AS n_changes,
        |  'W/"' || (CASE kind WHEN 0 THEN 4 WHEN 1 THEN 2
        |    WHEN 2 THEN 1 ELSE 0 END) || '"' AS next_validator,
        |  CAST(CASE kind WHEN 0 THEN 2880 WHEN 1 THEN 4800
        |    WHEN 2 THEN 7200 ELSE 86400 END AS BIGINT) AS interval_s
        |FROM d ORDER BY url""".stripMargin,

    // the schedule replayed closed-form by change-rate kind: hourly
    // waves, span 14400 s, Δ = span div (n+1), ref = t0 + 21600 s;
    // never-changed pages (kind 3) miss the due set entirely
    "pipeline_recrawl_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS a, doc_id % 4 AS kind
        |  FROM documents WHERE doc_id % 4 <> 3),
        |u AS (SELECT
        |  'site' || a || '.com' AS domain,
        |  'http://site' || a || '.com/page/' || doc_id AS url,
        |  CAST(CASE kind WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END
        |    AS BIGINT) AS n_changes,
        |  CAST(CASE kind WHEN 0 THEN 2880 WHEN 1 THEN 4800
        |    ELSE 7200 END AS BIGINT) AS interval_s,
        |  CAST(CASE kind WHEN 0 THEN 4320 WHEN 1 THEN 2400
        |    ELSE 0 END AS BIGINT) AS staleness
        |  FROM d),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
        |  ORDER BY staleness DESC, url) AS BIGINT) AS rk FROM u)
        |SELECT domain, url, n_changes, interval_s, staleness, rk
        |FROM r WHERE rk <= 2 ORDER BY domain, rk""".stripMargin,

    // frontier ∩ robots gate, scored by the OPIC forward mass out of
    // the 3-iteration rank table, top 3 per domain
    "pipeline_crawl_priority" ->
      s"""WITH $frontierAllowedCtes,
         |$pagerankCtes,
         |pc AS (
         |  SELECT ed.dst AS url, sum(p3.pr // od.outdeg) AS priority
         |  FROM p3 JOIN od ON p3.node = od.src
         |  JOIN ed ON ed.src = p3.node GROUP BY 1),
         |pri AS (
         |  SELECT a.domain, a.url,
         |    CAST(coalesce(pc.priority, 0) AS BIGINT) AS priority
         |  FROM allowed a LEFT JOIN pc ON a.url = pc.url),
         |rk AS (
         |  SELECT domain, url, priority,
         |    CAST(row_number() OVER (PARTITION BY domain
         |      ORDER BY priority DESC, url) AS BIGINT) AS rk
         |  FROM pri)
         |SELECT domain, url, priority, rk FROM rk WHERE rk <= 3
         |ORDER BY domain, rk""".stripMargin,

    // frontier replay: dedup'd canonical http(s) links minus the
    // pages' own URLs, gated by the planted per-domain rule (even
    // sites block /up, odd block /root; ext's NAMED graftbot group
    // blocks only /y; base blocks /e)
    "pipeline_crawl_frontier" ->
      s"""WITH $frontierAllowedCtes
         |SELECT domain, url FROM allowed ORDER BY url""".stripMargin,

    // both channels replayed: the link frontier (allowed) unioned
    // with the planted sitemap inventory (/root overlaps the link
    // channel and gates identically; /sm/p{n%4} is sitemap-only),
    // provenance = the sorted distinct channel list per URL
    "pipeline_discovery_e2e" ->
      s"""WITH $frontierAllowedCtes,
         |ns AS (SELECT unnest(generate_series(0, 12)) AS sn),
         |smu AS (
         |  SELECT sn, 'site' || sn || '.com' AS domain,
         |    'http://site' || sn || '.com/root' AS url,
         |    '/root' AS path FROM ns
         |  UNION ALL
         |  SELECT sn, 'site' || sn || '.com',
         |    'http://site' || sn || '.com/sm/p' || (sn % 4),
         |    '/sm/p' || (sn % 4) FROM ns
         |  UNION ALL
         |  SELECT sn, 'site' || sn || '.com',
         |    'http://site' || sn || '.com/deep/d' || sn,
         |    '/deep/d' || sn FROM ns WHERE sn % 3 = 0),
         |smallow AS (
         |  SELECT domain, url FROM smu
         |  WHERE CASE WHEN sn % 2 = 0 THEN path NOT LIKE '/up%'
         |        ELSE path NOT LIKE '/root%' END),
         |uni AS (
         |  SELECT domain, url, 'links' AS channel FROM allowed
         |  UNION ALL
         |  SELECT domain, url, 'sitemap' AS channel FROM smallow)
         |SELECT domain, url,
         |  array_to_string(list_sort(list_distinct(list(channel))), '|')
         |    AS channels
         |FROM uni GROUP BY domain, url ORDER BY url""".stripMargin,

    // the streaming twin shares the batch frontier oracle VERBATIM
    // (stateless stages + complete-mode accumulation)
    "pipeline_frontier_stream" ->
      s"""WITH $frontierAllowedCtes
         |SELECT domain, url FROM allowed ORDER BY url""".stripMargin,

    // and so does the update-mode store sink: sequential seen-set
    // semantics are split-invariant SET-wise
    "pipeline_frontier_store" ->
      s"""WITH $frontierAllowedCtes
         |SELECT domain, url FROM allowed ORDER BY url""".stripMargin,

    // the fetch plan: per-domain rank over the allowed frontier ×
    // the planted Crawl-delay (site even n: 1+n%3+0.5, odd: 1+n%3;
    // ext's named group has none -> the 1 s default; base: 0.5)
    "pipeline_polite_schedule" ->
      s"""WITH $frontierAllowedCtes,
         |sched AS (
         |  SELECT domain, url,
         |    CASE WHEN domain LIKE 'site%' THEN
         |        1 + CAST(regexp_extract(domain, 'site([0-9]+)', 1)
         |              AS BIGINT) % 3
         |          + CASE WHEN CAST(regexp_extract(domain, 'site([0-9]+)',
         |              1) AS BIGINT) % 2 = 0 THEN 0.5 ELSE 0 END
         |      WHEN domain LIKE 'ext%' THEN 1.0
         |      ELSE 0.5 END AS delay_s,
         |    CAST(row_number() OVER (PARTITION BY domain ORDER BY url)
         |      AS BIGINT) AS slot
         |  FROM allowed)
         |SELECT domain, url, slot, CAST(delay_s AS DOUBLE) AS delay_s,
         |  CAST((slot - 1) * delay_s AS DOUBLE) AS offset_s
         |FROM sched ORDER BY domain, slot""".stripMargin,

    // the directives replayed from the planted group shapes: %3=0 has
    // no named group (the * delay 9 wins; the even docs' bogus value
    // is lenient-ignored), %3=1's named delay shadows the * 9, %3=2's
    // named group carries no delay at all -> NULL; the leading sitemap
    // is always collected, the trailing extra only on the %3=0 shape
    "text_robots_directives" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 9.0
        |       WHEN doc_id % 3 = 1 THEN (doc_id % 5) + 0.5
        |       ELSE NULL END AS crawl_delay,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_sitemaps,
        |  'http://site' || (doc_id % 13) || '.com/map' || (doc_id % 3)
        |    || '.xml' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '|http://site' || (doc_id % 13) || '.com/extra.xml'
        |      ELSE '' END AS sitemaps
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the planted sitemap kinds replayed most-specific-first (the
    // fixture's own branch order): bad root, bad priority, namespaced
    // index, two-entry urlset with the &amp; loc decoded
    "text_sitemap_parse" ->
      """WITH k AS (
        |  SELECT doc_id, doc_id % 13 AS n,
        |    CASE WHEN doc_id % 11 = 0 THEN 'badroot'
        |         WHEN doc_id % 7 = 0 THEN 'badprio'
        |         WHEN doc_id % 5 = 0 THEN 'index'
        |         ELSE 'urlset' END AS kindc
        |  FROM documents),
        |ok AS (
        |  SELECT doc_id,
        |    CASE WHEN kindc = 'index' THEN 'sitemapindex'
        |         ELSE 'urlset' END AS kind,
        |    CAST(NULL AS VARCHAR) AS err,
        |    CAST(j AS BIGINT) AS pos,
        |    CASE WHEN kindc = 'index'
        |         THEN 'http://site' || n || '.com/s' || j || '.xml'
        |         WHEN j = 0 THEN 'http://site' || n || '.com/p0?x=1&y='
        |           || (doc_id % 4)
        |         ELSE 'http://site' || n || '.com/p1' END AS loc,
        |    CASE WHEN kindc = 'index' AND j = 0 THEN '2026-02-01'
        |         WHEN kindc = 'urlset' AND j = 0 THEN '2026-01-15'
        |         ELSE NULL END AS lastmod,
        |    CASE WHEN kindc = 'urlset' AND j = 1
        |         THEN CAST('0.' || (doc_id % 9) AS DOUBLE)
        |         ELSE NULL END AS priority
        |  FROM k CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS j)
        |  WHERE kindc IN ('index', 'urlset')),
        |bad AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR) AS kind,
        |    CASE WHEN kindc = 'badroot' THEN 'sitemap:bad-root'
        |         ELSE 'sitemap:bad-priority' END AS err,
        |    CAST(0 AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS loc,
        |    CAST(NULL AS VARCHAR) AS lastmod,
        |    CAST(NULL AS DOUBLE) AS priority
        |  FROM k WHERE kindc IN ('badroot', 'badprio'))
        |SELECT * FROM ok UNION ALL SELECT * FROM bad
        |ORDER BY doc_id, pos""".stripMargin,

    // every WARC fact and both digests by construction; the html body
    // string carries the entity text RAW (&amp; / &#33;), extraction
    // decodes it; the doc text contains no &<> so the escape is the
    // identity and the div round-trips byte-exact
    "source_warc" ->
      """WITH b AS (SELECT doc_id, doc_id % 4 AS kind, text,
        |  'http://site' || (doc_id % 13) || '.com/page/' || (doc_id % 7)
        |    AS uri FROM documents),
        |h AS (SELECT doc_id, kind, uri, text,
        |  '<html><head><title>Doc ' || doc_id ||
        |  '</title></head><body><h1>Title &amp; doc ' || doc_id ||
        |  '&#33;</h1><div>' || text || '</div></body></html>' AS html
        |  FROM b)
        |SELECT doc_id,
        |  CASE kind WHEN 0 THEN 'response' WHEN 1 THEN 'response'
        |       WHEN 2 THEN 'warcinfo' END AS warc_type,
        |  CASE WHEN kind IN (0, 1) THEN uri END AS target_uri,
        |  CASE WHEN kind IN (0, 1) THEN
        |    CAST(CASE WHEN kind = 1 AND doc_id % 8 = 1 THEN 404
        |         ELSE 200 END AS INTEGER) END AS status,
        |  CASE kind WHEN 0 THEN 'text/html'
        |       WHEN 1 THEN 'text/plain' END AS content_type,
        |  CASE kind WHEN 0 THEN md5(html) WHEN 1 THEN md5(text)
        |       WHEN 2 THEN md5('software: graft-crawler' ||
        |         chr(13) || chr(10)) END AS body_md5,
        |  CASE WHEN kind = 0 THEN
        |    md5('Title & doc ' || doc_id || '!' || chr(10) ||
        |        trim(regexp_replace(text, '\s+', ' ', 'g')))
        |  END AS extracted_md5
        |FROM h ORDER BY doc_id""".stripMargin,

    // the WET export read BACK through the engine's own container
    // walk: per file a warcinfo leader at member 0, then the html
    // pages' conversion records in doc order; text bytes = the
    // extraction replay, exactly the source_warc extracted_md5 form
    "pipeline_wet_export" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS file_no,
        |    'http://site' || (doc_id % 13) || '.com/page/' ||
        |      (doc_id % 7) AS uri,
        |    md5('Title & doc ' || doc_id || '!' || chr(10) ||
        |        trim(regexp_replace(text, '\s+', ' ', 'g'))) AS tmd5
        |  FROM documents WHERE doc_id % 4 = 0),
        |conv AS (
        |  SELECT file_no,
        |    CAST(row_number() OVER (PARTITION BY file_no
        |      ORDER BY doc_id) AS BIGINT) AS member_idx,
        |    'conversion' AS warc_type, uri AS target_uri,
        |    tmd5 AS body_md5
        |  FROM h),
        |leaders AS (
        |  SELECT CAST(f AS BIGINT) AS file_no, CAST(0 AS BIGINT)
        |      AS member_idx,
        |    'warcinfo' AS warc_type, NULL AS target_uri,
        |    md5('software: graft-wet-writer' || chr(13) || chr(10))
        |      AS body_md5
        |  FROM generate_series(0, 4) t(f))
        |SELECT * FROM conv UNION ALL SELECT * FROM leaders
        |ORDER BY file_no, member_idx""".stripMargin,

    // the streaming WET twin: conversion-record FACTS are a set no
    // micro-batch split can change — the batch replay keyed by
    // (uri, text md5), leaders excluded (their count is the split's)
    "pipeline_wet_stream" ->
      """SELECT
        |  'http://site' || (doc_id % 13) || '.com/page/' ||
        |    (doc_id % 7) AS target_uri,
        |  md5('Title & doc ' || doc_id || '!' || chr(10) ||
        |      trim(regexp_replace(text, '\s+', ' ', 'g'))) AS body_md5
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY target_uri, body_md5""".stripMargin,

    // the WAT export read back: per file a warcinfo leader, then a
    // metadata record per RESPONSE (kinds 0 and 1) in doc order, the
    // JSON bytes replayed exactly (fixed field order by construction;
    // the planted html wrapper carries no anchors, so n_links is 0)
    "pipeline_wat_export" ->
      """WITH h AS (
        |  SELECT doc_id, doc_id % 4 AS kind,
        |    CAST(doc_id % 5 AS BIGINT) AS file_no,
        |    'http://site' || (doc_id % 13) || '.com/page/' ||
        |      (doc_id % 7) AS uri,
        |    CASE WHEN doc_id % 4 = 1 AND doc_id % 8 = 1
        |      THEN 404 ELSE 200 END AS status,
        |    CASE doc_id % 4 WHEN 0 THEN 'text/html'
        |      ELSE 'text/plain' END AS ct
        |  FROM documents WHERE doc_id % 4 IN (0, 1)),
        |conv AS (
        |  SELECT file_no,
        |    CAST(row_number() OVER (PARTITION BY file_no
        |      ORDER BY doc_id) AS BIGINT) AS member_idx,
        |    'metadata' AS warc_type, uri AS target_uri,
        |    md5('{"uri":"' || uri || '","status":' || status ||
        |        ',"content_type":"' || ct || '","n_links":0}')
        |      AS body_md5
        |  FROM h),
        |leaders AS (
        |  SELECT CAST(f AS BIGINT) AS file_no, CAST(0 AS BIGINT)
        |      AS member_idx,
        |    'warcinfo' AS warc_type, NULL AS target_uri,
        |    md5('software: graft-wat-writer' || chr(13) || chr(10))
        |      AS body_md5
        |  FROM generate_series(0, 4) t(f))
        |SELECT * FROM conv UNION ALL SELECT * FROM leaders
        |ORDER BY file_no, member_idx""".stripMargin,

    // the wire-coding decode: every kind's DECODED body is the same
    // planted html, so body_md5 = md5(html) whenever decoding ran —
    // including `br` (kind 6 even), which since the RFC 7932 decoder
    // landed must decode IN PLACE like gzip/deflate; the one `br`
    // rejection left is the static-dictionary stream (kind 6 odd),
    // whose constant bytes pass through untouched (md5 pinned to the
    // planted vector, proving passthrough rather than a wrong decode)
    "source_warc_http" ->
      """WITH b AS (SELECT doc_id, doc_id % 8 AS kind, text,
        |  (doc_id // 8) % 2 = 1 AS brdict,
        |  'http://site' || (doc_id % 13) || '.com/page/' || (doc_id % 7)
        |    AS uri FROM documents),
        |h AS (SELECT doc_id, kind, brdict,
        |  '<html><head><title>Doc ' || doc_id ||
        |  '</title></head><body><h1>Title &amp; doc ' || doc_id ||
        |  '&#33;</h1><div>' || text || '</div></body></html>' AS html,
        |  text FROM b)
        |SELECT doc_id,
        |  CAST(200 AS INTEGER) AS status,
        |  'text/html' AS content_type,
        |  CASE WHEN kind = 6 AND brdict
        |    THEN 'content-coding:br-dictionary' END AS coding_err,
        |  CASE WHEN kind = 6 AND brdict
        |       THEN 'd346bc4573918494b1bb456f5a872095'
        |       ELSE md5(html) END AS body_md5,
        |  CASE WHEN NOT (kind = 6 AND brdict) THEN
        |    md5('Title & doc ' || doc_id || '!' || chr(10) ||
        |        trim(regexp_replace(text, '\s+', ' ', 'g')))
        |  END AS extracted_md5
        |FROM h ORDER BY doc_id""".stripMargin,

    // the .warc.gz archive read: same planted records as source_warc,
    // keyed by (archive file, member position) instead of doc_id —
    // file_no = doc_id % 8, and member order inside a file is
    // ascending doc_id by construction, so member_idx is a per-file
    // dense rank over doc_id
    "source_warc_gz" ->
      """WITH b AS (SELECT doc_id, doc_id % 4 AS kind, text,
        |  CAST(doc_id % 8 AS BIGINT) AS file_no,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 8
        |    ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
        |  'http://site' || (doc_id % 13) || '.com/page/' || (doc_id % 7)
        |    AS uri FROM documents),
        |h AS (SELECT doc_id, kind, file_no, member_idx, uri, text,
        |  '<html><head><title>Doc ' || doc_id ||
        |  '</title></head><body><h1>Title &amp; doc ' || doc_id ||
        |  '&#33;</h1><div>' || text || '</div></body></html>' AS html
        |  FROM b)
        |SELECT file_no, member_idx,
        |  CASE kind WHEN 0 THEN 'response' WHEN 1 THEN 'response'
        |       WHEN 2 THEN 'warcinfo' END AS warc_type,
        |  CASE WHEN kind IN (0, 1) THEN uri END AS target_uri,
        |  CASE WHEN kind IN (0, 1) THEN
        |    CAST(CASE WHEN kind = 1 AND doc_id % 8 = 1 THEN 404
        |         ELSE 200 END AS INTEGER) END AS status,
        |  CASE kind WHEN 0 THEN 'text/html'
        |       WHEN 1 THEN 'text/plain' END AS content_type,
        |  CASE kind WHEN 0 THEN md5(html) WHEN 1 THEN md5(text)
        |       WHEN 2 THEN md5('software: graft-crawler' ||
        |         chr(13) || chr(10)) END AS body_md5,
        |  CASE WHEN kind = 0 THEN
        |    md5('Title & doc ' || doc_id || '!' || chr(10) ||
        |        trim(regexp_replace(text, '\s+', ' ', 'g')))
        |  END AS extracted_md5
        |FROM h ORDER BY file_no, member_idx""".stripMargin,

    // the zstd archive replay by construction: 8 files keyed by
    // doc_id % 8, member order ascending doc id, frame kind by
    // (doc_id // 8) % 3; odd files' kind-1 frames are the NAMED
    // dictionary rejection (WARC facts null, err carries the id);
    // everything else decodes to the planted response record
    "source_warc_zst" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(doc_id % 8 AS BIGINT) AS file_no,
        |  CAST(row_number() OVER (PARTITION BY doc_id % 8
        |    ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
        |  CAST((doc_id // 8) % 3 AS INTEGER) AS kind
        |  FROM documents)
        |SELECT file_no, member_idx,
        |  CASE WHEN file_no % 2 = 1 AND kind = 1
        |    THEN 'zstd-dictionary:7' END AS err,
        |  CASE WHEN file_no % 2 = 1 AND kind = 1 THEN NULL
        |    ELSE 'http://site' || (doc_id % 13) || '.com/z' || doc_id
        |    END AS target_uri,
        |  CASE WHEN file_no % 2 = 1 AND kind = 1 THEN NULL
        |    ELSE CAST(200 AS INTEGER) END AS status,
        |  CASE WHEN file_no % 2 = 1 AND kind = 1 THEN NULL
        |    ELSE md5(text) END AS body_md5
        |FROM b ORDER BY file_no, member_idx""".stripMargin,

    // every decoded STRING reconstructed by construction — planted
    // non-ASCII via chr() codepoints so the oracle never round-trips
    // bytes through the SQL text itself: é=233 €=8364 ’=8217 —=8212
    // •=8226; kind 6 (shift_jis) is the named rejection → NULL text
    "text_charset_decode" ->
      """WITH e AS (SELECT doc_id, doc_id % 7 AS kind, text
        |  FROM documents),
        |x AS (SELECT doc_id, kind, CASE kind
        |    WHEN 0 THEN 'Doc ' || doc_id || ' ' || chr(233) ||
        |      chr(8364) || ' ' || text
        |    WHEN 1 THEN 'Doc ' || doc_id || ' ' || chr(233) ||
        |      chr(8364) || ' ' || text
        |    WHEN 2 THEN '<meta charset="utf-8"> quote ' || chr(8217)
        |      || ' dash ' || chr(8212) || ' euro ' || chr(8364) ||
        |      ' ' || text
        |    WHEN 3 THEN '<html><head><meta charset="windows-1252">'
        |      || '</head><body>bullet ' || chr(8226) || ' ' || text
        |      || '</body></html>'
        |    WHEN 4 THEN 'caf' || chr(233) || ' ' || text
        |    WHEN 5 THEN 'mid ' || chr(8212) || ' dash ' || text
        |  END AS t FROM e)
        |SELECT doc_id,
        |  CASE kind WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
        |    WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'windows-1252'
        |    WHEN 4 THEN 'utf-8' WHEN 5 THEN 'windows-1252'
        |    ELSE 'shift_jis' END AS charset,
        |  CASE kind WHEN 0 THEN 'bom' WHEN 1 THEN 'bom'
        |    WHEN 2 THEN 'header' WHEN 3 THEN 'meta'
        |    WHEN 4 THEN 'valid-utf8' WHEN 5 THEN 'fallback'
        |    ELSE 'unsupported-label' END AS method,
        |  md5(t) AS md5_text,
        |  CAST(length(t) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin,

    // the versioned legacy-decode rollout replayed from the shared
    // plant constant (generator above)
    "text_charset_legacy" -> legacyCharsetOracle,

    // the rollout replay: v1 rejects every single-byte label by name,
    // v2 decodes them chr()-for-chr() from the same plant constant
    "text_charset_singlebyte" -> {
      def chrs(cps: Seq[Int]): String =
        cps.map(c => s"chr($c)").mkString(" || ")
      val plants = singleByteCharsetPlants.zipWithIndex
      val textCases = plants.map { case ((_, _, cps), k) =>
        if (cps.isEmpty) s"WHEN $k THEN NULL"
        else s"WHEN $k THEN prefix || ${chrs(cps)}"
      }.mkString("\n    ")
      val names = plants.map { case ((l, _, _), k) =>
        s"WHEN $k THEN '$l'" }.mkString(" ")
      val v2Method = plants.map { case ((_, _, cps), k) =>
        val m = if (cps.isEmpty) "unsupported-label" else "header"
        s"WHEN $k THEN '$m'"
      }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, doc_id % 8 AS kind FROM documents),
         |e AS (SELECT doc_id, kind, 'Doc ' || doc_id || ' ' AS prefix
         |      FROM d),
         |t AS (SELECT doc_id, kind,
         |  CASE kind
         |    $textCases
         |  END AS text_v2 FROM e)
         |SELECT doc_id,
         |  CASE kind $names END AS charset_v1,
         |  'unsupported-label' AS method_v1,
         |  md5(CAST(NULL AS VARCHAR)) AS md5_v1,
         |  CASE kind $names END AS charset_v2,
         |  CASE kind $v2Method END AS method_v2,
         |  md5(text_v2) AS md5_v2,
         |  CAST(length(text_v2) AS BIGINT) AS n_chars_v2
         |FROM t ORDER BY doc_id""".stripMargin
    },

    // every chain replayed by construction: L = id%3 hops land on
    // /c{id}/{L}; even ids re-alias via canonical; every 5th id is
    // noindex and drops
    // the three redirect mechanisms replayed: 3xx chains, fast
    // meta-refresh interstitials (count as hops with refresh
    // provenance), SLOW meta-refreshes stall the chain at hop 0
    // (auto-reload, not a redirect — landing canonical/noindex never
    // reached), and rel=canonical as the final alias
    "pipeline_redirect_resolve" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS n, doc_id % 3 AS L,
        |  doc_id % 2 = 0 AS canon, doc_id % 5 = 0 AS noindex,
        |  doc_id % 4 = 1 AND doc_id % 3 > 0 AS fastr,
        |  doc_id % 4 = 3 AND doc_id % 3 > 0 AS slowr
        |  FROM documents)
        |SELECT doc_id,
        |  'http://site' || n || '.com/c' || doc_id || '/0' AS start_url,
        |  CASE WHEN slowr THEN
        |         'http://site' || n || '.com/c' || doc_id || '/0'
        |       WHEN canon THEN 'http://site' || n || '.com/canon/'
        |         || doc_id
        |       ELSE 'http://site' || n || '.com/c' || doc_id || '/'
        |         || L END AS final_url,
        |  CAST(CASE WHEN slowr THEN 0 ELSE L END AS BIGINT) AS n_hops,
        |  CAST(CASE WHEN fastr THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_refresh_hops,
        |  CASE WHEN slowr THEN 'fetch'
        |       WHEN canon THEN 'canonical'
        |       WHEN L > 0 THEN 'redirect'
        |       ELSE 'fetch' END AS channel,
        |  noindex AND NOT slowr AS noindex,
        |  NOT (noindex AND NOT slowr) AS kept
        |FROM d ORDER BY doc_id""".stripMargin,

    // the wildcard-policy verdicts replayed by construction per kind
    "text_robots_wildcards" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS kind,
        |  doc_id % 3 AS g FROM documents)
        |SELECT doc_id,
        |  'w' || g || '.example' AS domain,
        |  CASE kind WHEN 0 THEN '/index.php'
        |    WHEN 1 THEN '/index.php?x=1'
        |    WHEN 2 THEN '/shop/a.php'
        |    WHEN 3 THEN '/fishheads'
        |    WHEN 4 THEN '/fish/ok/page'
        |    WHEN 5 THEN '/Fish'
        |    WHEN 6 THEN '/page' || (doc_id % 7)
        |    ELSE '/deep/x.php' END AS path,
        |  CASE g WHEN 0 THEN kind IN (1, 2, 4, 5, 6)
        |    WHEN 1 THEN kind <> 1
        |    ELSE FALSE END AS allowed
        |FROM d ORDER BY doc_id""".stripMargin,

    // the composed WARC→charset→extract path: extraction replayed by
    // reconstruction (title raw-text-dropped, h1 entity decoded, div
    // whitespace collapsed) over the DECODED string; the EUC-JP kind
    // nulls everything past the named rejection
    "source_warc_charset" ->
      """WITH b AS (SELECT doc_id, doc_id % 3 AS kind,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS ctext
        |  FROM documents)
        |SELECT doc_id,
        |  CASE kind WHEN 0 THEN 'windows-1252' WHEN 1 THEN 'utf-16le'
        |    ELSE 'euc-jp' END AS charset,
        |  CASE kind WHEN 0 THEN 'header' WHEN 1 THEN 'bom'
        |    ELSE 'unsupported-label' END AS method,
        |  CASE kind
        |    WHEN 0 THEN md5('Caf' || chr(233) || ' & doc ' || doc_id
        |      || chr(10) || chr(8217) || ' ' || ctext || ' ' ||
        |      chr(8212))
        |    WHEN 1 THEN md5('Doc ' || doc_id || chr(10) || ctext)
        |  END AS extracted_md5,
        |  CASE WHEN kind IN (0, 1) THEN CAST(2 AS INTEGER)
        |  END AS n_blocks
        |FROM b ORDER BY doc_id""".stripMargin,

    // the whole composed funnel replayed: decode rejection by kind,
    // the robots decision per planted policy, the language/quality
    // arithmetic and the kept token sum — all by construction. The
    // STREAMING form shares it verbatim: stateless per-row steps ⇒
    // final state ≡ the batch replay under any micro-batch split.
    "pipeline_crawl_e2e" -> crawlFunnelOracle,
    "pipeline_warc_stream" -> crawlFunnelOracle,
    "pipeline_warc_gz_stream" -> crawlFunnelOracle,

    // alias collapse by construction: the canonical key is
    // 'http://site{a}.com/page/{b}' whatever the planted decoration
    "dedup_url" ->
      """WITH u AS (SELECT doc_id,
        |  'http://site' || (doc_id % 13) || '.com/page/' || (doc_id % 7)
        |    AS url_canon FROM documents)
        |SELECT url_canon, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_aliases
        |FROM u GROUP BY url_canon ORDER BY url_canon""".stripMargin,

    // the streaming crawl front-end's final state replayed as one batch
    // chain: extraction by reconstruction (title dropped, h1 entities
    // decoded, the escaped doc text round-tripped), URL policy (every
    // 11th doc malformed -> dropped; site numbers ≡ 0 mod 7 ->
    // blocklisted), then the language and quality gates over the
    // EXTRACTED text, grouped per source
    "pipeline_crawl_stream" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val scores = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($set))) AS s_$lang"
      }.mkString(", ")
      val enCond = TextOps.langProfiles.map(_._1).filter(_ != "en")
        .map(l => s"s_en >= s_$l").mkString(" AND ")
      s"""WITH ex AS (
         |  SELECT doc_id, source,
         |    'Title & doc ' || doc_id || '!' || chr(10) ||
         |    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
         |  FROM documents
         |  WHERE doc_id % 11 <> 0 AND (doc_id % 37) % 7 <> 0),
         |t AS (SELECT doc_id, source, $normToks AS toks FROM ex),
         |f AS (SELECT doc_id, source, toks,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |          AS distinct_ratio,
         |        CAST(len(list_filter(toks, t -> t IN ($stop)))
         |          AS DOUBLE) / len(toks) AS stopword_ratio,
         |        $scores
         |      FROM t),
         |gated AS (
         |  SELECT source, n_tokens FROM f
         |  WHERE $enCond
         |    AND round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
         |          + distinct_ratio
         |          + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6) >= 0.6)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM gated GROUP BY source ORDER BY source""".stripMargin
    },

    // copy counts and per-copy keys replayed exactly: floor(factor)
    // whole copies + the md5-threshold fractional copy, epochs
    // enumerated with generate-series
    "sample_epochs" -> {
      val whole = epochFactors.toSeq.sortBy(_._1).map { case (src, f) =>
        s"WHEN source = '$src' THEN ${math.floor(f).toInt}"
      }.mkString("\n           ")
      val thr = epochFactors.toSeq.sortBy(_._1).map { case (src, f) =>
        s"WHEN source = '$src' THEN " +
          s"'${Sampling.fracThreshold(f - math.floor(f))}'"
      }.mkString("\n           ")
      s"""WITH n AS (
         |  SELECT doc_id, source,
         |    (CASE $whole
         |          ELSE 0 END)
         |    + (CASE WHEN md5(CAST(doc_id AS VARCHAR)) <
         |         (CASE $thr
         |               ELSE '${Sampling.fracThreshold(0.0)}' END)
         |       THEN 1 ELSE 0 END) AS nc
         |  FROM documents),
         |e AS (SELECT doc_id, source, CAST(i AS INTEGER) AS epoch
         |      FROM n, unnest(range(0, nc)) AS r(i) WHERE nc > 0)
         |SELECT doc_id, source, epoch,
         |       md5(CAST(doc_id AS VARCHAR) || ':' || epoch)
         |         AS shuffle_key
         |FROM e ORDER BY doc_id, epoch""".stripMargin
    },

    // independent batch replay of the streaming fold's final state:
    // trainer CTE chain + encode chain + per-source count/sum
    "tokenize_streaming" -> {
      val steps = 10
      val applied = (1 to steps).foldLeft("enc") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM b$i),\n" +
          s"      (SELECT replace(pair, chr(2) || chr(1), '') FROM b$i))"
      }
      val tail =
        s"""d0 AS MATERIALIZED (
           |  SELECT doc_id, source, array_to_string(list_transform(
           |    list_filter($normToks, w -> length(w) > 0),
           |    w -> array_to_string(list_transform(string_split(w, ''),
           |           c -> chr(1) || c || chr(2)), '')
           |         || chr(1) || '</w>' || chr(2)), '') AS enc
           |  FROM documents),
           |e AS (SELECT doc_id, source, $applied AS enc FROM d0),
           |t AS (SELECT source,
           |        CAST(CASE WHEN length(enc) = 0 THEN 0
           |             ELSE len(string_split(substring(enc, 2, length(enc) - 2),
           |                      chr(2) || chr(1))) END AS BIGINT) AS n_tokens
           |      FROM e)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |FROM t GROUP BY source ORDER BY source""".stripMargin
      s"WITH ${bpeTrainCtes(steps)},\n$tail"
    },

    "pipeline_tokenize" -> {
      val steps = 10
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val applied = (1 to steps).foldLeft("enc") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM b$i),\n" +
          s"      (SELECT replace(pair, chr(2) || chr(1), '') FROM b$i))"
      }
      // quality gate (the text_quality score formula), then the trainer
      // CTE chain over the GATED corpus, then the encode chain and the
      // pack_contig window — each piece is its own stripMargin block,
      // concatenated (never re-stripped: the CTEs contain `||` line heads)
      val quality =
        s"""q AS MATERIALIZED (
           |  SELECT doc_id, source, text FROM (
           |    SELECT doc_id, source, text, $normToks AS toks FROM documents)
           |  WHERE round((least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |          + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           |          + (1.0 - abs(CAST(len(list_filter(toks, t -> t IN ($stop)))
           |              AS DOUBLE) / len(toks) - 0.4))) / 3.0, 6) >= 0.6)""".stripMargin
      val tail =
        s"""d0 AS MATERIALIZED (
           |  SELECT doc_id, source, array_to_string(list_transform(
           |    list_filter($normToks, w -> length(w) > 0),
           |    w -> array_to_string(list_transform(string_split(w, ''),
           |           c -> chr(1) || c || chr(2)), '')
           |         || chr(1) || '</w>' || chr(2)), '') AS enc
           |  FROM q),
           |enc2 AS (SELECT doc_id, source, $applied AS enc FROM d0),
           |t AS (SELECT doc_id, source,
           |        CAST(CASE WHEN length(enc) = 0 THEN 0
           |             ELSE len(string_split(substring(enc, 2, length(enc) - 2),
           |                      chr(2) || chr(1))) END AS BIGINT) AS n_tokens
           |      FROM enc2),
           |o AS (
           |  SELECT doc_id, source, n_tokens,
           |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
           |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS off
           |  FROM t WHERE n_tokens > 0),
           |e2 AS (
           |  SELECT doc_id, source, off, n_tokens,
           |         unnest(range(CAST(floor(off / 512.0) AS BIGINT),
           |           CAST(floor((off + n_tokens - 1) / 512.0) AS BIGINT) + 1))
           |           AS seq_id
           |  FROM o)
           |SELECT doc_id, source, seq_id,
           |       greatest(seq_id * 512 - off, 0) AS tok_start,
           |       least((seq_id + 1) * 512 - off, n_tokens) AS tok_end,
           |       least((seq_id + 1) * 512 - off, n_tokens)
           |         - greatest(seq_id * 512 - off, 0) AS seq_tokens
           |FROM e2 ORDER BY doc_id, seq_id""".stripMargin
      s"WITH $quality,\n${bpeTrainCtes(steps, "q")},\n$tail"
    },

    "pipeline_batches" -> {
      val steps = 10
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      val applied = (1 to steps).foldLeft("enc") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM b$i),\n" +
          s"      (SELECT replace(pair, chr(2) || chr(1), '') FROM b$i))"
      }
      val quality =
        s"""q AS MATERIALIZED (
           |  SELECT doc_id, source, text FROM (
           |    SELECT doc_id, source, text, $normToks AS toks FROM documents)
           |  WHERE round((least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
           |          + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           |          + (1.0 - abs(CAST(len(list_filter(toks, t -> t IN ($stop)))
           |              AS DOUBLE) / len(toks) - 0.4))) / 3.0, 6) >= 0.6)""".stripMargin
      val mergeRows = (1 to steps).map { i =>
        s"""SELECT CAST((SELECT count(*) FROM base) + $i AS BIGINT) AS token_id,
           |  string_split(substring(pair, 2, length(pair) - 2),
           |    chr(2) || chr(1))[1] ||
           |  string_split(substring(pair, 2, length(pair) - 2),
           |    chr(2) || chr(1))[2] AS symbol FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      val tail =
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
           |$mergeRows),
           |vocab AS MATERIALIZED (
           |  SELECT min(token_id) AS token_id, symbol FROM vocab0
           |  GROUP BY symbol),
           |d0 AS MATERIALIZED (
           |  SELECT doc_id, source, array_to_string(list_transform(
           |    list_filter($normToks, w -> length(w) > 0),
           |    w -> array_to_string(list_transform(string_split(w, ''),
           |           c -> chr(1) || c || chr(2)), '')
           |         || chr(1) || '</w>' || chr(2)), '') AS enc
           |  FROM q),
           |e AS (SELECT doc_id, source, $applied AS enc FROM d0),
           |t AS (SELECT doc_id, source,
           |        CAST(CASE WHEN length(enc) = 0 THEN 0
           |             ELSE len(string_split(substring(enc, 2, length(enc) - 2),
           |                      chr(2) || chr(1))) END AS BIGINT) AS n_tokens
           |      FROM e),
           |o AS (
           |  SELECT doc_id,
           |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
           |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS off
           |  FROM t WHERE n_tokens > 0),
           |tok AS (
           |  SELECT doc_id, source,
           |    unnest(string_split(substring(enc, 2, length(enc) - 2),
           |      chr(2) || chr(1))) AS symbol,
           |    unnest(range(0, CAST(length(enc)
           |      - length(replace(enc, chr(1), '')) AS BIGINT))) AS pos
           |  FROM e WHERE length(enc) > 0)
           |SELECT source, CAST((off + pos) // 512 AS BIGINT) AS seq_id,
           |       CAST((off + pos) % 512 AS BIGINT) AS seq_pos, token_id
           |FROM tok JOIN o USING (doc_id) JOIN vocab USING (symbol)
           |ORDER BY source, seq_id, seq_pos""".stripMargin
      s"WITH $quality,\n${bpeTrainCtes(steps, "q")},\n$tail"
    },

    "multimodal_resize" ->
      s"""WITH $mediaDimsCte,
         |g AS (
         |  SELECT media_id,
         |    CAST(CASE WHEN kind <> 4 THEN w END AS INTEGER) AS w,
         |    CAST(CASE WHEN kind <> 4 THEN h END AS INTEGER) AS h
         |  FROM f)
         |SELECT media_id, w AS src_w, h AS src_h,
         |       CASE WHEN w <= 320 AND h <= 240 THEN w
         |            WHEN w * 240 >= h * 320 THEN 320
         |            ELSE CAST(floor(w * 240 / h) AS INTEGER) END AS out_w,
         |       CASE WHEN w <= 320 AND h <= 240 THEN h
         |            WHEN w * 240 >= h * 320 THEN CAST(floor(h * 320 / w) AS INTEGER)
         |            ELSE 240 END AS out_h
         |FROM g ORDER BY media_id""".stripMargin,

    "multimodal_frames" ->
      s"""WITH $mediaDimsCte,
         |g AS (
         |  SELECT media_id,
         |    CAST(CASE WHEN kind = 2 THEN 1 + extra
         |              WHEN kind <> 4 THEN 1 END AS INTEGER) AS n_frames
         |  FROM f)
         |SELECT media_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx FROM (
         |  SELECT media_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx
         |  FROM g)
         |ORDER BY media_id, frame_idx""".stripMargin)
}
