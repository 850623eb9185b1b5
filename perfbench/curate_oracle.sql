-- DuckDB restatement of Curation.curate with the x_curation_e2e arguments
-- (qualityMin 0.45, dupFracMax 0.1, ceMax 3.45, benchMod 7, en/zh/es/de/fr
-- weights 0.4/0.15/0.15/0.15/0.15, packBudget 512, minSharedPct 20),
-- over a view named documents. The curate workload's output check.
WITH RECURSIVE
            base AS (SELECT doc_id, lang, n_chars, text FROM documents),
            -- stage 1: quality + repetition signals (one scan, mirrors
            -- x_text_stats / x_repetition)
            tw AS (SELECT doc_id, lang, n_chars, text,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM base),
            sig0 AS (SELECT doc_id, lang, n_chars, text,
                CAST(len(w) AS BIGINT) AS n_tok,
                CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'))) AS BIGINT) AS n_stop,
                CASE WHEN len(w) < 2 THEN []
                     ELSE list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1]) END AS g2
              FROM tw),
            qsig AS (SELECT doc_id, lang, text,
                CAST(floor((
                  least(n_tok / 100.0, 1.0) * 0.5 +
                  (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tok * 10000.0) / 10000.0) * 0.3 +
                  least(floor(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok * 10000.0)
                        / 10000.0 / 10.0, 1.0) * 0.2
                  ) * 10000.0) / 10000.0 AS DOUBLE) AS quality,
                CASE WHEN len(g2) = 0 THEN 0.0
                     ELSE floor((1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2))
                          * 10000.0) / 10000.0 END AS dup2
              FROM sig0),
            -- stage 2: CCNet unigram-LM scoring (mirrors x_lm_quality)
            tok0 AS (SELECT doc_id, lang,
                unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS word
              FROM base),
            counts AS (SELECT lang, word, count(*) AS cnt FROM tok0
                       WHERE doc_id % 3 <> 0 GROUP BY lang, word),
            totals AS (SELECT lang, sum(cnt) AS tot, count(*) AS vocab
                       FROM counts GROUP BY lang),
            model AS (SELECT counts.lang, word,
                CAST(floor(-ln((cnt + 1.0) / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS surprisal,
                CAST(floor(-ln(1.0 / (tot + vocab)) * 10000.0)
                     / 10000.0 AS DECIMAL(18,4)) AS oov
              FROM counts JOIN totals ON totals.lang = counts.lang),
            ml AS (SELECT lang, max(oov) AS oov FROM model GROUP BY lang),
            lmce AS (SELECT doc_id,
                floor(CAST(sum(coalesce(m.surprisal, ml.oov)) AS DOUBLE)
                      / count(*) * 10000.0) / 10000.0 AS ce
              FROM tok0
              LEFT JOIN model m ON m.lang = tok0.lang AND m.word = tok0.word
              JOIN ml ON ml.lang = tok0.lang
              GROUP BY doc_id),
            -- stage 3: joint filter + PII scrub (mirrors x_pii_scrub's chain)
            kept1 AS (SELECT q.doc_id, q.lang, q.quality, lmce.ce,
                regexp_replace(regexp_replace(regexp_replace(q.text,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<pii:email>', 'g'),
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<pii:phone>', 'g'),
                  '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<pii:ipv4>', 'g')
                  AS scrubbed
              FROM qsig q JOIN lmce ON lmce.doc_id = q.doc_id
              WHERE q.quality >= 0.45 AND q.dup2 <= 0.1 AND lmce.ce <= 3.45),
            -- stage 4: MinHash→LSH→Jaccard→components dedup over the
            -- scrubbed survivors (mirrors x_dedup_pipeline)
            kw AS (SELECT doc_id, string_split(scrubbed, ' ') AS w FROM kept1),
            kpos AS (SELECT doc_id, w,
                unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM kw),
            ksh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS s FROM kpos),
            ksig AS (SELECT doc_id,
              min(md5('0|'||s)) AS h0, min(md5('1|'||s)) AS h1,
              min(md5('2|'||s)) AS h2, min(md5('3|'||s)) AS h3,
              min(md5('4|'||s)) AS h4, min(md5('5|'||s)) AS h5,
              min(md5('6|'||s)) AS h6, min(md5('7|'||s)) AS h7
              FROM ksh GROUP BY doc_id),
            banded AS (
              SELECT doc_id, md5('0'||'|'||h0||'|'||h1||'|'||h2||'|'||h3) AS band FROM ksig
              UNION ALL
              SELECT doc_id, md5('1'||'|'||h4||'|'||h5||'|'||h6||'|'||h7) FROM ksig),
            prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM banded a JOIN banded b USING (band)
                    WHERE a.doc_id < b.doc_id),
            ktok AS (SELECT DISTINCT doc_id, s AS word FROM ksh),
            ksizes AS (SELECT doc_id, count(*) AS n FROM ktok GROUP BY doc_id),
            kinter AS (SELECT doc_a, doc_b, count(*) AS i
                      FROM prs
                      JOIN ktok ta ON ta.doc_id = doc_a
                      JOIN ktok tb ON tb.doc_id = doc_b AND tb.word = ta.word
                      GROUP BY doc_a, doc_b),
            verified AS (SELECT doc_a, doc_b
                         FROM kinter
                         JOIN ksizes sa ON sa.doc_id = doc_a
                         JOIN ksizes sb ON sb.doc_id = doc_b
                         WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0)
                               / 10000.0 >= 0.5),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                      UNION SELECT doc_b, doc_a FROM verified),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM kept1
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, min(lab) AS component
                     FROM reach GROUP BY id),
            -- stage 5: winnow-fingerprint decontamination over the
            -- PRE-dedup survivors, overlap fraction ≥ 20%
            -- (mirrors x_decontaminate + the stats totals)
            nn AS (SELECT doc_id,
                trim(regexp_replace(lower(scrubbed), '\s+', ' ', 'g')) AS norm
              FROM kept1),
            gg AS (SELECT doc_id, p, md5(substr(norm, CAST(p AS INT), 16)) AS h
                  FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 15, 1))) AS p
                    FROM nn)),
            wmin AS (SELECT doc_id, p,
                count(*) OVER (PARTITION BY doc_id) AS np,
                min(h) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
              FROM gg),
            fps AS (SELECT DISTINCT doc_id, minh AS fp FROM wmin
                    WHERE p <= greatest(np - 3, 1)),
            ftot AS (SELECT doc_id, count(*) AS ntot FROM fps GROUP BY doc_id),
            shared AS (SELECT c.doc_id, count(DISTINCT c.fp) AS nsh
              FROM fps c JOIN fps b ON b.fp = c.fp
                AND b.doc_id <> c.doc_id AND b.doc_id % 7 = 0
              GROUP BY c.doc_id),
            contaminated AS (SELECT s.doc_id
              FROM shared s JOIN ftot t ON t.doc_id = s.doc_id
              WHERE s.nsh * 100 >= t.ntot * 20),
            kept3 AS (SELECT k.* FROM kept1 k
              JOIN comp ON comp.doc_id = k.doc_id AND comp.component = k.doc_id
              WHERE k.doc_id % 7 <> 0
                AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            -- stage 6: domain-mixture rebalancing (mirrors x_domain_mix)
            dcounts AS (SELECT lang, count(*) AS cnt FROM kept3 GROUP BY lang),
            cw AS (SELECT lang, cnt,
                CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
                     WHEN lang = 'zh' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'es' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'de' THEN CAST(0.15 AS DOUBLE)
                     WHEN lang = 'fr' THEN CAST(0.15 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END AS wt
              FROM dcounts),
            pcw AS (SELECT * FROM cw WHERE wt > 0),
            sc AS (SELECT min(cnt / wt) AS scale FROM pcw),
            cut AS (SELECT lang,
                CAST(CASE WHEN cnt / wt = scale THEN 256
                     ELSE greatest(1, least(256, floor(scale * wt / cnt * 256)))
                     END AS INT) AS cutoff
              FROM pcw, sc),
            kept4 AS (SELECT k.doc_id, k.lang AS domain, k.quality, k.ce, k.scrubbed
              FROM kept3 k JOIN cut ON cut.lang = k.lang
              WHERE cut.cutoff = 256
                 OR substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2)
                    < printf('%02x', cut.cutoff)),
            -- stage 7: concat-and-chunk packing (mirrors x_pack_chunks;
            -- BIGINT casts — DuckDB's windowed sum yields HUGEINT)
            ptok AS (SELECT doc_id, domain, quality, ce,
                CAST(len(list_filter(string_split(scrubbed, ' '), x -> length(x) > 0))
                  AS BIGINT) AS n_tokens
              FROM kept4),
            packed AS (SELECT *,
                sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
              FROM ptok)
            SELECT doc_id, domain, quality, CAST(ce AS DOUBLE) AS cross_entropy,
                   n_tokens, CAST(so AS BIGINT) AS start_offset,
                   CAST(so // 512 AS BIGINT) AS pack_id
            FROM packed ORDER BY doc_id
