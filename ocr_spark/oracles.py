"""DuckDB oracle SQL for every SQL-expressible query in ``ocr_spark.queries``.

The driver pre-registers the parquet tables as views (``region nation
customer supplier part orders lineitem events documents embeddings``)
and compares row-count + schema + order-insensitive value hash against
the Spark result, so column names and rounding must match the Spark side
exactly.
"""

from ocr_spark import params as _params

ORACLES: dict[str, str] = {}


ORACLES["t5_cleanup_normalize"] = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(text, ' value ', '  value' || chr(9) || ' ', 'g'),
                            ' table ', ' table' || repeat(chr(10), 4), 'g'),
             '\n\s*\n\s*\n+', chr(10) || chr(10), 'g'),
             '[ \t]+', ' ', 'g')) AS cleaned
FROM documents
"""

ORACLES["f1_page_classifier"] = """
SELECT doc_id,
       CASE WHEN length(trim(substr(text, 1, CAST((doc_id * 7) % 80 AS INT)))) < 30
            THEN 'image' ELSE 'text' END AS kind
FROM documents
"""

ORACLES["f3_empty_text_filter"] = """
SELECT doc_id
FROM documents
WHERE trim(substr(text, 1, CAST((doc_id * 7) % 80 AS INT))) <> ''
"""

ORACLES["s3_content_hash"] = """
SELECT doc_id, sha256(text) AS sha FROM documents
"""

ORACLES["a6_dedup_exact"] = """
SELECT sha256(text) AS sha,
       CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id
FROM documents GROUP BY 1
"""

ORACLES["t9_stats_projection"] = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(avg(length(text)), 4) AS avg_chars,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars,
       CAST(count(*) FILTER (WHERE n_chars < 100) AS BIGINT) AS short_docs
FROM documents GROUP BY source
"""

ORACLES["a3_ordered_concat"] = """
SELECT source,
       string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS full_text,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
"""

ORACLES["a2_ordered_gather"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(max(doc_id) AS BIGINT) AS last_doc_id,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""

ORACLES["a8_top_k"] = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
QUALIFY row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) <= 10
"""

ORACLES["f7_limit_predicate"] = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id < 50
"""

ORACLES["token_count"] = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
FROM documents
"""

ORACLES["doc_fingerprint"] = r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""

ORACLES["lang_id_heuristic"] = r"""
WITH padded AS (
  SELECT doc_id, ' ' || text || ' ' AS p,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id,
       round(((length(p) - length(regexp_replace(p, ' the ', ' ', 'g'))) / 4.0
            + (length(p) - length(regexp_replace(p, ' a ', ' ', 'g'))) / 2.0)
             / n_tokens, 6) AS stopword_ratio,
       CASE WHEN round(((length(p) - length(regexp_replace(p, ' the ', ' ', 'g'))) / 4.0
               + (length(p) - length(regexp_replace(p, ' a ', ' ', 'g'))) / 2.0)
               / n_tokens, 6) >= 0.05
            THEN 'en-like' ELSE 'other' END AS lang_guess
FROM padded
"""

ORACLES["quality_score"] = """
SELECT doc_id,
       round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                      / length(text)), 6) AS quality
FROM documents
"""

ORACLES["ngram_jaccard_pairs"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), all_shingles AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks
), dfreq AS (
  SELECT shingle, count(*) AS df FROM all_shingles GROUP BY shingle
), shingles AS (
  -- mirror of queries._NGRAM_MAX_DF: drop boilerplate shingles before pairing
  SELECT s.doc_id, s.shingle
  FROM all_shingles s JOIN dfreq USING (shingle)
  WHERE dfreq.df <= 100
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
QUALIFY row_number() OVER (ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) <= 20
"""

# --- MinHash (K=128, one md5 per shingle, Carter-Wegman permutations) -----
# constants mirror ocr_spark.queries._minhash_ab / _MINHASH_P exactly
_MH_K = 128
_MH_P = 999999999999999989
_MH_BANDS = 16
_MH_ROWS = _MH_K // _MH_BANDS


def _mh_ab(j: int) -> tuple[int, int]:
    return (
        1 + 2 * ((j * 2654435761) % 134217728),
        1 + 2 * ((j * 2246822519) % 134217728),
    )


# per-doc signature as a 128-element list over once-hashed shingles
_MH_SIG_LIST = "[" + ",\n    ".join(
    f"list_min(list_transform(hp, x -> ({a} * x.h1 + {b} * x.h2) % {_MH_P}))"
    for a, b in (_mh_ab(j) for j in range(_MH_K))
) + "]"

_MH_BASE = r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(t[i:i+2], ' '))) AS shingles
  FROM toks
), hx AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> md5(s)) AS ds
  FROM sh WHERE len(shingles) > 0
), hpt AS (
  SELECT doc_id, shingles,
         list_transform(ds, d -> {'h1': ('0x' || substr(d, 1, 8))::BIGINT,
                                  'h2': ('0x' || substr(d, 9, 8))::BIGINT}) AS hp
  FROM hx
), sig AS (
  SELECT doc_id, shingles, """ + _MH_SIG_LIST + """ AS sig
  FROM hpt
)"""

ORACLES["minhash_signature"] = f"""
WITH {_MH_BASE}
SELECT doc_id, CAST(j AS INT) AS j, sig[CAST(j AS INT) + 1] AS minh
FROM sig, unnest(range(0, {_MH_K})) AS tt(j)
"""

ORACLES["w1_running_count"] = """
SELECT user_id, event_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
FROM events
"""

ORACLES["w2_stable_event_order"] = """
SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq
FROM events GROUP BY user_id
"""

ORACLES["p1_chunk_split"] = """
WITH numbered AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, CAST(floor((rn - 1) / 50) AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST(max(event_id) AS BIGINT) AS last_event
FROM numbered GROUP BY 1, 2
"""

ORACLES["a4_batch_summary"] = """
SELECT CAST(count(*) AS BIGINT) AS total_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_errors,
       round(sum(value), 4) AS total_value
FROM events
"""

ORACLES["f5_validation_predicates"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_valid
FROM events WHERE value >= 0 AND value <= 50
GROUP BY event_type
"""

ORACLES["sessionize"] = """
WITH gaps AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM gaps GROUP BY user_id
"""

ORACLES["event_type_rollup"] = """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
       round(sum(value), 4) AS total_value
FROM events GROUP BY user_id
"""

ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q6"] = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ORACLES["tpch_q5_local_supplier"] = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
GROUP BY n.n_name
"""

ORACLES["tpch_q21ish"] = """
WITH li_f AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship,
         count(DISTINCT l_suppkey) AS n_supps
  FROM li_f GROUP BY l_orderkey
), blockers AS (
  SELECT DISTINCT li_f.l_orderkey, li_f.l_suppkey
  FROM li_f JOIN per_order USING (l_orderkey)
  WHERE per_order.n_supps >= 2 AND li_f.l_shipdate = per_order.last_ship
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_waits
FROM blockers b JOIN supplier s ON b.l_suppkey = s.s_suppkey
GROUP BY s.s_name
ORDER BY n_waits DESC, s_name ASC
LIMIT 10
"""

ORACLES["tpch_q3"] = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
QUALIFY row_number() OVER (ORDER BY revenue DESC, o_orderkey ASC) <= 10
"""

ORACLES["dim_broadcast_join"] = """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

ORACLES["semi_join_exists"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
GROUP BY o_orderpriority
"""

_COS = """
list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])
 / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))
  * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))
"""

ORACLES["embedding_norms"] = """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
FROM embeddings
"""

ORACLES["cosine_topk"] = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id ASC) <= 10
"""

ORACLES["lsh_sign_buckets"] = """
SELECT array_to_string(list_transform(embedding[1:8],
         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM embeddings GROUP BY 1
"""

ORACLES["ann_bucketed_topk"] = f"""
WITH wb AS (
  SELECT vec_id, embedding,
         array_to_string(list_transform(embedding[1:8],
           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings
), q AS (SELECT embedding AS qe, bucket AS qb FROM wb WHERE vec_id = 0)
SELECT vec_id,
       round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
FROM wb, q
WHERE vec_id <> 0 AND bucket = qb
QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id ASC) <= 5
"""



# ---------------------------------------------------------------------------
# dedup & fingerprinting, part 2
# ---------------------------------------------------------------------------

ORACLES["minhash_lsh_pairs"] = f"""
WITH {_MH_BASE}, banded AS (
  SELECT doc_id, CAST(b AS INT) AS band,
         array_to_string(sig[CAST(b AS INT) * {_MH_ROWS} + 1 : CAST(b AS INT) * {_MH_ROWS} + {_MH_ROWS}], '_') AS band_key
  FROM sig, unnest(range(0, {_MH_BANDS})) AS bt(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
), shx AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
), inter AS (
  SELECT doc_a, doc_b, count(*) AS n_common
  FROM cand
  JOIN shx sa ON sa.doc_id = cand.doc_a
  JOIN shx sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.25
"""

ORACLES["fuzzy_decontam"] = f"""
WITH {_MH_BASE}, banded AS (
  SELECT doc_id, CAST(b AS INT) AS band,
         array_to_string(sig[CAST(b AS INT) * {_MH_ROWS} + 1 : CAST(b AS INT) * {_MH_ROWS} + {_MH_ROWS}], '_') AS band_key
  FROM sig, unnest(range(0, {_MH_BANDS})) AS bt(b)
), eb AS (
  SELECT DISTINCT band, band_key, doc_id AS eval_id
  FROM banded WHERE doc_id % 97 = 0
), cand AS (
  SELECT DISTINCT tb.doc_id, eb.eval_id
  FROM banded tb JOIN eb USING (band, band_key)
  WHERE tb.doc_id % 97 <> 0
), shx AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
), inter AS (
  SELECT cand.doc_id, cand.eval_id, count(*) AS n_common
  FROM cand
  JOIN shx sa ON sa.doc_id = cand.doc_id
  JOIN shx sb ON sb.doc_id = cand.eval_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
), jac AS (
  SELECT i.doc_id,
         round(CAST(n_common AS DOUBLE) / (st.n + se.n - n_common), 6) AS j
  FROM inter i
  JOIN sizes st ON st.doc_id = i.doc_id
  JOIN sizes se ON se.doc_id = i.eval_id
), best AS (
  SELECT doc_id, max(j) AS max_j FROM jac GROUP BY doc_id
), cc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_candidates
  FROM cand GROUP BY doc_id
)
SELECT s.doc_id,
       coalesce(c.n_eval_candidates, 0) AS n_eval_candidates,
       round(coalesce(b.max_j, 0.0), 6) AS max_eval_jaccard,
       coalesce(b.max_j, 0.0) >= 0.25 AS contaminated
FROM sizes s
LEFT JOIN cc c USING (doc_id)
LEFT JOIN best b USING (doc_id)
WHERE s.doc_id % 97 <> 0
"""

# --- SimHash (64-bit, one md5 per token; bit b = bit (b%4) of hex digit
# (b//4); per-bit majority over (doc, token) rows) -----------------------
_SH_BITS = 64
_SH_BANDS = 4
_SH_WIDTH = _SH_BITS // _SH_BANDS

_SH_DIGITS = ",\n         ".join(
    f"('0x' || substr(d, {g + 1}, 1))::BIGINT AS g{g}" for g in range(_SH_BITS // 4)
)
_SH_SUMS = ",\n         ".join(
    f"sum((g{b // 4} >> {b % 4}) % 2) AS c{b}" for b in range(_SH_BITS)
)
_SH_CONCAT = " || ".join(
    f"(CASE WHEN 2 * c{b} >= n THEN '1' ELSE '0' END)" for b in range(_SH_BITS)
)

_SH_BASE = r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, md5(unnest(t)) AS d FROM toks
), dig AS (
  SELECT doc_id,
         """ + _SH_DIGITS + """
  FROM tok
), cnt AS (
  SELECT doc_id, count(*) AS n,
         """ + _SH_SUMS + """
  FROM dig GROUP BY doc_id
), sig AS (
  SELECT doc_id, """ + _SH_CONCAT + """ AS simhash FROM cnt
)"""

ORACLES["simhash_fingerprint"] = f"""
WITH {_SH_BASE}
SELECT doc_id, simhash FROM sig
"""

ORACLES["simhash_near_dup"] = f"""
WITH {_SH_BASE}, banded AS (
  SELECT doc_id, simhash, CAST(b AS INT) AS band,
         substr(simhash, CAST(b AS INT) * {_SH_WIDTH} + 1, {_SH_WIDTH}) AS half
  FROM sig, unnest(range(0, {_SH_BANDS})) AS bt(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_filter(range(1, {_SH_BITS} + 1),
            i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) AS INT) AS hamming
FROM banded a JOIN banded b USING (band, half)
WHERE a.doc_id < b.doc_id
  AND len(list_filter(range(1, {_SH_BITS} + 1),
        i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) <= 3
"""

ORACLES["embedding_near_dup"] = f"""
WITH wb AS (
  -- mirror of queries._ND_SIGN_BITS = 16: integer sign signature
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN embedding[i] >= 0 THEN 1 << (i - 1) ELSE 0 END)) AS sig
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_COS.format(a="a.embedding", b="b.embedding")}, 4) AS cosine
FROM wb a JOIN wb b ON bit_count(xor(a.sig, b.sig)) <= 1
WHERE a.vec_id < b.vec_id
QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_a ASC, vec_b ASC) <= 20
"""


# ---------------------------------------------------------------------------
# SURVEY §2 back-fill
# ---------------------------------------------------------------------------

ORACLES["f2_confidence_filter"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), kept AS (
  SELECT doc_id,
         list_filter(t, tok -> CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT AS DOUBLE) / 65535.0 >= 0.5) AS k
  FROM toks
)
SELECT doc_id, CAST(len(k) AS INT) AS n_kept, array_to_string(k, ' ') AS kept_text
FROM kept
"""

ORACLES["f4_file_type_dispatch"] = """
SELECT doc_id,
       ['png', 'pdf', 'txt'][CAST(doc_id % 3 + 1 AS INT)] AS ext,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'ocr' WHEN 1 THEN 'hybrid' ELSE 'reject' END AS route
FROM documents
"""

ORACLES["f6_block_projection"] = r"""
WITH blocks AS (
  SELECT doc_id,
         list_filter(
           list_transform(range(0, 4), i -> {
             'type': CAST((doc_id + i) % 2 AS INT),
             'btext': trim(substr(text,
                        i * CAST(ceil(length(text) / 4.0) AS INT) + 1,
                        CAST(ceil(length(text) / 4.0) AS INT)))
           }),
           b -> b.type = 0 AND b.btext <> '') AS kept
  FROM documents
)
SELECT doc_id,
       CAST(len(kept) AS INT) AS n_blocks,
       array_to_string(list_transform(kept, b -> b.btext), chr(10)) AS block_text
FROM blocks
"""

ORACLES["a7_reading_order"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       array_to_string(list_transform(list_sort(list_transform(
         range(1, len(t) + 1),
         i -> {'y': CAST(('0x' || substr(md5(t[i] || '|' || doc_id), 1, 2))::BIGINT AS INT) % 4,
               'pos': i, 'w': t[i]})), s -> s.w), ' ') AS ordered_text
FROM toks
"""

ORACLES["t4_line_join"] = r"""
SELECT doc_id,
       array_to_string(list_filter(list_transform(regexp_split_to_array(text, '\.'),
         s -> trim(s)), s -> s <> ''), chr(10)) AS joined
FROM documents
"""

ORACLES["s2_base64_roundtrip"] = """
SELECT doc_id,
       base64(encode(text)) AS b64,
       decode(from_base64(base64(encode(text)))) = text AS roundtrip_ok
FROM documents
"""

ORACLES["w3_event_gap"] = """
SELECT user_id, event_id,
       CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_ms
FROM events
"""

ORACLES["topk_per_group"] = """
SELECT event_type, event_id, round(value, 4) AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) <= 3
"""

ORACLES["event_type_rollup_totals"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM events GROUP BY ROLLUP (event_type)
"""


# ---------------------------------------------------------------------------
# multimodal (fixture text is pure ASCII, so VARCHAR substr == byte slice
# and md5(varchar) == md5 of the utf-8 payload bytes)
# ---------------------------------------------------------------------------

_MM_BASE = """
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
         text,
         md5(text) AS sha,
         ('0x' || substr(md5(text), 1, 4))::BIGINT AS h1,
         ('0x' || substr(md5(text), 5, 4))::BIGINT AS h2
  FROM documents
"""

ORACLES["mm_decode_meta"] = f"""
WITH base AS ({_MM_BASE})
SELECT media_id, kind,
       CAST(length(text) AS BIGINT) AS n_bytes,
       sha,
       CASE WHEN kind IN ('image', 'video') THEN CAST(64 + h1 % 1856 AS INT) END AS width,
       CASE WHEN kind IN ('image', 'video') THEN CAST(64 + h2 % 1856 AS INT) END AS height,
       CASE WHEN kind IN ('image', 'video') THEN 3 END AS channels,
       CASE WHEN kind = 'audio' THEN CAST(8000 + (h1 % 5) * 8000 AS INT) END AS sample_rate,
       CAST(CASE WHEN kind = 'audio' THEN 1 + h2 % 16
                 WHEN kind = 'video' THEN 1 + h2 % 8
                 ELSE 1 END AS INT) AS n_frames,
       true AS decode_ok
FROM base
"""

ORACLES["mm_resize_plan"] = f"""
WITH base AS ({_MM_BASE}), meta AS (
  SELECT media_id, kind,
         CAST(64 + h1 % 1856 AS INT) AS width,
         CAST(64 + h2 % 1856 AS INT) AS height
  FROM base WHERE kind IN ('image', 'video')
)
SELECT media_id, kind, width, height,
       CAST(floor(width * (CASE WHEN greatest(width, height) > 512
              THEN 512.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_width,
       CAST(floor(height * (CASE WHEN greatest(width, height) > 512
              THEN 512.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_height,
       greatest(width, height) > 512 AS resized
FROM meta
"""

ORACLES["mm_frame_sample"] = f"""
WITH base AS ({_MM_BASE}), video AS (
  SELECT media_id, text,
         CAST(1 + h2 % 8 AS INT) AS n_frames,
         greatest(CAST(floor(length(text) / CAST(1 + h2 % 8 AS INT)) AS INT), 1) AS frame_len
  FROM base WHERE kind = 'video'
)
SELECT media_id,
       CAST(i AS INT) AS frame_idx,
       CAST(length(substr(text, CAST(i AS INT) * frame_len + 1, frame_len)) AS BIGINT) AS frame_n_bytes,
       md5(substr(text, CAST(i AS INT) * frame_len + 1, frame_len)) AS frame_sha
FROM video, unnest(range(0, n_frames, 2)) AS r(i)
"""


ORACLES["tumbling_window_counts"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# set ops / distinct aggregates / multi-dim aggregates
# ---------------------------------------------------------------------------

ORACLES["set_ops"] = """
SELECT doc_id, 'except' AS op FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  EXCEPT ALL
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
)
UNION ALL
SELECT doc_id, 'intersect' AS op FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  INTERSECT
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
)
"""

ORACLES["distinct_agg"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""

ORACLES["cube_totals"] = """
SELECT event_type, CAST(user_id % 4 AS INT) AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY CUBE (event_type, (CAST(user_id % 4 AS INT)))
"""

ORACLES["median_value_per_type"] = """
SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# text analysis, part 2
# ---------------------------------------------------------------------------

ORACLES["token_count_bpe"] = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

ORACLES["lang_id_script"] = """
SELECT doc_id,
       round(CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS cjk_ratio,
       CASE WHEN round(CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE)
                 / greatest(length(text), 1), 6) > 0.05
            THEN 'cjk' ELSE 'latin-ish' END AS script_guess
FROM documents
"""

ORACLES["rolling_hash_fingerprint"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 8))::BIGINT)),
         (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_hash
FROM toks
"""


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor
# ---------------------------------------------------------------------------

_IVF_ASSIGN = """
emb AS (
  SELECT vec_id, embedding, CAST(vec_id % 8 AS INT) AS c0 FROM embeddings
), dims AS (
  SELECT c0, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM emb
), cmeans AS (
  SELECT c0, pos, avg(x) AS m FROM dims GROUP BY c0, pos
), centroids AS (
  SELECT c0, list(m ORDER BY pos) AS centroid FROM cmeans GROUP BY c0
), scored AS (
  SELECT e.vec_id, e.embedding, c.c0,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> (e.embedding[i]::DOUBLE - c.centroid[i])
              * (e.embedding[i]::DOUBLE - c.centroid[i]))) AS dist
  FROM emb e, centroids c
), assigned AS (
  SELECT vec_id, embedding, c0 AS cluster
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c0 ASC) = 1
)
"""

ORACLES["ivf_cluster_sizes"] = f"""
WITH {_IVF_ASSIGN}
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM assigned GROUP BY cluster
"""

ORACLES["ivf_search_topk"] = f"""
WITH {_IVF_ASSIGN}, q AS (
  SELECT embedding AS qe, cluster AS qc FROM assigned WHERE vec_id = 0
)
SELECT vec_id,
       round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
FROM assigned, q
WHERE vec_id <> 0 AND cluster = qc
QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id ASC) <= 5
"""

ORACLES["ivf_search_multiprobe"] = f"""
WITH {_IVF_ASSIGN}, qp AS (
  SELECT c0 AS qc, embedding AS qe FROM scored WHERE vec_id = 0
  QUALIFY row_number() OVER (ORDER BY dist ASC, c0 ASC) <= 2
)
SELECT vec_id,
       round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
FROM assigned, qp
WHERE vec_id <> 0 AND cluster = qc
QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id ASC) <= 5
"""


ORACLES["session_window_agg"] = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value
FROM sess GROUP BY user_id, session_id
"""


ORACLES["mm_feature_extract"] = """
SELECT doc_id AS media_id,
       CAST(j AS INT) AS j,
       (CAST(('0x' || substr(md5(md5(text) || '|' || j), 1, 4))::BIGINT AS DOUBLE) % 2000 - 1000) / 1000.0 AS feature
FROM documents, unnest(range(0, 8)) AS t(j)
"""

ORACLES["corpus_filter_pipeline"] = r"""
WITH deduped AS (
  SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
               * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                        / length(text)), 6) AS quality
  FROM deduped WHERE rn = 1
)
SELECT doc_id, n_tokens, quality
FROM scored
WHERE lang = 'en' AND quality >= 0.3 AND n_tokens <= 200
"""

ORACLES["tpch_q5ish"] = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


ORACLES["t11_merge_lines"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), words AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM toks
), yw AS (
  SELECT doc_id, pos, w,
         CAST(('0x' || substr(md5(w || '|' || doc_id), 1, 2))::BIGINT AS INT) % 4 AS y
  FROM words
), rows_ AS (
  SELECT doc_id, y,
         string_agg(w, ' ' ORDER BY pos) AS row_text,
         CAST(count(*) AS BIGINT) AS n_words
  FROM yw GROUP BY doc_id, y
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_merged_lines,
       string_agg(row_text, chr(10) ORDER BY y) AS merged_text
FROM rows_ GROUP BY doc_id
"""

ORACLES["line_stats_agg"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), lines_ AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), scored AS (
  SELECT doc_id, w,
         CAST(('0x' || substr(md5(w), 1, 4))::BIGINT AS DOUBLE) / 65535.0 AS confidence
  FROM lines_
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS total_lines,
       CAST(sum(length(w)) AS BIGINT) AS total_characters,
       round(avg(confidence), 6) AS average_confidence,
       round(min(confidence), 6) AS min_confidence,
       round(max(confidence), 6) AS max_confidence,
       CAST(count(*) FILTER (WHERE confidence < 0.5) AS BIGINT) AS low_confidence_lines
FROM scored GROUP BY doc_id
"""

ORACLES["value_histogram"] = """
SELECT CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 100.0 THEN 11
                 ELSE floor(value / 10.0) + 1 END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(value), 4) AS lo,
       round(max(value), 4) AS hi
FROM events GROUP BY 1
"""

# independent formulation: correlated latest-row lookup (the Spark side
# uses a union + carry-forward window instead)
ORACLES["asof_join_view_value"] = """
SELECT c.event_id, c.user_id, c.ts,
       round((SELECT v.value FROM events v
              WHERE v.event_type = 'view'
                AND v.user_id = c.user_id
                AND v.ts <= c.ts
              ORDER BY v.ts DESC, v.event_id DESC
              LIMIT 1), 4) AS asof_view_value
FROM events c
WHERE c.event_type = 'click'
"""

# independent formulation: direct interval join (the Spark side uses a
# bucket-quantized equi-join)
ORACLES["range_join_click_burst"] = """
SELECT e.event_id, CAST(count(c.ts) AS BIGINT) AS clicks_5m
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id
 AND c.event_type = 'click'
 AND c.ts >= e.ts - INTERVAL 5 MINUTE
 AND c.ts < e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""

ORACLES["json_extract_props"] = """
SELECT event_type,
       CAST(count(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
FROM events GROUP BY event_type
"""

ORACLES["pivot_event_values"] = """
SELECT user_id,
       round(sum(value) FILTER (WHERE event_type = 'click'), 4) AS click_value,
       round(sum(value) FILTER (WHERE event_type = 'view'), 4) AS view_value,
       round(sum(value) FILTER (WHERE event_type = 'error'), 4) AS error_value
FROM events GROUP BY user_id
"""

ORACLES["unpivot_stats"] = """
WITH wide AS (
  SELECT user_id, round(sum(value), 4) AS total,
         round(avg(value), 4) AS mean,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY user_id
)
SELECT user_id, metric, metric_value FROM (
  SELECT user_id, 'total' AS metric, total AS metric_value FROM wide
  UNION ALL SELECT user_id, 'mean', mean FROM wide
  UNION ALL SELECT user_id, 'n', n FROM wide
)
"""

# connected components over the SAME pair graph, independently computed
# with a recursive reachability CTE (the Spark side iterates min-label
# propagation instead)
_LSH_BASE = ORACLES["minhash_lsh_pairs"].strip()
_CUT = _LSH_BASE.index("\nSELECT doc_a, doc_b,")
ORACLES["dedup_clusters"] = (
    "WITH RECURSIVE "
    + _LSH_BASE[len("WITH ") : _CUT]
    + ", pairsq AS ("
    + _LSH_BASE[_CUT:]
    + "\n), edges AS (\n"
    "  SELECT doc_a AS src, doc_b AS dst FROM pairsq\n"
    "  UNION\n"
    "  SELECT doc_b, doc_a FROM pairsq\n"
    "), reach AS (\n"
    "  SELECT src AS node, src AS lab FROM edges\n"
    "  UNION\n"
    "  SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node\n"
    ")\n"
    "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node\n"
)

# independent re-derivation of classifier + cleanup for the plain-text
# subset; compared against the REAL mapInArrow extraction UDF
ORACLES["extract_udf_text_parity"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
)
SELECT conv_id, turn_idx, 'text' AS kind,
       trim(regexp_replace(regexp_replace(text, '\n\s*\n\s*\n+', chr(10) || chr(10), 'g'),
                           '[ \t]+', ' ', 'g'),
            ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS extracted_text,
       CAST(strlen(text) AS BIGINT) AS bytes_in
FROM t
WHERE NOT regexp_matches(text,
  '<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer|table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b', 'i')
"""

# same classifier + cleanup re-derivation as extract_udf_text_parity,
# PLUS the span provenance flattened to scalars via the single-interval
# invariant (a text turn's merged spans are exactly (len-len(lstrip),
# len(rstrip)) or empty — fuzz-pinned in tests/test_properties.py);
# compared against the opt-in extract_deduped()
ORACLES["extract_text_span_parity"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), cleaned AS (
  SELECT conv_id, turn_idx, text,
         trim(regexp_replace(regexp_replace(text, '\n\s*\n\s*\n+', chr(10) || chr(10), 'g'),
                             '[ \t]+', ' ', 'g'),
              ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS ct
  FROM t
  WHERE NOT regexp_matches(text,
    '<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer|table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b', 'i')
)
SELECT conv_id, turn_idx, 'text' AS kind, ct AS extracted_text,
       CASE WHEN ct = '' THEN 0 ELSE 1 END AS n_spans,
       CASE WHEN ct = '' THEN NULL
            ELSE CAST(length(text)
                      - length(ltrim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)))
                      AS INTEGER) END AS span_start,
       CASE WHEN ct = '' THEN NULL
            ELSE CAST(length(rtrim(text, ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)))
                      AS INTEGER) END AS span_end,
       CAST(strlen(text) AS BIGINT) AS bytes_in
FROM cleaned
"""

# ordered-rollup re-derivation for all-plain-text conversations; compared
# against the REAL extract -> two-phase salted rollup path
ORACLES["rollup_text_parity"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text,
         regexp_matches(text,
           '<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer|table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b',
           'i') AS is_html
  FROM documents
), ok AS (
  SELECT conv_id FROM t GROUP BY conv_id HAVING bool_and(NOT is_html)
), cleaned AS (
  SELECT t.conv_id, turn_idx,
         trim(regexp_replace(regexp_replace(text, '\n\s*\n\s*\n+', chr(10) || chr(10), 'g'),
                             '[ \t]+', ' ', 'g'),
              ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS ct
  FROM t JOIN ok USING (conv_id)
)
SELECT conv_id,
       coalesce(string_agg(ct, chr(10) || chr(10) ORDER BY turn_idx)
                  FILTER (WHERE trim(ct) <> ''), '') AS full_text,
       CAST(count(*) AS INTEGER) AS n_turns,
       CAST(count(*) AS INTEGER) AS n_text,
       CAST(0 AS INTEGER) AS n_ocr
FROM cleaned GROUP BY conv_id
"""

ORACLES["stratified_sample"] = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
      CASE lang WHEN 'en' THEN 30 WHEN 'fr' THEN 100 WHEN 'es' THEN 80
                WHEN 'zh' THEN 60 WHEN 'de' THEN 100 ELSE 0 END
GROUP BY lang
"""

ORACLES["mixture_rebalance"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM documents, unnest(range(1, 1 + CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END))
GROUP BY lang
"""

# ---------------------------------------------------------------------------
# training-corpus hygiene operators
# ---------------------------------------------------------------------------

_NOISY_PII = (
    "replace(replace(text, ' value ', ' bob.smith@example.com '),"
    " ' data ', ' call 555-0147 ')"
)
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"555-[0-9]{4}"

ORACLES["pii_scrub"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all({_NOISY_PII}, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all({_NOISY_PII}, '{_PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(regexp_replace({_NOISY_PII}, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM documents
"""

ORACLES["gopher_quality_filter"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), m AS (
  SELECT doc_id,
         len(t) AS n,
         list_sum(list_transform(t, w -> length(w))) / CAST(len(t) AS DOUBLE) AS mean_len,
         len(list_filter(t, w -> regexp_matches(w, '^[a-zA-Z]+$'))) / CAST(len(t) AS DOUBLE) AS alpha_frac
  FROM toks
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       round(mean_len, 4) AS mean_word_len,
       round(alpha_frac, 4) AS alpha_frac,
       (n >= 50 AND n <= 100000 AND mean_len >= 3 AND mean_len <= 10
        AND alpha_frac >= 0.8) AS keep
FROM m
"""

ORACLES["repetition_filter"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
           i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks
), per_gram AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_2grams,
       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_2gram_frac,
       CAST(max(cnt) AS DOUBLE) / sum(cnt) > 0.2 AS repetitive
FROM per_gram GROUP BY doc_id
"""

ORACLES["chunk_dedup_keep_first"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), chunks AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS chunk_idx,
         array_to_string(t[CAST(i AS INT) * 10 + 1 : CAST(i AS INT) * 10 + 10], ' ') AS chunk
  FROM toks, unnest(range(0, CAST(ceil(len(t) / 10.0) AS INT))) AS r(i)
), first_occ AS (
  -- mirror of the Spark struct-min: lexicographic (doc_id, chunk_idx)
  SELECT chunk, min(struct_pack(d := doc_id, i := chunk_idx)) AS first_key
  FROM chunks GROUP BY chunk
), tagged AS (
  SELECT c.doc_id,
         (c.doc_id = f.first_key.d AND c.chunk_idx = f.first_key.i) AS kept
  FROM chunks c JOIN first_occ f USING (chunk)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       round(CAST(count(*) FILTER (WHERE kept) AS DOUBLE) / count(*), 6) AS kept_frac
FROM tagged GROUP BY doc_id
"""

ORACLES["winnowing_fingerprint"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), hs AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
           i -> ('0x' || substr(md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8))::BIGINT)
         ELSE [] END AS h
  FROM toks
)
SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(h) - 4 + 2),
         p -> list_min(h[CAST(p AS INT) : CAST(p AS INT) + 3])))) AS fingerprint
FROM hs WHERE len(h) >= 4
"""

ORACLES["benchmark_decontam"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks
  )
), ev AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
)
SELECT grams.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(ev.g) AS BIGINT) AS n_hits,
       count(ev.g) > 0 AS contaminated
FROM grams LEFT JOIN ev ON grams.g = ev.g
WHERE grams.doc_id % 97 <> 0
GROUP BY grams.doc_id
"""

ORACLES["sequence_packing"] = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(doc_id % 64 AS INT) AS shard
  FROM documents
), c AS (
  -- DuckDB's sum(BIGINT) yields HUGEINT; cast back to BIGINT so pandas
  -- materializes int64 (not float64) and the driver's value hash matches
  -- Spark's BIGINT running sum.
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
  FROM d
)
SELECT doc_id, shard, n_tokens,
       CAST(tok_end - n_tokens AS BIGINT) AS tok_start, tok_end,
       CAST(floor((tok_end - n_tokens) / 2048.0) AS BIGINT) AS first_seq,
       CAST(floor((tok_end - 1) / 2048.0) AS BIGINT) AS last_seq
FROM c
"""

ORACLES["bpe_top_merges"] = r"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 50
"""

ORACLES["url_domain_histogram"] = r"""
WITH noisy AS (
  SELECT doc_id,
         replace(replace(text, ' spark ', ' see https://docs.example.org/guide '),
                 ' join ', ' http://data.example.net/x?y=1 ') AS txt
  FROM documents
), urls AS (
  SELECT doc_id, unnest(regexp_extract_all(txt, 'https?://[^ ]+')) AS url FROM noisy
)
SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM urls GROUP BY 1
"""

ORACLES["tfidf_top_terms"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), terms AS (
  SELECT doc_id, unnest(t) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms)
  GROUP BY term
), scored AS (
  SELECT doc_id, term,
         round(tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df), 4) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT doc_id, CAST(rn AS INT) AS rank, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 3
"""

ORACLES["bigram_lm_score"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), words AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i + 1])) AS w2
  FROM toks
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2
), c1 AS (
  SELECT w AS w1, count(*) AS c1 FROM words GROUP BY w
), v AS (
  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vocab FROM words
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((c12.c12 + 1) / (c1.c1 + v.vocab))), 4) AS avg_logprob
FROM grams g
JOIN c12 USING (w1, w2)
JOIN c1 USING (w1)
CROSS JOIN v
GROUP BY g.doc_id
"""


ORACLES["grouping_sets_value"] = """
SELECT event_type, user_id,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id), ())
"""

ORACLES["tpch_q12ish"] = """
SELECT l_linestatus,
       CAST(count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
       CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""

ORACLES["tpch_q14ish"] = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""

ORACLES["dedup_cluster_representatives"] = f"""
WITH clus AS ({ORACLES["dedup_clusters"]}),
q AS ({ORACLES["quality_score"]}),
m AS (
  SELECT clus.cluster_id AS cluster, clus.doc_id, q.quality,
         row_number() OVER (PARTITION BY clus.cluster_id
                            ORDER BY q.quality DESC, clus.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY clus.cluster_id) AS n_members
  FROM clus JOIN q ON q.doc_id = clus.doc_id
)
SELECT cluster, doc_id AS rep_doc_id, quality AS rep_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM m WHERE rn = 1
"""


# --- round 3: split / classifier / blocklist / distribution stats --------

ORACLES["train_eval_split"] = r"""
WITH b AS (
  SELECT source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b GROUP BY 1, 2
"""

ORACLES["hashed_ngram_classifier"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), w AS (
  -- integer weight sum (mirror of the Spark aggregate: bucket*knuth
  -- % 2^20 centered) so both engines agree bit-for-bit before the
  -- single final float sigmoid
  SELECT doc_id, len(t) - 1 AS n,
         list_sum(list_transform(range(1, len(t)),
           i -> (('0x' || substr(md5(t[CAST(i AS INT)] || '_' || t[CAST(i AS INT) + 1]), 1, 4))::BIGINT
                 * 2654435761) % 1048576 - 524288)) AS wsum
  FROM toks WHERE len(t) >= 2
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(CAST(wsum AS DOUBLE) / (n * 1048576.0)))), 6) AS quality_score
FROM w
"""

ORACLES["domain_blocklist_filter"] = """
-- IS NULL arm mirrors Spark's left_anti join semantics: a null key
-- never matches the blocklist, so null-source docs are KEPT (a bare
-- NOT IN would evaluate to NULL and silently drop them)
SELECT doc_id, source || '.example.com' AS domain
FROM documents
WHERE source IS NULL OR source NOT IN ('src3', 'src7', 'src13')
"""

ORACLES["doclen_percentiles"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY lang
"""

ORACLES["token_entropy"] = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy_nats
FROM counts GROUP BY doc_id
"""

ORACLES["merge_consecutive_runs"] = """
WITH flagged AS (
  SELECT source, doc_id, lang,
         CASE WHEN lag(lang) OVER w IS NULL
                OR lag(lang) OVER w <> lang THEN 1 ELSE 0 END AS chg
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id)
), runs AS (
  SELECT source, doc_id, lang,
         sum(chg) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
  FROM flagged
)
SELECT source, CAST(run_idx AS BIGINT) AS run_idx,
       min(lang) AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(max(doc_id) AS BIGINT) AS last_doc_id
FROM runs GROUP BY source, run_idx
"""

ORACLES["packed_sequences"] = r"""
WITH d AS (
  SELECT CAST(doc_id % 64 AS INT) AS shard,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
), t AS (
  SELECT shard, CAST(sum(n) AS BIGINT) AS total FROM d GROUP BY shard
)
SELECT shard,
       CAST(i AS BIGINT) AS seq_idx,
       CAST(CASE WHEN (i + 1) * 2048 <= total THEN 2048
                 ELSE total - i * 2048 END AS INT) AS n_tokens
FROM t, unnest(range(0, CAST(ceil(total / 2048.0) AS BIGINT))) AS r(i)
"""

ORACLES["overlapping_chunks"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(t[CAST(i AS INT) * 48 + 1 : CAST(i AS INT) * 48 + 64]) AS INT) AS n_tokens,
       array_to_string(t[CAST(i AS INT) * 48 + 1 : CAST(i AS INT) * 48 + 64], ' ') AS chunk
FROM toks,
     unnest(range(0, CAST(greatest(ceil((len(t) - 64) / 48.0), 0) AS BIGINT) + 1)) AS r(i)
"""


# ---------------------------------------------------------------------------
# round 3 (cont.): line-dedup rebuild / DSIR / SemDeDup / mixture weights
# ---------------------------------------------------------------------------

ORACLES["line_dedup_rebuild"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), segs AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS seg_idx,
         array_to_string(t[CAST(i AS INT) * 10 + 1 : CAST(i AS INT) * 10 + 10], ' ') AS seg
  FROM toks, unnest(range(0, CAST(ceil(len(t) / 10.0) AS INT))) AS r(i)
), winners AS (
  -- mirror of the Spark struct-min: lexicographic (doc_id, seg_idx)
  SELECT seg, min(struct_pack(d := doc_id, i := seg_idx)) AS k
  FROM segs GROUP BY seg
)
SELECT k.d AS doc_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       string_agg(seg, ' ' ORDER BY k.i) AS kept_text
FROM winners GROUP BY k.d
"""

ORACLES["dsir_importance"] = r"""
WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks WHERE len(t) >= 2
), b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 4))::BIGINT % 1024 AS bucket
  FROM grams
), raw AS (
  SELECT bucket, count(*) AS c_raw FROM b GROUP BY bucket
), tgt AS (
  SELECT bucket, count(*) AS c_tgt FROM b WHERE lang = 'en' GROUP BY bucket
), tot AS (
  SELECT (SELECT count(*) FROM b) AS n_raw,
         (SELECT count(*) FROM b WHERE lang = 'en') AS n_tgt
), w AS (
  SELECT r.bucket,
         ln((coalesce(c_tgt, 0) + 1) / CAST(n_tgt + 1024 AS DOUBLE))
         - ln((c_raw + 1) / CAST(n_raw + 1024 AS DOUBLE)) AS lw
  FROM raw r LEFT JOIN tgt USING (bucket), tot
), dbuck AS (
  SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket
)
SELECT doc_id, round(sum(c * lw), 4) AS log_importance
FROM dbuck JOIN w USING (bucket) GROUP BY doc_id
"""

# skew guard in lockstep with semdedup_pairs: clusters larger than
# params.SEMDEDUP_MAX_CLUSTER split into ceil(|c|/max) sub-clusters by
# md5(vec_id); pairs within (cluster, sub) only. Constants come from
# ocr_spark.params (same no-drift contract as the training depths).
ORACLES["semdedup"] = f"""
WITH {_IVF_ASSIGN}, sizes AS (
  SELECT cluster, count(*) AS csize FROM assigned GROUP BY cluster
), keyed AS (
  SELECT a.*,
         CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))::BIGINT
              % CAST(ceil(s.csize / {float(_params.SEMDEDUP_MAX_CLUSTER)}) AS BIGINT) AS INTEGER) AS sub
  FROM assigned a JOIN sizes s USING (cluster)
)
SELECT b.vec_id AS dup_vec_id,
       CAST(min(a.vec_id) AS BIGINT) AS kept_vec_id,
       round(max({_COS.format(a="a.embedding", b="b.embedding")}), 4) AS max_cosine
FROM keyed a JOIN keyed b
  ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
WHERE {_COS.format(a="a.embedding", b="b.embedding")} >= {_params.SEMDEDUP_TAU}
GROUP BY b.vec_id
"""

ORACLES["source_mixture_weights"] = r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), z AS (SELECT sum(pow(n_tokens, 0.7)) AS z FROM per)
SELECT source, n_docs, n_tokens,
       round(pow(n_tokens, 0.7) / z, 6) AS mix_weight
FROM per, z
"""

ORACLES["winnowing_candidates"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), hs AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
           i -> ('0x' || substr(md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8))::BIGINT)
         ELSE [] END AS h
  FROM toks
), fps AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(h) - 4 + 2),
           p -> list_min(h[CAST(p AS INT) : CAST(p AS INT) + 3])))) AS fingerprint
  FROM hs WHERE len(h) >= 4
), kept AS (
  SELECT * FROM fps WHERE fingerprint NOT IN (
    SELECT fingerprint FROM fps GROUP BY fingerprint HAVING count(*) > 100)
), sizes AS (
  SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b USING (fingerprint)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp), 6) AS containment
FROM inter
JOIN sizes sa ON inter.doc_a = sa.doc_id
JOIN sizes sb ON inter.doc_b = sb.doc_id
ORDER BY containment DESC, doc_a, doc_b LIMIT 20
"""

ORACLES["vocab_oov_rate"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
), vocab AS (
  SELECT w, 1 AS hit FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY w ORDER BY c DESC, w LIMIT 16)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) - count(v.hit) AS BIGINT) AS n_oov,
       round(CAST(count(*) - count(v.hit) AS DOUBLE) / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY doc_id
"""

ORACLES["prefix_dedup"] = r"""
WITH pre AS (
  SELECT doc_id,
         array_to_string(regexp_split_to_array(trim(text), '\s+')[1:10], ' ') AS prefix
  FROM documents
)
SELECT doc_id,
       doc_id = min(doc_id) OVER (PARTITION BY prefix) AS kept,
       CAST(count(*) OVER (PARTITION BY prefix) AS BIGINT) AS group_size
FROM pre
"""

ORACLES["iqr_length_outliers"] = r"""
WITH fences AS (
  SELECT lang,
         quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents GROUP BY lang
)
SELECT doc_id, d.lang,
       CAST(n_chars AS BIGINT) AS n_chars,
       (n_chars < q1 - 1.5 * (q3 - q1) OR n_chars > q3 + 1.5 * (q3 - q1)) AS is_outlier
FROM documents d JOIN fences f ON d.lang = f.lang
"""

ORACLES["zipf_slope"] = r"""
WITH counts AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
  GROUP BY w ORDER BY c DESC, w LIMIT 1000
), xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM counts
)
SELECT round(covar_pop(x, y) / var_pop(x), 6) AS zipf_slope,
       CAST(count(*) AS BIGINT) AS n_head_words
FROM xy
"""

ORACLES["intra_doc_segment_dedup"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), segs AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
           i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ')) AS s
  FROM toks
)
-- DuckDB's list_distinct does not preserve order; keep first occurrences
-- via an index-stable filter to mirror Spark's order-preserving
-- array_distinct
SELECT doc_id,
       CAST(len(s) AS BIGINT) AS n_segments,
       CAST(len(list_filter(s, (x, i) -> list_position(s, x) = i)) AS BIGINT) AS n_kept,
       array_to_string(list_filter(s, (x, i) -> list_position(s, x) = i), ' ') AS dedup_text
FROM segs
"""

ORACLES["source_pair_overlap"] = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
    FROM toks
  )
), sizes AS (
  SELECT source, count(*) AS n_sh FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.source < b.source GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.src_a = sa.source
JOIN sizes sb ON inter.src_b = sb.source
"""

ORACLES["tpch_q10ish"] = r"""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""

ORACLES["gopher_repetition_battery"] = r"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
), segd AS (
  SELECT doc_id, n_chars, t,
         list_transform(range(0, CAST(ceil(len(t) / 10.0) AS INT)),
           i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ')) AS segs
  FROM base
), narrow AS (
  SELECT doc_id, n_chars,
         round(1 - CAST(len(list_distinct(segs)) AS DOUBLE) / len(segs), 6) AS dup_seg_frac,
         round(CAST(list_sum(list_transform(segs, s -> length(s)))
                    - list_sum(list_transform(list_distinct(segs), s -> length(s)))
                    AS DOUBLE) / greatest(n_chars, 1), 6) AS dup_seg_char_frac,
         CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
         ELSE [] END AS grams
  FROM segd
), counts AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(grams) AS g FROM narrow)
  GROUP BY doc_id, g
), top AS (
  SELECT doc_id, max(struct_pack(c := c, g := g)) AS top FROM counts GROUP BY doc_id
)
SELECT n.doc_id, n.dup_seg_frac, n.dup_seg_char_frac,
       CAST(coalesce(top.c, 0) AS BIGINT) AS top3_count,
       round(coalesce(top.c, 0) * length(coalesce(top.g, ''))
             / greatest(n.n_chars, 1), 6) AS top3_char_frac
FROM narrow n LEFT JOIN top ON n.doc_id = top.doc_id
"""

ORACLES["funnel_analysis"] = r"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS c
  FROM events
), agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(list_reduce(list_prepend(0, list(c ORDER BY ts, event_id)),
           (acc, x) -> CASE WHEN acc = 0 AND x = 1 THEN 1
                            WHEN acc = 1 AND x = 2 THEN 2
                            WHEN acc = 2 AND x = 3 THEN 3
                            ELSE acc END) AS BIGINT) AS funnel_depth
  FROM ev GROUP BY user_id
)
SELECT user_id, n_events, funnel_depth, funnel_depth = 3 AS converted FROM agg
"""

ORACLES["char_ngram_lang_id"] = r"""
WITH grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, length(text)), i -> substr(text, CAST(i AS INT), 2))) AS b
  FROM documents
), dcounts AS (
  SELECT doc_id, b, count(*) AS dc FROM grams GROUP BY doc_id, b
), prof AS (
  SELECT lang, b, count(*) AS lc FROM grams GROUP BY lang, b
), tot AS (
  SELECT lang, sum(lc) AS t FROM prof GROUP BY lang
), profile AS (
  SELECT p.lang, p.b, ln((lc + 1) / CAST(t + 4096 AS DOUBLE)) AS lp,
         ln(1.0 / CAST(t + 4096 AS DOUBLE)) AS lp0
  FROM prof p JOIN tot USING (lang)
), floors AS (
  SELECT DISTINCT lang, lp0 FROM profile
), scored AS (
  SELECT d.doc_id, f.lang, round(sum(d.dc * coalesce(pr.lp, f.lp0)), 4) AS score
  FROM dcounts d CROSS JOIN floors f
  LEFT JOIN profile pr ON pr.lang = f.lang AND pr.b = d.b
  GROUP BY d.doc_id, f.lang
), best AS (
  SELECT doc_id, max(struct_pack(score := score, lang := lang)) AS top
  FROM scored GROUP BY doc_id
)
SELECT b.doc_id, b.top.lang AS pred_lang, d.lang AS true_lang,
       b.top.lang = d.lang AS correct
FROM best b JOIN documents d ON b.doc_id = d.doc_id
"""

ORACLES["quality_rank_by_source"] = """
WITH scored AS (
  SELECT doc_id, source,
         round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
               * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                        / length(text)), 6) AS quality
  FROM documents
)
SELECT doc_id, source, quality,
       round(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6)
         AS quality_pct_rank
FROM scored
"""

ORACLES["curation_gate_funnel"] = r"""
WITH flagged AS (
  SELECT doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS g_dedup,
         lang = 'en' AS g_lang,
         round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
               * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                        / length(text)), 6) >= 0.3 AS g_quality,
         len(regexp_split_to_array(trim(text), '\s+')) <= 200 AS g_len
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE g_dedup) AS BIGINT) AS pass_dedup,
       CAST(count(*) FILTER (WHERE g_lang) AS BIGINT) AS pass_lang,
       CAST(count(*) FILTER (WHERE g_quality) AS BIGINT) AS pass_quality,
       CAST(count(*) FILTER (WHERE g_len) AS BIGINT) AS pass_len,
       CAST(count(*) FILTER (WHERE g_dedup AND g_lang AND g_quality AND g_len) AS BIGINT) AS pass_all
FROM flagged
"""

def _bpe_train_sql(steps: int = 6, mode: str = "merges") -> str:
    """Unrolled BPE training: the iterative Spark loop's K rounds as K
    chained CTE levels (count pairs -> best -> replace-merge), with the
    merge applied by the same delimiter-wrapped string replace.
    mode='merges' emits the learned merge table; mode='encode' applies
    the final vocab state back to the corpus tokens. The v{k} CTEs are
    MATERIALIZED: each is referenced twice (by p{k} and v{k+1}), so
    inlining would expand the chain 2^steps times — fine at the demo
    depth 6, fatal at 24."""
    sep = "\x1e"
    d2 = sep + sep
    out = [
        r"""WITH words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
  GROUP BY w
), v0 AS MATERIALIZED ("""
        + f"""
  SELECT w, freq, '{sep}' || array_to_string(list_transform(range(1, length(w) + 1),
      i -> substr(w, CAST(i AS INT), 1)), '{d2}') || '{sep}' AS s
  FROM words
)"""
    ]
    for k in range(steps):
        out.append(
            f""", p{k} AS (
  SELECT pr.l AS l, pr.r AS r, sum(freq) AS c
  FROM (
    SELECT freq,
           unnest(CASE WHEN len(sy) > 1 THEN list_transform(range(1, len(sy)),
             i -> struct_pack(l := sy[CAST(i AS INT)], r := sy[CAST(i AS INT) + 1]))
             ELSE [] END) AS pr
    FROM (SELECT freq, str_split(trim(s, '{sep}'), '{d2}') AS sy FROM v{k})
  ) GROUP BY pr.l, pr.r
), b{k} AS (
  SELECT {k} AS step, l, r, l || r AS merged, CAST(c AS BIGINT) AS pair_count
  FROM p{k} ORDER BY c DESC, l, r LIMIT 1
), v{k + 1} AS MATERIALIZED (
  SELECT w, freq, replace(s, '{sep}' || b.l || '{d2}' || b.r || '{sep}',
                          '{sep}' || b.l || b.r || '{sep}') AS s
  FROM v{k}, b{k} b
)"""
        )
    if mode == "encode":
        out.append(
            f"""
, word_syms AS (
  SELECT w, CAST(len(str_split(trim(s, '{sep}'), '{d2}')) AS BIGINT) AS n_syms
  FROM v{steps}
), toks AS ("""
            + r"""
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(n_syms) AS DOUBLE) / count(*), 6) AS syms_per_word
FROM toks JOIN word_syms USING (w)
GROUP BY doc_id"""
        )
    else:
        unions = " UNION ALL ".join(f"SELECT * FROM b{k}" for k in range(steps))
        out.append(
            f"""
SELECT CAST(step AS BIGINT) AS step, l AS "left", r AS "right", merged, pair_count
FROM ({unions})"""
        )
    return "".join(out)


ORACLES["bpe_train"] = _bpe_train_sql(_params.BPE_TRAIN_STEPS)
ORACLES["bpe_encode"] = _bpe_train_sql(_params.BPE_TRAIN_STEPS, mode="encode")

ORACLES["merge_upsert"] = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
), updates AS (
  SELECT doc_id, text || ' [rev2]' AS text FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, 'new: ' || text AS text FROM base WHERE doc_id % 13 = 0
)
SELECT coalesce(b.doc_id, u.doc_id) AS doc_id,
       CASE WHEN u.text IS NULL THEN 'keep'
            WHEN b.text IS NULL THEN 'insert'
            ELSE 'update' END AS action,
       coalesce(u.text, b.text) AS text
FROM base b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id
"""

ORACLES["lang_id_confusion"] = r"""
WITH padded AS (
  SELECT lang, ' ' || text || ' ' AS p,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), guessed AS (
  SELECT lang,
         CASE WHEN round(((length(p) - length(regexp_replace(p, ' the ', ' ', 'g'))) / 4.0
                 + (length(p) - length(regexp_replace(p, ' a ', ' ', 'g'))) / 2.0)
                 / n_tokens, 6) >= 0.05
              THEN 'en-like' ELSE 'other' END AS lang_guess
  FROM padded
), cells AS (
  SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
  FROM guessed GROUP BY 1, 2
)
SELECT lang, lang_guess, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY lang), 6) AS frac_of_lang
FROM cells
"""

# --------------------------------------------------------------------------
# transcript training-prep operators (documents-as-transcripts adapter: one
# conversation per source, docs as turns in doc_id order; the classifier /
# cleanup CTEs are kept in lockstep with extract_udf_text_parity above)
# --------------------------------------------------------------------------

_TRANSCRIPT_CTE = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text,
         regexp_matches(text,
           '<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer|table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b',
           'i') AS is_html
  FROM documents
), ok AS (
  SELECT conv_id FROM t GROUP BY conv_id HAVING bool_and(NOT is_html)
), cleaned AS (
  SELECT t.conv_id, turn_idx,
         trim(regexp_replace(regexp_replace(text, '\n\s*\n\s*\n+', chr(10) || chr(10), 'g'),
                             '[ \t]+', ' ', 'g'),
              ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)) AS ct
  FROM t JOIN ok USING (conv_id)
), kept AS (
  SELECT conv_id, turn_idx, ct FROM cleaned WHERE ct <> ''
)
"""

ORACLES["turn_span_offsets"] = _TRANSCRIPT_CTE + r"""
SELECT conv_id, turn_idx,
       CAST(coalesce(sum(length(ct) + 2) OVER w, 0) AS BIGINT) AS char_start,
       CAST(coalesce(sum(length(ct) + 2) OVER w, 0) + length(ct) AS BIGINT) AS char_end
FROM kept
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""

ORACLES["loss_mask_summary"] = _TRANSCRIPT_CTE + r"""
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (WHERE turn_idx % 2 = 1) AS BIGINT) AS n_trainable_turns,
       CAST(coalesce(sum(length(ct)) FILTER (WHERE turn_idx % 2 = 1), 0) AS BIGINT) AS trainable_chars,
       CAST(sum(length(ct)) AS BIGINT) AS total_chars,
       round(CAST(coalesce(sum(length(ct)) FILTER (WHERE turn_idx % 2 = 1), 0) AS DOUBLE)
             / CAST(sum(length(ct)) AS DOUBLE), 6) AS trainable_frac
FROM kept
GROUP BY conv_id
"""

ORACLES["role_alternation_check"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS r
  FROM documents
), lagged AS (
  SELECT conv_id,
         CAST(r = lag(r) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INTEGER) AS viol
  FROM t
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(coalesce(sum(viol), 0) AS BIGINT) AS n_violations,
       coalesce(sum(viol), 0) = 0 AS alternates_ok
FROM lagged
GROUP BY conv_id
"""

ORACLES["conv_truncate_tail"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents
), marked AS (
  SELECT conv_id, turn_idx, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum
  FROM t
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (WHERE rsum <= 512) AS BIGINT) AS kept_turns,
       CAST(coalesce(sum(n_tok) FILTER (WHERE rsum <= 512), 0) AS BIGINT) AS kept_tokens,
       CAST(coalesce(min(turn_idx) FILTER (WHERE rsum <= 512), -1) AS INTEGER) AS first_kept_turn
FROM marked
GROUP BY conv_id
"""

ORACLES["incremental_dedup_new_docs"] = r"""
WITH frozen AS (
  SELECT DISTINCT sha256(text) AS fp FROM documents WHERE doc_id % 10 < 8
), incoming AS (
  SELECT source, sha256(text) AS fp FROM documents WHERE doc_id % 10 >= 8
), new AS (
  SELECT i.source, i.fp
  FROM incoming i LEFT JOIN frozen f USING (fp)
  WHERE f.fp IS NULL
)
SELECT i.source,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(coalesce(any_value(n.n_new), 0) AS BIGINT) AS n_new,
       CAST(coalesce(any_value(n.n_new_unique), 0) AS BIGINT) AS n_new_unique,
       CAST(count(*) - coalesce(any_value(n.n_new), 0) AS BIGINT) AS n_dup_vs_corpus
FROM incoming i
LEFT JOIN (
  SELECT source, count(*) AS n_new, count(DISTINCT fp) AS n_new_unique
  FROM new GROUP BY source
) n USING (source)
GROUP BY i.source
"""

ORACLES["chat_template_spans"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role,
         length(text) AS tlen
  FROM documents
)
SELECT conv_id, turn_idx, role,
       CAST(coalesce(sum(length(role) + tlen + 6) OVER w, 0)
            + 5 + length(role) AS BIGINT) AS text_start,
       CAST(coalesce(sum(length(role) + tlen + 6) OVER w, 0)
            + 5 + length(role) + tlen AS BIGINT) AS text_end,
       role = 'assistant' AS trainable
FROM t
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""

ORACLES["conv_dedup_exact"] = r"""
WITH c AS (
  SELECT source AS conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         sha256(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS conv_fp
  FROM documents
  GROUP BY source
)
SELECT conv_fp,
       CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS keep_conv_id,
       CAST(min(n_turns) AS BIGINT) AS n_turns
FROM c
GROUP BY conv_fp
"""

ORACLES["reward_pairs"] = r"""
WITH s AS (
  SELECT source, doc_id,
         round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
               * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                        / length(text)), 6) AS q
  FROM documents
), r AS (
  SELECT source, doc_id, q,
         row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC) AS rb,
         row_number() OVER (PARTITION BY source ORDER BY q ASC, doc_id ASC) AS rw
  FROM s
)
SELECT b.source,
       CAST(b.doc_id AS BIGINT) AS chosen_doc_id,
       b.q AS chosen_quality,
       CAST(w.doc_id AS BIGINT) AS rejected_doc_id,
       w.q AS rejected_quality,
       round(b.q - w.q, 6) AS quality_gap
FROM (SELECT * FROM r WHERE rb = 1) b
JOIN (SELECT * FROM r WHERE rw = 1) w USING (source)
WHERE b.doc_id <> w.doc_id
"""


def _km_round(i: int) -> str:
    """One unrolled Lloyd round (means of a{i-1}'s assignment, snapped to
    6 decimals like the Spark side, then nearest-centroid reassignment of
    the full vector table)."""
    return f"""d{i} AS (
  SELECT c, unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM a{i - 1}
), m{i} AS (
  SELECT c, pos, round(avg(x), 6) AS m FROM d{i} GROUP BY c, pos
), c{i} AS (
  SELECT c, list(m ORDER BY pos) AS centroid FROM m{i} GROUP BY c
), s{i} AS (
  SELECT e.vec_id, e.embedding, c.c,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           k -> (e.embedding[k]::DOUBLE - c.centroid[k])
              * (e.embedding[k]::DOUBLE - c.centroid[k]))) AS dist
  FROM a0 e, c{i} c
), a{i} AS (
  SELECT vec_id, embedding, c, dist FROM s{i}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) = 1
)"""


def _kmeans_train_sql(iters: int = _params.KMEANS_ITERS) -> str:
    """Unrolled Lloyd training: K rounds as K chained CTE levels, in
    lockstep with q_kmeans_train's iterative Spark loop at any depth."""
    return (
        "WITH a0 AS (\n"
        "  SELECT vec_id, embedding, CAST(vec_id % 8 AS INT) AS c FROM embeddings\n"
        "), "
        + ", ".join(_km_round(i) for i in range(1, iters + 1))
        + f"""
SELECT c AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id,
       round(sum(dist), 4) AS inertia
FROM a{iters}
GROUP BY c
"""
    )


ORACLES["kmeans_train"] = _kmeans_train_sql()


ORACLES["ccnet_lm_buckets"] = f"""
WITH scores AS ({ORACLES["bigram_lm_score"]}),
sl AS (
  SELECT d.lang, s.doc_id, s.avg_logprob AS s
  FROM scores s JOIN documents d USING (doc_id)
), cuts AS (
  SELECT lang,
         quantile_cont(s, {1 / 3!r}) AS q33,
         quantile_cont(s, {2 / 3!r}) AS q66
  FROM sl GROUP BY lang
)
SELECT sl.lang,
       CASE WHEN sl.s > c.q66 THEN 'head'
            WHEN sl.s > c.q33 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(sl.s), 6) AS avg_score,
       CAST(min(sl.doc_id) AS BIGINT) AS min_doc_id
FROM sl JOIN cuts c USING (lang)
GROUP BY 1, 2
"""


ORACLES["bm25_topk"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM t
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               unnest(toks) AS term FROM t)
  WHERE term IN ('spark', 'table', 'hash', 'merge', 'window')
  GROUP BY doc_id, dl, term
), idf AS (
  SELECT term,
         ln((s.n_docs - CAST(count(*) AS DOUBLE) + 0.5)
            / (CAST(count(*) AS DOUBLE) + 0.5) + 1.0) AS idf
  FROM tf, stats s
  GROUP BY term, s.n_docs
)
SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
       round(sum(i.idf * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))),
             6) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_hit
FROM tf JOIN idf i USING (term), stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
"""


def _logreg_round(i: int) -> str:
    """One unrolled batch-GD round: score every row with w{i-1}'s
    weight list (deterministic left-to-right fold, like kmeans), then
    w{i} = round(w{i-1} - lr * avg(err * x), 6) per dimension — the
    identical update+snap the Spark aggregate applies."""
    return f"""s{i} AS (
  SELECT e.vec_id, e.y,
         1.0 / (1.0 + exp(-list_sum(list_transform(range(1, 66),
             k -> e.xb[k] * w.wl[k])))) AS p
  FROM e, wl{i - 1} w
), w{i} AS (
  SELECT ex.pos, round(w.w - 10.0 * avg((s.p - s.y) * ex.x), 6) AS w
  FROM (SELECT vec_id, generate_subscripts(xb, 1) AS pos,
               unnest(xb) AS x FROM e) ex
  JOIN s{i} s USING (vec_id)
  JOIN w{i - 1} w USING (pos)
  GROUP BY ex.pos, w.w
), wl{i} AS (SELECT list(w ORDER BY pos) AS wl FROM w{i})"""


def _logreg_train_sql(rounds: int = _params.LOGREG_ROUNDS) -> str:
    """Unroll ``rounds`` full-batch gradient steps in lockstep with the
    Spark loop (depth-agnostic: tests/test_training_depth.py proves a
    deeper config green against a freshly generated oracle)."""
    return (
        """WITH e AS (
  SELECT vec_id, list_concat(embedding::DOUBLE[], [1.0]) AS xb,
         CAST(label % 2 AS DOUBLE) AS y
  FROM embeddings
), w0 AS (
  SELECT CAST(r AS INT) AS pos, 0.0 AS w FROM range(1, 66) t(r)
), wl0 AS (SELECT list(w ORDER BY pos) AS wl FROM w0), """
        + ", ".join(_logreg_round(i) for i in range(1, rounds + 1))
        + f""", sf AS (
  SELECT e.vec_id, e.y,
         1.0 / (1.0 + exp(-list_sum(list_transform(range(1, 66),
             k -> e.xb[k] * w.wl[k])))) AS p
  FROM e, wl{rounds} w
)
SELECT CAST(y AS INT) AS y_true,
       p >= 0.5 AS pred,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(p), 6) AS avg_p,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM sf
GROUP BY 1, 2
"""
    )


ORACLES["logreg_train"] = _logreg_train_sql(_params.LOGREG_ROUNDS)


ORACLES["tool_call_stats"] = r"""
WITH t AS (
  SELECT source AS conv_id, text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), calls AS (
  SELECT conv_id, text,
         '{"name":"tool_' || CAST(('0x' || substr(md5(text), 9, 4))::BIGINT % 5 AS VARCHAR)
         || '","ok":'
         || CASE WHEN ('0x' || substr(md5(text), 13, 2))::BIGINT % 4 = 0
                 THEN 'false' ELSE 'true' END
         || ',"n_args":'
         || CAST(('0x' || substr(md5(text), 15, 2))::BIGINT % 4 + 1 AS VARCHAR)
         || '}' AS payload
  FROM t WHERE role = 'tool'
), parsed AS (
  SELECT conv_id,
         json_extract_string(payload, '$.name') AS tool_name,
         CAST(json_extract(payload, '$.ok') AS BOOLEAN) AS ok,
         CAST(json_extract(payload, '$.n_args') AS INTEGER) AS n_args,
         length(text) AS result_chars
  FROM calls
)
SELECT tool_name,
       CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       round(avg(CAST(ok AS DOUBLE)), 6) AS success_rate,
       round(avg(n_args), 6) AS avg_args,
       round(avg(result_chars), 6) AS avg_result_chars
FROM parsed
GROUP BY tool_name
"""


ORACLES["conv_sessionize"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         ('0x' || substr(md5(text), 17, 2))::BIGINT % 45 + 1 AS gap
  FROM documents
), b AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx = 0 THEN 0 WHEN gap > 30 THEN 1 ELSE 0 END AS is_break
  FROM t
), s AS (
  SELECT conv_id, turn_idx,
         CAST(sum(is_break) OVER (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_idx
  FROM b
)
SELECT conv_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(turn_idx) AS INTEGER) AS first_turn_idx,
       CAST(max(turn_idx) AS INTEGER) AS last_turn_idx
FROM s
GROUP BY conv_id, session_idx
"""

ORACLES["sft_pairs"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), p AS (
  SELECT conv_id, turn_idx, text, role,
         last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt_text
  FROM t
)
SELECT conv_id, turn_idx,
       prompt_text IS NOT NULL AS has_prompt,
       CAST(coalesce(length(prompt_text), 0) AS BIGINT) AS prompt_chars,
       CAST(length(text) AS BIGINT) AS response_chars,
       md5(coalesce(prompt_text, '') || chr(30) || text) AS pair_fp
FROM p
WHERE role = 'assistant'
"""

ORACLES["context_assembly"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), c AS (
  SELECT conv_id, turn_idx,
         coalesce(list(text) OVER (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), []) AS ctx
  FROM t
)
SELECT conv_id, turn_idx,
       CAST(len(ctx) AS INTEGER) AS n_context,
       CAST(coalesce(list_sum(list_transform(ctx, x -> length(x))), 0) AS BIGINT) AS context_chars,
       md5(coalesce(array_to_string(ctx, chr(10) || chr(10)), '')) AS context_fp
FROM c
"""


def _pr_round(i: int) -> str:
    """One unrolled PageRank power iteration: contributions flow along
    the edge table (rank/outdeg, outdeg fixed at 2 by construction),
    aggregate per destination, then damp + snap to 10 decimals exactly
    like the Spark round."""
    return f"""r{i} AS (
  SELECT d.doc_id,
         round(0.15 / nn.n + 0.85 * coalesce(s.contrib, 0.0), 10) AS rank
  FROM documents d
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, sum(r.rank / 2.0) AS contrib
    FROM e JOIN r{i - 1} r ON e.src = r.doc_id
    GROUP BY e.dst
  ) s ON d.doc_id = s.dst
)"""


def _pagerank_sql(rounds: int = _params.PAGERANK_ROUNDS) -> str:
    """Unroll ``rounds`` damped power iterations in lockstep with the
    Spark loop (depth-agnostic; see tests/test_training_depth.py)."""
    return (
        """WITH nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), e AS (
  SELECT doc_id AS src,
         ('0x' || substr(md5(text), 1, 8))::BIGINT
           % (SELECT count(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id,
         ('0x' || substr(md5(text), 9, 8))::BIGINT
           % (SELECT count(*) FROM documents)
  FROM documents
), r0 AS (
  SELECT doc_id, 1.0 / nn.n AS rank FROM documents, nn
), """
        + ", ".join(_pr_round(i) for i in range(1, rounds + 1))
        + f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(rank, 6) AS pr
FROM r{rounds}
ORDER BY rank DESC, doc_id ASC
LIMIT 20
"""
    )


ORACLES["pagerank"] = _pagerank_sql(_params.PAGERANK_ROUNDS)


ORACLES["skew_report"] = r"""
WITH per_key AS (
  SELECT source AS conv_id,
         CAST(count(*) AS DOUBLE) AS n_turns,
         CAST(sum(length(text)) AS DOUBLE) AS n_chars
  FROM documents
  GROUP BY source
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n_turns) AS BIGINT) AS max_turns,
       round(avg(n_turns), 6) AS avg_turns,
       round(quantile_cont(n_turns, 0.99), 6) AS p99_turns,
       round(max(n_turns) / avg(n_turns), 6) AS turn_skew_factor,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       round(max(n_chars) / avg(n_chars), 6) AS char_skew_factor
FROM per_key
"""


ORACLES["rank_weighted_sample"] = (
    """WITH nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), e AS (
  SELECT doc_id AS src,
         ('0x' || substr(md5(text), 1, 8))::BIGINT
           % (SELECT count(*) FROM documents) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id,
         ('0x' || substr(md5(text), 9, 8))::BIGINT
           % (SELECT count(*) FROM documents)
  FROM documents
), r0 AS (
  SELECT doc_id, 1.0 / nn.n AS rank FROM documents, nn
), """
    + ", ".join(_pr_round(i) for i in range(1, _params.PAGERANK_ROUNDS + 1))
    + f"""
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, round(r.rank, 6) AS pr
FROM documents d
JOIN r{_params.PAGERANK_ROUNDS} r USING (doc_id)
CROSS JOIN nn
WHERE ('0x' || substr(md5(d.text), 25, 8))::BIGINT / 4294967296.0
      < r.rank * nn.n * 0.2
"""
)


ORACLES["dedup_weights"] = f"""
WITH clus AS ({ORACLES["dedup_clusters"]}),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS k
  FROM clus GROUP BY cluster_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(s.k, 1) AS BIGINT) AS cluster_size,
       round(1.0 / coalesce(s.k, 1), 6) AS weight
FROM documents d
LEFT JOIN clus c ON d.doc_id = c.doc_id
LEFT JOIN sizes s ON c.cluster_id = s.cluster_id
"""


ORACLES["vocab_drift_kl"] = r"""
WITH toks AS (
  SELECT ('0x' || substr(md5(source), 1, 8))::BIGINT % 2 = 0 AS is_old,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT token,
         CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
         CAST(sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_new
  FROM toks GROUP BY token
), vocab AS (
  SELECT * FROM counts ORDER BY c_old + c_new DESC, token ASC LIMIT 400
), tot AS (
  SELECT CAST(sum(c_old) AS DOUBLE) AS n_old,
         CAST(sum(c_new) AS DOUBLE) AS n_new,
         CAST(count(*) AS DOUBLE) AS v
  FROM vocab
), scored AS (
  SELECT token, c_old, c_new,
         round((c_new + 1) / (t.n_new + t.v)
               * ln(((c_new + 1) / (t.n_new + t.v))
                    / ((c_old + 1) / (t.n_old + t.v))), 8) AS contrib
  FROM vocab, tot t
), kl AS (
  SELECT round(sum(contrib), 6) AS kl_total FROM scored
)
SELECT token, c_old, c_new, contrib, k.kl_total
FROM scored, kl k
ORDER BY contrib DESC, token ASC
LIMIT 20
"""


ORACLES["embedding_quantize_error"] = r"""
WITH xs AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), ranges AS (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM xs GROUP BY pos
), q AS (
  SELECT xs.pos, r.mn, r.mx,
         CASE WHEN r.mx > r.mn
              THEN round((xs.x - r.mn) / (r.mx - r.mn) * 255, 0)
              ELSE 0.0 END AS code,
         xs.x
  FROM xs JOIN ranges r USING (pos)
)
SELECT pos - 1 AS pos,
       round(min(mn), 6) AS dim_min,
       round(max(mx), 6) AS dim_max,
       round(avg(abs(x - (mn + code * (mx - mn) / 255.0))), 8) AS avg_abs_err,
       round(max(abs(x - (mn + code * (mx - mn) / 255.0))), 8) AS max_abs_err
FROM q
GROUP BY pos
"""


ORACLES["pmi_collocations"] = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), words AS (
  SELECT unnest(t) AS w FROM toks
), grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i + 1])) AS w2
  FROM toks
), n1 AS (
  SELECT CAST(count(*) AS DOUBLE) AS n1 FROM words
), n2 AS (
  SELECT CAST(count(*) AS DOUBLE) AS n2 FROM grams
), c1 AS (
  SELECT w, CAST(count(*) AS DOUBLE) AS c FROM words GROUP BY w
), pairs AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
  FROM grams GROUP BY w1, w2
  HAVING count(*) >= 5
)
SELECT p.w1, p.w2,
       CAST(p.c12 AS BIGINT) AS n_pair,
       round(ln((p.c12 / n2.n2) / ((a.c / n1.n1) * (b.c / n1.n1))), 6) AS pmi
FROM pairs p
JOIN c1 a ON a.w = p.w1
JOIN c1 b ON b.w = p.w2
CROSS JOIN n1
CROSS JOIN n2
ORDER BY pmi DESC, p.w1 ASC, p.w2 ASC
LIMIT 20
"""


ORACLES["tool_cooccurrence"] = r"""
WITH t AS (
  SELECT source AS conv_id, text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), used AS (
  SELECT DISTINCT conv_id,
         'tool_' || CAST(('0x' || substr(md5(text), 9, 4))::BIGINT % 5 AS VARCHAR) AS tool
  FROM t WHERE role = 'tool'
), nn AS (
  SELECT CAST(count(DISTINCT conv_id) AS DOUBLE) AS n_convs FROM t
), singles AS (
  SELECT tool, CAST(count(*) AS DOUBLE) AS c FROM used GROUP BY tool
), pairs AS (
  SELECT a.tool AS tool_a, b.tool AS tool_b, CAST(count(*) AS DOUBLE) AS c_ab
  FROM used a JOIN used b ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY a.tool, b.tool
)
SELECT p.tool_a, p.tool_b,
       CAST(p.c_ab AS BIGINT) AS n_co,
       round((p.c_ab / nn.n_convs)
             / ((sa.c / nn.n_convs) * (sb.c / nn.n_convs)), 6) AS lift
FROM pairs p
JOIN singles sa ON sa.tool = p.tool_a
JOIN singles sb ON sb.tool = p.tool_b
CROSS JOIN nn
"""

ORACLES["levenshtein_near_dup"] = r"""
WITH keyed AS (
  SELECT doc_id, trim(text) AS t,
         array_to_string(regexp_split_to_array(trim(text), '\s+')[1:3], ' ') AS blk,
         length(trim(text)) AS len
  FROM documents
), capped AS (
  SELECT * FROM keyed WHERE blk IN (
    SELECT blk FROM keyed GROUP BY blk HAVING count(*) <= 64)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS edit_dist
FROM capped a JOIN capped b
  ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 64
WHERE levenshtein(a.t, b.t) <= 64
"""

ORACLES["bloom_decontam"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks
  )
), ks AS (SELECT unnest(range(0, 4)) AS j),
evb AS (
  SELECT DISTINCT ('0x' || substr(md5(j::VARCHAR || ':' || g), 1, 5))::BIGINT % 262144 AS pos
  FROM (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0) CROSS JOIN ks
),
probes AS (
  SELECT doc_id, g, ('0x' || substr(md5(j::VARCHAR || ':' || g), 1, 5))::BIGINT % 262144 AS pos
  FROM grams CROSS JOIN ks WHERE doc_id % 97 <> 0
),
per_gram AS (
  SELECT p.doc_id, p.g, count(evb.pos) AS hits
  FROM probes p LEFT JOIN evb ON p.pos = evb.pos
  GROUP BY p.doc_id, p.g
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE hits = 4) AS BIGINT) AS n_maybe,
       count(*) FILTER (WHERE hits = 4) > 0 AS bloom_contaminated
FROM per_gram GROUP BY doc_id
"""

ORACLES["countmin_freq"] = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
           i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
), vocab AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY g
), ks AS (SELECT unnest(range(0, 4)) AS j),
sketch AS (
  SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || g), 1, 4))::BIGINT % 256 AS pos,
         CAST(sum(c) AS BIGINT) AS counter
  FROM vocab CROSS JOIN ks GROUP BY j, pos
), top20 AS (
  SELECT g, c FROM vocab ORDER BY c DESC, g ASC LIMIT 20
)
SELECT t.g AS token, t.c AS true_count,
       CAST(min(s.counter) AS BIGINT) AS cm_est
FROM top20 t CROSS JOIN ks
JOIN sketch s ON s.j = ks.j
  AND s.pos = ('0x' || substr(md5(ks.j::VARCHAR || ':' || t.g), 1, 4))::BIGINT % 256
GROUP BY t.g, t.c
"""

ORACLES["ngram_diversity"] = r"""
WITH toks AS (
  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT source, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS diversity
FROM grams GROUP BY source
"""

ORACLES["containment_pairs"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks)
), capped AS (
  SELECT * FROM sh WHERE g NOT IN (SELECT g FROM sh GROUP BY g HAVING count(*) > 100)
), sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_common AS DOUBLE) / sa.n, 6) AS containment
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
WHERE CAST(i.n_common AS DOUBLE) / sa.n >= 0.5
"""


# lsh_recall_report composes the minhash_lsh_pairs oracle verbatim (as a
# nested CTE subquery) so the eval stays in lockstep with the operator.
ORACLES["lsh_recall_report"] = r"""
WITH truth AS (
  WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
  ), sh AS (
    SELECT DISTINCT doc_id, g FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM toks)
  ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id)
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
), lsh AS (""" + ORACLES["minhash_lsh_pairs"] + r""")
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST(count(*) AS BIGINT) AS n_hit,
       round(CAST(count(*) AS DOUBLE) / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
FROM truth t JOIN lsh l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
"""

ORACLES["url_canonicalize"] = r"""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
         'WWW.Example' || CAST(doc_id % 7 AS VARCHAR) ||
         (CASE WHEN doc_id % 3 = 0 THEN '.COM:80' ELSE '.com' END) ||
         '/guide/intro' ||
         (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
               WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
               WHEN doc_id % 4 = 2 THEN '?b=2&a=1&utm_campaign=x'
               ELSE '' END) ||
         (CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END) AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         split_part(split_part(url, '#', 1), '?', 1) AS pre_q,
         CASE WHEN contains(split_part(url, '#', 1), '?')
              THEN split_part(split_part(url, '#', 1), '?', 2) ELSE '' END AS query
  FROM raw
), canon AS (
  SELECT doc_id, url,
         lower(regexp_extract(pre_q, '^([A-Za-z]+)://', 1)) || '://' ||
         regexp_replace(lower(regexp_extract(pre_q, '^[A-Za-z]+://([^/]+)', 1)), ':(80|443)$', '') ||
         regexp_extract(pre_q, '^[A-Za-z]+://[^/]+(/.*)$', 1) AS cp,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS cq
  FROM parts
)
SELECT CASE WHEN cq <> '' THEN cp || '?' || cq ELSE cp END AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw
FROM canon GROUP BY 1 """

ORACLES["pdf_column_layout_order"] = r"""
WITH sents AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '\.'), s -> trim(s)),
                     s -> s <> '') AS b
  FROM documents
), meta AS (
  SELECT doc_id,
         list_transform(range(1, len(b) + 1), i -> {
           'h1': CAST(('0x' || substr(md5(b[i] || '|' || doc_id), 1, 2))::BIGINT AS INT),
           'y': CAST(('0x' || substr(md5(b[i] || '|' || doc_id), 3, 4))::BIGINT AS INT) % 40,
           'i': i,
           's': b[i]}) AS m
  FROM sents
), flagged AS (
  SELECT doc_id, len(list_filter(m, x -> x.h1 % 29 = 0)) = 0 AS is_two_col, m
  FROM meta
)
SELECT doc_id, is_two_col,
       array_to_string(list_transform(list_sort(list_transform(m, x -> {
         'ck': CASE WHEN is_two_col THEN x.h1 % 2 ELSE 0 END,
         'y': x.y,
         'x0': CASE WHEN x.h1 % 29 = 0 THEN 200 + x.h1 % 50
                    WHEN x.h1 % 2 = 0 THEN 10 + x.h1 % 50
                    ELSE 310 + x.h1 % 50 END,
         'i': x.i,
         's': x.s})), s -> s.s), chr(10)) AS ordered_text,
       CAST(len(m) AS BIGINT) AS n_blocks
FROM flagged
"""

ORACLES["pdf_table_grid"] = r"""
WITH toks AS (
  SELECT doc_id, list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 24) AS t
  FROM documents
), cells AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1), i -> {
           'pos': i,
           'x': CAST(('0x' || substr(md5(t[i] || '#' || doc_id), 1, 3))::BIGINT AS INT) % 1000,
           'tok': t[i]})) AS c
  FROM toks
)
SELECT doc_id,
       CAST((c.pos - 1) // 4 AS INT) AS row_idx,
       array_to_string(list_transform(list_sort(list({'x': c.x, 'pos': c.pos, 'tok': c.tok})),
                                      s -> s.tok), ' | ') AS row_text,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells
GROUP BY doc_id, CAST((c.pos - 1) // 4 AS INT)
"""


# --- streaming band-dedup batch twin (16 per-row perms, 8 bands x 2) ------
_BD_SIG_LIST = "[" + ",\n    ".join(
    f"list_min(list_transform(hp, x -> ({a} * x.h1 + {b} * x.h2) % {_MH_P}))"
    for a, b in (_mh_ab(j) for j in range(16))
) + "]"

ORACLES["band_dedup_keep_first"] = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(t[i:i+2], ' '))) AS shingles
  FROM toks
), hpt AS (
  SELECT doc_id, shingles,
         list_transform(list_transform(shingles, s -> md5(s)),
           d -> {{'h1': ('0x' || substr(d, 1, 8))::BIGINT,
                  'h2': ('0x' || substr(d, 9, 8))::BIGINT}}) AS hp
  FROM sh
), sig AS (
  SELECT doc_id, shingles, {_BD_SIG_LIST} AS sig FROM hpt
), banded AS (
  SELECT doc_id,
         CASE WHEN len(shingles) = 0
              THEN 'short:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)
              ELSE CAST(b AS VARCHAR) || ':' || array_to_string(
                list_transform(sig[b*2+1 : b*2+2], v -> CAST(v AS VARCHAR)), '_')
         END AS band_key
  FROM sig, unnest(range(0, 8)) AS tt(b)
), owners AS (
  SELECT band_key, min(doc_id) AS owner FROM banded GROUP BY band_key
)
SELECT bd.doc_id,
       CAST(sum(CASE WHEN o.owner = bd.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_bands_owned,
       sum(CASE WHEN o.owner = bd.doc_id THEN 1 ELSE 0 END) = 8 AS kept
FROM banded bd JOIN owners o USING (band_key)
GROUP BY bd.doc_id
"""

ORACLES["dup_span_islands"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, c.pos AS pos, c.g AS g
  FROM (
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 4, 0) + 1),
             i -> {'pos': i, 'g': md5(array_to_string(t[i:i+4], ' '))})) AS c
    FROM toks
  )
), counts AS (
  SELECT g, count(*) AS n_occ FROM grams GROUP BY g
), dup_pos AS (
  SELECT doc_id, pos FROM grams JOIN counts USING (g) WHERE n_occ >= 2
), runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup_pos
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 4 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM runs
GROUP BY doc_id, grp
"""

ORACLES["incremental_band_dedup"] = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(t[i:i+2], ' '))) AS shingles
  FROM toks
), hpt AS (
  SELECT doc_id, shingles,
         list_transform(list_transform(shingles, s -> md5(s)),
           d -> {{'h1': ('0x' || substr(d, 1, 8))::BIGINT,
                  'h2': ('0x' || substr(d, 9, 8))::BIGINT}}) AS hp
  FROM sh
), sig AS (
  SELECT doc_id, shingles, {_BD_SIG_LIST} AS sig FROM hpt
), banded AS (
  SELECT doc_id,
         CASE WHEN len(shingles) = 0
              THEN 'short:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)
              ELSE CAST(b AS VARCHAR) || ':' || array_to_string(
                list_transform(sig[b*2+1 : b*2+2], v -> CAST(v AS VARCHAR)), '_')
         END AS band_key
  FROM sig, unnest(range(0, 8)) AS tt(b)
), corpus_keys AS (
  SELECT DISTINCT band_key FROM banded WHERE doc_id % 10 != 0
)
SELECT bd.doc_id,
       CAST(sum(CASE WHEN ck.band_key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched_bands,
       bool_or(ck.band_key IS NOT NULL) AS is_near_dup
FROM (SELECT * FROM banded WHERE doc_id % 10 = 0) bd
LEFT JOIN corpus_keys ck USING (band_key)
GROUP BY bd.doc_id
"""

# --------------------------------------------------------------------------
# data-layout / table-maintenance family

ORACLES["compaction_plan"] = r"""
WITH files AS (
  SELECT source, doc_id, n_chars AS size_bytes,
         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bytes_before
  FROM documents
)
SELECT source,
       CAST(floor(bytes_before / 4096.0) AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM files
GROUP BY source, bin_id
"""

ORACLES["zorder_layout"] = r"""
WITH ev AS (
  SELECT event_id, event_id % 256 AS x, user_id % 256 AS y
  FROM events
), keyed AS (
  SELECT event_id, x, y,
         list_sum(list_transform(range(0, 8),
             i -> (((x >> i) & 1) << (2 * i))
                + (((y >> i) & 1) << (2 * i + 1)))) AS z
  FROM ev
), lin_files AS (
  SELECT CAST(floor(event_id / 512.0) AS BIGINT) AS file_id,
         max(x) - min(x) AS span_x, max(y) - min(y) AS span_y,
         count(*) AS n_rows
  FROM keyed GROUP BY 1
), z_files AS (
  SELECT CAST(floor(z / 128.0) AS BIGINT) AS file_id,
         max(x) - min(x) AS span_x, max(y) - min(y) AS span_y,
         count(*) AS n_rows
  FROM keyed GROUP BY 1
)
SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       round(avg(span_x), 4) AS avg_span_x,
       round(avg(span_y), 4) AS avg_span_y,
       round(avg(n_rows), 4) AS avg_rows_per_file
FROM lin_files
UNION ALL
SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_files,
       round(avg(span_x), 4) AS avg_span_x,
       round(avg(span_y), 4) AS avg_span_y,
       round(avg(n_rows), 4) AS avg_rows_per_file
FROM z_files
"""

ORACLES["manifest_prune_stats"] = r"""
WITH ev AS (
  SELECT event_id, user_id FROM events
), lin AS (
  SELECT CAST(floor(event_id / 500.0) AS BIGINT) AS file_id,
         min(user_id) AS fmin, max(user_id) AS fmax, count(*) AS n_rows,
         sum(CASE WHEN user_id BETWEEN 40 AND 60 THEN 1 ELSE 0 END)
           AS n_matched
  FROM ev GROUP BY 1
), clu AS (
  SELECT CAST(floor(user_id / 10.0) AS BIGINT) AS file_id,
         min(user_id) AS fmin, max(user_id) AS fmax, count(*) AS n_rows,
         sum(CASE WHEN user_id BETWEEN 40 AND 60 THEN 1 ELSE 0 END)
           AS n_matched
  FROM ev GROUP BY 1
), agg AS (
  SELECT 'insertion' AS layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN fmax >= 40 AND fmin <= 60 THEN 1 ELSE 0 END)
              AS BIGINT) AS files_read,
         CAST(sum(CASE WHEN fmax >= 40 AND fmin <= 60 THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_scanned,
         CAST(sum(n_matched) AS BIGINT) AS rows_matched
  FROM lin
  UNION ALL
  SELECT 'clustered' AS layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN fmax >= 40 AND fmin <= 60 THEN 1 ELSE 0 END)
              AS BIGINT) AS files_read,
         CAST(sum(CASE WHEN fmax >= 40 AND fmin <= 60 THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_scanned,
         CAST(sum(n_matched) AS BIGINT) AS rows_matched
  FROM clu
)
SELECT layout, n_files, files_read, rows_scanned, rows_matched,
       round(1.0 - CAST(files_read AS DOUBLE) / n_files, 4) AS prune_ratio,
       round(CAST(rows_scanned AS DOUBLE) / rows_matched, 4)
         AS read_amplification
FROM agg
"""

ORACLES["snapshot_cdc_diff"] = r"""
WITH v1 AS (
  SELECT doc_id, text FROM documents
), v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM v1 WHERE doc_id % 17 != 2
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, 'new: ' || text AS text
  FROM v1 WHERE doc_id % 19 = 0
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN b.text IS NULL THEN 'removed'
            WHEN a.text IS NULL THEN 'added'
            WHEN a.text != b.text THEN 'changed'
            ELSE 'unchanged' END AS action,
       CAST(length(a.text) AS BIGINT) AS chars_before,
       CAST(length(b.text) AS BIGINT) AS chars_after
FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
WHERE (CASE WHEN b.text IS NULL THEN 'removed'
            WHEN a.text IS NULL THEN 'added'
            WHEN a.text != b.text THEN 'changed'
            ELSE 'unchanged' END) != 'unchanged'
"""

# --------------------------------------------------------------------------
# retrieval-eval family (composes the bm25_topk / cosine_topk oracles)

_BM25_SCORED = r"""t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM t
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               unnest(toks) AS term FROM t)
  WHERE term IN ('spark', 'table', 'hash', 'merge', 'window')
  GROUP BY doc_id, dl, term
), idf AS (
  SELECT term,
         ln((s.n_docs - CAST(count(*) AS DOUBLE) + 0.5)
            / (CAST(count(*) AS DOUBLE) + 0.5) + 1.0) AS idf
  FROM tf, stats s
  GROUP BY term, s.n_docs
), bm25_scored AS (
  SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
         round(sum(i.idf * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))),
               6) AS bm25
  FROM tf JOIN idf i USING (term), stats s
  GROUP BY tf.doc_id
)"""

ORACLES["rrf_fusion"] = (
    "WITH "
    + _BM25_SCORED
    + f""", sparse AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT)
           AS sparse_rank
  FROM bm25_scored
  QUALIFY sparse_rank <= 20
), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT CAST(vec_id AS BIGINT) AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT)
           AS dense_rank
  FROM (
    SELECT vec_id, round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
    FROM embeddings, q
    WHERE vec_id <> 0
  )
  QUALIFY dense_rank <= 20
)
SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
       s.sparse_rank AS sparse_rank,
       d.dense_rank AS dense_rank,
       round(coalesce(1.0 / (60.0 + s.sparse_rank), 0.0)
             + coalesce(1.0 / (60.0 + d.dense_rank), 0.0), 6) AS rrf
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 10
"""
)

ORACLES["ndcg_at_10"] = (
    "WITH "
    + _BM25_SCORED
    + r""", rel AS (
  SELECT doc_id, least(3, count(DISTINCT term)) AS rel
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
               AS term FROM documents)
  WHERE term IN ('spark', 'table', 'hash', 'merge', 'window')
  GROUP BY doc_id
), system AS (
  SELECT rnk AS rank, coalesce(r.rel, 0) AS rel
  FROM (SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk
        FROM bm25_scored QUALIFY rnk <= 10) s
  LEFT JOIN rel r USING (doc_id)
), ideal AS (
  SELECT row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank, rel
  FROM rel
  QUALIFY rank <= 10
), d AS (
  SELECT round(sum((power(2.0, rel) - 1.0) / log2(rank + 1.0)), 6) AS dcg10
  FROM system
), i AS (
  SELECT round(sum((power(2.0, rel) - 1.0) / log2(rank + 1.0)), 6) AS idcg10
  FROM ideal
)
SELECT d.dcg10, i.idcg10, round(d.dcg10 / i.idcg10, 6) AS ndcg10
FROM d, i
"""
)

ORACLES["mm_audio_chunks"] = f"""
WITH base AS ({_MM_BASE}), audio AS (
  SELECT media_id, text,
         CAST(1 + h2 % 16 AS INT) AS n_frames,
         CAST(8000 + (h1 % 5) * 8000 AS INT) AS sample_rate,
         greatest(CAST(floor(length(text) / (1 + h2 % 16)) AS INT), 1)
           AS unit_len
  FROM base WHERE kind = 'audio'
)
SELECT media_id,
       CAST(s AS INT) AS chunk_start,
       CAST(least(s + 4, n_frames) AS INT) AS chunk_end,
       CAST((least(s + 4, n_frames) - s) * sample_rate AS BIGINT) AS n_samples,
       CAST(length(substr(text, CAST(s AS INT) * unit_len + 1,
            CAST(least(s + 4, n_frames) - s AS INT) * unit_len)) AS BIGINT)
         AS chunk_n_bytes,
       md5(substr(text, CAST(s AS INT) * unit_len + 1,
            CAST(least(s + 4, n_frames) - s AS INT) * unit_len)) AS chunk_sha
FROM audio, unnest(range(0, n_frames, 2)) AS r(s)
"""

ORACLES["length_bucket_batches"] = r"""
WITH toks AS (
  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), bucketed AS (
  SELECT n_tokens,
         least(1024, greatest(16,
             CAST(pow(2, ceil(log2(n_tokens))) AS INT))) AS bucket
  FROM toks
), per_bucket AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(least(n_tokens, bucket)) AS BIGINT) AS clipped_tokens
  FROM bucketed GROUP BY bucket
)
SELECT 'bucketed' AS layout,
       CAST(bucket AS BIGINT) AS bucket, n_docs, total_tokens,
       CAST(n_docs * bucket AS BIGINT) AS padded_tokens,
       round(1.0 - CAST(clipped_tokens AS DOUBLE) / (n_docs * bucket), 6)
         AS pad_waste
FROM per_bucket
UNION ALL
SELECT 'unbucketed' AS layout,
       CAST(least(1024, max(n_tokens)) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) * least(1024, max(n_tokens)) AS BIGINT) AS padded_tokens,
       round(1.0 - CAST(sum(least(n_tokens, 1024)) AS DOUBLE)
             / (count(*) * least(1024, max(n_tokens))), 6) AS pad_waste
FROM toks
"""

ORACLES["md_structure"] = r"""
WITH with_md AS (
  SELECT doc_id,
         '# ' || array_to_string(regexp_split_to_array(trim(text), '\s+')[1:3], ' ')
         || chr(10) || chr(10) || text
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || chr(10) || '```python' || chr(10)
                      || 'x = ' || doc_id || chr(10) || '```'
                 ELSE '' END AS md
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(md, '(^|\n)(#{1,6} [^\n]+)', 2)) AS BIGINT)
         AS n_headings,
       CAST(len(regexp_extract_all(md, '```([a-z]*)\n([^`]*)```', 2)) AS BIGINT)
         AS n_fences,
       CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(md, '```([a-z]*)\n([^`]*)```', 2),
             x -> length(x))), 0) AS BIGINT) AS code_chars,
       coalesce(array_to_string(
           regexp_extract_all(md, '```([a-z]*)\n([^`]*)```', 1), ','), '')
         AS fence_langs
FROM with_md
"""

ORACLES["analyze_table_stats"] = r"""
WITH wide AS (
  SELECT
    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS doc_id__nulls,
    count(DISTINCT doc_id) AS doc_id__ndv,
    CAST(min(doc_id) AS VARCHAR) AS doc_id__min,
    CAST(max(doc_id) AS VARCHAR) AS doc_id__max,
    avg(length(CAST(doc_id AS VARCHAR))) AS doc_id__avglen,
    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text__nulls,
    count(DISTINCT text) AS text__ndv,
    min(text) AS text__min,
    max(text) AS text__max,
    avg(length(text)) AS text__avglen,
    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang__nulls,
    count(DISTINCT lang) AS lang__ndv,
    min(lang) AS lang__min,
    max(lang) AS lang__max,
    avg(length(lang)) AS lang__avglen,
    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS source__nulls,
    count(DISTINCT source) AS source__ndv,
    min(source) AS source__min,
    max(source) AS source__max,
    avg(length(source)) AS source__avglen,
    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS n_chars__nulls,
    count(DISTINCT n_chars) AS n_chars__ndv,
    CAST(min(n_chars) AS VARCHAR) AS n_chars__min,
    CAST(max(n_chars) AS VARCHAR) AS n_chars__max,
    avg(length(CAST(n_chars AS VARCHAR))) AS n_chars__avglen
  FROM documents
)
SELECT u.col_name,
       CAST(u.n_nulls AS BIGINT) AS n_nulls,
       CAST(u.ndv AS BIGINT) AS ndv,
       u.min_s, u.max_s,
       round(u.avg_len, 4) AS avg_len
FROM wide, LATERAL (
  SELECT * FROM (VALUES
    ('doc_id', doc_id__nulls, doc_id__ndv, doc_id__min, doc_id__max, doc_id__avglen),
    ('text', text__nulls, text__ndv, text__min, text__max, text__avglen),
    ('lang', lang__nulls, lang__ndv, lang__min, lang__max, lang__avglen),
    ('source', source__nulls, source__ndv, source__min, source__max, source__avglen),
    ('n_chars', n_chars__nulls, n_chars__ndv, n_chars__min, n_chars__max, n_chars__avglen)
  ) AS t(col_name, n_nulls, ndv, min_s, max_s, avg_len)
) u
"""

ORACLES["weighted_reservoir_sample"] = r"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       round(-ln((('0x' || substr(md5(text), 25, 8))::BIGINT + 1.0)
                 / 4294967296.0) / n_chars, 10) AS es_key
FROM documents
ORDER BY es_key ASC, doc_id ASC
LIMIT 50
"""

ORACLES["gap_fill_interpolate"] = r"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr, avg(value) AS v
  FROM events WHERE user_id < 8
  GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
  FROM bounds
), g AS (
  SELECT gr.user_id, gr.hr, h.v
  FROM grid gr LEFT JOIN hourly h ON gr.user_id = h.user_id AND gr.hr = h.hr
), filled AS (
  SELECT user_id, hr, v,
         last_value(v IGNORE NULLS) OVER wp AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
           OVER wp AS prev_h,
         first_value(v IGNORE NULLS) OVER wn AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
           OVER wn AS next_h
  FROM g
  WINDOW wp AS (PARTITION BY user_id ORDER BY hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(hr, '%Y-%m-%d %H:%M:%S') AS hr,
       floor((CASE WHEN v IS NOT NULL THEN v
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * ((epoch(hr) - epoch(prev_h))
                    / (epoch(next_h) - epoch(prev_h)))
       END) * 10000 + 0.5) / 10000.0 AS value_filled,
       v IS NULL AS interpolated
FROM filled
"""

ORACLES["column_correlations"] = r"""
WITH wide AS (
  SELECT corr(l_quantity, l_extendedprice) AS c_qty_price,
         corr(l_quantity, l_discount) AS c_qty_disc,
         corr(l_extendedprice, l_discount) AS c_price_disc
  FROM lineitem
)
SELECT u.col_a, u.col_b, round(u.corr_v, 6) AS corr_v
FROM wide, LATERAL (
  SELECT * FROM (VALUES
    ('l_quantity', 'l_extendedprice', c_qty_price),
    ('l_quantity', 'l_discount', c_qty_disc),
    ('l_extendedprice', 'l_discount', c_price_disc)
  ) AS t(col_a, col_b, corr_v)
) u
"""

ORACLES["hard_negative_mining"] = f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding AS a_emb, label AS a_label
  FROM embeddings WHERE vec_id < 4
), scored AS (
  SELECT a.anchor_id, e.vec_id,
         CAST(e.label AS BIGINT) AS neg_label,
         round({_COS.format(a="e.embedding", b="a.a_emb")}, 4) AS cosine
  FROM embeddings e, anchors a
  WHERE e.vec_id >= 4 AND e.label != a.a_label
)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
       CAST(vec_id AS BIGINT) AS vec_id, neg_label, cosine,
       CAST(row_number() OVER (PARTITION BY anchor_id
            ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 5
"""

ORACLES["ivf_recall_report"] = f"""
WITH {_IVF_ASSIGN}, q AS (
  SELECT embedding AS qe, cluster AS qc FROM assigned WHERE vec_id = 0
), brute AS (
  SELECT e.vec_id
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  QUALIFY row_number() OVER (
    ORDER BY round({_COS.format(a="e.embedding", b="qe")}, 4) DESC,
             e.vec_id ASC) <= 10
), i1 AS (
  SELECT vec_id, 1 AS in1
  FROM assigned, q
  WHERE vec_id <> 0 AND cluster = qc
  QUALIFY row_number() OVER (
    ORDER BY round({_COS.format(a="embedding", b="qe")}, 4) DESC,
             vec_id ASC) <= 10
), qp AS (
  SELECT c0 AS qc, embedding AS qe FROM scored WHERE vec_id = 0
  QUALIFY row_number() OVER (ORDER BY dist ASC, c0 ASC) <= 2
), i2 AS (
  SELECT vec_id, 1 AS in2
  FROM assigned, qp
  WHERE vec_id <> 0 AND cluster = qc
  QUALIFY row_number() OVER (
    ORDER BY round({_COS.format(a="embedding", b="qe")}, 4) DESC,
             vec_id ASC) <= 10
)
SELECT CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(coalesce(in1, 0)) AS BIGINT) AS hit_nprobe1,
       CAST(sum(coalesce(in2, 0)) AS BIGINT) AS hit_nprobe2,
       round(CAST(sum(coalesce(in1, 0)) AS DOUBLE) / count(*), 4)
         AS recall_nprobe1,
       round(CAST(sum(coalesce(in2, 0)) AS DOUBLE) / count(*), 4)
         AS recall_nprobe2
FROM brute
LEFT JOIN i1 USING (vec_id)
LEFT JOIN i2 USING (vec_id)
"""

ORACLES["scd2_history"] = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
), hist AS (
  SELECT doc_id, text, 1 AS version FROM base
  UNION ALL
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END,
         2 FROM base
  UNION ALL
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev3]'
              WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
              ELSE text END,
         3 FROM base
), runs AS (
  SELECT doc_id, text, version,
         CASE WHEN lag(text) OVER w IS NULL
                OR lag(text) OVER w != text THEN 1 ELSE 0 END AS changed
  FROM hist
  WINDOW w AS (PARTITION BY doc_id ORDER BY version)
), numbered AS (
  SELECT doc_id, text, version,
         sum(changed) OVER (PARTITION BY doc_id ORDER BY version
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(run_id AS BIGINT) AS run_id,
       CAST(min(version) AS BIGINT) AS valid_from,
       CAST(max(version) AS BIGINT) AS valid_to_incl,
       max(version) = 3 AS is_current,
       CAST(min(length(text)) AS BIGINT) AS n_chars
FROM numbered
GROUP BY doc_id, run_id
"""

ORACLES["robots_gate"] = r"""
WITH urls AS (
  SELECT doc_id,
         '/s' || CAST(doc_id % 4 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/private' ELSE '/posts' END
         || '/p' || CAST(doc_id AS VARCHAR) AS path
  FROM documents
), rules AS (
  SELECT * FROM (VALUES
    ('/s0', false), ('/s0/posts', true), ('/s1/private', false),
    ('/s2', false), ('/s2/private', false), ('/s3/posts/p3', false)
  ) AS t(prefix, allow)
), matched AS (
  SELECT u.doc_id, u.path, r.prefix, r.allow
  FROM urls u LEFT JOIN rules r ON starts_with(u.path, r.prefix)
), decided AS (
  SELECT doc_id, path,
         max(CASE WHEN prefix IS NOT NULL
                  THEN struct_pack(l := length(prefix), allow := allow)
             END) AS best
  FROM matched GROUP BY doc_id, path
)
SELECT doc_id, path,
       coalesce(best.allow, true) AS allowed,
       CAST(coalesce(best.l, 0) AS BIGINT) AS rule_len
FROM decided
"""

ORACLES["anchor_text_aggregation"] = r"""
WITH doc AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+')[1] AS anchor,
         count(*) OVER () AS n
  FROM documents
), edges AS (
  SELECT doc_id AS src_id, anchor,
         ('0x' || substr(md5(text), 1, 8))::BIGINT % n AS dst
  FROM doc
  UNION ALL
  SELECT doc_id AS src_id, anchor,
         ('0x' || substr(md5(text), 9, 8))::BIGINT % n AS dst
  FROM doc
), filtered AS (
  SELECT * FROM edges WHERE dst != src_id
), per_term AS (
  SELECT dst, anchor, count(*) AS n_links,
         count(DISTINCT src_id) AS n_sources
  FROM filtered GROUP BY dst, anchor
)
SELECT CAST(dst AS BIGINT) AS dst,
       CAST(sum(n_links) AS BIGINT) AS in_links,
       CAST(sum(n_sources) AS BIGINT) AS in_sources,
       max(struct_pack(c := n_links, t := anchor)).t AS top_anchor
FROM per_term
GROUP BY dst
"""

ORACLES["tpch_q18ish"] = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
)
SELECT c_custkey, c_name, o_orderkey,
       o_totalprice AS totalprice,
       round(total_qty, 4) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 20
"""


ORACLES["tokenizer_fertility"] = r"""
WITH per AS (
  SELECT lang,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
           AS n_bpe
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6) AS tokens_per_word,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6) AS bytes_per_token
FROM per GROUP BY lang
"""

ORACLES["cluster_size_histogram"] = f"""
WITH clus AS ({ORACLES["dedup_clusters"]}),
sizes AS (
  SELECT cluster_id, count(*) AS k FROM clus GROUP BY cluster_id
)
SELECT CAST(k AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(k) AS BIGINT) AS n_docs
FROM sizes GROUP BY k
"""

ORACLES["prefix_sharing_stats"] = r"""
WITH convs AS (
  SELECT DISTINCT source AS conv_id FROM documents
), with_prompt AS (
  SELECT conv_id,
         (['You are a helpful assistant. Answer carefully and cite sources.',
           'Answer concisely. Use tools when a lookup is required.',
           'You are a coding agent. Prefer minimal diffs and run the tests.'])
         [CAST(('0x' || substr(md5(conv_id), 1, 2))::BIGINT % 3 AS INT) + 1]
           AS sys_prompt
  FROM convs
), tokens AS (
  SELECT conv_id, sys_prompt,
         len(string_split(sys_prompt, ' ')) AS prefix_tokens
  FROM with_prompt
), groups AS (
  SELECT sys_prompt, prefix_tokens, count(*) AS n_convs
  FROM tokens GROUP BY sys_prompt, prefix_tokens
)
SELECT CAST(n_convs AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum((n_convs - 1) * prefix_tokens) AS BIGINT) AS reusable_tokens
FROM groups GROUP BY n_convs
"""

ORACLES["mixture_token_budget"] = f"""
WITH mix AS ({ORACLES["source_mixture_weights"]})
SELECT source, n_tokens, mix_weight,
       round(mix_weight * 1000000, 2) AS budget_tokens,
       round(mix_weight * 1000000 / n_tokens, 4) AS epochs
FROM mix
"""


ORACLES["k_anonymity_report"] = r"""
WITH classes AS (
  SELECT lang, source,
         CAST(least(floor(length(text) / 100.0), 9) AS INT) AS len_decile,
         CAST(count(*) AS BIGINT) AS class_size
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, source, CAST(len_decile AS BIGINT) AS len_decile,
       class_size, class_size < 5 AS suppress
FROM classes
UNION ALL
SELECT '__ALL__' AS lang, '__TOTAL__' AS source,
       CAST(-1 AS BIGINT) AS len_decile,
       CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
         AS class_size,
       sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) > 0 AS suppress
FROM classes
"""

ORACLES["dp_noised_histogram"] = r"""
WITH per AS (
  SELECT lang, count(*) AS true_n FROM documents GROUP BY lang
), noised AS (
  SELECT lang, true_n,
         ((('0x' || substr(md5('release1:' || lang), 1, 8))::BIGINT + 1.0)
          / 4294967296.0 - 0.5) AS u
  FROM per
)
SELECT lang,
       greatest(CAST(round(true_n
             + (-sign(u) * ln(1.0 - 2.0 * abs(u)) / 1.0), 0) AS BIGINT),
           0) AS dp_count
FROM noised
"""


ORACLES["quality_calibration"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), w AS (
  SELECT doc_id, t, len(t) - 1 AS n,
         list_sum(list_transform(range(1, len(t)),
           i -> (('0x' || substr(md5(t[CAST(i AS INT)] || '_' || t[CAST(i AS INT) + 1]), 1, 4))::BIGINT
                 * 2654435761) % 1048576 - 524288)) AS wsum
  FROM toks WHERE len(t) >= 2
), scored AS (
  SELECT round(1.0 / (1.0 + exp(-(CAST(wsum AS DOUBLE) / (n * 1048576.0)))), 6) AS s,
         (CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
          / greatest(len(t), 1)) >= 0.8 AS label
  FROM w
)
SELECT CAST(least(floor(s * 10), 9) AS BIGINT) AS score_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(s), 6) AS mean_score,
       round(avg(CAST(label AS DOUBLE)), 6) AS label_rate
FROM scored GROUP BY 1
"""

ORACLES["inspection_sample"] = r"""
WITH strat AS (
  SELECT doc_id, lang,
         CAST(least(floor(
           round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
                 * (1.0 - CAST(length(text)
                        - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                        AS DOUBLE) / length(text)), 6) * 4), 3) AS INT)
           AS q_bucket,
         md5(text) AS h
  FROM documents
)
SELECT doc_id, lang, CAST(q_bucket AS BIGINT) AS q_bucket,
       CAST(row_number() OVER (PARTITION BY lang, q_bucket
            ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rnk
FROM strat
QUALIFY rnk <= 2
"""


ORACLES["lsh_tuning_report"] = f"""
WITH {_MH_BASE}, banded AS (
  SELECT doc_id, CAST(b AS INT) AS band,
         array_to_string(sig[CAST(b AS INT) * {_MH_ROWS} + 1 : CAST(b AS INT) * {_MH_ROWS} + {_MH_ROWS}], '_') AS band_key
  FROM sig, unnest(range(0, {_MH_BANDS})) AS bt(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
), shx AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
), inter AS (
  SELECT doc_a, doc_b, count(*) AS n_common
  FROM cand
  JOIN shx sa ON sa.doc_id = cand.doc_a
  JOIN shx sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
), jac AS (
  SELECT round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
), counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_overlapping,
         CAST(sum(CASE WHEN j >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_025,
         CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_05,
         CAST(sum(CASE WHEN j >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_075,
         CAST(sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_09
  FROM jac
), nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
SELECT nc.n_candidates, counts.n_overlapping,
       counts.n_ge_025, counts.n_ge_05, counts.n_ge_075, counts.n_ge_09,
       round(CAST(counts.n_ge_025 AS DOUBLE) / nc.n_candidates, 6)
         AS precision_at_025
FROM nc, counts
"""

ORACLES["bm25_batch_topk"] = r"""
WITH qt AS (
  SELECT * FROM (VALUES (0, 'spark'), (0, 'table'), (1, 'hash'),
                        (1, 'merge'), (2, 'window'), (2, 'table'))
  AS t(query_id, term)
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(CAST(len(toks) AS DOUBLE)) AS avgdl
  FROM toks
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               unnest(toks) AS term FROM toks)
  WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, dl, term
), idf AS (
  SELECT term,
         ln((s.n_docs - CAST(count(*) AS DOUBLE) + 0.5)
            / (CAST(count(*) AS DOUBLE) + 0.5) + 1.0) AS idf
  FROM tf, stats s
  GROUP BY term, s.n_docs
), contrib AS (
  SELECT qt.query_id, tf.doc_id,
         i.idf * (tf.tf * (1.2 + 1.0))
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS c
  FROM tf JOIN idf i USING (term) JOIN qt USING (term), stats s
), scored AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS bm25
  FROM contrib GROUP BY query_id, doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(doc_id AS BIGINT) AS doc_id, bm25,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
"""


# --- round 4 (cont.): the remaining TPC-H family -------------------------

ORACLES["tpch_q2ish"] = """
WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offer AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
best AS (SELECT l_partkey AS b_partkey, min(cost) AS min_cost FROM offer GROUP BY 1)
SELECT round(e.s_acctbal, 2) AS s_acctbal,
       e.s_name,
       e.n_name,
       CAST(p.p_partkey AS BIGINT) AS p_partkey,
       p.p_name,
       round(o.cost, 4) AS cost
FROM offer o
JOIN best b ON o.l_partkey = b.b_partkey AND o.cost = b.min_cost
JOIN part p ON o.l_partkey = p.p_partkey
JOIN eur e ON o.l_suppkey = e.s_suppkey
WHERE p.p_type = 'LARGE' AND p.p_size >= 40
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 20
"""

ORACLES["tpch_q4ish"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1
"""

ORACLES["tpch_q7ish"] = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""

ORACLES["tpch_q8ish"] = """
SELECT CAST(year(l_shipdate) AS INT) AS o_year,
       round(sum(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1
"""

ORACLES["tpch_q9ish"] = """
SELECT sn.n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity), 4) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""

ORACLES["tpch_q11ish"] = """
WITH per_part AS (
  SELECT l_partkey,
         sum(l_extendedprice * (1 - l_discount)) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       round(value, 4) AS value
FROM per_part, (SELECT sum(value) AS total_value FROM per_part) t
WHERE round(value, 4) > round(0.0015 * total_value, 4)
"""

ORACLES["tpch_q13ish"] = """
WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority NOT LIKE '4-%'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY 1
"""

ORACLES["tpch_q15ish"] = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY 1
)
SELECT CAST(r.l_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM rev r JOIN supplier ON r.l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""

ORACLES["tpch_q16ish"] = """
SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""

ORACLES["tpch_q17ish"] = """
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
),
aq AS (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
       FROM branded GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM branded JOIN aq ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
"""

ORACLES["tpch_q19ish"] = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES["tpch_q20ish"] = """
WITH qty AS (
  SELECT l_suppkey, sum(l_quantity) AS red_qty
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
  GROUP BY 1
)
SELECT s_name, n_name, round(red_qty, 2) AS red_qty
FROM qty
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AFRICA' AND red_qty > 100
"""

ORACLES["tpch_q22ish"] = """
SELECT CAST(c_nationkey AS INT) AS cntry,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= '2001-01-01'
  )
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# round 4 (continuation): scalable CC, novelty pruning, JL compression eval,
# deterministic corpus shuffle
# ---------------------------------------------------------------------------

# Independent check of the large-star/small-star CC: same recursive
# reachability CTE as dedup_clusters (the algorithms must agree on the
# same pair graph), so one oracle adjudicates both Spark implementations.
ORACLES["cc_two_phase"] = ORACLES["dedup_clusters"]

ORACLES["ngram_novelty"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks)
), fs AS (
  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh JOIN fs USING (g)
GROUP BY sh.doc_id
"""

# JL random projection: embed the SAME md5-derived Rademacher sign matrix
# as the Spark side (ocr_spark.params.rp_signs) as literal DOUBLE lists.
_RP_PROJ = "[" + ", ".join(
    "list_dot_product(embedding::DOUBLE[], ["
    + ", ".join(f"{s}.0" for s in _row)
    + "]::DOUBLE[])"
    for _row in _params.rp_signs()
) + "]"

ORACLES["rp_recall_report"] = f"""
WITH proj AS (
  SELECT vec_id, embedding, {_RP_PROJ} AS p FROM embeddings
), q AS (
  SELECT embedding AS qe, p AS qp FROM proj WHERE vec_id = 0
), truth AS (
  SELECT vec_id,
         round({_COS.format(a="embedding", b="qe")}, 4) AS cosine
  FROM proj, q
  WHERE vec_id <> 0
  QUALIFY row_number() OVER (ORDER BY cosine DESC, vec_id ASC) <= 10
), ranked AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY pcos DESC, vec_id ASC) AS rnk
  FROM (
    SELECT vec_id,
           round({_COS.format(a="p", b="qp")}, 4) AS pcos
    FROM proj, q
    WHERE vec_id <> 0)
  QUALIFY rnk <= 100
)
SELECT CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN r.rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hit_at_10,
       CAST(sum(CASE WHEN r.rnk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS hit_at_50,
       CAST(sum(CASE WHEN r.rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_at_100,
       round(CAST(sum(CASE WHEN r.rnk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall_at_10,
       round(CAST(sum(CASE WHEN r.rnk <= 50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall_shortlist_50,
       round(CAST(sum(CASE WHEN r.rnk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall_shortlist_100
FROM truth t LEFT JOIN ranked r ON t.vec_id = r.vec_id
"""

ORACLES["corpus_shard_plan"] = f"""
WITH h AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hkey
  FROM documents
)
SELECT CAST(hkey % {_params.SHARD_COUNT} AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(arg_min(doc_id, hkey) AS BIGINT) AS first_doc_id,
       CAST(sum(hkey) AS BIGINT) AS order_checksum
FROM h GROUP BY 1
"""

# semantic decontamination: the bit_count(xor) <= 1 join is the
# probe-free equivalent of the Spark side's broadcast 17-probe expansion
# (each qualifying pair matches exactly one probe), so candidate sets —
# and therefore n_eval_hits — are identical by construction.
ORACLES["semantic_decontam"] = f"""
WITH wb AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN embedding[i] >= 0 THEN 1 << (i - 1) ELSE 0 END)) AS sig
  FROM embeddings
), ev AS (SELECT * FROM wb WHERE vec_id % 10 = 0),
   co AS (SELECT * FROM wb WHERE vec_id % 10 <> 0),
   cand AS (
  SELECT co.vec_id,
         round({_COS.format(a="co.embedding", b="ev.embedding")}, 4) AS cosine
  FROM co JOIN ev ON bit_count(xor(co.sig, ev.sig)) <= 1
)
SELECT vec_id,
       round(max(cosine), 4) AS max_cosine,
       CAST(count(*) AS BIGINT) AS n_eval_hits,
       max(cosine) >= {_params.SEM_DECONTAM_TAU} AS flagged
FROM cand GROUP BY vec_id
"""

ORACLES["ngram_novelty_incremental"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks)
), cg AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % 10 <> 0
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN cg.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh LEFT JOIN cg ON sh.g = cg.g
WHERE sh.doc_id % 10 = 0
GROUP BY sh.doc_id
"""

# triangle census over the SAME verified pair graph (composed verbatim,
# like dedup_clusters/lsh_recall_report); identical degree-ordered
# orientation so the triangle set — not just the count — coincides.
ORACLES["dedup_graph_triangles"] = (
    "WITH pr0 AS (" + ORACLES["minhash_lsh_pairs"] + """),
 pr AS (SELECT doc_a, doc_b FROM pr0),
 sym AS (SELECT doc_a AS u, doc_b AS v FROM pr UNION SELECT doc_b, doc_a FROM pr),
 deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
 orient AS (
   SELECT s.u, s.v, dv.d AS dv
   FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
   WHERE (du.d < dv.d) OR (du.d = dv.d AND s.u < s.v)),
 tri AS (
   SELECT count(*) AS c
   FROM orient e1
   JOIN orient e2 ON e2.u = e1.u
     AND ((e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v))
   JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v),
 wd AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_edges,
       CAST(tri.c AS BIGINT) AS n_triangles,
       wd.w AS n_wedges,
       round(3.0 * tri.c / greatest(wd.w, 1), 6) AS transitivity
FROM tri, wd
"""
)

ORACLES["tool_transition_stats"] = r"""
WITH t AS (
  SELECT source AS conv_id, doc_id, text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), calls AS (
  SELECT conv_id, doc_id,
         'tool_' || CAST(('0x' || substr(md5(text), 9, 4))::BIGINT % 5 AS VARCHAR) AS tool
  FROM t WHERE role = 'tool'
), trans AS (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY doc_id) AS prev_tool
  FROM calls
)
SELECT prev_tool AS tool_from, tool AS tool_to,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM trans WHERE prev_tool IS NOT NULL
GROUP BY prev_tool, tool
"""

# mutual nearest neighbors over the same Hamming<=1 sign-LSH candidate
# rule; per-vector best re-derived with a window argmax instead of the
# Spark side's max_by partial aggregate.
ORACLES["mutual_nn_pairs"] = f"""
WITH wb AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, 17),
           i -> CASE WHEN embedding[i] >= 0 THEN 1 << (i - 1) ELSE 0 END)) AS sig
  FROM embeddings
), cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round({_COS.format(a="a.embedding", b="b.embedding")}, 4) AS cosine
  FROM wb a JOIN wb b
    ON bit_count(xor(a.sig, b.sig)) <= 1 AND a.vec_id <> b.vec_id
), best AS (
  SELECT src, dst AS nn, cosine
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) = 1
), stats AS (
  SELECT src, avg(cosine) AS avg_top FROM (
    SELECT src, cosine,
           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM cand)
  WHERE rn <= 4 GROUP BY src
)
SELECT a.src AS vec_a, b.src AS vec_b, a.cosine AS cosine,
       round(a.cosine / ((sa.avg_top + sb.avg_top) / 2), 4) AS margin
FROM best a JOIN best b ON a.nn = b.src AND b.nn = a.src
JOIN stats sa ON sa.src = a.src JOIN stats sb ON sb.src = b.src
WHERE a.src < b.src
"""

# k-core peel: unrolled in lockstep with params.KCORE_ROUNDS/KCORE_K
# (training-loop convention) over the same composed pair-graph oracle.
def _kcore_sql(rounds: int, k: int) -> str:
    # Every CTE is MATERIALIZED: each round references the previous edge
    # set three times (the degree count plus both endpoints' alive-set
    # joins), so DuckDB's default CTE inlining re-expands the embedded
    # MinHash-pairs pipeline 3^rounds times — fine at the registered
    # depth of 3, a multi-hour planner explosion at the deeper
    # test_training_depth configs. Materializing keeps the oracle linear
    # in rounds with identical semantics.
    parts = [
        "WITH pr0 AS MATERIALIZED (" + ORACLES["minhash_lsh_pairs"] + "),",
        "pr AS (SELECT doc_a, doc_b FROM pr0),",
        "e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pr"
        " UNION SELECT doc_b, doc_a FROM pr),",
        "nodes AS (SELECT DISTINCT u AS doc_id FROM e0),",
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT u, count(*) AS d FROM {prev} GROUP BY u),"
        )
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE d >= {k}),"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e"
            f" JOIN a{r} au ON au.u = e.u"
            f" JOIN a{r} av ON av.u = e.v),"
        )
        prev = f"e{r}"
    parts.append(
        f"fd AS (SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree"
        f" FROM {prev} GROUP BY u)"
    )
    parts.append(
        "SELECT n.doc_id,"
        " CAST(coalesce(fd.degree, 0) AS BIGINT) AS degree,"
        f" coalesce(fd.degree, 0) >= {k} AS in_core"
        " FROM nodes n LEFT JOIN fd ON fd.doc_id = n.doc_id"
    )
    return "\n".join(parts)


ORACLES["kcore_peel"] = _kcore_sql(_params.KCORE_ROUNDS, _params.KCORE_K)

# bitext mining yield per language pair, composed over the mutual-NN
# oracle verbatim plus the documents metadata joins and hygiene gates.
ORACLES["bitext_mining_report"] = (
    "WITH mnn AS (" + ORACLES["mutual_nn_pairs"] + """)
SELECT least(da.lang, db.lang) AS lang_a,
       greatest(da.lang, db.lang) AS lang_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(m.cosine), 4) AS avg_cosine,
       round(avg(m.margin), 4) AS avg_margin
FROM mnn m JOIN documents da ON da.doc_id = m.vec_a
           JOIN documents db ON db.doc_id = m.vec_b
WHERE da.lang <> db.lang AND m.cosine > 0
  AND greatest(da.n_chars, db.n_chars) <= 2.0 * least(da.n_chars, db.n_chars)
GROUP BY 1, 2
"""
)

# per-cluster purity: composed over the recursive-CTE cluster oracle and
# the verified-pair oracle (both verbatim).
ORACLES["dedup_cluster_purity"] = (
    'WITH clus AS (' + ORACLES["dedup_clusters"] + '), pr0 AS ('
    + ORACLES["minhash_lsh_pairs"] + """),
 members AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clus GROUP BY cluster_id
), edges AS (
  SELECT c.cluster_id,
         CAST(count(*) AS BIGINT) AS n_edges,
         round(avg(p.jaccard), 6) AS avg_jaccard,
         round(min(p.jaccard), 6) AS min_jaccard
  FROM pr0 p JOIN clus c ON c.doc_id = p.doc_a
  GROUP BY c.cluster_id
)
SELECT m.cluster_id, m.n_members, e.n_edges,
       round(e.n_edges / (m.n_members * (m.n_members - 1) / 2.0), 6) AS density,
       e.avg_jaccard, e.min_jaccard
FROM members m JOIN edges e ON e.cluster_id = m.cluster_id
"""
)

ORACLES["embedding_centroid_drift"] = f"""
WITH {_IVF_ASSIGN}, hdims AS (
  SELECT cluster, vec_id % 2 = 0 AS half_a, vec_id,
         unnest(embedding)::DOUBLE AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM assigned
), cent AS (
  SELECT cluster, half_a, dim, avg(x) AS m FROM hdims GROUP BY cluster, half_a, dim
), counts AS (
  SELECT cluster,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM assigned GROUP BY cluster
), drift AS (
  SELECT a.cluster,
         round(sum(a.m * b.m) / (sqrt(sum(a.m * a.m)) * sqrt(sum(b.m * b.m))), 4)
           AS centroid_cosine
  FROM cent a JOIN cent b ON a.cluster = b.cluster AND a.dim = b.dim
  WHERE a.half_a AND NOT b.half_a
  GROUP BY a.cluster
)
SELECT c.cluster, c.n_a, c.n_b, d.centroid_cosine
FROM counts c LEFT JOIN drift d ON d.cluster = c.cluster
"""

ORACLES["boilerplate_phrases"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks)
), nd AS (SELECT CAST(count(*) AS DOUBLE) AS corpus_docs FROM documents)
SELECT g AS shingle,
       CAST(count(*) AS BIGINT) AS df,
       round(count(*) / nd.corpus_docs, 6) AS reach,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM sh, nd
GROUP BY g, nd.corpus_docs
QUALIFY row_number() OVER (ORDER BY df DESC, shingle ASC) <= 20
"""

ORACLES["epoch_shuffle_plan"] = f"""
WITH e AS (
  SELECT doc_id, n_chars, unnest([0, 1]) AS epoch FROM documents
), h AS (
  SELECT epoch, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 12))::BIGINT AS hkey
  FROM e
)
SELECT epoch, CAST(hkey % {_params.SHARD_COUNT} AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(hkey) AS BIGINT) AS order_checksum
FROM h GROUP BY 1, 2
"""

ORACLES["trace_quality_gate"] = r"""
WITH t AS (
  SELECT source AS conv_id, text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), calls AS (
  SELECT conv_id,
         CASE WHEN ('0x' || substr(md5(text), 13, 2))::BIGINT % 4 = 0 THEN 0 ELSE 1 END AS ok
  FROM t WHERE role = 'tool'
), per_conv AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_tool_calls,
         CAST(sum(1 - ok) AS BIGINT) AS n_failed
  FROM calls GROUP BY conv_id
), convs AS (SELECT DISTINCT conv_id FROM t)
SELECT c.conv_id,
       CAST(coalesce(p.n_tool_calls, 0) AS BIGINT) AS n_tool_calls,
       CAST(coalesce(p.n_failed, 0) AS BIGINT) AS n_failed,
       CASE WHEN p.n_tool_calls IS NULL THEN 'no_tools'
            WHEN p.n_failed = 0 THEN 'clean'
            ELSE 'has_failures' END AS verdict
FROM convs c LEFT JOIN per_conv p ON p.conv_id = c.conv_id
"""

# direct one-pass global moments: a hash match proves the Spark side's
# shard-wise Chan merge algebraically exact.
ORACLES["mergeable_variance_card"] = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars::DOUBLE), 6) AS mean_chars,
       round(var_pop(n_chars::DOUBLE), 6) AS var_pop_chars
FROM documents
"""

ORACLES["quality_novelty_calibration"] = r"""
WITH q AS (
  SELECT doc_id,
         round(CAST(least(length(text), 400) AS DOUBLE) / 400.0
               * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                        / length(text)), 6) AS quality
  FROM documents
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
    FROM toks)
), fs AS (
  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g
), nov AS (
  SELECT sh.doc_id,
         round(CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 6) AS novelty
  FROM sh JOIN fs USING (g) GROUP BY sh.doc_id
), dec AS (
  SELECT q.doc_id, q.quality, nov.novelty,
         ntile(10) OVER (ORDER BY q.quality ASC, q.doc_id ASC) AS decile
  FROM q JOIN nov ON nov.doc_id = q.doc_id
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(novelty), 6) AS mean_novelty,
       round(avg(CASE WHEN novelty < 0.3 THEN 1.0 ELSE 0.0 END), 6) AS low_novelty_rate
FROM dec GROUP BY decile
"""

# Bucketed-layout audit: the plan-shape half (Exchange count,
# SortMergeJoin presence) is a FIXED claim the operator must uphold —
# pinning it as literals means any regression to a shuffling join flips
# the driver's hash compare red, exactly like a wrong value. The data
# half (joined_turns) is independently re-derived: extraction is
# row-preserving over documents-as-transcripts (one turn per document,
# one conversation per source) and every conversation has a rollup row,
# so the conv_id equi-join keeps every turn — DuckDB re-executes that
# join against the rollup it builds itself.
ORACLES["bucketed_layout_audit"] = """
SELECT CAST(0 AS INTEGER) AS join_exchanges,
       true AS sort_merge_join,
       (SELECT count(*)
          FROM documents d
          JOIN (SELECT source, count(*) AS n_turns
                  FROM documents GROUP BY source) r
            ON d.source = r.source) AS joined_turns
"""

ORACLES["agent_loop_detector"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 4 AS INTEGER) AS tmpl
  FROM documents
), marked AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(tmpl) OVER w IS NULL OR tmpl != lag(tmpl) OVER w
              THEN 1 ELSE 0 END AS new_run
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), runs AS (
  SELECT conv_id,
         sum(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
), per_run AS (
  SELECT conv_id, run_id, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY conv_id, run_id
)
SELECT conv_id,
       CAST(sum(run_len) AS BIGINT) AS n_turns,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_len) AS BIGINT) AS max_run,
       max(run_len) >= 3 AS stuck
FROM per_run GROUP BY conv_id
"""

ORACLES["prompt_rollout_dedup"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp
  FROM t GROUP BY conv_id
), grp AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
         conv_id, completion_fp
  FROM per_conv
)
SELECT prompt_bucket,
       CAST(count(*) AS BIGINT) AS n_rollouts,
       CAST(count(DISTINCT completion_fp) AS BIGINT) AS n_unique_completions,
       min(conv_id) AS first_conv,
       CAST(count(*) - count(DISTINCT completion_fp) AS BIGINT) AS n_dropped
FROM grp GROUP BY prompt_bucket
"""

ORACLES["pass_at_k"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp
  FROM t GROUP BY conv_id
), scored AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
         CASE WHEN ('0x' || substr(completion_fp, 1, 1))::INTEGER < 8
              THEN 1 ELSE 0 END AS success
  FROM per_conv
), counts AS (
  SELECT prompt_bucket,
         CAST(count(*) AS BIGINT) AS n_rollouts,
         CAST(sum(success) AS BIGINT) AS n_success
  FROM scored GROUP BY prompt_bucket
)
SELECT prompt_bucket, n_rollouts, n_success,
       round(CAST(n_success AS DOUBLE) / CAST(n_rollouts AS DOUBLE), 6) AS pass_at_1,
       CASE WHEN n_rollouts < 4 THEN NULL
            WHEN n_rollouts - n_success < 4 THEN 1.0
            ELSE round(1.0 - CAST((n_rollouts - n_success) * (n_rollouts - n_success - 1)
                                  * (n_rollouts - n_success - 2) * (n_rollouts - n_success - 3) AS DOUBLE)
                           / CAST(n_rollouts * (n_rollouts - 1) * (n_rollouts - 2)
                                  * (n_rollouts - 3) AS DOUBLE), 6)
       END AS pass_at_4
FROM counts
"""

ORACLES["best_of_n_selection"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp
  FROM t GROUP BY conv_id
), scored AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
         conv_id,
         CAST(('0x' || substr(completion_fp, 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS reward
  FROM per_conv
), ranked AS (
  SELECT prompt_bucket, conv_id, reward,
         row_number() OVER (PARTITION BY prompt_bucket
                            ORDER BY reward DESC, conv_id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY prompt_bucket) AS BIGINT) AS n_rollouts,
         avg(reward) OVER (PARTITION BY prompt_bucket) AS mean_reward
  FROM scored
)
SELECT prompt_bucket, n_rollouts, conv_id AS best_conv,
       round(reward, 6) AS best_reward,
       round(mean_reward, 6) AS mean_reward,
       round(reward - mean_reward, 6) AS selection_gain
FROM ranked WHERE rn = 1
"""

ORACLES["grpo_advantages"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp
  FROM t GROUP BY conv_id
), scored AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
         conv_id,
         CAST(('0x' || substr(completion_fp, 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS reward
  FROM per_conv
), stats AS (
  SELECT prompt_bucket, conv_id, reward,
         avg(reward) OVER (PARTITION BY prompt_bucket) AS mu,
         stddev_pop(reward) OVER (PARTITION BY prompt_bucket) AS sigma
  FROM scored
)
SELECT prompt_bucket, conv_id, round(reward, 6) AS reward,
       CASE WHEN sigma = 0 THEN 0.0
            ELSE round((reward - mu) / sigma, 6) END AS advantage
FROM stats
"""

ORACLES["rollout_divergence_profile"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), lim AS (
  SELECT * FROM t WHERE turn_idx < 8
), pref AS (
  SELECT conv_id, turn_idx,
         first_value(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS first_text,
         md5(string_agg(CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 4 AS VARCHAR), ',')
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS prefix_key
  FROM lim
)
SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
       turn_idx,
       CAST(count(*) AS BIGINT) AS n_alive,
       CAST(count(DISTINCT prefix_key) AS BIGINT) AS n_branches,
       count(DISTINCT prefix_key) > 1 AS diverged
FROM pref GROUP BY 1, 2
"""

ORACLES["dpo_pairs"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp
  FROM t GROUP BY conv_id
), scored AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_bucket,
         conv_id,
         CAST(('0x' || substr(completion_fp, 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS reward
  FROM per_conv
), ranked AS (
  SELECT prompt_bucket, conv_id, reward,
         row_number() OVER (PARTITION BY prompt_bucket
                            ORDER BY reward DESC, conv_id DESC) AS rn_hi,
         row_number() OVER (PARTITION BY prompt_bucket
                            ORDER BY reward ASC, conv_id ASC) AS rn_lo,
         CAST(count(*) OVER (PARTITION BY prompt_bucket) AS BIGINT) AS n_rollouts
  FROM scored
), hi AS (
  SELECT prompt_bucket, n_rollouts, conv_id AS chosen_conv, reward AS r_hi
  FROM ranked WHERE rn_hi = 1
), lo AS (
  SELECT prompt_bucket, conv_id AS rejected_conv, reward AS r_lo
  FROM ranked WHERE rn_lo = 1
)
SELECT hi.prompt_bucket, hi.n_rollouts, hi.chosen_conv, lo.rejected_conv,
       round(hi.r_hi, 6) AS chosen_reward,
       round(lo.r_lo, 6) AS rejected_reward,
       round(hi.r_hi - lo.r_lo, 6) AS reward_gap
FROM hi JOIN lo USING (prompt_bucket)
WHERE hi.n_rollouts >= 2 AND hi.r_hi - lo.r_lo >= 0.6
"""

ORACLES["length_debiased_reward"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS completion_fp,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM t GROUP BY conv_id
), scored AS (
  SELECT conv_id, n_chars,
         CAST(('0x' || substr(completion_fp, 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS reward
  FROM per_conv
), stats AS (
  SELECT covar_pop(CAST(n_chars AS DOUBLE), reward)
           / var_pop(CAST(n_chars AS DOUBLE)) AS beta,
         avg(reward) AS mean_r,
         avg(CAST(n_chars AS DOUBLE)) AS mean_len
  FROM scored
)
SELECT conv_id, n_chars,
       round(reward, 6) AS reward,
       round(beta, 6) AS bias_slope,
       round(reward - (mean_r + beta * (n_chars - mean_len)), 6) AS debiased_reward
FROM scored CROSS JOIN stats
"""


# --------------------------------------------------------------------------
# Evaluation / label-aggregation family (ocr_spark.evaluation). The lab
# and bat CTEs mirror queries._judge_labels / queries._model_battles
# byte-for-byte in derivation (md5 content keys, same slices).
# --------------------------------------------------------------------------

_EVAL_LABELS_CTE = r"""j(judge_id) AS (VALUES ('j0'), ('j1'), ('j2')),
lab AS (
  SELECT CAST(d.doc_id AS BIGINT) AS item_id, j.judge_id,
         ['good', 'ok', 'bad'][
           (CASE WHEN ('0x' || substr(md5(d.text || '|' || j.judge_id), 1, 8))::BIGINT % 4 = 0
                 THEN ((('0x' || substr(md5(d.text), 1, 8))::BIGINT % 3)
                       + 1
                       + (('0x' || substr(md5(d.text || '|' || j.judge_id), 9, 4))::BIGINT % 2)) % 3
                 ELSE ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 3
            END) + 1] AS label
  FROM documents d CROSS JOIN j
  WHERE ('0x' || substr(md5(d.text || '|' || j.judge_id), 13, 4))::BIGINT % 7 <> 0
)"""

_EVAL_BATTLES_CTE = r"""bat AS (
  SELECT CAST(doc_id AS BIGINT) AS item_id,
         'model_' || CAST(a AS VARCHAR) AS model_a,
         'model_' || CAST(b AS VARCHAR) AS model_b,
         CASE WHEN (a < b) <> up THEN 'model_' || CAST(a AS VARCHAR)
              ELSE 'model_' || CAST(b AS VARCHAR) END AS winner
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(text), 1, 8))::BIGINT % 4 AS a,
           (('0x' || substr(md5(text), 1, 8))::BIGINT % 4 + 1
            + ('0x' || substr(md5(text), 9, 8))::BIGINT % 3) % 4 AS b,
           ('0x' || substr(md5(text), 17, 2))::BIGINT % 4 = 0 AS up
    FROM documents)
)"""


ORACLES["judge_majority_vote"] = f"""
WITH {_EVAL_LABELS_CTE},
c AS (SELECT item_id, label, CAST(count(*) AS BIGINT) AS cnt FROM lab GROUP BY 1, 2),
r AS (
  SELECT item_id, label, cnt,
         CAST(sum(cnt) OVER (PARTITION BY item_id) AS BIGINT) AS n_votes,
         CAST(count(*) OVER (PARTITION BY item_id) AS BIGINT) AS n_distinct_labels,
         row_number() OVER (PARTITION BY item_id ORDER BY cnt DESC, label ASC) AS rn
  FROM c)
SELECT item_id, n_votes, n_distinct_labels,
       label AS vote_label, cnt AS vote_count,
       round(CAST(cnt AS DOUBLE) / n_votes, 6) AS agreement,
       n_distinct_labels = 1 AS unanimous
FROM r WHERE rn = 1
"""


ORACLES["judge_kappa_pairs"] = f"""
WITH {_EVAL_LABELS_CTE},
obs AS (
  SELECT a.judge_id AS judge_a, b.judge_id AS judge_b,
         CAST(count(*) AS BIGINT) AS n_items,
         avg(CASE WHEN a.label = b.label THEN 1.0 ELSE 0.0 END) AS po
  FROM lab a JOIN lab b USING (item_id)
  WHERE a.judge_id < b.judge_id
  GROUP BY 1, 2),
marg AS (
  SELECT judge_id, label,
         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY judge_id) AS frac
  FROM lab GROUP BY judge_id, label),
pe AS (
  SELECT ma.judge_id AS judge_a, mb.judge_id AS judge_b,
         sum(ma.frac * mb.frac) AS pe
  FROM marg ma JOIN marg mb USING (label)
  WHERE ma.judge_id < mb.judge_id
  GROUP BY 1, 2)
SELECT o.judge_a, o.judge_b, o.n_items,
       round(o.po, 6) AS po, round(p.pe, 6) AS pe,
       round((o.po - p.pe) / (1.0 - p.pe), 6) AS kappa
FROM obs o JOIN pe p USING (judge_a, judge_b)
"""


ORACLES["judge_alpha"] = f"""
WITH {_EVAL_LABELS_CTE},
nuc AS (SELECT item_id, label, CAST(count(*) AS BIGINT) AS nuc FROM lab GROUP BY 1, 2),
per_item AS (
  SELECT item_id, CAST(sum(nuc) AS BIGINT) AS mu,
         CAST(sum(nuc * (nuc - 1)) AS BIGINT) AS agree_pairs
  FROM nuc GROUP BY 1 HAVING sum(nuc) >= 2),
pooled AS (
  SELECT n.label, CAST(sum(n.nuc) AS BIGINT) AS ncnt
  FROM nuc n JOIN per_item p USING (item_id) GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(mu) AS BIGINT) AS n_ratings,
         sum(CAST(agree_pairs AS DOUBLE) / (mu - 1)) AS ao_num
  FROM per_item),
ch AS (SELECT CAST(sum(ncnt * (ncnt - 1)) AS DOUBLE) AS ae_num FROM pooled)
SELECT n_items, n_ratings,
       round(ao, 6) AS ao, round(ae, 6) AS ae,
       round((ao - ae) / (1.0 - ae), 6) AS alpha
FROM (SELECT t.n_items, t.n_ratings,
             t.ao_num / t.n_ratings AS ao,
             c.ae_num / (CAST(t.n_ratings AS DOUBLE) * (t.n_ratings - 1)) AS ae
      FROM tot t CROSS JOIN ch c)
"""


def _dawid_skene_sql(rounds: int = _params.DS_ROUNDS, smooth: float = 0.1) -> str:
    """Unrolled Dawid-Skene EM in lockstep with evaluation.dawid_skene:
    per round one M-step (priors + Laplace-smoothed confusion grid over
    judges x classes x classes) and one E-step (log-space posteriors,
    item-window normalized), seeded from per-item vote fractions.
    Round CTEs are MATERIALIZED: each round references the previous
    posterior twice and default inlining is exponential in rounds."""
    parts = [
        "cls AS (SELECT DISTINCT label AS cls FROM lab)",
        "ncls AS (SELECT CAST(count(*) AS DOUBLE) AS nc FROM cls)",
        "judges AS (SELECT DISTINCT judge_id FROM lab)",
        "nuc AS (SELECT item_id, label, CAST(count(*) AS DOUBLE) AS nuc"
        " FROM lab GROUP BY 1, 2)",
        "muv AS (SELECT item_id, sum(nuc) AS mu FROM nuc GROUP BY 1)",
        "p0 AS (SELECT n.item_id, n.label AS cls, n.nuc / m.mu AS p"
        " FROM nuc n JOIN muv m USING (item_id))",
    ]
    prev = "p0"
    for i in range(1, rounds + 1):
        parts.append(
            f"pri{i} AS MATERIALIZED (SELECT cls, sum(p) AS mass FROM {prev} GROUP BY cls)"
        )
        parts.append(f"""prior{i} AS MATERIALIZED (
  SELECT c.cls, coalesce(pr.mass, 0.0) / (SELECT sum(mass) FROM pri{i}) AS pi
  FROM cls c LEFT JOIN pri{i} pr USING (cls))""")
        parts.append(f"""mass{i} AS MATERIALIZED (
  SELECT l.judge_id, p.cls, l.label, sum(p.p) AS m
  FROM lab l JOIN {prev} p USING (item_id) GROUP BY 1, 2, 3)""")
        parts.append(
            f"den{i} AS MATERIALIZED (SELECT judge_id, cls, sum(m) AS d FROM mass{i} GROUP BY 1, 2)"
        )
        parts.append(f"""theta{i} AS MATERIALIZED (
  SELECT j.judge_id, c.cls, k.cls AS label,
         (coalesce(ms.m, 0.0) + {smooth!r})
           / (coalesce(dn.d, 0.0) + {smooth!r} * nc.nc) AS theta
  FROM judges j CROSS JOIN cls c CROSS JOIN cls k CROSS JOIN ncls nc
  LEFT JOIN mass{i} ms
    ON ms.judge_id = j.judge_id AND ms.cls = c.cls AND ms.label = k.cls
  LEFT JOIN den{i} dn
    ON dn.judge_id = j.judge_id AND dn.cls = c.cls)""")
        parts.append(f"""ll{i} AS MATERIALIZED (
  SELECT l.item_id, t.cls, sum(ln(t.theta)) AS ll
  FROM lab l JOIN theta{i} t
    ON t.judge_id = l.judge_id AND t.label = l.label
  GROUP BY 1, 2)""")
        parts.append(f"""lp{i} AS MATERIALIZED (
  SELECT a.item_id, a.cls,
         a.ll + CASE WHEN pr.pi > 0 THEN ln(pr.pi) ELSE -745.0 END AS ll
  FROM ll{i} a JOIN prior{i} pr USING (cls))""")
        parts.append(f"""px{i} AS MATERIALIZED (
  SELECT item_id, cls,
         exp(ll - max(ll) OVER (PARTITION BY item_id)) AS wgt
  FROM lp{i})""")
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT item_id, cls, wgt / sum(wgt) OVER (PARTITION BY item_id) AS p
  FROM px{i})""")
        prev = f"p{i}"
    return (
        f"WITH {_EVAL_LABELS_CTE},\n"
        + ",\n".join(parts)
        + f"""
SELECT item_id, cls AS map_label, round(p, 6) AS p_map
FROM (SELECT item_id, cls, p,
             row_number() OVER (PARTITION BY item_id
                                ORDER BY p DESC, cls ASC) AS rn
      FROM {prev})
WHERE rn = 1
"""
    )


ORACLES["dawid_skene_labels"] = _dawid_skene_sql()


ORACLES["arena_win_matrix"] = f"""
WITH {_EVAL_BATTLES_CTE}
SELECT least(model_a, model_b) AS model_lo,
       greatest(model_a, model_b) AS model_hi,
       CAST(count(*) AS BIGINT) AS n_battles,
       CAST(sum(CASE WHEN winner = least(model_a, model_b) THEN 1 ELSE 0 END)
            AS BIGINT) AS lo_wins,
       round(CAST(sum(CASE WHEN winner = least(model_a, model_b) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS lo_winrate
FROM bat GROUP BY 1, 2
"""


def _bradley_terry_sql(rounds: int = _params.BT_ROUNDS) -> str:
    """Unrolled Hunter MM in lockstep with evaluation.bradley_terry:
    battles reduce once to model^2 pair cells; each round recomputes
    per-model denominators against the previous strengths and
    normalizes to mean 1."""
    parts = [
        """canon AS MATERIALIZED (
  SELECT least(model_a, model_b) AS lo, greatest(model_a, model_b) AS hi,
         CASE WHEN winner = least(model_a, model_b) THEN 1 ELSE 0 END AS lo_won
  FROM bat)""",
        """cells AS MATERIALIZED (
  SELECT lo, hi, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(lo_won) AS DOUBLE) AS w_lo
  FROM canon GROUP BY 1, 2)""",
        """sides AS MATERIALIZED (
  SELECT lo AS m, lo, hi, n FROM cells
  UNION ALL SELECT hi, lo, hi, n FROM cells)""",
        """wins AS MATERIALIZED (
  SELECT m, sum(w) AS wins FROM (
    SELECT lo AS m, w_lo AS w FROM cells
    UNION ALL SELECT hi, n - w_lo FROM cells) GROUP BY m)""",
        "s0 AS MATERIALIZED (SELECT m, 1.0 AS s FROM wins)",
    ]
    for i in range(1, rounds + 1):
        # AS MATERIALIZED: each round references the previous strengths
        # 2-3 times; DuckDB's default CTE inlining would duplicate the
        # whole subtree per reference (exponential in rounds).
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT t.m, sum(t.n / (sl.s + sh.s)) AS denom
  FROM sides t
  JOIN s{i - 1} sl ON sl.m = t.lo
  JOIN s{i - 1} sh ON sh.m = t.hi
  GROUP BY t.m)""")
        parts.append(f"""raw{i} AS MATERIALIZED (
  SELECT w.m, CASE WHEN d.denom > 0 THEN w.wins / d.denom ELSE 0.0 END AS raw
  FROM wins w JOIN d{i} d USING (m))""")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT m, raw / (SELECT avg(raw) FROM raw{i}) AS s"
            f" FROM raw{i})"
        )
    return (
        f"WITH {_EVAL_BATTLES_CTE},\n"
        + ",\n".join(parts)
        + f"""
SELECT w.m AS model, CAST(w.wins AS BIGINT) AS n_wins,
       (SELECT CAST(count(*) AS BIGINT) FROM canon) AS n_battles_total,
       round(s.s, 6) AS strength,
       CAST(row_number() OVER (ORDER BY round(s.s, 6) DESC, w.m ASC)
            AS INTEGER) AS rank
FROM wins w JOIN s{rounds} s USING (m)
"""
    )


ORACLES["bradley_terry_strengths"] = _bradley_terry_sql()


ORACLES["judge_consensus_confusion"] = f"""
WITH {_EVAL_LABELS_CTE},
c AS (SELECT item_id, label, CAST(count(*) AS BIGINT) AS cnt FROM lab GROUP BY 1, 2),
v AS (
  SELECT item_id, label AS consensus
  FROM (SELECT item_id, label, cnt,
               row_number() OVER (PARTITION BY item_id
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c)
  WHERE rn = 1),
cells AS (
  SELECT l.judge_id, v.consensus, l.label, CAST(count(*) AS BIGINT) AS n
  FROM lab l JOIN v USING (item_id)
  GROUP BY 1, 2, 3)
SELECT judge_id, consensus, label, n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY judge_id, consensus), 6) AS frac
FROM cells
"""


# --------------------------------------------------------------------------
# Prefix-cache / turn-novelty family (round 5). The t0/t CTEs mirror
# queries._prompt_grouped_transcripts byte-for-byte: documents-as-transcripts
# with the first 3 turns rewritten to the conv's prompt-bucket canonical
# turns (md5(conv_id) 32-bit head mod 4).
# --------------------------------------------------------------------------

_PREFIXED_T_CTE = r"""t0 AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), t AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx < 3 THEN
           'prompt-' || CAST(('0x' || substr(md5(conv_id), 1, 8))::BIGINT % 4 AS VARCHAR)
           || '-turn-' || CAST(turn_idx AS VARCHAR) || '-' || repeat('seed ', 40)
         ELSE text END AS text
  FROM t0
)"""

ORACLES["prefix_cache_savings"] = (
    "WITH " + _PREFIXED_T_CTE + r""", per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         string_agg(text, chr(31) ORDER BY turn_idx) AS full_text
  FROM t GROUP BY conv_id
), grouped AS (
  SELECT md5(first_text) AS prompt_group,
         CAST(count(*) AS BIGINT) AS n_rollouts,
         min(full_text) AS lo,
         max(full_text) AS hi,
         CAST(sum(length(full_text)) AS BIGINT) AS chars_total
  FROM per_conv GROUP BY 1
), lcp AS (
  SELECT prompt_group, n_rollouts, chars_total,
         CAST(len(list_filter(range(1, least(length(lo), length(hi)) + 1),
              i -> substr(lo, 1, i) = substr(hi, 1, i))) AS BIGINT) AS lcp_chars
  FROM grouped
)
SELECT prompt_group, n_rollouts, lcp_chars, chars_total,
       CAST((n_rollouts - 1) * lcp_chars AS BIGINT) AS chars_saved,
       round((n_rollouts - 1) * lcp_chars / chars_total, 6) AS saved_frac
FROM lcp
"""
)

ORACLES["prefix_trie_profile"] = (
    "WITH " + _PREFIXED_T_CTE + r""", nodes AS (
  SELECT conv_id, CAST(turn_idx + 1 AS INTEGER) AS depth,
         md5(string_agg(md5('user' || '|' || text), '|')
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS node
  FROM t
), per_node AS (
  SELECT depth, node, CAST(count(*) AS BIGINT) AS convs_through
  FROM nodes GROUP BY depth, node
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(convs_through) AS BIGINT) AS n_convs,
       CAST(sum(convs_through - 1) AS BIGINT) AS cache_hits,
       round(sum(convs_through - 1) / sum(convs_through), 6) AS shared_frac
FROM per_node GROUP BY depth
"""
)

ORACLES["turn_novelty_mask"] = (
    "WITH " + _PREFIXED_T_CTE + r"""
SELECT conv_id, turn_idx,
       (row_number() OVER (PARTITION BY md5(trim(text))
                           ORDER BY conv_id, turn_idx) = 1) AS novel,
       CAST(count(*) OVER (PARTITION BY md5(trim(text))) AS BIGINT) AS n_occurrences
FROM t
"""
)


ORACLES["self_consistency_vote"] = r"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), per_conv AS (
  SELECT conv_id,
         min_by(text, turn_idx) AS first_text,
         max_by(text, turn_idx) AS last_text
  FROM t GROUP BY conv_id
), answers AS (
  SELECT CAST(('0x' || substr(md5(first_text), 1, 8))::BIGINT % 4 AS INTEGER) AS prompt_group,
         'ans_' || CAST(('0x' || substr(md5(last_text), 1, 8))::BIGINT % 3 AS VARCHAR) AS answer
  FROM per_conv
), votes AS (
  SELECT prompt_group, answer, CAST(count(*) AS BIGINT) AS v
  FROM answers GROUP BY 1, 2
), ranked AS (
  SELECT prompt_group, answer, v,
         row_number() OVER (PARTITION BY prompt_group
                            ORDER BY v DESC, answer ASC) AS rn
  FROM votes
), g AS (
  SELECT prompt_group,
         CAST(sum(v) AS BIGINT) AS n_rollouts,
         CAST(count(*) AS BIGINT) AS n_answers,
         sum(v * ln(v)) AS sum_vlnv
  FROM votes GROUP BY 1
)
SELECT g.prompt_group, g.n_rollouts, g.n_answers,
       r.answer AS consensus_answer,
       r.v AS consensus_count,
       round(r.v / CAST(g.n_rollouts AS DOUBLE), 6) AS consensus_frac,
       round(ln(CAST(g.n_rollouts AS DOUBLE)) - g.sum_vlnv / g.n_rollouts, 6) AS vote_entropy
FROM g JOIN ranked r ON g.prompt_group = r.prompt_group AND r.rn = 1
"""


def _context_budget_audit_sql() -> str:
    """Generated from params.CTX_BUDGETS_ADAPTER — the same constant the
    adapter passes to the Spark plan (the shared-depth convention of
    _dawid_skene_sql); production uses the CTX_BUDGETS 2k-128k ladder."""
    from ocr_spark import params

    budgets = params.CTX_BUDGETS_ADAPTER
    conv_cols = ",\n         ".join(
        f"sum(CASE WHEN c <= {b} THEN toks ELSE 0 END) AS kept_{b},\n"
        f"         sum(CASE WHEN c > {b} THEN 1 ELSE 0 END) AS lost_{b}"
        for b in budgets
    )
    g_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN conv_tokens > {b} THEN 1 ELSE 0 END) AS BIGINT) AS over_{b},\n"
        f"         CAST(sum(kept_{b}) AS BIGINT) AS gkept_{b},\n"
        f"         CAST(sum(lost_{b}) AS BIGINT) AS glost_{b}"
        for b in budgets
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({b} AS INTEGER) AS budget, n_convs, over_{b} AS n_convs_over,\n"
        f"       round(over_{b} / CAST(n_convs AS DOUBLE), 6) AS frac_over,\n"
        f"       tokens_total, gkept_{b} AS tokens_kept, glost_{b} AS turns_lost\n"
        "FROM g"
        for b in budgets
    )
    return f"""
WITH t AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents
), tok AS (
  SELECT conv_id, turn_idx,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS toks
  FROM t
), cum AS (
  SELECT conv_id, toks,
         sum(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM tok
), conv AS (
  SELECT conv_id, sum(toks) AS conv_tokens,
         {conv_cols}
  FROM cum GROUP BY conv_id
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_convs,
         CAST(sum(conv_tokens) AS BIGINT) AS tokens_total,
         {g_cols}
  FROM conv
)
{rows}
"""


ORACLES["context_budget_audit"] = _context_budget_audit_sql()


ORACLES["turn_novelty_incremental"] = r"""
WITH b0 AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents WHERE doc_id % 10 = 0
), batch AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx < 3 THEN
           'prompt-' || CAST(('0x' || substr(md5(conv_id), 1, 8))::BIGINT % 4 AS VARCHAR)
           || '-turn-' || CAST(turn_idx AS VARCHAR) || '-' || repeat('seed ', 40)
         WHEN turn_idx = 3 THEN 'batch-extra-turn'
         ELSE text END AS text
  FROM b0
), c0 AS (
  SELECT source AS conv_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INTEGER) AS turn_idx,
         text
  FROM documents WHERE doc_id % 10 != 0
), corpus AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx < 3 THEN
           'prompt-' || CAST(('0x' || substr(md5(conv_id), 1, 8))::BIGINT % 4 AS VARCHAR)
           || '-turn-' || CAST(turn_idx AS VARCHAR) || '-' || repeat('seed ', 40)
         ELSE text END AS text
  FROM c0
), corpus_h AS (
  SELECT DISTINCT md5(trim(text)) AS turn_h FROM corpus
), flagged AS (
  SELECT conv_id, turn_idx, md5(trim(text)) AS turn_h,
         (row_number() OVER (PARTITION BY md5(trim(text))
                             ORDER BY conv_id, turn_idx) = 1) AS first_in_batch
  FROM batch
)
SELECT f.conv_id, f.turn_idx,
       (f.first_in_batch AND c.turn_h IS NULL) AS novel,
       (c.turn_h IS NOT NULL) AS seen_in_corpus
FROM flagged f LEFT JOIN corpus_h c ON f.turn_h = c.turn_h
"""


# Independent algorithm cross-check: the Spark side resolves the forest
# bottom-up by pointer doubling; this oracle walks top-down from the
# roots with a recursive CTE (BFS). A hash match proves the O(log d)
# doubling loop computes exactly the transitive root/depth closure.
_MSG_FOREST_CTES = r"""
base AS (
  SELECT source AS conv_id, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS pos
  FROM documents
), msgs AS (
  SELECT b.doc_id AS msg_id, p.doc_id AS parent_id
  FROM base b LEFT JOIN base p
    ON p.conv_id = b.conv_id AND b.pos > 0
   AND p.pos = CAST(floor((b.pos - 1) / 2) AS BIGINT)
), walk AS (
  SELECT msg_id, msg_id AS root_id, 0 AS depth FROM msgs WHERE parent_id IS NULL
  UNION ALL
  SELECT m.msg_id, w.root_id, w.depth + 1
  FROM msgs m JOIN walk w ON m.parent_id = w.msg_id
)"""

ORACLES["trace_tree_paths"] = (
    "WITH RECURSIVE " + _MSG_FOREST_CTES + r"""
SELECT msg_id, root_id, CAST(depth AS INTEGER) AS depth FROM walk
"""
)

ORACLES["trace_branch_stats"] = (
    "WITH RECURSIVE " + _MSG_FOREST_CTES + r"""
SELECT w.root_id,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(sum(CASE WHEN pr.msg_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaves,
       CAST(max(w.depth) AS INTEGER) AS max_depth
FROM walk w
LEFT JOIN (
  SELECT DISTINCT parent_id AS msg_id FROM msgs WHERE parent_id IS NOT NULL
) pr ON w.msg_id = pr.msg_id
GROUP BY w.root_id
"""
)

# Oracle-side twin of queries._tool_payload_calls — change them together.
def _tool_parsed_cte(with_legacy: bool = False) -> str:
    legacy = (
        """
         || CASE WHEN ('0x' || substr(md5(text), 17, 3))::BIGINT % 28 < 14
                 THEN ',"legacy":0' ELSE '' END"""
        if with_legacy
        else ""
    )
    return (
        r"""t AS (
  SELECT text,
         ['user', 'assistant', 'tool'][CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 3 AS INTEGER) + 1] AS role
  FROM documents
), parsed AS (
  SELECT 'tool_' || CAST(('0x' || substr(md5(text), 9, 4))::BIGINT % 4 AS VARCHAR) AS tool_name,
         CAST(('0x' || substr(md5(text), 17, 3))::BIGINT % 28 AS INTEGER) AS day,
         '{"q":1'
         || CASE WHEN ('0x' || substr(md5(text), 13, 2))::BIGINT % 2 = 0
                 THEN ',"k":2' ELSE '' END
         || CASE WHEN ('0x' || substr(md5(text), 15, 2))::BIGINT % 3 = 0
                 THEN ',"filters":"f"' ELSE '' END
         || CASE WHEN ('0x' || substr(md5(text), 17, 3))::BIGINT % 28 >= 14
                 THEN ',"page":3' ELSE '' END"""
        + legacy
        + r"""
         || '}' AS args_json
  FROM t WHERE role = 'tool'
)"""
    )


ORACLES["tool_arg_schema_drift"] = "WITH " + _tool_parsed_cte() + r""", keys AS (
  SELECT tool_name, day, unnest(json_keys(args_json)) AS arg_key FROM parsed
), totals AS (
  SELECT tool_name, count(*) AS tool_calls FROM parsed GROUP BY tool_name
), cells AS (
  SELECT tool_name, arg_key,
         CAST(count(*) AS BIGINT) AS n_calls,
         CAST(min(day) AS INTEGER) AS first_day,
         CAST(max(day) AS INTEGER) AS last_day
  FROM keys GROUP BY tool_name, arg_key
)
SELECT c.tool_name, c.arg_key, c.n_calls,
       round(c.n_calls / t.tool_calls, 6) AS call_share,
       c.first_day, c.last_day
FROM cells c JOIN totals t ON c.tool_name = t.tool_name
"""


ORACLES["thread_linearize"] = r"""
WITH RECURSIVE base AS (
  SELECT source AS conv_id, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS pos
  FROM documents
), msgs AS (
  SELECT b.doc_id AS msg_id, p.doc_id AS parent_id
  FROM base b LEFT JOIN base p
    ON p.conv_id = b.conv_id AND b.pos > 0
   AND p.pos = CAST(floor((b.pos - 1) / 2) AS BIGINT)
), leaves AS (
  SELECT msg_id FROM msgs
  WHERE msg_id NOT IN (SELECT parent_id FROM msgs WHERE parent_id IS NOT NULL)
), climb AS (
  SELECT l.msg_id AS thread_id, l.msg_id AS cur, 0 AS up FROM leaves l
  UNION ALL
  SELECT c.thread_id, m.parent_id, c.up + 1
  FROM climb c JOIN msgs m ON c.cur = m.msg_id
  WHERE m.parent_id IS NOT NULL
)
SELECT thread_id,
       CAST(max(up) OVER (PARTITION BY thread_id) - up AS INTEGER) AS seq,
       cur AS msg_id
FROM climb
"""


ORACLES["forest_validation"] = r"""
WITH base AS (
  SELECT source AS conv_id, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS pos
  FROM documents
), msgs0 AS (
  SELECT b.doc_id AS msg_id, p.doc_id AS parent_id
  FROM base b LEFT JOIN base p
    ON p.conv_id = b.conv_id AND b.pos > 0
   AND p.pos = CAST(floor((b.pos - 1) / 2) AS BIGINT)
), corrupted0 AS (
  SELECT msg_id,
         CASE WHEN msg_id % 101 = 0 THEN msg_id + 1
              WHEN msg_id % 101 = 1 THEN msg_id - 1
              WHEN msg_id % 97 = 0 THEN msg_id
              WHEN msg_id % 89 = 0 THEN msg_id + 1000000000
              ELSE parent_id END AS parent_id
  FROM msgs0
), corrupted AS (
  SELECT * FROM corrupted0
  UNION ALL
  SELECT * FROM corrupted0 WHERE msg_id % 83 = 0
), dups AS (
  SELECT msg_id, 'dup_msg_id' AS issue FROM corrupted
  GROUP BY msg_id HAVING count(*) > 1
), self_p AS (
  SELECT DISTINCT msg_id, 'self_parent' AS issue FROM corrupted
  WHERE parent_id = msg_id
), cycles AS (
  SELECT DISTINCT c1.msg_id, 'cycle_parent' AS issue
  FROM corrupted c1 JOIN corrupted c2
    ON c1.parent_id = c2.msg_id AND c2.parent_id = c1.msg_id
  WHERE c1.msg_id <> c1.parent_id
), orphans AS (
  SELECT DISTINCT c.msg_id, 'orphan_parent' AS issue
  FROM corrupted c
  WHERE c.parent_id IS NOT NULL
    AND c.parent_id NOT IN (SELECT msg_id FROM corrupted)
)
SELECT msg_id, issue FROM dups
UNION ALL SELECT msg_id, issue FROM self_p
UNION ALL SELECT msg_id, issue FROM cycles
UNION ALL SELECT msg_id, issue FROM orphans
"""


ORACLES["forest_resolve_incremental"] = (
    "WITH RECURSIVE " + _MSG_FOREST_CTES + r"""
SELECT msg_id, root_id, CAST(depth AS INTEGER) AS depth FROM walk
WHERE msg_id % 7 = 0
"""
)


ORACLES["watermark_lateness"] = r"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(epoch(ts)) AS BIGINT)
         + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 3600 AS arrival
  FROM events
), late AS (
  SELECT event_type,
         greatest(0, max(t) OVER (PARTITION BY event_type
                                  ORDER BY arrival, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) AS late_s
  FROM base
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(quantile_cont(late_s, 0.5), 4) AS p50_late_s,
       round(quantile_cont(late_s, 0.95), 4) AS p95_late_s,
       round(quantile_cont(late_s, 0.99), 4) AS p99_late_s,
       CAST(max(late_s) AS BIGINT) AS max_late_s,
       round(avg(CASE WHEN late_s > 1800 THEN 1.0 ELSE 0.0 END), 6) AS frac_dropped_at_30m
FROM late GROUP BY event_type
"""


ORACLES["tool_schema_diff"] = "WITH " + _tool_parsed_cte(with_legacy=True) + r""", keys AS (
  SELECT tool_name, day, unnest(json_keys(args_json)) AS arg_key FROM parsed
), eras AS (
  SELECT tool_name, arg_key, (day < 14) AS is_old, count(*) AS n
  FROM keys GROUP BY 1, 2, 3
), totals AS (
  SELECT tool_name, (day < 14) AS is_old, count(*) AS tool_calls
  FROM parsed GROUP BY 1, 2
), shares AS (
  SELECT e.tool_name, e.arg_key, e.is_old,
         round(e.n / t.tool_calls, 6) AS share
  FROM eras e JOIN totals t
    ON e.tool_name = t.tool_name AND e.is_old = t.is_old
), old_s AS (
  SELECT tool_name, arg_key, share AS old_share FROM shares WHERE is_old
), new_s AS (
  SELECT tool_name, arg_key, share AS new_share FROM shares WHERE NOT is_old
)
SELECT coalesce(o.tool_name, n.tool_name) AS tool_name,
       coalesce(o.arg_key, n.arg_key) AS arg_key,
       o.old_share, n.new_share,
       CASE WHEN o.old_share IS NULL THEN 'added'
            WHEN n.new_share IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM old_s o FULL OUTER JOIN new_s n
  ON o.tool_name = n.tool_name AND o.arg_key = n.arg_key
"""
