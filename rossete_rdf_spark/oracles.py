"""DuckDB oracle SQL for every driver-contract query.

Each string must be value-identical to its Spark twin: same column names,
same types (BIGINT for counts, DOUBLE rounded in-query for float aggregates),
same tokenization/hashing (md5 only), same tie-breaks. Views available:
region nation customer supplier part orders lineitem events documents
embeddings."""

from __future__ import annotations

from .graph.analytics import (
    BFS_HOPS,
    BFS_LANDMARKS,
    KNN_K,
    LP_ITERS,
    LP_KNN_K,
    PAGERANK_DAMPING,
    PAGERANK_ITERS,
)
from .kgops import (
    DELTA_DROP_BELOW,
    DELTA_OLD_BELOW,
    DELTA_SEED,
    DOC_NS,
    ENTITY_NS,
    MIN_ENTITY_DOCS,
    MIN_MENTION_LEN,
    ONTO,
)
from .kgops import UNBOUND as KG_UNBOUND
from .kgops import CONSTRUCT_MIN_DOCS as KG_CONSTRUCT_MIN_DOCS
from .pipeline.pagedup import NEAR_DUP_JACCARD as PAGE_NEAR_DUP_JACCARD
from .relops import FUNNEL_WINDOW_HOURS, HIST_BINS, HIST_WIDTH_CENTS, RANGE_SLOTS
from .relops import Z_THRESHOLD as REL_Z_THRESHOLD
from .textops.ann import (
    BLOCKED_TOP_K,
    BUCKET_DIMS,
    EMB_NEARDUP_THRESHOLD,
    IVF_NPROBE,
    KMEANS_ITERS,
    N_CENTROIDS,
    N_QUERIES,
    TOP_K,
)
from .textops.common import sql_ngrams, sql_pos_grams, sql_words
from .textops.webclean import EMAIL_RE, PHONE_RE, TRACKING_PARAM_RE
from .textops.lsh import BAND_ROWS, N_HASHES
from .textops.lsh import MAX_BUCKET as MINHASH_MAX_BUCKET
from .textops.lsh import MAX_BUCKET as PAGE_MAX_BUCKET
from .textops.lsh import MIN_BANDS as PAGE_MIN_BANDS
from .textops.dedup import (
    DECON_NGRAM,
    INCREMENTAL_BATCH_BUCKET,
    NGRAM_JACCARD_MIN,
    NGRAM_MAX_DF,
    SHINGLE_N,
    SIMHASH_BITS,
    SPAN_POS_PACK,
    SPAN_WORDS,
)
from .textops.quality import (
    _WINNOW_SEED,
    CLEAN_MAX_DUP_WORD,
    CLEAN_MIN_SCORE,
    SAMPLE_RATES,
    SAMPLE_SEED,
    SPLIT_BOUNDS,
    SPLIT_SEED,
    LANG_MARKERS,
    LANG_ORDER,
    LENGTH_P_HI,
    LENGTH_P_LO,
    TFIDF_TOP_K,
    TOKEN_RE,
    WINNOW_K,
    WINNOW_W,
)
from .rml.terms import RDF_TYPE, XSD_INTEGER, XSD_STRING

_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
_WORDS = sql_words("text")
_NGRAMS = sql_ngrams(_WORDS, SHINGLE_N)

# --- textops -----------------------------------------------------------------

ORACLES: dict[str, str] = {}

ORACLES["exact_dedup"] = f"""
SELECT {_FP} AS fingerprint, min(doc_id) AS canonical_id, count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1
"""

ORACLES["doc_fingerprint"] = f"""
SELECT doc_id, {_FP} AS fingerprint FROM documents
"""

# winnowing: positional k-gram hash sequence, min per w-window, distinct.
# Mirrors textops/quality.py winnow_fingerprints exactly (same k-gram join,
# same seeded md5-prefix hash, same 1-based window starts).
_WGRAM = " || ' ' || ".join(f"({_WORDS})[i+{j}]" for j in range(WINNOW_K))
_WHASHES = (
    f"[('0x' || substr(md5('{_WINNOW_SEED}|' || ({_WGRAM})), 1, 15))::BIGINT "
    f"for i in range(1, len({_WORDS}) - {WINNOW_K - 2})]"
)
ORACLES["doc_winnow_fingerprint"] = f"""
WITH h AS (SELECT doc_id, {_WHASHES} AS hs FROM documents),
sel AS (SELECT doc_id,
               unnest([list_min(hs[i:i+{WINNOW_W - 1}])
                       for i in range(1, len(hs) - {WINNOW_W - 2})]) AS fp
        FROM h)
SELECT DISTINCT doc_id, fp FROM sel
"""

ORACLES["ngram_jaccard_pairs"] = f"""
WITH g0 AS (SELECT doc_id, unnest({_NGRAMS}) AS ng FROM documents),
g AS (SELECT doc_id, ng FROM
        (SELECT doc_id, ng, count(*) OVER (PARTITION BY ng) AS df FROM g0)
      WHERE df <= {NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / (sa.n + sb.n - inter) >= {NGRAM_JACCARD_MIN}
"""

_minhash_cols = ", ".join(
    f"min(('0x' || substr(md5('{i}|' || ng), 1, 15))::BIGINT) AS h{i}"
    for i in range(N_HASHES)
)


def _band_select_sql(id_col: str, table: str) -> str:
    """Band key = md5 of the '|'-joined band rows, with the row list
    generated from range(BAND_ROWS) exactly like the Spark side's concat_ws
    (textops/dedup.py minhash_lsh_pairs) — so a change to N_HASHES or
    BAND_ROWS cannot silently diverge the oracle's key from the engine's."""
    return " UNION ALL ".join(
        "SELECT {id}, {b} AS band, md5({cols}) AS key FROM {t}".format(
            id=id_col,
            b=b,
            t=table,
            cols=" || '|' || ".join(
                f"h{b * BAND_ROWS + r}::VARCHAR" for r in range(BAND_ROWS)
            ),
        )
        for b in range(N_HASHES // BAND_ROWS)
    )


_band_selects = _band_select_sql("doc_id", "sig")
ORACLES["minhash_lsh_pairs"] = f"""
WITH g AS (SELECT doc_id, unnest({_NGRAMS}) AS ng FROM documents),
sig AS (SELECT doc_id, {_minhash_cols} FROM g GROUP BY 1),
bands0 AS ({_band_selects}),
bands AS (SELECT doc_id, band, key FROM
            (SELECT *, count(*) OVER (PARTITION BY band, key) AS bn FROM bands0)
          WHERE bn <= {MINHASH_MAX_BUCKET})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

_sim_sums = ", ".join(
    "sum(CASE WHEN substr(h, %d, 1) IN ('8','9','a','b','c','d','e','f') "
    "THEN 1 ELSE -1 END) AS s%d" % (j + 1, j)
    for j in range(SIMHASH_BITS)
)
_sim_bits = " || ".join(
    f"(CASE WHEN s{j} > 0 THEN '1' ELSE '0' END)" for j in range(SIMHASH_BITS)
)
ORACLES["simhash"] = f"""
WITH t AS (SELECT doc_id, md5(unnest({_WORDS})) AS h FROM documents),
s AS (SELECT doc_id, {_sim_sums} FROM t GROUP BY 1)
SELECT doc_id, {_sim_bits} AS simhash FROM s
"""

# deterministic split: same md5-prefix hash arithmetic as the Spark side;
# the 60-bit value is positive, so % == pmod
ORACLES["doc_train_test_split"] = f"""
WITH h AS (SELECT doc_id,
                  ('0x' || substr(md5('{SPLIT_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
           FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < {SPLIT_BOUNDS[0]} THEN 'train'
            WHEN bucket < {SPLIT_BOUNDS[1]} THEN 'val'
            ELSE 'test' END AS split
FROM h
"""

def _marker_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


_EN_MARKERS = _marker_sql("en") + "::BIGINT"
_SAMPLE_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
)
ORACLES["doc_stratified_sample"] = f"""
WITH b AS (SELECT doc_id, lang,
                  ('0x' || substr(md5('{SAMPLE_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
           FROM documents)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang {_SAMPLE_CASE} ELSE 100 END
"""

# every float is a ratio of integer sums -> bitwise identical across engines
ORACLES["doc_source_stats"] = f"""
WITH per_row AS (
  SELECT source, lang,
         len({_WORDS})::BIGINT AS toks,
         {_EN_MARKERS} AS stops,
         length(text)::BIGINT AS chars
  FROM documents
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(toks)::BIGINT AS n_tokens,
       count(DISTINCT lang)::BIGINT AS n_langs,
       round(CASE WHEN sum(toks) > 0
                  THEN sum(stops)::DOUBLE / sum(toks) ELSE 0.0 END, 6)
         AS stop_ratio,
       round(CASE WHEN sum(toks) > 0
                  THEN sum(chars)::DOUBLE / sum(toks) ELSE 0.0 END, 6)
         AS chars_per_token
FROM per_row GROUP BY source
"""

# TF-IDF top terms: identical tokenization (lowercased whitespace words),
# identical smoothing, and — load-bearing — the ORDER BY uses the 6-dp-ROUNDED
# score exactly like the Spark window, so a last-ulp ln() difference between
# libm implementations cannot flip a rank
_LWORDS = sql_words("lower(text)")
ORACLES["doc_tfidf_top_terms"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_LWORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS cnt FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, sum(cnt) AS len FROM tf GROUP BY 1
), dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*)::DOUBLE AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round((tf.cnt / dl.len) * ln((n.n + 1) / (dfreq.df + 1)), 6) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""

# Gopher-style repetition signals. The Spark side is a zero-shuffle per-row
# fold over SORTED positional gram arrays; the oracle deliberately takes the
# exploded GROUP BY route — two independent computations of the same counts.
ORACLES["doc_repetition_score"] = f"""
WITH g AS (
  SELECT doc_id, {_WORDS} AS ws,
         {sql_pos_grams(_WORDS, 2)} AS bg,
         {sql_pos_grams(_WORDS, 3)} AS tg
  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
), bgc AS (
  SELECT doc_id, x, count(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS x FROM g) GROUP BY 1, 2
), bga AS (
  SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM bgc GROUP BY 1
), tgc AS (
  SELECT doc_id, x, count(*) AS c
  FROM (SELECT doc_id, unnest(tg) AS x FROM g) GROUP BY 1, 2
), tga AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc,
         sum(c) AS tot
  FROM tgc GROUP BY 1
)
SELECT g.doc_id,
       len(ws)::BIGINT AS n_words,
       round(CASE WHEN len(ws) > 0
                  THEN 1.0 - len(list_distinct(ws))::DOUBLE / len(ws)
                  ELSE 0.0 END, 6) AS dup_word_frac,
       round(coalesce(bga.topc::DOUBLE / bga.tot, 0.0), 6) AS top_bigram_frac,
       round(coalesce(tga.dupc::DOUBLE / tga.tot, 0.0), 6) AS dup_trigram_frac
FROM g LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)
"""

ORACLES["token_count"] = f"""
SELECT doc_id,
       len({_WORDS})::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_RE}'))::BIGINT AS n_bpe_tokens,
       length(text)::BIGINT AS n_chars
FROM documents
"""


_counts = ", ".join(f"{_marker_sql(lang)} AS c_{lang}" for lang in LANG_ORDER)
_best = "greatest(" + ", ".join(f"c_{lang}" for lang in LANG_ORDER) + ")"
_case = " ".join(
    f"WHEN c_{lang} = {_best} THEN '{lang}'" for lang in LANG_ORDER
)
ORACLES["lang_id"] = f"""
WITH c AS (SELECT doc_id, {_counts} FROM documents)
SELECT doc_id,
       CASE WHEN {_best} = 0 THEN 'und' {_case} ELSE 'und' END AS pred_lang
FROM c
"""

ORACLES["quality_score"] = f"""
WITH c AS (
  SELECT doc_id,
         len({_WORDS}) AS n_tok,
         {_marker_sql("en")} AS n_stop,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(text) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         least(n_tok / 100.0, 1.0) AS len_score
  FROM c)
SELECT doc_id, n_tok::BIGINT AS n_tokens,
       round(stop_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score, 6) AS score
FROM r
"""

# composed corpus cleaning: exact-dedup canonical (window-min over the
# normalized fingerprint) ∩ quality score ∩ dup-word repetition ∩ stratified
# sample — each fragment is the SAME SQL the standalone oracle uses, mirroring
# the Spark side's shared expression helpers
_CWORDS = sql_words("coalesce(text, '')")
ORACLES["doc_clean_corpus"] = f"""
WITH m AS (
  SELECT doc_id, lang,
         {_FP} AS fp,
         len({_WORDS}) AS n_tok,
         {_marker_sql("en")} AS n_stop,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(text) AS n_chars,
         {_counts},
         len({_CWORDS}) AS cn,
         len(list_distinct({_CWORDS})) AS cnd,
         ('0x' || substr(md5('{SAMPLE_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
  FROM documents
), r AS (
  SELECT doc_id, lang, bucket, n_tok,
         CASE WHEN {_best} = 0 THEN 'und' {_case} ELSE 'und' END AS pred_lang,
         round(0.4 * (CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END)
             + 0.4 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
             + 0.2 * least(n_tok / 100.0, 1.0), 6) AS score,
         round(CASE WHEN cn > 0 THEN 1.0 - cnd::DOUBLE / cn ELSE 0.0 END, 6)
           AS dup_word_frac,
         min(doc_id) OVER (PARTITION BY fp) AS canon
  FROM m
)
SELECT doc_id, pred_lang, n_tok::BIGINT AS n_tokens, score, dup_word_frac
FROM r
WHERE doc_id = canon
  AND score >= {CLEAN_MIN_SCORE}
  AND dup_word_frac <= {CLEAN_MAX_DUP_WORD}
  AND bucket < CASE lang {_SAMPLE_CASE} ELSE 100 END
"""

# per-domain quota: the salt/slice composition is an implementation detail
# — the oracle is the plain per-source row_number over the same
# content-stable (md5 of text|doc_id) selection key
from .textops.quality import DOMAIN_QUOTA_K, GLOBAL_SAMPLE_K  # noqa: E402

# SQL twin of textops.quality.content_key (NULL text coalesced to '' for
# identical cross-engine ordering of every row)
_CONTENT_KEY = (
    "('0x' || substr(md5(coalesce(text, '') || '|' || doc_id::VARCHAR),"
    " 1, 15))::BIGINT"
)

ORACLES["doc_domain_quota"] = f"""
WITH q AS (
  SELECT doc_id, source, {_CONTENT_KEY} AS qk
  FROM documents),
r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY qk) AS rk
      FROM q)
SELECT doc_id, source, rk::BIGINT AS rk FROM r WHERE rk <= {DOMAIN_QUOTA_K}
"""

# exact-k global sample: TakeOrderedAndProject is an execution shape —
# the oracle is the plain ORDER BY hash LIMIT k with a global rank
ORACLES["doc_global_sample"] = f"""
WITH q AS (
  SELECT doc_id, source, {_CONTENT_KEY} AS qk
  FROM documents)
SELECT doc_id, source,
       (row_number() OVER (ORDER BY qk))::BIGINT AS sample_rank
FROM (SELECT * FROM q ORDER BY qk LIMIT {GLOBAL_SAMPLE_K})
"""

# dense vocabulary ids: order preservation makes the distributed
# range-partition/offset/rank machinery equal to a plain global row_number
# over the distinct token set — which IS the oracle
ORACLES["vocab_dense_ids"] = f"""
SELECT tok AS token,
       (row_number() OVER (ORDER BY tok) - 1)::BIGINT AS token_id
FROM (SELECT DISTINCT unnest({_WORDS}) AS tok FROM documents)
"""

# CCNet-style unigram log-probability quality score: same lowercased
# tokenization as tfidf; the per-doc reduction is the kmeans-proven
# term-sorted fold (list(... ORDER BY term) + list_reduce == Spark
# array_sort(collect_list) + aggregate(0.0, +)); contribution written
# cnt::DOUBLE * ln(tc::DOUBLE / t::DOUBLE) — the exact operator shape of the
# Spark side — and the final 6-dp round absorbs cross-libm ln() ulp.
ORACLES["doc_unigram_logprob"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_LWORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS cnt FROM toks GROUP BY 1, 2
), tmc AS (
  SELECT term, sum(cnt)::BIGINT AS tc FROM tf GROUP BY 1
), tot AS (
  SELECT sum(cnt)::BIGINT AS t FROM tf
), c AS (
  SELECT tf.doc_id, tf.term, tf.cnt,
         tf.cnt::DOUBLE * ln(tmc.tc::DOUBLE / tot.t::DOUBLE) AS c
  FROM tf JOIN tmc USING (term) CROSS JOIN tot
), g AS (
  SELECT doc_id,
         list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS s,
         sum(cnt)::BIGINT AS toks
  FROM c GROUP BY 1
)
SELECT doc_id, toks, round(s / toks, 6) AS mean_logprob FROM g
"""

# C4-style duplicated-span removal: non-overlapping SPAN_WORDS-word blocks
# (1-based inclusive DuckDB list slices == Spark's slice(start, length) with
# tail truncation), corpus-wide occurrence stats, first occurrence kept via
# the same doc_id * SPAN_POS_PACK + pos packed argmin, docs reassembled with
# string_agg(block ORDER BY pos) == Spark's pos-sorted fold. Positions are
# 0-based on both sides (posexplode / range(0, len)).
ORACLES["doc_span_dedup"] = f"""
WITH base AS (
  SELECT doc_id, {_CWORDS} AS w FROM documents
), bl AS (
  SELECT doc_id,
         [array_to_string(w[(i - 1) * {SPAN_WORDS} + 1 :
                            least(i * {SPAN_WORDS}, len(w))], ' ')
          for i in range(1, (len(w) + {SPAN_WORDS - 1}) // {SPAN_WORDS} + 1)]
           AS blocks
  FROM base
), sp AS (
  SELECT doc_id, unnest(blocks) AS block,
         unnest(range(0, len(blocks))) AS pos
  FROM bl
), st AS (
  SELECT block, count(*)::BIGINT AS cnt,
         min(doc_id * {SPAN_POS_PACK} + pos) AS fk
  FROM sp GROUP BY 1
), keep AS (
  SELECT sp.doc_id, sp.pos, sp.block
  FROM sp JOIN st USING (block)
  WHERE st.cnt = 1 OR sp.doc_id * {SPAN_POS_PACK} + sp.pos = st.fk
), agg AS (
  SELECT doc_id, string_agg(block, ' ' ORDER BY pos) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM keep GROUP BY 1
)
SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
       (len(b.blocks) - coalesce(a.n_kept, 0))::BIGINT AS n_spans_dropped
FROM bl b LEFT JOIN agg a USING (doc_id)
"""

# --- ANN ----------------------------------------------------------------------

_DOT = (
    "list_reduce([qv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, len(qv)+1)],"
    " (a, b) -> a + b)"
)
_QNORM = (
    "sqrt(list_reduce([qv[i]::DOUBLE * qv[i]::DOUBLE for i in range(1, len(qv)+1)],"
    " (a, b) -> a + b))"
)
_CNORM = (
    "sqrt(list_reduce([cv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, len(cv)+1)],"
    " (a, b) -> a + b))"
)
_COS = f"round({_DOT} / ({_QNORM} * {_CNORM}), 6)"

ORACLES["ann_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM q, c WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
  FROM scored)
SELECT query_id, cand_id, sim, rk::BIGINT AS rk FROM ranked WHERE rk <= {TOP_K}
"""

_BUCKET = " || ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(BUCKET_DIMS)
)
ORACLES["ann_lsh_bucket_topk"] = f"""
WITH e AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS cv, bucket FROM e),
scored AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM q JOIN c USING (bucket) WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
  FROM scored)
SELECT query_id, cand_id, sim, rk::BIGINT AS rk FROM ranked WHERE rk <= {BLOCKED_TOP_K}
"""

# --- KG ops -------------------------------------------------------------------

_MENTIONS = f"""
SELECT doc_id, mention, count(*)::BIGINT AS n_occurrences
FROM (SELECT doc_id, unnest({_WORDS}) AS mention FROM documents)
WHERE length(mention) >= {MIN_MENTION_LEN}
GROUP BY 1, 2
"""

ORACLES["kg_mentions"] = _MENTIONS

ORACLES["kg_entity_link"] = f"""
WITH m AS ({_MENTIONS}),
d AS (SELECT mention AS entity FROM m GROUP BY 1
      HAVING count(DISTINCT doc_id) >= {MIN_ENTITY_DOCS})
SELECT m.doc_id, m.mention, '{ENTITY_NS}' || m.mention AS entity_iri, m.n_occurrences
FROM m JOIN d ON m.mention = d.entity
"""

def _triples_ctes(tag: str, where: str = "TRUE") -> str:
    """CTE chain defining t_{tag} = the kg_doc_triples relation over
    `documents` rows satisfying `where` — the single SQL twin of
    kgops.doc_triples_from, shared by every triple-consuming oracle
    (kg_doc_triples, kg_predicate_stats, kg_bgp_entity_lang,
    kg_triples_delta) so the materialisation can't silently diverge
    between them."""
    return f"""
src_{tag} AS (SELECT * FROM documents WHERE {where}),
m_{tag} AS (
  SELECT doc_id, mention, count(*)::BIGINT AS n_occurrences
  FROM (SELECT doc_id, unnest({_WORDS}) AS mention FROM src_{tag})
  WHERE length(mention) >= {MIN_MENTION_LEN}
  GROUP BY 1, 2),
d_{tag} AS (SELECT mention AS entity FROM m_{tag} GROUP BY 1
      HAVING count(DISTINCT doc_id) >= {MIN_ENTITY_DOCS}),
s_{tag} AS (SELECT *, '<{DOC_NS}' || doc_id::VARCHAR || '>' AS subj FROM src_{tag}),
t_{tag} AS (
  SELECT subj, '{RDF_TYPE}' AS pred, '<{ONTO}Document>' AS obj FROM s_{tag}
  UNION ALL
  SELECT subj, '<{ONTO}lang>', '"' || lang || '"^^{XSD_STRING}' FROM s_{tag}
  UNION ALL
  SELECT subj, '<{ONTO}nChars>', '"' || n_chars::VARCHAR || '"^^{XSD_INTEGER}' FROM s_{tag}
  UNION ALL
  SELECT subj, '<{ONTO}source>', '<http://kg.example.com/source/' || source || '>' FROM s_{tag}
  UNION ALL
  SELECT DISTINCT '<{DOC_NS}' || m_{tag}.doc_id::VARCHAR || '>',
         '<{ONTO}mentions>', '<{ENTITY_NS}' || m_{tag}.mention || '>'
  FROM m_{tag} JOIN d_{tag} ON m_{tag}.mention = d_{tag}.entity)
"""


ORACLES["kg_doc_triples"] = f"""
WITH {_triples_ctes("a")}
SELECT subj, pred, obj FROM t_a
"""

ORACLES["kg_predicate_stats"] = f"""
WITH {_triples_ctes("a")}
SELECT pred, count(*)::BIGINT AS n_triples,
       count(DISTINCT subj)::BIGINT AS n_subjects,
       count(DISTINCT obj)::BIGINT AS n_objects
FROM t_a GROUP BY 1
"""

ORACLES["kg_bgp_entity_lang"] = f"""
WITH {_triples_ctes("a")}
SELECT m.obj AS entity, l.obj AS lang, count(*)::BIGINT AS n_docs
FROM t_a m JOIN t_a l ON m.subj = l.subj
WHERE m.pred = '<{ONTO}mentions>' AND l.pred = '<{ONTO}lang>'
GROUP BY 1, 2
"""

_DELTA_BUCKET = (
    f"('0x' || substr(md5('{DELTA_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100"
)

ORACLES["kg_triples_delta"] = f"""
WITH {_triples_ctes("old", f"{_DELTA_BUCKET} < {DELTA_OLD_BELOW}")},
{_triples_ctes("new", f"{_DELTA_BUCKET} >= {DELTA_DROP_BELOW}")}
SELECT 'add' AS op, subj, pred, obj
FROM (SELECT subj, pred, obj FROM t_new EXCEPT SELECT subj, pred, obj FROM t_old)
UNION ALL
SELECT 'del' AS op, subj, pred, obj
FROM (SELECT subj, pred, obj FROM t_old EXCEPT SELECT subj, pred, obj FROM t_new)
"""

# --- relational ops -------------------------------------------------------------

ORACLES["rel_first_match_join"] = """
WITH l1 AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem)
SELECT p.p_partkey, p.p_name,
       l.l_orderkey AS first_orderkey,
       l.l_linenumber AS first_linenumber,
       round(l.l_quantity, 2) AS first_quantity
FROM part p JOIN l1 l ON p.p_partkey = l.l_partkey AND l.rn = 1
"""

# runtime bloom-filter join: the filter is a pure pruning optimization, so
# the oracle is the plain selective join + aggregate
ORACLES["rel_runtime_filter_join"] = """
SELECT p_brand, p_size, count(*)::BIGINT AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
GROUP BY 1, 2
"""

_slot_values = ", ".join(
    f"({s}, {e}, '{i}')" for i, (s, e) in enumerate(RANGE_SLOTS)
)

# range join: the oracle is the naive inequality join (fine at oracle
# scale); the Spark side is the bucket-explode equi-join composition.
# floor(epoch(..)) on purpose: epoch() returns fractional seconds and a bare
# ::BIGINT ROUNDS — an event at xx:59:59.8 would cross a slot boundary the
# Spark side's truncating cast("long") does not.
ORACLES["events_range_join"] = f"""
WITH ev AS (SELECT event_id, floor(epoch(ts))::BIGINT AS ts_s FROM events),
days AS (SELECT DISTINCT ts::DATE AS d FROM events),
w AS (SELECT * FROM (VALUES {_slot_values}) AS t(sh, eh, slot)),
iv AS (SELECT strftime(d, '%Y-%m-%d') || '-' || slot AS interval_id,
              epoch(d::TIMESTAMP)::BIGINT + sh * 3600 AS start_s,
              epoch(d::TIMESTAMP)::BIGINT + eh * 3600 AS end_s
       FROM days CROSS JOIN w)
SELECT e.event_id, i.interval_id
FROM ev e JOIN iv i ON e.ts_s >= i.start_s AND e.ts_s < i.end_s
"""

# skew-join demo: the AQE split is a physical-plan optimization only, so the
# oracle is the plain hub-skewed join + aggregate
ORACLES["rel_skew_join_agg"] = """
WITH fact AS (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0 ELSE l_orderkey END AS k,
                     l_quantity
              FROM lineitem),
dim0 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey > 0
         UNION ALL SELECT 0),
dim AS (SELECT k, 'grp' || (k % 3)::VARCHAR AS tag FROM dim0)
SELECT tag, count(*)::BIGINT AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM fact JOIN dim USING (k) GROUP BY 1
"""

# the salt/replication is an implementation detail — the manual-salting twin
# of the AQE demo reproduces the identical plain join + aggregate
ORACLES["rel_salted_join"] = ORACLES["rel_skew_join_agg"]

# bucketing is pure physical layout — the oracle is the plain join
ORACLES["rel_bucketed_join"] = """
SELECT c_mktsegment, o_orderstatus, count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY 1, 2
"""

# as-of join: the oracle pairs each purchase with its most recent prior
# click via an inequality join + row_number — O(|L|x|R|) per key, fine at
# oracle scale; the Spark side is the single-shuffle union-and-carry plan.
# Tie-break at equal ts: greatest click event_id (ORDER BY ts DESC, id DESC).
ORACLES["events_asof_join"] = """
WITH pur AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
clk AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT pur.user_id, pur.event_id AS purchase_id,
         strftime(pur.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         round(pur.value, 2) AS purchase_value,
         clk.event_id AS click_id,
         strftime(clk.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
         row_number() OVER (PARTITION BY pur.event_id
                            ORDER BY clk.ts DESC, clk.event_id DESC) AS rn
  FROM pur JOIN clk ON pur.user_id = clk.user_id AND clk.ts <= pur.ts)
SELECT user_id, purchase_id, purchase_ts, purchase_value, click_id, click_ts
FROM j WHERE rn = 1
"""

# the bucketed variant is output-equivalent BY CONSTRUCTION (property-tested
# against asof_join incl. NULL hub keys) — one oracle serves both plans
ORACLES["events_asof_join_bucketed"] = ORACLES["events_asof_join"]

# salted aggregation: the salt is an implementation detail — the oracle is
# the plain GROUP BY the two-stage plan must reproduce exactly
ORACLES["mention_counts_salted"] = f"""
SELECT mention, count(*)::BIGINT AS n_occurrences
FROM (SELECT unnest({_WORDS}) AS mention FROM documents)
WHERE length(mention) >= {MIN_MENTION_LEN}
GROUP BY 1
"""

ORACLES["events_top_spenders"] = """
WITH per_user AS (
  SELECT event_type, user_id, round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY total_value DESC, user_id ASC) AS rk
      FROM per_user)
SELECT event_type, user_id, total_value, rk::BIGINT AS rk FROM r WHERE rk <= 3
"""

# the salt is an implementation detail: the oracle is the plain global
# row_number over the planted tie-heavy hub, with the same (score, event_id)
# deterministic order key the Spark side packs
ORACLES["events_top_spenders_salted"] = """
WITH fact AS (
  SELECT CASE WHEN event_type = 'purchase' THEN event_type ELSE 'hot' END AS grp,
         event_id, user_id, CAST(floor(value) AS BIGINT) AS score
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY grp
                                   ORDER BY score DESC, event_id DESC) AS rk
      FROM fact)
SELECT grp, event_id, user_id, score, rk::BIGINT AS rk FROM r WHERE rk <= 5
"""

_HIST_W = HIST_WIDTH_CENTS / 100.0
ORACLES["events_value_histogram"] = f"""
WITH q AS (SELECT event_type,
                  least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                          // {HIST_WIDTH_CENTS},
                        {HIST_BINS - 1})::INTEGER AS bin,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events)
SELECT event_type, bin,
       bin * {_HIST_W!r} AS bin_lo, (bin + 1) * {_HIST_W!r} AS bin_hi,
       count(*)::BIGINT AS n_events,
       round(sum(cents) / 100.0, 2) AS sum_value
FROM q GROUP BY 1, 2
"""

ORACLES["events_value_quantiles"] = """
SELECT event_type, count(*)::BIGINT AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY 1
"""

ORACLES["events_moving_avg"] = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       round(avg(value) OVER w, 6) AS mavg_3,
       (count(*) OVER w)::BIGINT AS n_in_frame
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

ORACLES["events_funnel"] = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, v.t_view, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY 1, 2),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
      GROUP BY 1)
SELECT u.user_id,
       (CASE WHEN t_purchase IS NOT NULL THEN 3
             WHEN t_click IS NOT NULL THEN 2
             WHEN t_view IS NOT NULL THEN 1
             ELSE 0 END)::INT AS funnel_level,
       strftime(t_view, '%Y-%m-%d %H:%M:%S') AS t_view,
       strftime(t_click, '%Y-%m-%d %H:%M:%S') AS t_click,
       strftime(t_purchase, '%Y-%m-%d %H:%M:%S') AS t_purchase
FROM u LEFT JOIN v USING (user_id)
       LEFT JOIN (SELECT user_id, t_click FROM c) c2 USING (user_id)
       LEFT JOIN p USING (user_id)
"""

ORACLES["events_retention_cohorts"] = """
WITH first AS (SELECT user_id, min(ts::DATE) AS cohort FROM events GROUP BY 1),
act AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort, d)::BIGINT AS day_offset,
       count(*)::BIGINT AS n_active
FROM act JOIN first USING (user_id)
GROUP BY 1, 2
"""



ORACLES["events_rollup"] = """
WITH e AS (SELECT event_type, hour(ts) AS hour_of_day, value FROM events)
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(hour_of_day, -1) AS hour_of_day,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value
FROM e GROUP BY ROLLUP(event_type, hour_of_day)
"""

from .relops import PIVOT_TYPES  # noqa: E402

# generated from the SAME type list the Spark pivot uses (lock-step)
_pivot_cols = ",\n       ".join(
    f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 2) AS {t}"
    for t in PIVOT_TYPES
)
ORACLES["events_pivot"] = f"""
SELECT user_id,
       {_pivot_cols}
FROM events GROUP BY 1
"""

# the unpivot round trip is lossless iff it reproduces the direct aggregate
ORACLES["events_unpivot_roundtrip"] = """
SELECT user_id, event_type, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""

ORACLES["events_cube"] = """
WITH e AS (SELECT event_type, hour(ts) AS hour_of_day, value FROM events)
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(hour_of_day, -1) AS hour_of_day,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value
FROM e GROUP BY CUBE(event_type, hour_of_day)
"""

# watermarked streaming dedup: one availableNow batch -> the surviving key
# set equals the batch DISTINCT
ORACLES["streaming_dedup"] = """
SELECT DISTINCT user_id, event_type,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute
FROM events
"""

ORACLES["events_hourly_agg"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

ORACLES["events_sessionize"] = """
WITH g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
            THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS session_id
  FROM g)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY 1, 2
"""

ORACLES["tpch_q1_pricing"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY 1, 2
"""

ORACLES["tpch_q3_shipping"] = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

# --- RML-engine queries ---------------------------------------------------------

ORACLES["rml_nation_region_graph"] = f"""
WITH nt AS (SELECT '<http://ex.org/nation/' || n_nationkey::VARCHAR || '>' AS subj,
                   n_name, n_nationkey, n_regionkey FROM nation),
rt AS (SELECT '<http://ex.org/region/' || r_regionkey::VARCHAR || '>' AS subj,
              r_name, r_regionkey FROM region)
SELECT subj, '{RDF_TYPE}' AS pred, '<http://ex.org/Nation>' AS obj FROM nt
UNION ALL SELECT subj, '<http://ex.org/name>', '"' || n_name || '"^^{XSD_STRING}' FROM nt
UNION ALL SELECT subj, '<http://ex.org/key>', '"' || n_nationkey::VARCHAR || '"^^{XSD_INTEGER}' FROM nt
UNION ALL SELECT n.subj, '<http://ex.org/inRegion>', r.subj
          FROM nt n JOIN rt r ON n.n_regionkey = r.r_regionkey
UNION ALL SELECT subj, '{RDF_TYPE}', '<http://ex.org/Region>' FROM rt
UNION ALL SELECT subj, '<http://ex.org/name>', '"' || r_name || '"^^{XSD_STRING}' FROM rt
"""

ORACLES["rml_subject_space_discard"] = f"""
WITH d AS (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders),
s AS (SELECT '<http://ex.org/prio/' || o_orderpriority || '/' || o_orderstatus || '>' AS subj,
             o_orderstatus
      FROM d
      WHERE ('<http://ex.org/prio/' || o_orderpriority || '/' || o_orderstatus || '>') NOT LIKE '% %')
SELECT subj, '{RDF_TYPE}' AS pred, '<http://ex.org/PriorityStatus>' AS obj FROM s
UNION ALL SELECT subj, '<http://ex.org/status>', '"' || o_orderstatus || '"^^{XSD_STRING}' FROM s
"""

ORACLES["rml_self_join"] = """
SELECT '<http://ex.org/order/' || o_orderkey::VARCHAR || '>' AS subj,
       '<http://ex.org/by>' AS pred,
       '<http://ex.org/customer/' || o_custkey::VARCHAR || '>' AS obj
FROM orders
"""

ORACLES["rml_constant_terms"] = f"""
WITH s AS (SELECT '<http://ex.org/region/' || r_regionkey::VARCHAR || '>' AS subj, r_name
           FROM region)
SELECT subj, '<http://ex.org/seeAlso>' AS pred, '<http://example.org/static>' AS obj FROM s
UNION ALL SELECT subj, '<http://ex.org/kind>',
                 '"http://ex.org/RegionKind"^^{XSD_STRING}' FROM s
UNION ALL SELECT subj, 'missing:pred', '"' || r_name || '"^^{XSD_STRING}' FROM s
"""

# --- round-2 contract additions ---------------------------------------------

# S1: the CSV fixture is derived from the nation parquet (sorted, ';'-delim);
# the oracle reads the same values straight from the view.
ORACLES["rml_csv_source"] = f"""
WITH s AS (SELECT '<http://ex.org/nation/' || n_nationkey::VARCHAR || '>' AS subj,
                  n_name, n_nationkey FROM nation)
SELECT subj, '{RDF_TYPE}' AS pred, '<http://ex.org/Nation>' AS obj FROM s
UNION ALL SELECT subj, '<http://ex.org/name>', '"' || n_name || '"^^{XSD_STRING}' FROM s
UNION ALL SELECT subj, '<http://ex.org/key>', '"' || n_nationkey::VARCHAR || '"^^{XSD_INTEGER}' FROM s
"""

# S2: nested-JSON fixture is likewise nation-derived.
ORACLES["rml_json_iterator"] = f"""
SELECT '<http://ex.org/nation/' || n_nationkey::VARCHAR || '>' AS subj,
       '<http://ex.org/name>' AS pred,
       '"' || n_name || '"^^{XSD_STRING}' AS obj
FROM nation
"""

_PRED_OUT = f"CASE WHEN pred = '{RDF_TYPE}' THEN 'a' ELSE pred END"

ORACLES["nt_serialization"] = f"""
WITH g AS ({ORACLES["rml_nation_region_graph"]})
SELECT subj || ' ' || {_PRED_OUT} || ' ' || obj || ' .' AS value FROM g
"""

ORACLES["ttl_serialization"] = f"""
WITH g AS ({ORACLES["rml_nation_region_graph"]}),
po AS (SELECT subj, {_PRED_OUT} || ' ' || obj AS po FROM g)
SELECT subj || ' ' || string_agg(po, ' ;' || chr(10) || chr(9) || chr(9) ORDER BY po)
       || ' .' AS value
FROM po GROUP BY subj
"""

# embedding-cosine near-dup tier: sign-bucket blocking + exact cosine verify
_EN_COS = (
    "round("
    "list_reduce([av[i]::DOUBLE * bv[i]::DOUBLE for i in range(1, len(av)+1)], (x, y) -> x + y)"
    " / (sqrt(list_reduce([av[i]::DOUBLE * av[i]::DOUBLE for i in range(1, len(av)+1)], (x, y) -> x + y))"
    " * sqrt(list_reduce([bv[i]::DOUBLE * bv[i]::DOUBLE for i in range(1, len(bv)+1)], (x, y) -> x + y))), 6)"
)
ORACLES["embedding_neardup_pairs"] = f"""
WITH e AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS av, b.embedding AS bv
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (SELECT id_a, id_b, {_EN_COS} AS cos FROM p)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {EMB_NEARDUP_THRESHOLD}
"""

# streaming twin: one availableNow micro-batch == the batch aggregation
ORACLES["streaming_hourly_agg"] = ORACLES["events_hourly_agg"]

# multimodal: the Spark side decodes REAL BMP/PPM bytes (header parse +
# numpy channel means); the oracle replays the synth gradient's closed
# forms in the id — value(x,y,c) = id%200 + x + y + c, so mean_c =
# base + (w-1)/2 + (h-1)/2 + c, n_bytes = header + (padded) pixel bytes.
# All means are exact multiples of 0.5, so round(_, 6) is tie-free.
ORACLES["multimodal_features"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS kind,
         4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h, doc_id % 200 AS base
  FROM documents)
SELECT media_id, kind,
       (CASE WHEN kind = 'bmp' THEN 54 + ((3 * w + 3) // 4) * 4 * h
             ELSE 9 + length(w::VARCHAR) + length(h::VARCHAR) + 3 * w * h
        END)::BIGINT AS n_bytes,
       w::BIGINT AS width, h::BIGINT AS height,
       round(base + (w - 1) / 2.0 + (h - 1) / 2.0, 6) AS mean_r,
       round(base + (w - 1) / 2.0 + (h - 1) / 2.0 + 1, 6) AS mean_g,
       round(base + (w - 1) / 2.0 + (h - 1) / 2.0 + 2, 6) AS mean_b
FROM m
"""

ORACLES["rml_graph_quads"] = f"""
SELECT '<http://ex.org/region/' || r_regionkey::VARCHAR || '>' AS subj,
       '<http://ex.org/name>' AS pred,
       '"' || r_name || '"^^{XSD_STRING}' AS obj,
       'http://ex.org/graph/regions' AS graph
FROM region
"""

# custom stateful streaming op: availableNow single batch == the batch twin
ORACLES["streaming_sessionize"] = ORACLES["events_sessionize"]

# CC-tier canonicalisation over exact-duplicate edges: the Spark side runs
# graph/cc.py's connected components; with exact edges only, each
# component is one fingerprint group and its id is the min url, so the
# canonical survivor set has this closed form
ORACLES["page_canonical_exact"] = f"""
WITH p AS (
  SELECT 'u' || doc_id::VARCHAR AS url, text FROM documents
  UNION ALL
  SELECT 'd' || doc_id::VARCHAR AS url, text FROM documents WHERE doc_id % 7 = 0),
f AS (SELECT url, {_FP} AS fp FROM p)
SELECT url FROM f
QUALIFY url = min(url) OVER (PARTITION BY fp)
"""

# NEAR-DUP tier through the full LSH path: replays pagedup.duplicate_edges
# exactly — exact fingerprint edges, MinHash banding (same md5 hash family,
# 4 bands of 2), the band-bucket size cap, the >=2-band agreement, the
# inverted-index exact-Jaccard verify — then closes connected components with
# a recursive min-label reachability CTE (components are small by
# construction, so the transitive closure is cheap at oracle scale; the
# Spark side runs graph/cc.py's connected components).
_pl_minhash_cols = ", ".join(
    f"min(('0x' || substr(md5('{i}|' || ng), 1, 15))::BIGINT) AS h{i}"
    for i in range(N_HASHES)
)
_pl_band_selects = _band_select_sql("url", "psig")
ORACLES["page_canonical_lsh"] = f"""
WITH RECURSIVE
p AS (
  SELECT 'u' || doc_id::VARCHAR AS url, text FROM documents
  UNION ALL
  SELECT 'n' || doc_id::VARCHAR AS url, regexp_replace(text, '^\\S+', 'xsubx') AS text
  FROM documents WHERE doc_id % 11 = 0),
fpt AS (SELECT url, {_FP} AS fp FROM p),
fmin AS (SELECT fp, min(url) AS m, count(*) AS n FROM fpt GROUP BY 1),
exact AS (SELECT f.url AS src, fm.m AS dst FROM fpt f JOIN fmin fm ON f.fp = fm.fp
          WHERE fm.n > 1 AND f.url <> fm.m),
pg AS (SELECT url, unnest({_NGRAMS}) AS ng FROM p),
psig AS (SELECT url, {_pl_minhash_cols} FROM pg GROUP BY 1),
bands0 AS ({_pl_band_selects}),
bands AS (SELECT url, band, key FROM
            (SELECT *, count(*) OVER (PARTITION BY band, key) AS bn FROM bands0)
          WHERE bn <= {PAGE_MAX_BUCKET}),
cand AS (SELECT a.url AS src, b.url AS dst
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.url < b.url
         GROUP BY 1, 2 HAVING count(*) >= {PAGE_MIN_BANDS}),
sizes AS (SELECT url, count(*) AS n FROM pg GROUP BY 1),
inter AS (SELECT c.src, c.dst, count(*) AS cnt
          FROM cand c
          JOIN pg ga ON ga.url = c.src
          JOIN pg gb ON gb.url = c.dst AND gb.ng = ga.ng
          GROUP BY 1, 2),
near AS (SELECT it.src, it.dst FROM inter it
         JOIN sizes sa ON sa.url = it.src
         JOIN sizes sb ON sb.url = it.dst
         WHERE it.cnt / (sa.n + sb.n - it.cnt) >= {PAGE_NEAR_DUP_JACCARD}),
e AS (SELECT src, dst FROM exact UNION SELECT src, dst FROM near),
sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1)
SELECT p.url FROM p LEFT JOIN comp ON comp.node = p.url
WHERE comp.component IS NULL OR comp.component = p.url
"""

# --- entity canonicalization (LSH -> >=2-band -> Jaccard verify -> CC) -----

from .pipeline.canonicalize import (  # noqa: E402
    CANON_JACCARD,
    CANON_PLURAL_MOD,
    NGRAM as CANON_NGRAM,
)
from .textops.lsh import (  # noqa: E402
    MAX_BUCKET as CANON_MAX_BUCKET,
    MIN_BANDS as CANON_MIN_BANDS,
    N_HASHES as CANON_N_HASHES,
)
from .kgops import MIN_MENTION_LEN as _CANON_MIN_LEN  # noqa: E402

_canon_minhash_cols = ", ".join(
    f"min(('0x' || substr(md5('{i}|' || g), 1, 15))::BIGINT) AS h{i}"
    for i in range(CANON_N_HASHES)
)
_canon_band_selects = _band_select_sql("s", "csig")

ORACLES["kg_entity_canonical"] = f"""
WITH RECURSIVE
w AS (SELECT DISTINCT tok AS w
      FROM (SELECT unnest({_WORDS}) AS tok FROM documents)
      WHERE length(tok) >= {_CANON_MIN_LEN}),
surf AS (SELECT w AS s FROM w
         UNION
         SELECT w || 's' FROM w
         WHERE ('0x' || substr(md5('plural|' || w), 1, 15))::BIGINT
               % {CANON_PLURAL_MOD} = 0),
cg AS (SELECT DISTINCT s, g FROM (
        SELECT s, unnest([substr(s, i::INTEGER, {CANON_NGRAM})
                          for i in range(1, greatest(length(s) - {CANON_NGRAM - 1},
                                                     0) + 1)]) AS g
        FROM surf)),
csig AS (SELECT s, {_canon_minhash_cols} FROM cg GROUP BY 1),
bands0 AS ({_canon_band_selects}),
bands AS (SELECT s, band, key FROM
            (SELECT *, count(*) OVER (PARTITION BY band, key) AS bn FROM bands0)
          WHERE bn <= {CANON_MAX_BUCKET}),
cand AS (SELECT a.s AS a, b.s AS b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.s < b.s
         GROUP BY 1, 2 HAVING count(*) >= {CANON_MIN_BANDS}),
sizes AS (SELECT s, count(*) AS n FROM cg GROUP BY 1),
inter AS (SELECT c.a, c.b, count(*) AS cnt
          FROM cand c
          JOIN cg ga ON ga.s = c.a
          JOIN cg gb ON gb.s = c.b AND gb.g = ga.g
          GROUP BY 1, 2),
ver AS (SELECT it.a, it.b FROM inter it
        JOIN sizes sa ON sa.s = it.a
        JOIN sizes sb ON sb.s = it.b
        WHERE it.cnt / (sa.n + sb.n - it.cnt) >= {CANON_JACCARD}),
sym AS (SELECT a AS src, b AS dst FROM ver UNION SELECT b, a FROM ver),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1)
SELECT surf.s AS surface, coalesce(comp.component, surf.s) AS canonical
FROM surf LEFT JOIN comp ON comp.node = surf.s
"""

# IVF ANN: deterministic centroids (vec_id < N_CENTROIDS), nearest-centroid inverted
# lists, search within the query's own list. Assignment compares RAW doubles
# (same fold order both engines -> bitwise equal); output sim rounded.
_IVF_COS_RAW = (
    "list_reduce([v[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, len(v)+1)], (x, y) -> x + y)"
    " / (sqrt(list_reduce([v[i]::DOUBLE * v[i]::DOUBLE for i in range(1, len(v)+1)], (x, y) -> x + y))"
    " * sqrt(list_reduce([cv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, len(cv)+1)], (x, y) -> x + y)))"
)
_IVF_COMMON = f"""
WITH cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < {N_CENTROIDS}),
sc AS (SELECT e.vec_id AS vid, e.embedding AS v, cent_id, {_IVF_COS_RAW} AS s
       FROM embeddings e CROSS JOIN cent),
scr AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY s DESC, cent_id) AS rn FROM sc),
asg AS (SELECT vid, v, cent_id AS cluster FROM scr WHERE rn = 1),
c AS (SELECT vid AS cand_id, v AS cv, cluster FROM asg)"""

ORACLES["ann_ivf_topk"] = f"""{_IVF_COMMON},
q AS (SELECT vid AS query_id, v AS qv, cluster FROM asg WHERE vid < {N_QUERIES}),
scored AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM q JOIN c USING (cluster) WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
  FROM scored)
SELECT query_id, cand_id, sim, rk::BIGINT AS rk FROM ranked WHERE rk <= {BLOCKED_TOP_K}
"""

# k-means IVF: replays _kmeans_centroids' fixed trajectory (first-N_CENTROIDS init,
# KMEANS_ITERS Lloyd iterations) then searches the trained lists. Centroid
# means use the identical deterministic fold both engines run — member values
# sorted by vid, sequential sum (DuckDB list_reduce((a,b)->a+b) == Spark
# aggregate(0.0, +) bit-for-bit since 0.0+x1 == x1), rounded to 6 dp — so the
# trained centroids, the assignment, and the search all match bitwise.
_KM_CENT0 = f"""cent0 AS (SELECT vec_id AS cent_id,
       [embedding[i]::DOUBLE for i in range(1, len(embedding)+1)] AS cv
     FROM embeddings WHERE vec_id < {N_CENTROIDS})"""


def _km_iter(t: int) -> str:
    return f"""sc{t} AS (SELECT e.vec_id AS vid, e.embedding AS v, cent_id, {_IVF_COS_RAW} AS s
       FROM embeddings e CROSS JOIN cent{t - 1}),
scr{t} AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY s DESC, cent_id) AS rn FROM sc{t}),
asg{t} AS (SELECT vid, v, cent_id AS cluster FROM scr{t} WHERE rn = 1),
memb{t} AS (SELECT vid, cluster,
       unnest([{{'p': i, 'x': v[i]::DOUBLE}} for i in range(1, len(v)+1)]) AS u
     FROM asg{t}),
comp{t} AS (SELECT cluster, u.p AS pos,
       round(list_reduce(list(u.x ORDER BY vid), (a, b) -> a + b) / count(*), 6) AS m
     FROM memb{t} GROUP BY 1, 2),
cent{t} AS (SELECT cluster AS cent_id, list(m ORDER BY pos) AS cv FROM comp{t} GROUP BY 1)"""


_KM_T = KMEANS_ITERS
ORACLES["ann_ivf_kmeans_topk"] = (
    "WITH "
    + ",\n".join([_KM_CENT0] + [_km_iter(t) for t in range(1, _KM_T + 1)])
    + f""",
scF AS (SELECT e.vec_id AS vid, e.embedding AS v, cent_id, {_IVF_COS_RAW} AS s
        FROM embeddings e CROSS JOIN cent{_KM_T}),
scrF AS (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY s DESC, cent_id) AS rn FROM scF),
asgF AS (SELECT vid, v, cent_id AS cluster FROM scrF WHERE rn = 1),
cF AS (SELECT vid AS cand_id, v AS cv, cluster FROM asgF),
qF AS (SELECT vid AS query_id, v AS qv, cluster FROM asgF WHERE vid < {N_QUERIES}),
scoredF AS (SELECT query_id, cand_id, {_COS} AS sim
            FROM qF JOIN cF USING (cluster) WHERE query_id <> cand_id),
rankedF AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
            FROM scoredF)
SELECT query_id, cand_id, sim, rk::BIGINT AS rk FROM rankedF WHERE rk <= {BLOCKED_TOP_K}
"""
)

# IVF_NPROBE variant: queries probe their top-IVF_NPROBE centroid lists; probe
# ranking uses the same RAW double s (same fold order both engines) and the
# same (s DESC, cent_id) tie-break as the assignment
ORACLES["ann_ivf_nprobe_topk"] = f"""{_IVF_COMMON},
qp AS (SELECT vid AS query_id, v AS qv, cent_id AS cluster FROM scr
       WHERE vid < {N_QUERIES} AND rn <= {IVF_NPROBE}),
scored AS (
  SELECT query_id, cand_id, {_COS} AS sim
  FROM qp JOIN c USING (cluster) WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
  FROM scored)
SELECT query_id, cand_id, sim, rk::BIGINT AS rk FROM ranked WHERE rk <= {BLOCKED_TOP_K}
"""

# --- entity-graph analytics (graph/analytics.py) -------------------------------
# Shared prefix: gazetteer-linked mentions -> canonical weighted co-mention
# edges, the exact CTE chain kg_entity_link uses plus the doc_id self-join.

_GRAPH_BASE = f"""m AS ({_MENTIONS}),
gd AS (SELECT mention FROM m GROUP BY 1
       HAVING count(DISTINCT doc_id) >= {MIN_ENTITY_DOCS}),
lm AS (SELECT m.doc_id, m.mention FROM m JOIN gd USING (mention)),
ced AS (SELECT a.mention AS e1, b.mention AS e2, count(*)::BIGINT AS w
        FROM lm a JOIN lm b USING (doc_id)
        WHERE a.mention < b.mention GROUP BY 1, 2)"""

# Weighted PageRank, PAGERANK_ITERS unrolled iterations. Determinism anchors
# mirrored from graph/analytics.entity_pagerank: per-dst contributions fold
# src-sorted (list(... ORDER BY src) == Spark array_sort(collect_list) +
# aggregate(0.0, +), the kmeans-proven identity), the contribution is written
# rank / wdeg * w (same left-to-right shape as Spark's (rank/wdeg) * w), and
# the damping mix is (1.0 - 0.85) / n -- NOT the literal 0.15/n, because
# Python's 1.0 - 0.85 is 0.15000000000000002 and the oracle must compute the
# same double.


def _pr_iter(t: int) -> str:
    return f"""c{t} AS (SELECT s.dst,
       list_reduce(list(r.rank / r.wdeg * s.w ORDER BY s.src), (a, b) -> a + b) AS sm
     FROM sym s JOIN r{t - 1} r ON s.src = r.entity GROUP BY s.dst),
r{t} AS (SELECT w.src AS entity, w.wdeg,
       (1.0 - {PAGERANK_DAMPING}) / (SELECT n FROM nn) + {PAGERANK_DAMPING} * c.sm AS rank
     FROM wdeg w JOIN c{t} c ON w.src = c.dst)"""


ORACLES["kg_entity_pagerank"] = (
    f"""WITH {_GRAPH_BASE},
sym AS (SELECT e1 AS src, e2 AS dst, w FROM ced
        UNION ALL SELECT e2, e1, w FROM ced),
wdeg AS (SELECT src, sum(w)::BIGINT AS wdeg FROM sym GROUP BY 1),
nn AS (SELECT count(*)::DOUBLE AS n FROM wdeg),
r0 AS (SELECT src AS entity, wdeg, 1.0 / (SELECT n FROM nn) AS rank FROM wdeg),
"""
    + ",\n".join(_pr_iter(t) for t in range(1, PAGERANK_ITERS + 1))
    + f"""
SELECT entity, wdeg, round(rank, 8) AS rank FROM r{PAGERANK_ITERS}
"""
)

def _knn_ctes(k: int) -> str:
    """CTE chain symk -> knn -> und: the symmetrised, k-NN-sparsified,
    canonically-deduped co-mention graph over `ced` — the single SQL twin of
    analytics.entity_knn_edges (keep rule: w DESC, dst tie-break, rn <= k),
    shared by the triangle (k=KNN_K) and LP/BFS (k=LP_KNN_K) oracles so the
    sparsification can't silently diverge between them."""
    return f"""symk AS (SELECT e1 AS src, e2 AS dst, w FROM ced
         UNION ALL SELECT e2, e1, w FROM ced),
knn AS (SELECT src, dst, w,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM symk),
und AS (SELECT DISTINCT least(src, dst) AS e1, greatest(src, dst) AS e2, w
        FROM knn WHERE rn <= {k})"""


# Per-entity triangle counts on the k-NN-sparsified graph -- same knn keep
# rule, same canonical dedup, same (deg, name) orientation and wedge
# ordering as entity_triangles. Integers and strings only.
ORACLES["kg_entity_triangles"] = f"""
WITH {_GRAPH_BASE},
{_knn_ctes(KNN_K)},
degl AS (SELECT v, count(*)::BIGINT AS deg
         FROM (SELECT unnest([e1, e2]) AS v FROM und) GROUP BY 1),
ej AS (SELECT und.e1, und.e2, d1.deg AS d1, d2.deg AS d2
       FROM und JOIN degl d1 ON und.e1 = d1.v JOIN degl d2 ON und.e2 = d2.v),
ori AS (SELECT
    CASE WHEN d1 < d2 OR (d1 = d2 AND e1 < e2) THEN e1 ELSE e2 END AS src,
    CASE WHEN d1 < d2 OR (d1 = d2 AND e1 < e2) THEN e2 ELSE e1 END AS dst,
    CASE WHEN d1 < d2 OR (d1 = d2 AND e1 < e2) THEN d2 ELSE d1 END AS dst_deg
  FROM ej),
wg AS (SELECT ab.u, ab.v, ac.x
       FROM (SELECT src AS u, dst AS v, dst_deg AS dv FROM ori) ab
       JOIN (SELECT src AS u, dst AS x, dst_deg AS dx FROM ori) ac USING (u)
       WHERE dv < dx OR (dv = dx AND v < x)),
tri AS (SELECT u, v, x FROM wg
        JOIN (SELECT src AS v, dst AS x FROM ori) cl USING (v, x))
SELECT entity, count(*)::BIGINT AS n_triangles
FROM (SELECT unnest([u, v, x]) AS entity FROM tri) GROUP BY 1
"""

# PMI: per-row scalar with the identical operator shape as comention_pmi
# (double casts first, one ln, round 6) -- ulp risk absorbed by rounding,
# the tfidf precedent.
ORACLES["kg_comention_pmi"] = f"""
WITH {_GRAPH_BASE},
cd AS (SELECT mention, count(*)::BIGINT AS cnt FROM lm GROUP BY 1),
nd AS (SELECT count(*)::DOUBLE AS nd FROM documents)
SELECT e.e1, e.e2, e.w AS n_ab,
       round(ln(e.w::DOUBLE * (SELECT nd FROM nd)
                / (a.cnt::DOUBLE * b.cnt)), 6) AS pmi
FROM ced e JOIN cd a ON e.e1 = a.mention JOIN cd b ON e.e2 = b.mention
"""

def _lp_round(i: int) -> str:
    """One synchronous label-propagation round as CTEs: weighted neighbour
    vote (INTEGER sum), argmax with min-label tie-break — the exact SQL twin
    of graph/analytics.label_propagation's per-round plan."""
    return f"""
n{i} AS (SELECT sym.dst AS node, l{i - 1}.label, sum(sym.w)::BIGINT AS s
      FROM sym JOIN l{i - 1} ON sym.src = l{i - 1}.node GROUP BY 1, 2),
x{i} AS (SELECT node, max(s) AS smax FROM n{i} GROUP BY 1),
l{i} AS (SELECT n{i}.node, min(n{i}.label) AS label
      FROM n{i} JOIN x{i} ON n{i}.node = x{i}.node AND n{i}.s = x{i}.smax
      GROUP BY 1)"""


_LP_ROUNDS = ",".join(_lp_round(i) for i in range(1, LP_ITERS + 1))

# Symmetrised k=LP_KNN_K-sparsified co-mention graph (the analytics twin of
# entity_knn_edges(k=2) + _symmetric) — shared by the label-propagation and
# BFS-reachability oracles.
_KNN2_SYM = f"""{_knn_ctes(LP_KNN_K)},
sym AS (SELECT e1 AS src, e2 AS dst, w FROM und
        UNION ALL SELECT e2, e1, w FROM und)"""

# Synchronous deterministic LPA on the same knn-sparsified graph as the
# triangle oracle; LP_ITERS unrolled rounds, initial label = node itself.
ORACLES["kg_label_propagation"] = f"""
WITH {_GRAPH_BASE},
{_KNN2_SYM},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
{_LP_ROUNDS}
SELECT node AS entity, label AS community FROM l{LP_ITERS}
"""


def _bfs_round(i: int) -> str:
    """One BFS superstep as CTEs: frontier expansion (min(dist+1) per
    (node, landmark)) full-outer-merged with the previous state keeping the
    least distance — the exact SQL twin of analytics.bfs_reachability."""
    return f"""
c{i} AS (SELECT sym.dst AS node, s.landmark, min(s.dist + 1) AS d_c
      FROM s{i - 1} s JOIN sym ON s.node = sym.src GROUP BY 1, 2),
s{i} AS (SELECT coalesce(s.node, c.node) AS node,
             coalesce(s.landmark, c.landmark) AS landmark,
             least(coalesce(s.dist, {_ORC_BFS_INF}), coalesce(c.d_c, {_ORC_BFS_INF})) AS dist
      FROM s{i - 1} s FULL OUTER JOIN c{i} c
        ON s.node = c.node AND s.landmark = c.landmark)"""


_ORC_BFS_INF = 1 << 62
_BFS_ROUNDS = ",".join(_bfs_round(i) for i in range(1, BFS_HOPS + 1))

# Fixed-depth BFS from the BFS_LANDMARKS lexicographically-smallest entities
# over the k=2 graph; BFS_HOPS unrolled supersteps, integers/strings only.
ORACLES["kg_bfs_reachability"] = f"""
WITH {_GRAPH_BASE},
{_KNN2_SYM},
lmk AS (SELECT node AS landmark
        FROM (SELECT DISTINCT src AS node FROM sym)
        ORDER BY landmark LIMIT {BFS_LANDMARKS}),
s0 AS (SELECT landmark AS node, landmark, 0::BIGINT AS dist FROM lmk),
{_BFS_ROUNDS}
SELECT node AS entity, landmark, dist FROM s{BFS_HOPS}
"""


# Incremental dedup: same fingerprint and same split-bucket arithmetic as
# exact_dedup / doc_train_test_split.
ORACLES["incremental_exact_dedup"] = f"""
WITH t AS (SELECT {_FP} AS fingerprint, doc_id,
                  ('0x' || substr(md5('{SPLIT_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
           FROM documents),
corpus AS (SELECT DISTINCT fingerprint FROM t WHERE bucket < {INCREMENTAL_BATCH_BUCKET}),
batch AS (SELECT fingerprint, min(doc_id) AS new_id, count(*)::BIGINT AS batch_dups
          FROM t WHERE bucket >= {INCREMENTAL_BATCH_BUCKET} GROUP BY 1)
SELECT b.fingerprint, b.new_id, b.batch_dups
FROM batch b ANTI JOIN corpus c ON b.fingerprint = c.fingerprint
"""

ORACLES["doc_decontaminate"] = f"""
WITH w AS (
  SELECT doc_id,
         ('0x' || substr(md5('{SPLIT_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b,
         {_CWORDS} AS ws
  FROM documents),
g AS (
  SELECT doc_id, b,
         ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, b, unnest(list_distinct({sql_pos_grams("ws", DECON_NGRAM)})) AS gram FROM w)),
ev AS (SELECT DISTINCT gh FROM g WHERE b >= {SPLIT_BOUNDS[1]}),
tr AS (SELECT doc_id, gh FROM g WHERE b < {SPLIT_BOUNDS[0]})
SELECT tr.doc_id, count(*)::BIGINT AS n_shared_grams
FROM tr JOIN ev USING (gh)
GROUP BY 1
"""


# --- web-corpus cleaning (textops/webclean.py) ----------------------------------

# Replays synthetic_url + normalize_url verbatim. DuckDB's `//` is integer
# division = Spark's (x/7).cast(long) truncation for non-negative ids.
_DIRTY_URL = """
  'HTTP://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || source ||
  '.Example.COM:80/' || lang || '/page-' || (doc_id // 7)::VARCHAR ||
  CASE WHEN doc_id % 2 = 0
       THEN '?utm_source=feed&utm_campaign=x&id=' || (doc_id % 5)::VARCHAR
       ELSE '?id=' || (doc_id % 5)::VARCHAR END ||
  CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END
"""

ORACLES["doc_url_dedup"] = f"""
WITH u AS (SELECT doc_id, {_DIRTY_URL} AS url FROM documents),
p AS (
  SELECT doc_id,
         regexp_replace(url, '#.*', '') AS base,
         regexp_extract(regexp_replace(url, '#.*', ''), '^([^/?]*://[^/?#]*)', 1) AS head0
  FROM u),
n AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(head0), ':80$', ''), '://www[.]', '://') AS head,
         substr(base, length(head0) + 1) AS tail
  FROM p),
q AS (
  SELECT doc_id, head,
         regexp_replace(regexp_extract(tail, '^([^?]*)', 1), '/$', '') AS path,
         array_to_string(list_sort(list_filter(
           string_split(regexp_extract(tail, '[?](.*)', 1), '&'),
           x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}'))), '&') AS qs
  FROM n),
c AS (
  SELECT doc_id,
         head || path || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
  FROM q)
SELECT canonical_url, min(doc_id)::BIGINT AS first_doc_id, count(*)::BIGINT AS n_docs
FROM c GROUP BY 1
"""

ORACLES["doc_pii_redact"] = f"""
WITH p AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id::VARCHAR || '@example.com for details'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' or call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END AS pii
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(pii, '{EMAIL_RE}'))::BIGINT AS n_emails,
  len(regexp_extract_all(pii, '{PHONE_RE}'))::BIGINT AS n_phones,
  regexp_replace(regexp_replace(pii, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM p
"""

# --- SPARQL algebra over the triple table (kgops.py) ----------------------------

ORACLES["kg_optional_mentions"] = f"""
WITH {_triples_ctes("a")}
SELECT l.subj, l.obj AS lang, coalesce(m.obj, '{KG_UNBOUND}') AS entity
FROM t_a l LEFT JOIN (
  SELECT subj, obj FROM t_a
  WHERE pred = '<{ONTO}mentions>'
    AND obj IN ('<{ENTITY_NS}spark>', '<{ENTITY_NS}stream>')) m
ON l.subj = m.subj
WHERE l.pred = '<{ONTO}lang>'
"""

ORACLES["kg_not_exists"] = f"""
WITH {_triples_ctes("a")}
SELECT p.subj, l.obj AS lang
FROM t_a p JOIN t_a l ON p.subj = l.subj AND l.pred = '<{ONTO}lang>'
WHERE p.pred = '<{ONTO}mentions>' AND p.obj = '<{ENTITY_NS}table>'
  AND NOT EXISTS (SELECT 1 FROM t_a n
                  WHERE n.subj = p.subj AND n.pred = '<{ONTO}mentions>'
                    AND n.obj = '<{ENTITY_NS}stream>')
"""

ORACLES["kg_describe_entity"] = f"""
WITH {_triples_ctes("a")}
SELECT subj, pred, obj FROM t_a
WHERE subj IN (SELECT subj FROM t_a
               WHERE pred = '<{ONTO}mentions>' AND obj = '<{ENTITY_NS}spark>')
"""

# --- events anomaly -------------------------------------------------------------

# floor() before the BIGINT cast: DuckDB's double->BIGINT cast ROUNDS while
# Spark's truncates (the epoch() gotcha); floor makes both exact.
ORACLES["events_anomaly_zscore"] = f"""
WITH e AS (SELECT event_id, event_type,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
st AS (SELECT event_type, count(*)::DOUBLE AS n, sum(cents)::DOUBLE AS s,
              sum(cents * cents)::DOUBLE AS ss
       FROM e GROUP BY 1),
z AS (SELECT event_id, e.event_type,
             (cents - s / n) / sqrt((ss - s * s / n) / n) AS z
      FROM e JOIN st ON e.event_type = st.event_type)
SELECT event_id, event_type, round(z, 3) AS zscore FROM z WHERE abs(z) >= {REL_Z_THRESHOLD}
"""

ORACLES["kg_ask"] = f"""
WITH {_triples_ctes("a")}
SELECT count(*) > 0 AS ask FROM (
  SELECT 1 FROM t_a a JOIN t_a b ON a.subj = b.subj
  WHERE a.pred = '<{ONTO}mentions>' AND a.obj = '<{ENTITY_NS}spark>'
    AND b.pred = '<{ONTO}mentions>' AND b.obj = '<{ENTITY_NS}table>'
  LIMIT 1) x
"""

ORACLES["kg_construct_popular"] = f"""
WITH {_triples_ctes("a")}
SELECT m.obj AS subj, '<{ONTO}popularIn>' AS pred, l.obj AS obj
FROM t_a m JOIN t_a l ON m.subj = l.subj
WHERE m.pred = '<{ONTO}mentions>' AND l.pred = '<{ONTO}lang>'
GROUP BY 1, 3
HAVING count(*) >= {KG_CONSTRUCT_MIN_DOCS}
"""

ORACLES["doc_length_outliers"] = f"""
WITH d AS (SELECT doc_id, lang, len({_WORDS})::BIGINT AS n_ws_tokens FROM documents),
q AS (SELECT lang, quantile_cont(n_ws_tokens, {LENGTH_P_LO}) AS p_lo,
             quantile_cont(n_ws_tokens, {LENGTH_P_HI}) AS p_hi
      FROM d GROUP BY 1)
SELECT doc_id, d.lang, n_ws_tokens,
       CASE WHEN n_ws_tokens < p_lo THEN 'short' ELSE 'long' END AS reason
FROM d JOIN q ON d.lang = q.lang
WHERE n_ws_tokens < p_lo OR n_ws_tokens > p_hi
"""

# --- sketches (KMV distinct, count-min heavy hitters) ------------------------

from .textops.sketches import (  # noqa: E402
    CMS_DEPTH,
    CMS_TOP,
    CMS_WIDTH,
    HLL_M,
    HLL_NUMER,
    HLL_W_BITS,
    KMV_K,
)

from .textops.sketches import KMV_NGRAM  # noqa: E402

_TOK_HASH = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
_KMV_EST = f"""CASE WHEN n_heap < {KMV_K} THEN n_heap
       ELSE CAST(floor({float(KMV_K - 1)!r} * 1152921504606846976.0
                       / CAST(kth_min_hash AS DOUBLE)) AS BIGINT) END"""
_SHINGLES = (
    f"(SELECT unnest({sql_pos_grams('w', KMV_NGRAM)}) AS tok "
    f"FROM (SELECT {_WORDS} AS w FROM documents))"
)

ORACLES["sketch_distinct_kmv"] = f"""
WITH h AS (SELECT DISTINCT {_TOK_HASH} AS h FROM {_SHINGLES}),
kth AS (SELECT max(h) AS kth_min_hash, count(*)::BIGINT AS n_heap
        FROM (SELECT h FROM h ORDER BY h LIMIT {KMV_K})),
c AS (SELECT count(*)::BIGINT AS exact_distinct FROM h)
SELECT {KMV_K}::INTEGER AS k, kth_min_hash,
       {_KMV_EST} AS est_distinct,
       exact_distinct,
       round(abs(({_KMV_EST}) - exact_distinct)
             / CAST(exact_distinct AS DOUBLE) * 100.0, 2) AS rel_err_pct
FROM kth, c
"""

_CMS_BUCKET = (
    f"('0x' || substr(md5('cms' || r::VARCHAR || '|' || tok), 1, 15))::BIGINT"
    f" % {CMS_WIDTH}"
)

ORACLES["heavy_hitters_cms"] = f"""
WITH tc AS (
  SELECT tok, count(*)::BIGINT AS exact_count
  FROM {_SHINGLES} GROUP BY 1),
cells AS (
  SELECT r, {_CMS_BUCKET} AS b, sum(exact_count)::BIGINT AS cell_sum
  FROM tc, range({CMS_DEPTH}) t(r) GROUP BY 1, 2),
cands AS (SELECT tok, exact_count FROM tc
          ORDER BY exact_count DESC, tok ASC LIMIT {CMS_TOP}),
probes AS (SELECT tok, exact_count, r, {_CMS_BUCKET} AS b
           FROM cands, range({CMS_DEPTH}) t(r))
SELECT probes.tok AS token, probes.exact_count,
       min(cell_sum)::BIGINT AS cms_estimate
FROM probes JOIN cells USING (r, b)
GROUP BY 1, 2
"""

# HLL: the register sum is replayed in exact integer arithmetic (terms
# 1::BIGINT << (52 - mj), never-hit registers contribute 2^52 in closed
# form); rho comes from length(bin(w)) — DuckDB's bin() is the same minimal
# binary form as Spark's; the numerator literal is the SAME Python float as
# the Spark side's HLL_NUMER. ln() ulp absorbed by the 4-dp round.
_HLL_EST_RAW = f"{HLL_NUMER!r} / CAST(z_int AS DOUBLE)"
_HLL_EST = f"""CASE WHEN ({_HLL_EST_RAW}) <= {2.5 * HLL_M!r}
            AND ({HLL_M} - n_present) > 0
       THEN {float(HLL_M)!r}
            * ln({float(HLL_M)!r} / CAST({HLL_M} - n_present AS DOUBLE))
       ELSE ({_HLL_EST_RAW}) END"""

ORACLES["sketch_distinct_hll"] = f"""
WITH h AS (SELECT DISTINCT {_TOK_HASH} AS h FROM {_SHINGLES}),
regs AS (
  SELECT h >> {HLL_W_BITS} AS reg,
         max(CASE WHEN (h & {(1 << HLL_W_BITS) - 1}) = 0 THEN {HLL_W_BITS + 1}
                  ELSE {HLL_W_BITS + 1}
                       - length(bin(h & {(1 << HLL_W_BITS) - 1})) END) AS mj
  FROM h GROUP BY 1),
s AS (SELECT count(*)::BIGINT AS n_present,
             sum(1::BIGINT << (52 - mj))::BIGINT AS z_present
      FROM regs),
z AS (SELECT n_present,
             z_present + ({HLL_M} - n_present) * (1::BIGINT << 52) AS z_int
      FROM s),
c AS (SELECT count(*)::BIGINT AS exact_distinct FROM h)
SELECT {HLL_M}::INTEGER AS m,
       ({HLL_M} - n_present)::BIGINT AS n_zero_registers,
       round({_HLL_EST}, 4) AS est_distinct,
       exact_distinct,
       round(abs(round({_HLL_EST}, 4) - exact_distinct)
             / CAST(exact_distinct AS DOUBLE) * 100.0, 2) AS rel_err_pct
FROM z, c
"""

# --- RDFS inference + SHACL validation ---------------------------------------

from .kgops import (  # noqa: E402
    SHACL_ALLOWED_LANGS,
    SHACL_MAX_MENTIONS,
    SHACL_MIN_NCHARS,
    _tbox_edges,
)

_TBOX_VALUES = ", ".join(f"('{s}', '{p}')" for s, p in _tbox_edges())

ORACLES["kg_rdfs_inference"] = f"""
WITH RECURSIVE tbox(sub, super) AS (VALUES {_TBOX_VALUES}),
closure(sub, super) AS (
  SELECT sub, super FROM tbox
  UNION
  SELECT c.sub, t.super FROM closure c JOIN tbox t ON c.super = t.sub),
direct AS (
  SELECT '<{DOC_NS}' || doc_id::VARCHAR || '>' AS subj,
         '{ONTO}Source_' || source AS leaf
  FROM documents)
SELECT subj, '<' || leaf || '>' AS type_iri FROM direct
UNION ALL
SELECT subj, '<' || super || '>' AS type_iri
FROM direct JOIN closure ON leaf = sub
"""

_SHACL_LANGS = ", ".join(f"'{lang}'" for lang in SHACL_ALLOWED_LANGS)

ORACLES["kg_shacl_validate"] = f"""
WITH {_triples_ctes("a")}
SELECT f.subj, 'MentionsMinCount' AS shape, '' AS value
FROM (SELECT subj FROM t_a WHERE pred = '{RDF_TYPE}') f
LEFT JOIN (SELECT DISTINCT subj FROM t_a WHERE pred = '<{ONTO}mentions>') m
  ON f.subj = m.subj
WHERE m.subj IS NULL
UNION ALL
SELECT subj, 'MentionsMaxCount' AS shape, count(*)::VARCHAR AS value
FROM (SELECT DISTINCT subj, obj FROM t_a WHERE pred = '<{ONTO}mentions>')
GROUP BY subj
HAVING count(*) > {SHACL_MAX_MENTIONS}
UNION ALL
SELECT subj, 'NCharsMinInclusive' AS shape, n::VARCHAR AS value
FROM (SELECT subj, regexp_extract(obj, '^"(\\d+)"', 1)::BIGINT AS n
      FROM t_a WHERE pred = '<{ONTO}nChars>')
WHERE n < {SHACL_MIN_NCHARS}
UNION ALL
SELECT subj, 'LangIn' AS shape, l AS value
FROM (SELECT subj, regexp_extract(obj, '^"([^"]*)"', 1) AS l
      FROM t_a WHERE pred = '<{ONTO}lang>')
WHERE l NOT IN ({_SHACL_LANGS})
"""

ORACLES["tpch_q5_local_volume"] = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY 1
"""

# --- incremental near-dup + hopping windows ----------------------------------

ORACLES["incremental_minhash_neardup"] = f"""
WITH g AS (SELECT doc_id, unnest({_NGRAMS}) AS ng FROM documents),
sig AS (SELECT doc_id, {_minhash_cols} FROM g GROUP BY 1),
bands0 AS ({_band_selects}),
bk AS (SELECT *, ('0x' || substr(md5('{SPLIT_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket
       FROM bands0),
corp AS (SELECT doc_id, band, key FROM
           (SELECT *, count(*) OVER (PARTITION BY band, key) AS bn
            FROM bk WHERE bucket < {INCREMENTAL_BATCH_BUCKET})
         WHERE bn <= {MINHASH_MAX_BUCKET}),
batch AS (SELECT doc_id, band, key FROM bk WHERE bucket >= {INCREMENTAL_BATCH_BUCKET})
SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*)::BIGINT AS n_bands
FROM batch b JOIN corp c ON b.band = c.band AND b.key = c.key
GROUP BY 1, 2
"""

# hopping 2h/1h windows: every event is in exactly 2 epoch-aligned windows
# (start = hour floor, and that minus 1h) — replayed as a cross join with
# range(2) instead of Spark's window-list generator
ORACLES["events_hopping_agg"] = """
SELECT strftime(date_trunc('hour', ts) - to_hours(k), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
FROM events, range(2) t(k)
GROUP BY 1, 2
"""

ORACLES["kg_group_concat_langs"] = f"""
WITH {_triples_ctes("a")}
SELECT m.obj AS entity,
       string_agg(DISTINCT l.lang, ',' ORDER BY l.lang) AS langs,
       count(DISTINCT l.lang)::INTEGER AS n_langs
FROM (SELECT subj, obj FROM t_a WHERE pred = '<{ONTO}mentions>') m
JOIN (SELECT subj, regexp_extract(obj, '^"([^"]*)"', 1) AS lang
      FROM t_a WHERE pred = '<{ONTO}lang>') l
  ON m.subj = l.subj
GROUP BY 1
"""

# stream-stream interval join == the batch interval self-join under a
# single availableNow micro-batch (nothing is watermark-dropped)
ORACLES["streaming_interval_join"] = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
"""

# stream-static enrichment join == the batch equi-join under a single
# availableNow micro-batch (stateless: no watermark, nothing dropped)
ORACLES["streaming_static_join"] = """
SELECT event_id, user_id, event_type, c_mktsegment AS mktsegment, value
FROM events JOIN customer ON user_id = c_custkey
"""

# delta-apply round trip: the reconstructed snapshot IS the new slice's
# direct materialisation — the oracle materialises it directly
ORACLES["kg_apply_delta"] = f"""
WITH {_triples_ctes("new", f"{_DELTA_BUCKET} >= {DELTA_DROP_BELOW}")}
SELECT subj, pred, obj FROM t_new
"""

# scalar quantization: symmetric [-127, 127] codes on the L2-normalized
# vector (the cosine-metric scheme), PURE INTEGER dot-product ranking;
# exact cosine rides along
from .textops.ann import SQ_SCALE  # noqa: E402

_SQ_NORM = (
    "sqrt(list_reduce([embedding[i]::DOUBLE * embedding[i]::DOUBLE "
    "for i in range(1, len(embedding) + 1)], (x, y) -> x + y))"
)
_SQ_CODE = (
    "CASE WHEN nrm > 0 THEN "
    f"[CAST(floor(embedding[i]::DOUBLE / nrm * {float(SQ_SCALE)!r} + 0.5) AS BIGINT) "
    "for i in range(1, len(embedding) + 1)] "
    "ELSE [0::BIGINT for i in range(1, len(embedding) + 1)] END"
)

ORACLES["ann_sq8_topk"] = f"""
WITH staged AS (SELECT vec_id, embedding, {_SQ_NORM} AS nrm FROM embeddings),
coded AS (SELECT vec_id, embedding, {_SQ_CODE} AS codes FROM staged),
q AS (SELECT vec_id AS query_id, embedding AS qv, codes AS qc FROM coded WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS cv, codes AS cc FROM coded),
scored AS (
  SELECT query_id, cand_id,
         list_reduce([qc[i] * cc[i] for i in range(1, len(qc) + 1)],
                     (x, y) -> x + y)::BIGINT AS score_q8,
         {_COS} AS sim_exact
  FROM q, c WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_q8 DESC, cand_id) AS rk
  FROM scored)
SELECT query_id, cand_id, score_q8, sim_exact, rk::BIGINT AS rk
FROM ranked WHERE rk <= {TOP_K}
"""

from .textops.webclean import BLOCKED_DOMAINS  # noqa: E402

_BL_RULES = ", ".join(f"'{r}'" for r in BLOCKED_DOMAINS)

ORACLES["doc_domain_blocklist"] = f"""
WITH u AS (SELECT doc_id, {_DIRTY_URL} AS url FROM documents),
h AS (SELECT doc_id,
             regexp_replace(lower(regexp_extract(url, '://([^/?#]*)', 1)),
                            ':[0-9]+$', '') AS host
      FROM u),
l AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM h),
s AS (SELECT doc_id, host,
             unnest([array_to_string(labels[i:], '.')
                     for i in range(1, len(labels) + 1)]) AS suffix
      FROM l),
r AS (SELECT unnest([{_BL_RULES}]) AS rule)
SELECT doc_id, host, rule FROM s JOIN r ON s.suffix = r.rule
"""

# product quantization / ADC: sampled codebook (subvectors of vec_id <
# PQ_CODES), per-subspace argmin encode (d, cid ordered), per-query flat
# LUT in (m, cid) order, score = fixed-ascending-m fold through the LUT
from .textops.ann import PQ_CODES, PQ_DSUB, PQ_M  # noqa: E402

_PQ_L2 = (
    "list_reduce([(xv[i]::DOUBLE - sv[i]::DOUBLE) * (xv[i]::DOUBLE - sv[i]::DOUBLE) "
    f"for i in range(1, {PQ_DSUB} + 1)], (x, y) -> x + y)"
)
_PQ_QDOT = (
    f"list_reduce([qv[m * {PQ_DSUB} + i]::DOUBLE * sv[i]::DOUBLE "
    f"for i in range(1, {PQ_DSUB} + 1)], (x, y) -> x + y)"
)

_PQ_SCORED_CTES = f"""
WITH staged AS (SELECT vec_id, embedding, {_SQ_NORM} AS nrm FROM embeddings),
nvt AS (
  SELECT vec_id,
         CASE WHEN nrm > 0
              THEN [embedding[i]::DOUBLE / nrm for i in range(1, len(embedding) + 1)]
              ELSE [0.0 for i in range(1, len(embedding) + 1)] END AS embedding
  FROM staged),
cb AS (
  SELECT m, vec_id AS cid, embedding[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS sv
  FROM nvt, range({PQ_M}) t(m) WHERE vec_id < {PQ_CODES}),
sub AS (
  SELECT vec_id AS cand_id, m, embedding[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS xv
  FROM nvt, range({PQ_M}) t(m)),
dists AS (
  SELECT cand_id, sub.m AS m, cid, {_PQ_L2} AS d
  FROM sub JOIN cb ON sub.m = cb.m),
enc AS (
  SELECT cand_id, m, cid FROM
    (SELECT *, row_number() OVER (PARTITION BY cand_id, m ORDER BY d, cid) AS rn
     FROM dists)
  WHERE rn = 1),
codes AS (SELECT cand_id, list(cid ORDER BY m) AS codes FROM enc GROUP BY 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM nvt WHERE vec_id < {N_QUERIES}),
lutr AS (SELECT query_id, m, cid, {_PQ_QDOT} AS val FROM q, cb),
lut AS (SELECT query_id, list(val ORDER BY m, cid) AS lut FROM lutr GROUP BY 1),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM nvt),
scored AS (
  SELECT query_id, cand_id,
         list_reduce([lut[m * {PQ_CODES} + codes[m + 1] + 1]
                      for m in range(0, {PQ_M})], (x, y) -> x + y) AS score_pq,
         {_COS} AS sim_exact
  FROM q JOIN lut USING (query_id), codes JOIN c USING (cand_id)
  WHERE query_id <> cand_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_pq DESC, cand_id) AS rk
  FROM scored)"""

ORACLES["ann_pq_adc_topk"] = _PQ_SCORED_CTES + f"""
SELECT query_id, cand_id, round(score_pq, 6) AS score_pq, sim_exact, rk::BIGINT AS rk
FROM ranked WHERE rk <= {TOP_K}
"""

# rerank: ADC shortlist on the raw-score ranks (cand_id tie-break), then
# re-rank by the 6-dp-ROUNDED exact cosine — shortlist agreement rests on
# identical folds, re-rank agreement on identical rounding
from .textops.ann import PQ_RERANK_POOL  # noqa: E402

ORACLES["ann_pq_rerank_topk"] = _PQ_SCORED_CTES + f""",
pool AS (SELECT * FROM ranked WHERE rk <= {PQ_RERANK_POOL}),
rer AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_exact DESC, cand_id) AS rk2
  FROM pool)
SELECT query_id, cand_id, round(score_pq, 6) AS score_pq, sim_exact,
       rk2::BIGINT AS rk
FROM rer WHERE rk2 <= {TOP_K}
"""
