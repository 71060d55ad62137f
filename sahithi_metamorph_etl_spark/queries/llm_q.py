"""LLM training-data pipeline queries over documents/embeddings
(BASELINE.json north-star extensions): text analysis, fingerprinting,
exact + near-duplicate detection, similarity search, multimodal
plumbing. Every entry carries a DuckDB oracle (since r9 the
sub-quadratic approximations — MinHash-LSH, SimHash, hyperplane-LSH —
replay their seeded hash/bucket math in SQL too); the approximations
are additionally recall-tested against their exact twins in
tests/test_operators.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core.frames import localize
from ..functions.money import o_round
from ..llm.dedup import (
    containment_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash64,
    simhash_pairs,
)
from ..llm.multimodal import decode_media_stats, to_media_column
from ..llm.projection import jl_random_projection, rp_rerank_topk
from ..llm.similarity import (
    ann_recall_summary,
    cosine_near_dup_pairs,
    cosine_topk_bruteforce,
    hard_negative_topk,
    hyperplane_lsh_topk,
    lsh_near_dup_pairs,
)
from ..llm.decontaminate import ngram_overlap
from ..llm.textstats import (
    bpe_token_count,
    content_fingerprint,
    language_guess,
    quality_score,
    repetition_stats,
    token_stats,
)
from ..sources.readers import read_testdata
from .catalog import register

# --- text analysis ----------------------------------------------------------

_TOKEN_STATS_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS bigint) AS n_chars,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS bigint) AS sum_tok,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t IN ('the','of','and','is','to'))) AS bigint) AS stop,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS bigint) AS punct
    FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       {o_round('sum_tok * 1.0 / n_tokens', 4)} AS avg_token_len,
       {o_round('stop * 1.0 / n_tokens', 6)} AS stopword_ratio,
       {o_round('punct * 1.0 / n_chars', 6)} AS punct_ratio
FROM base
"""


@register("doc_token_stats", oracle=_TOKEN_STATS_ORACLE,
          doc="Per-document token/char/stopword/punctuation quality stats")
def doc_token_stats(spark, sf_dir):
    return token_stats(read_testdata(spark, sf_dir, "documents"))


_LANG_ORACLE = """
WITH s AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('the','of','and','is','to'))) AS bigint) AS score_en,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('der','die','das','und','ist'))) AS bigint) AS score_de,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('el','la','de','y','es'))) AS bigint) AS score_es
    FROM documents
)
SELECT doc_id, score_en, score_de, score_es,
       CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
            WHEN score_de >= score_es THEN 'de'
            ELSE 'es' END AS lang_guess
FROM s
"""


@register("doc_language_guess", oracle=_LANG_ORACLE,
          doc="Stopword-vote language ID heuristic (deterministic tie-break)")
def doc_language_guess(spark, sf_dir):
    return language_guess(read_testdata(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint",
    oracle="SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint FROM documents",
    doc="Normalization-invariant md5 content fingerprint",
)
def doc_fingerprint(spark, sf_dir):
    return content_fingerprint(read_testdata(spark, sf_dir, "documents"))


_QUALITY_CTES = f"""
base AS (
    SELECT doc_id,
           CAST(length(text) AS bigint) AS n_chars,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS bigint) AS sum_tok,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t IN ('the','of','and','is','to'))) AS bigint) AS stop,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS bigint) AS punct
    FROM documents
), stats AS (
    SELECT doc_id, n_tokens,
           {o_round('sum_tok * 1.0 / n_tokens', 4)} AS avg_token_len,
           {o_round('stop * 1.0 / n_tokens', 6)} AS stopword_ratio,
           {o_round('punct * 1.0 / n_chars', 6)} AS punct_ratio
    FROM base
), rules AS (
    SELECT doc_id, n_tokens,
           CAST(n_tokens >= 5 AND n_tokens <= 100000 AS int)
           + CAST(stopword_ratio >= 0.01 AS int)
           + CAST(punct_ratio <= 0.3 AS int)
           + CAST(avg_token_len >= 2.0 AND avg_token_len <= 12.0 AS int) AS passed
    FROM stats
)
""".strip()

_QUALITY_ORACLE = f"""
WITH {_QUALITY_CTES}
SELECT doc_id, n_tokens, {o_round('passed / 4.0', 2)} AS quality_score,
       passed = 4 AS keep
FROM rules
"""


@register("doc_quality_score", oracle=_QUALITY_ORACLE,
          doc="Composite Gopher/C4-style quality score + keep flag for corpus filtering")
def doc_quality_score(spark, sf_dir):
    return quality_score(read_testdata(spark, sf_dir, "documents"))


_BIGRAM_LP_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS w
    FROM documents
),
bi AS (
    SELECT doc_id, unnest(range(1, len(w))) AS i, w
    FROM toks WHERE len(w) >= 2
),
bo AS (
    SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i + 1 AS INT)] AS w2 FROM bi
),
bc AS (SELECT w1, w2, count(*) AS c12 FROM bo GROUP BY 1, 2),
cc AS (SELECT w1, count(*) AS c1 FROM bo GROUP BY 1),
vv AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM toks)),
scored AS (
    SELECT bo.doc_id,
           CAST(sign(lp) * floor(abs(lp) * 10000.0 + 0.5) AS BIGINT) AS lps
    FROM (SELECT bo.doc_id,
                 log2((bc.c12 + 0.5) / (cc.c1 + 0.5 * vv.v)) AS lp
          FROM bo JOIN bc ON bc.w1 = bo.w1 AND bc.w2 = bo.w2
                  JOIN cc ON cc.w1 = bo.w1
                  CROSS JOIN vv) bo
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bigrams,
       (sign(a) * floor(abs(a) * 10000.0 + 0.5) / 10000.0) AS avg_logprob,
       (sign(p) * floor(abs(p) * 10000.0 + 0.5) / 10000.0) AS perplexity
FROM (SELECT doc_id, count(*) AS n,
             (CAST(sum(lps) AS DOUBLE) / count(*)) / 10000.0 AS a,
             pow(2.0, -((CAST(sum(lps) AS DOUBLE) / count(*)) / 10000.0)) AS p
      FROM scored GROUP BY doc_id) s
"""


_PASSAGE_DUPS_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS w
    FROM documents
),
t AS (
    SELECT doc_id, CAST(unnest(range(1, len(w) + 1)) AS INT) AS pos, w
    FROM toks WHERE len(w) >= 1
),
tt AS (SELECT doc_id, pos, w[pos] AS tok FROM t),
l AS (
    SELECT doc_id, pos, tok,
           lead(tok, 1) OVER win AS t1,
           lead(tok, 2) OVER win AS t2,
           lead(tok, 3) OVER win AS t3
    FROM tt WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
b AS (
    SELECT doc_id, pos, tok,
           CASE WHEN pos = 1 THEN 1
                WHEN t3 IS NOT NULL AND substr(
                        md5(tok || ' ' || t1 || ' ' || t2 || ' ' || t3), 1, 1
                     ) IN ('0', '1') THEN 1
                ELSE 0 END AS bd
    FROM l
),
s AS (
    SELECT doc_id, pos, tok,
           sum(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
    FROM b
),
segs AS (
    SELECT doc_id, seg, count(*) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS passage_hash
    FROM s GROUP BY doc_id, seg
),
pass AS (
    SELECT DISTINCT doc_id, passage_hash, n_tokens
    FROM segs WHERE n_tokens >= 8
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_passages,
       CAST(sum(a.n_tokens) AS BIGINT) AS shared_tokens
FROM pass a JOIN pass b ON b.passage_hash = a.passage_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@register("doc_passage_dups", oracle=_PASSAGE_DUPS_ORACLE,
          doc="PASSAGE-level duplication between documents via content-defined "
              "chunking: segment boundaries open where md5(4-token gram) starts "
              "with 0|1 (position-independent, so a paragraph copied at any "
              "offset chunks into identical interior segments), segments of "
              ">= 8 tokens self-join on their md5 — the local-copy detector "
              "whole-doc Jaccard misses (Lee et al. 2021 substring-dedup "
              "motivation). Pure md5/integer arithmetic, no floats; per-doc "
              "windows only")
def doc_passage_dups(spark, sf_dir):
    from ..llm.dedup import passage_dups

    return passage_dups(read_testdata(spark, sf_dir, "documents"))


_DSIR_ORACLE = """
WITH toks AS (
    SELECT doc_id, source = 'src0' AS is_t,
           list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS w
    FROM documents
),
occ AS (SELECT doc_id, is_t, unnest(w) AS tok FROM toks),
rc AS (SELECT tok, count(*) AS rc FROM occ GROUP BY 1),
tc AS (SELECT tok, count(*) AS tc FROM occ WHERE is_t GROUP BY 1),
tot AS (SELECT count(*) AS rtot,
               count(*) FILTER (WHERE is_t) AS ttot,
               count(DISTINCT tok) AS v
        FROM occ),
lam AS (
    SELECT tok, CAST(sign(l) * floor(abs(l) * 10000.0 + 0.5) AS BIGINT) AS ls
    FROM (SELECT rc.tok,
                 log2((coalesce(tc.tc, 0) + 0.5) / (tot.ttot + 0.5 * tot.v))
               - log2((rc.rc + 0.5) / (tot.rtot + 0.5 * tot.v)) AS l
          FROM rc LEFT JOIN tc ON tc.tok = rc.tok CROSS JOIN tot) q
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       (sign(a) * floor(abs(a) * 10000.0 + 0.5) / 10000.0) AS avg_logratio
FROM (SELECT o.doc_id, count(*) AS n,
             (CAST(sum(l.ls) AS DOUBLE) / count(*)) / 10000.0 AS a
      FROM occ o JOIN lam l ON l.tok = o.tok
      GROUP BY o.doc_id) s
"""


_DSIR_SAMPLE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source = 'src0' AS is_t,
           list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                       t -> t <> '') AS w
    FROM documents
),
occ AS (SELECT doc_id, is_t, unnest(w) AS tok FROM toks),
rc AS (SELECT tok, count(*) AS rc FROM occ GROUP BY 1),
tc AS (SELECT tok, count(*) AS tc FROM occ WHERE is_t GROUP BY 1),
tot AS (SELECT count(*) AS rtot,
               count(*) FILTER (WHERE is_t) AS ttot,
               count(DISTINCT tok) AS v
        FROM occ),
lam AS (
    SELECT tok, CAST(sign(l) * floor(abs(l) * 10000.0 + 0.5) AS BIGINT) AS ls
    FROM (SELECT rc.tok,
                 log2((coalesce(tc.tc, 0) + 0.5) / (tot.ttot + 0.5 * tot.v))
               - log2((rc.rc + 0.5) / (tot.rtot + 0.5 * tot.v)) AS l
          FROM rc LEFT JOIN tc ON tc.tok = rc.tok CROSS JOIN tot) q
),
wts AS (
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           (sign(a) * floor(abs(a) * 10000.0 + 0.5) / 10000.0) AS avg_logratio
    FROM (SELECT o.doc_id, count(*) AS n,
                 (CAST(sum(l.ls) AS DOUBLE) / count(*)) / 10000.0 AS a
          FROM occ o JOIN lam l ON l.tok = o.tok
          GROUP BY o.doc_id) s
),
hsh AS (
    SELECT doc_id, n_tokens, avg_logratio,
           CAST(CAST(md5_number_upper('dsir:42:' || CAST(doc_id AS VARCHAR)) AS HUGEINT)
                - CASE WHEN md5_number_upper('dsir:42:' || CAST(doc_id AS VARCHAR))
                            >= CAST(9223372036854775808 AS UBIGINT)
                       THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
                AS DOUBLE) AS sd
    FROM wts
),
keyed AS (
    SELECT doc_id, n_tokens, avg_logratio,
           {o_round("1.0 * avg_logratio + (-ln(-ln(least(greatest(sd / 18446744073709551616.0 + 0.5, 5.421010862427522e-20), 0.9999999999999999))))", 6)} AS sample_key
    FROM hsh
)
SELECT doc_id, n_tokens, avg_logratio, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
"""


@register("doc_dsir_sample", oracle=_DSIR_SAMPLE_ORACLE,
          doc="DSIR SELECTION step: Gumbel-top-k importance resampling of 100 docs "
              "with probability proportional to softmax(avg_logratio) — one "
              "distributed pass (key = weight + Gumbel noise from the seeded "
              "bit-verified md5-int64 twin; global top-k = exact softmax sample "
              "without replacement, preserving diversity where plain "
              "top-k-by-weight over-selects near-dup high scorers). Sort+limit = "
              "distributed TakeOrdered per-partition heaps. HASH-GRADE: the "
              "oracle replays weights, uniforms, Gumbels, keys and the cut")
def doc_dsir_sample(spark, sf_dir):
    from ..llm.textstats import dsir_gumbel_sample, dsir_logratio_weights

    docs = read_testdata(spark, sf_dir, "documents")
    # release-after-materialize (r12 verdict #5): the persisted
    # vocabulary table serves this entry's one materialization (the
    # k-row sample localizes), then its pinned blocks drop — repeated
    # catalog runs in one session no longer accumulate |V|-row caches
    w, release = dsir_logratio_weights(
        docs, target=F.col("source") == "src0", return_release=True
    )
    try:
        out = dsir_gumbel_sample(w, k=100, tau=1.0, seed=42)
        return localize(out)
    finally:
        release.release()


@register("doc_dsir_weights", oracle=_DSIR_ORACLE,
          doc="DSIR-style importance weights (Xie et al. 2023): per-document mean "
              "log2 likelihood-ratio of its unigrams under the TARGET slice "
              "(source='src0', the trusted-source proxy) vs the raw corpus, add-k "
              "smoothed over the shared vocabulary — select the top-weighted docs "
              "to build a target-like mix from a raw crawl. Per-word lambdas round "
              "into scaled BIGINTs and sum exactly (shuffle-order-independent); "
              "zero-token docs excluded by contract. JVM-only, TWO corpus scans: "
              "one word-count aggregate carrying raw+target counts (totals fold "
              "the vocabulary-sized word table) + the scoring join/aggregate. "
              "Cache hygiene: return_release=True + release after the entry's "
              "one materialization (per-doc rows localize), so repeated "
              "catalog runs never accumulate pinned |V|-row blocks")
def doc_dsir_weights(spark, sf_dir):
    from ..llm.textstats import dsir_logratio_weights

    docs = read_testdata(spark, sf_dir, "documents")
    w, release = dsir_logratio_weights(
        docs, target=F.col("source") == "src0", return_release=True
    )
    try:
        # localize the per-doc weight rows (documents-table-sized, the
        # doc_neardup_stream treatment), then drop the vocab cache
        return localize(w)
    finally:
        release.release()


def _logreg_oracle_sql(n_iter: int = 3, lr: float = 0.5) -> str:
    """Unrolled fixed-iteration batch-GD logistic regression (the
    k-means oracle treatment applied to a model fit): feat -> wts0 (zero
    vector) -> [margin/sigmoid -> scaled-bigint gradient sums -> weight
    update] x n_iter -> final scores. Mirrors llm.classifier op for op."""
    x4_inner = o_round("sum_tok * 1.0 / n_tokens", 4)
    feat = f"""feat AS (
    SELECT doc_id,
           CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
           {o_round('log2(1 + n_tokens)', 6)} AS x1,
           {o_round('stop * 1.0 / n_tokens', 6)} AS x2,
           {o_round('punct * 1.0 / n_chars', 6)} AS x3,
           {o_round(f'({x4_inner}) / 10', 6)} AS x4
    FROM (SELECT doc_id, source,
                 CAST(length(text) AS bigint) AS n_chars,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
                 CAST(length(regexp_replace(text, '\\s', '', 'g')) AS bigint) AS sum_tok,
                 CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                      t -> t IN ('the','of','and','is','to'))) AS bigint) AS stop,
                 CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS bigint) AS punct
          FROM documents WHERE text IS NOT NULL AND length(text) > 0) b),
wts0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)"""
    z = o_round("w.b + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4", 6)
    sig = o_round("1.0 / (1.0 + exp(-z))", 6)

    def gterm(x: str) -> str:
        e = "e" if x == "1" else f"(e * {x})"
        return f"CAST(sum(CAST(sign({e}) * floor(abs({e}) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)"

    parts = [feat]
    for i in range(1, n_iter + 1):
        upd = ", ".join(
            o_round(f"w.{c} + {lr!r} * ((CAST(g.g{j} AS DOUBLE) / 1000000.0) / g.n)", 6)
            + f" AS {c}"
            for j, c in enumerate(("b", "w1", "w2", "w3", "w4"))
        )
        parts.append(f"""sc{i} AS (
    SELECT zf.*, {sig} AS p FROM (
        SELECT f.*, {z} AS z FROM feat f CROSS JOIN wts{i - 1} w) zf),
g{i} AS (SELECT {gterm('1')} AS g0, {gterm('x1')} AS g1, {gterm('x2')} AS g2,
                {gterm('x3')} AS g3, {gterm('x4')} AS g4, count(*) AS n
         FROM (SELECT y - p AS e, x1, x2, x3, x4 FROM sc{i}) t),
wts{i} AS (SELECT {upd} FROM wts{i - 1} w CROSS JOIN g{i} g)""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT zf.doc_id, {sig} AS score, {sig} >= 0.5 AS pred, zf.y = 1.0 AS is_target
FROM (SELECT f.*, {z} AS z FROM feat f CROSS JOIN wts{n_iter} w) zf
"""


@register("doc_quality_classifier", oracle=_logreg_oracle_sql(3, 0.5),
          doc="TRAINABLE quality filter: distributed logistic regression (3 "
              "full-batch GD steps, lr=0.5, zero init) over cheap doc features "
              "(log2 token count, stopword/punct ratios, avg token length), label "
              "= source='src0' — the trusted-vs-crawl classifier recipe. Per "
              "iteration ONE map-side-combined aggregate yields scaled-bigint "
              "gradient sums (exact under any shuffle); the driver holds only the "
              "5 weights. HASH-GRADE: the oracle unrolls all three GD steps as "
              "CTEs and replays feature rounding, margins, sigmoids, gradients "
              "and updates bit-for-bit. On this synthetic corpus the slices are "
              "statistically alike, so the fit converges toward the ~5% target "
              "base rate (scores ~0.001-0.03, no positive predictions) — the "
              "graded contract is the deterministic distributed FIT end-to-end")
def doc_quality_classifier(spark, sf_dir):
    from ..llm.classifier import logreg_quality_score

    docs = read_testdata(spark, sf_dir, "documents")
    return logreg_quality_score(docs, target=F.col("source") == "src0")


@register("doc_bigram_logprob", oracle=_BIGRAM_LP_ORACLE,
          doc="Add-k bigram language-model score per document (KenLM-style "
              "statistical quality filter): mean log2 P(w2|w1) + per-token "
              "perplexity, counts trained on the corpus itself. Per-bigram "
              "logprobs round into scaled BIGINTs and sum exactly, so the "
              "mean is shuffle-order-independent and the oracle replays it "
              "bit-for-bit; docs with < 2 tokens have no bigram evidence and "
              "are excluded by contract")
def doc_bigram_logprob(spark, sf_dir):
    from ..llm.textstats import bigram_logprob

    return bigram_logprob(read_testdata(spark, sf_dir, "documents"))


_BPE_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_words,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bigint) AS n_subword_tokens,
           CAST(length(text) AS bigint) AS n_chars
    FROM documents
)
SELECT doc_id, n_words, n_subword_tokens,
       {o_round('n_chars * 1.0 / n_subword_tokens', 4)} AS chars_per_token
FROM base
"""


@register("doc_bpe_tokens", oracle=_BPE_ORACLE,
          doc="Whitespace vs BPE-ish (GPT-2 pre-tokenization regex) token counts")
def doc_bpe_tokens(spark, sf_dir):
    return bpe_token_count(read_testdata(spark, sf_dir, "documents"))


_REPETITION_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CAST(length(text) AS bigint) AS n_chars,
           string_split_regex(trim(text), '\\s+') AS w
    FROM documents WHERE text IS NOT NULL
), grams AS (
    SELECT doc_id, n_chars, array_to_string(w[i:i+1], ' ') AS gram
    FROM (SELECT doc_id, n_chars, w,
                 unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS i
          FROM toks)
), per_gram AS (
    SELECT doc_id, n_chars, gram, CAST(count(*) AS bigint) AS cnt
    FROM grams GROUP BY doc_id, n_chars, gram
), ranked AS (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
    FROM per_gram
), per_doc AS (
    SELECT doc_id, n_chars,
           CAST(sum(cnt) AS bigint) AS n_grams,
           CAST(count(*) AS bigint) AS n_distinct_grams,
           CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS bigint) AS dup_occ
    FROM per_gram GROUP BY doc_id, n_chars
)
SELECT d.doc_id, d.n_grams, d.n_distinct_grams,
       r.gram AS top_gram, r.cnt AS top_gram_count,
       {o_round('d.dup_occ * 1.0 / d.n_grams', 6)} AS dup_gram_frac,
       {o_round('length(r.gram) * r.cnt * 1.0 / d.n_chars', 6)} AS top_gram_char_frac
FROM per_doc d JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
"""


@register("doc_repetition_stats", oracle=_REPETITION_ORACLE,
          doc="Gopher-style repetition signals: duplicate-2-gram fraction + top-2-gram char share")
def doc_repetition_stats(spark, sf_dir):
    return repetition_stats(read_testdata(spark, sf_dir, "documents"), n=2)


_DECONTAMINATE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
    FROM documents WHERE text IS NOT NULL
), grams AS (
    SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+2], ' ')) AS g
    FROM (SELECT doc_id, w,
                 unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS i
          FROM toks)
), corpus AS (
    SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0
), ev AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
), tot AS (
    SELECT doc_id, CAST(count(*) AS bigint) AS n_grams FROM corpus GROUP BY doc_id
), hit AS (
    SELECT c.doc_id, CAST(count(*) AS bigint) AS n_matched
    FROM corpus c JOIN ev USING (g) GROUP BY c.doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(COALESCE(h.n_matched, 0) AS bigint) AS n_matched,
       {o_round('COALESCE(h.n_matched, 0) * 1.0 / t.n_grams', 6)} AS contamination_frac,
       COALESCE(h.n_matched, 0) >= 1 AS contaminated
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
"""


@register("doc_decontaminate", oracle=_DECONTAMINATE_ORACLE,
          doc="Benchmark decontamination: word-3-gram overlap of the corpus vs a held-out eval slice")
def doc_decontaminate(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_overlap(corpus, eval_df, n=3)


# --- embedding analytics ----------------------------------------------------

_CENTROID_ORACLE = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT label, CAST(i AS int) AS dim, v[CAST(i + 1 AS int)] AS val
      FROM e CROSS JOIN unnest(range(0, len(v))) AS u(i))
SELECT label, dim,
       (sign(s / n) * floor(abs(s / n) * 100000000.0 + 0.5) / 100000000.0) AS mean_value,
       n AS n_vectors
FROM (SELECT label, dim,
             CAST(sum(CAST(val AS DECIMAL(38,12))) AS double) AS s,
             CAST(count(*) AS bigint) AS n
      FROM x GROUP BY 1, 2)
"""


@register("emb_label_centroids", oracle=_CENTROID_ORACLE,
          doc="Per-label embedding centroids (drift monitoring / IVF coarse quantizer): "
              "posexplode to (group, dim), ONE shuffle with decimal sums so float "
              "summation order cannot flip a bit, davg-style deterministic mean")
def emb_label_centroids(spark, sf_dir):
    from ..llm.embeddings import group_centroids_long

    emb = read_testdata(spark, sf_dir, "embeddings")
    return group_centroids_long(emb, "label")


# --- chunking & scrubbing ---------------------------------------------------

# 64-token windows, 16 overlap (stride 48) — mirrors llm.chunking defaults
_CHUNK_ORACLE = """
WITH words AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS w
    FROM documents WHERE trim(coalesce(text, '')) <> ''
),
sized AS (
    SELECT doc_id, w, len(w) AS n,
           greatest(0, (CAST(ceil((len(w) - 16) / 48.0) AS int) - 1) * 48) AS last_start
    FROM words
)
SELECT doc_id,
       CAST(s / 48 AS int) AS chunk_id,
       CAST(least(64, n - s) AS bigint) AS n_tokens,
       array_to_string(w[s + 1 : least(s + 64, n)], ' ') AS chunk_text
FROM sized CROSS JOIN unnest(range(0, last_start + 1, 48)) AS u(s)
"""


@register("doc_chunks", oracle=_CHUNK_ORACLE,
          doc="Overlapping token-window chunking (64 tokens, 16 overlap) — context-window "
              "prep between cleaning and tokenization; JVM-only sequence+posexplode+slice, "
              "zero shuffle, fan-out proportional to corpus tokens")
def doc_chunks(spark, sf_dir):
    from ..llm.chunking import chunk_documents

    docs = read_testdata(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


def _pii_oracle():
    from ..llm.scrub import o_scrub_pii

    injected = (
        "text || ' contact c' || CAST(doc_id AS varchar) || '@example.com or call "
        "+1 555 010' || CAST(doc_id % 10 AS varchar)"
    )
    scrubbed, n_red = o_scrub_pii(injected)
    return (
        f"SELECT doc_id, CAST({n_red} AS bigint) AS n_redactions, {scrubbed} AS text "
        "FROM documents"
    )


@register("doc_pii_scrub", oracle=_pii_oracle(),
          doc="PII redaction (email/phone/IPv4 regexp_replace chain, JVM codegen, zero "
              "shuffle) over text with deterministically injected PII so the redaction "
              "path is actually exercised; n_redactions counts matches removed")
def doc_pii_scrub(spark, sf_dir):
    from ..llm.scrub import scrub_pii

    docs = read_testdata(spark, sf_dir, "documents")
    with_pii = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact c"), F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1 555 010"),
            (F.col("doc_id") % 10).cast("string"),
        ),
    )
    return scrub_pii(with_pii).select("doc_id", "n_redactions", "text")


# --- token-budget curation --------------------------------------------------

_BUDGET_ORACLE = f"""
WITH {_QUALITY_CTES},
q AS (SELECT doc_id, n_tokens, {o_round('passed / 4.0', 2)} AS quality_score FROM rules),
j AS (SELECT d.doc_id, d.lang, q.n_tokens, q.quality_score
      FROM documents d JOIN q USING (doc_id)),
c AS (SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang
                                      ORDER BY quality_score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS bigint) AS cum_tokens
      FROM j)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 3000
"""


@register("doc_token_budget", oracle=_BUDGET_ORACLE,
          doc="Training-mix curation: per-language greedy selection of highest-quality "
              "docs until a 3000-token budget fills (window running sum, deterministic "
              "quality-desc/id tie-break, whole documents only)")
def doc_token_budget(spark, sf_dir):
    from ..operators.sampling import select_by_token_budget

    docs = read_testdata(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "n_tokens", "quality_score")
    joined = docs.select("doc_id", "lang").join(q, "doc_id")
    out = select_by_token_budget(
        joined, budget=3000, token_col="n_tokens", group_col="lang",
        order_by=[F.col("quality_score").desc()],
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens")


# --- incremental (cross-snapshot) dedup -------------------------------------

_INCR_DEDUP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
  FROM documents
), seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 4 = 0)
SELECT f.doc_id, f.fingerprint
FROM fp f LEFT JOIN seen s ON f.fingerprint = s.fingerprint
WHERE s.fingerprint IS NULL
"""


@register("doc_incremental_dedup", oracle=_INCR_DEDUP_ORACLE,
          doc="Incremental exact dedup against a prior snapshot: every doc_id%4==0 "
              "document's fingerprint plays the previously-ingested corpus; the "
              "daily batch keeps only content-novel documents (a %4!=0 doc that "
              "duplicates a seen doc's normalized content drops too). Fingerprint "
              "projection + ONE left-anti join on the md5 key — the daily-refresh "
              "complement of within-corpus exact dedup (llm/dedup.py)")
def doc_incremental_dedup(spark, sf_dir):
    from ..llm.dedup import dedup_against_seen
    from ..llm.textstats import content_fingerprint

    docs = read_testdata(spark, sf_dir, "documents")
    seen = content_fingerprint(docs.filter(F.col("doc_id") % 4 == 0))
    return dedup_against_seen(docs, seen)


# Cross-snapshot exact word-3-gram Jaccard: the incoming batch
# (doc_id >= 250) against the previously-ingested corpus (doc_id < 250).
# The Spark path gates pairs through MinHash band collisions first; at
# these params (16 bands x 4 rows) a true pair at s=0.8 misses all
# bands with p~2e-4, so oracle equality holds — same recall treatment
# as doc_minhash_lsh_pairs.
_INCR_NEARDUP_ORACLE = r"""
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
shl AS (SELECT doc_id, list_transform(range(greatest(len(w)-2, 0)),
                                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) sl FROM words),
sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl),
sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id, b.doc_id AS seen_id, count(*) n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle
          WHERE a.doc_id >= 250 AND b.doc_id < 250 GROUP BY 1, 2)
SELECT p.doc_id, p.seen_id,
       n_common * 1.0 / (x.n + y.n - n_common) AS jaccard
FROM pairs p JOIN sz x ON p.doc_id = x.doc_id JOIN sz y ON p.seen_id = y.doc_id
WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.8
"""


@register("doc_neardup_incremental", oracle=_INCR_NEARDUP_ORACLE,
          doc="Incremental NEAR-dup detection: the incoming batch (doc_id >= 250) "
              "collides its MinHash band signatures against the persisted band "
              "store of the prior corpus (doc_id < 250), then exact-verifies only "
              "the colliding pairs — catches the one-word-edit repeats that "
              "fingerprint-based doc_incremental_dedup misses. Batch signatures "
              "are zero-shuffle; the collision join is co-located when the store "
              "is bucketed on (band, sig); verification shingles colliding docs "
              "only, never |batch| x |corpus|. HASH-GRADE: verified pairs equal "
              "exact cross-snapshot Jaccard >= 0.8 (banded miss p~2e-4 at s=0.8)")
def doc_neardup_incremental(spark, sf_dir):
    from ..llm.dedup import band_signature_store, neardup_against_seen

    docs = read_testdata(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return neardup_against_seen(new, band_signature_store(old), old)


# Streaming near-dup ingest loop (r13): the steady-state foreachBatch
# pipeline graded end to end. Three deterministic "daily" batches
# (doc_id % 3, one parquet file each, strictly increasing pinned
# mtimes so the file source ingests them in order) flow through
# neardup_ingest_stream; the graded frame is one row PER DOCUMENT —
# its batch, whether it landed in the corpus (novel), and how many
# band rows it contributed to the persisted store. The oracle replays
# the batch-sequential novelty RECURSION (a doc drops iff it
# exact-Jaccard >= 0.8 matches an earlier-batch doc that itself
# survived) unrolled over the three batches, plus the store
# cardinality rule (16 bands per novel doc with >= 1 shingle, 0
# otherwise). Banded-miss treatment as doc_neardup_incremental
# (p ~ 2e-4 at s=0.8). Within-batch duplicates deliberately both
# survive (minhash_lsh_pairs' job at corpus build time).
_NEARDUP_STREAM_ORACLE = r"""
WITH words AS (SELECT doc_id, CAST(doc_id % 3 AS int) AS b,
                      string_split_regex(trim(text), '\s+') w FROM documents),
shl AS (SELECT doc_id, list_transform(range(greatest(len(w)-2, 0)),
                 i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) sl FROM words),
sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl),
sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
bt AS (SELECT doc_id, b FROM words),
pr AS (SELECT a.doc_id, x.b AS bn, p.doc_id AS seen_id, y.b AS bo, count(*) n_common
       FROM sh a JOIN sh p ON a.shingle = p.shingle
       JOIN bt x ON x.doc_id = a.doc_id JOIN bt y ON y.doc_id = p.doc_id
       WHERE x.b > y.b GROUP BY 1, 2, 3, 4),
pairs AS (SELECT p.doc_id, p.bn, p.seen_id, p.bo
          FROM pr p JOIN sz x ON p.doc_id = x.doc_id
          JOIN sz y ON p.seen_id = y.doc_id
          WHERE p.n_common * 1.0 / (x.n + y.n - p.n_common) >= 0.8),
n0 AS (SELECT doc_id FROM bt WHERE b = 0),
d1 AS (SELECT DISTINCT p.doc_id FROM pairs p
       JOIN n0 s ON p.seen_id = s.doc_id WHERE p.bn = 1),
n1 AS (SELECT doc_id FROM bt WHERE b = 1
       AND doc_id NOT IN (SELECT doc_id FROM d1)),
d2 AS (SELECT DISTINCT p.doc_id FROM pairs p
       WHERE p.bn = 2 AND (p.seen_id IN (SELECT doc_id FROM n0)
                           OR p.seen_id IN (SELECT doc_id FROM n1))),
n2 AS (SELECT doc_id FROM bt WHERE b = 2
       AND doc_id NOT IN (SELECT doc_id FROM d2)),
novel AS (SELECT doc_id FROM n0 UNION ALL SELECT doc_id FROM n1
          UNION ALL SELECT doc_id FROM n2)
SELECT t.doc_id, t.b AS batch_id,
       (nv.doc_id IS NOT NULL) AS is_novel,
       CAST(CASE WHEN nv.doc_id IS NOT NULL AND sz.n IS NOT NULL
                 THEN 16 ELSE 0 END AS bigint) AS n_store_rows
FROM bt t
LEFT JOIN novel nv ON nv.doc_id = t.doc_id
LEFT JOIN sz ON sz.doc_id = t.doc_id
"""


@register("doc_neardup_stream", oracle=_NEARDUP_STREAM_ORACLE,
          doc="STREAMING near-dup ingest loop graded end to end: three "
              "deterministic daily batches (doc_id % 3, pinned-mtime files, "
              "maxFilesPerTrigger=1) flow through neardup_ingest_stream — "
              "per micro-batch the incoming docs collide with the PERSISTED "
              "band store, only content-novel docs land in the corpus, and "
              "their signatures extend the store under __BATCH_ID dynamic "
              "overwrite (exactly-once; strictly-earlier-batch reads make "
              "replays bit-identical). Graded frame: one row per document "
              "(batch, novel?, store band rows). HASH-GRADE: the oracle "
              "unrolls the batch-sequential novelty recursion — a doc drops "
              "iff it exact-Jaccard >= 0.8 matches an earlier-batch "
              "SURVIVOR — plus the 16-bands-per-novel-doc store rule; the "
              "replay-determinism contract is what makes the steady-state "
              "loop oracle-replayable at all")
def doc_neardup_stream(spark, sf_dir):
    import os
    import shutil
    import tempfile
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming.neardup import neardup_ingest_stream

    docs = read_testdata(spark, sf_dir, "documents")
    batch_id = (F.col("doc_id") % 3).cast("int").alias("batch_id")
    table = docs.select("*", batch_id).toArrow()
    work = tempfile.mkdtemp(prefix="neardup_stream_")
    try:
        watch = os.path.join(work, "incoming")
        os.makedirs(watch)
        # one parquet FILE per batch with strictly increasing pinned
        # mtimes: the file source (maxFilesPerTrigger=1) ingests in
        # mtime order, so batch ids 0,1,2 map to doc_id % 3 == 0,1,2
        base = time.time() - 3600
        for b in range(3):
            dst = os.path.join(watch, f"batch{b}.parquet")
            pq.write_table(
                table.filter(pc.equal(table["batch_id"], b)).select(docs.columns),
                dst,
            )
            os.utime(dst, (base + b * 60, base + b * 60))
        corpus = os.path.join(work, "corpus")
        store = os.path.join(work, "store")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )
        q = neardup_ingest_stream(
            stream, corpus, store, os.path.join(work, "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the stream's own writer produced these: read them back with
        # the known schema instead of inferring it from a footer
        written = "doc_id bigint, __BATCH_ID int"
        landed = spark.read.schema(written).parquet(corpus).select(
            "doc_id", F.lit(True).alias("is_novel")
        )
        store_rows = (
            spark.read.schema(written).parquet(store)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_store_rows"))
        )
        out = (
            docs.select("doc_id", batch_id)
            .join(landed, "doc_id", "left")
            .join(store_rows, "doc_id", "left")
            .select(
                "doc_id", "batch_id",
                F.coalesce("is_novel", F.lit(False)).alias("is_novel"),
                F.coalesce("n_store_rows", F.lit(0)).cast("bigint").alias("n_store_rows"),
            )
        )
        # localize before the tempdir (and its parquet listings) vanish
        return localize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- source-weighted mixture sampling ---------------------------------------

_MIXTURE_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books' ELSE 'code' END AS source,
         CAST(len(string_split_regex(trim(coalesce(text, '')), '\s+')) AS BIGINT) AS n_tokens,
         md5('mix8' || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c
WHERE cum_tokens <= CASE source WHEN 'web' THEN 30000
                                WHEN 'books' THEN 15000
                                ELSE 5000 END
"""


@register("doc_mixture_sample", oracle=_MIXTURE_ORACLE,
          doc="Training-mix construction: a 50k-token budget split 60/30/10 "
              "across (synthesized) web/books/code sources, each share filled "
              "greedily in deterministic md5(seed:id) order with whole "
              "documents only. Per-source running totals come from the "
              "md5-prefix bucketed two-phase prefix sum "
              "(operators.windows.bucketed_prefix_sum) — the oracle's "
              "PARTITION BY source window replayed WITHOUT funneling a third "
              "of the corpus through one task")
def doc_mixture_sample(spark, sf_dir):
    from ..operators.sampling import mixture_by_token_budget

    docs = read_testdata(spark, sf_dir, "documents")
    src = (
        F.when(F.col("doc_id") % 3 == 0, "web")
        .when(F.col("doc_id") % 3 == 1, "books")
        .otherwise("code")
    )
    toks = F.size(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    ).cast("bigint")
    base = docs.select("doc_id", src.alias("source"), toks.alias("n_tokens"))
    out = mixture_by_token_budget(
        base, "source", {"web": 0.6, "books": 0.3, "code": 0.1},
        total_budget=50_000, token_col="n_tokens", seed="mix8",
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


# --- dataset splitting & sampling -------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SAMPLE_FRACS = {"en": 0.2, "zh": 0.8}  # downsample high-resource langs


def _split_oracle():
    from ..operators.sampling import o_hash_split

    return (
        f"SELECT doc_id, lang, {o_hash_split('doc_id', _SPLIT_WEIGHTS)} AS split "
        "FROM documents"
    )


def _sample_oracle():
    from ..operators.sampling import o_stratified_sample

    pred = o_stratified_sample("doc_id", "lang", _SAMPLE_FRACS, default_fraction=1.0)
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


@register("doc_train_split", oracle=_split_oracle(),
          doc="Deterministic hash-bucket train/val/test split (90/5/5): membership is a "
              "pure function of (doc_id, seed) — partitioning-independent, reproducible "
              "across engines (md5 hex-prefix compare), zero shuffle")
def doc_train_split(spark, sf_dir):
    from ..operators.sampling import hash_split

    docs = read_testdata(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", _SPLIT_WEIGHTS).select("doc_id", "lang", "split")


@register("doc_stratified_sample", oracle=_sample_oracle(),
          doc="Deterministic stratified downsampling by language (corpus rebalancing: "
              "keep 20% en / 80% zh / 100% rest) — hash-bucket filter, no sampleBy "
              "partition-dependence, zero shuffle")
def doc_stratified_sample(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    docs = read_testdata(spark, sf_dir, "documents")
    return stratified_sample(
        docs, _SAMPLE_FRACS, "lang", "doc_id", default_fraction=1.0
    ).select("doc_id", "lang", "source")


# --- deduplication ----------------------------------------------------------


@register(
    "doc_exact_dedup",
    oracle="""
SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
       min(doc_id) AS keeper_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1
""",
    doc="Exact dedup groups via hash-aggregate on the content fingerprint",
)
def doc_exact_dedup(spark, sf_dir):
    return exact_dedup_groups(read_testdata(spark, sf_dir, "documents"))


_JACCARD_ORACLE = """
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
shl AS (SELECT doc_id, list_transform(range(greatest(len(w)-2, 0)),
                                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) sl FROM words),
sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl),
sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common * 1.0 / (x.n + y.n - n_common) AS jaccard
FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE n_common * 1.0 / (x.n + y.n - n_common) >= 0.8
"""


@register("doc_jaccard_pairs", oracle=_JACCARD_ORACLE,
          doc="Exact word-3-gram Jaccard near-dup pairs (threshold 0.8)")
def doc_jaccard_pairs(spark, sf_dir):
    return jaccard_pairs(read_testdata(spark, sf_dir, "documents"), threshold=0.8)


_CONTAINMENT_ORACLE = """
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
shl AS (SELECT doc_id, list_transform(range(greatest(len(w)-2, 0)),
                                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) sl FROM words),
sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl),
sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_common * 1.0 / x.n AS containment_a_in_b,
       n_common * 1.0 / y.n AS containment_b_in_a
FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE greatest(n_common * 1.0 / x.n, n_common * 1.0 / y.n) >= 0.8
"""


@register("doc_containment_pairs", oracle=_CONTAINMENT_ORACLE,
          doc="Asymmetric Broder CONTAINMENT pairs (|A∩B|/|A|, threshold 0.8 on the "
              "larger direction): catches sub-documents — quotes, boilerplate-wrapped "
              "reposts, chunks of longer docs — that symmetric Jaccard misses because "
              "the size imbalance dominates the union; same inverted-index shape as "
              "doc_jaccard_pairs")
def doc_containment_pairs(spark, sf_dir):
    return containment_pairs(read_testdata(spark, sf_dir, "documents"), threshold=0.8)


_HOT_SHINGLES_ORACLE = """
WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
shl AS (SELECT doc_id, list_transform(range(greatest(len(w)-2, 0)),
                                      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) sl FROM words),
sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM shl)
SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1 HAVING count(*) >= 2
ORDER BY n_docs DESC, shingle LIMIT 20
"""


@register("doc_hot_shingles", oracle=_HOT_SHINGLES_ORACLE,
          doc="Heavy-hitter shingle profile (top-20 boilerplate n-grams, freq >= 2) — "
              "the fan-out drivers of the Jaccard inverted-index self-join; feeds "
              "jaccard_pairs(max_shingle_freq=...) capping. Deterministic tie-break "
              "(freq desc, shingle asc) so LIMIT is stable cross-engine")
def doc_hot_shingles(spark, sf_dir):
    from ..llm.dedup import hot_shingles

    return hot_shingles(read_testdata(spark, sf_dir, "documents"), min_freq=2, k=20)


_CLUSTER_ORACLE = f"""
WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
    SELECT v, v FROM verts
    UNION
    SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
)
SELECT v AS doc_id, min(r) AS cluster_id, (v = min(r)) AS keeper
FROM reach GROUP BY v
"""


@register("doc_dedup_clusters", oracle=_CLUSTER_ORACLE,
          doc="Transitive near-dup CLUSTERS from the exact Jaccard pair list — "
              "distributed hash-min connected components (one edges⋈labels join + "
              "min-agg per round, pair-graph-sized, driver-controlled convergence); "
              "the oracle is a DuckDB recursive-CTE reachability closure")
def doc_dedup_clusters(spark, sf_dir):
    from ..operators.graph import dedup_clusters

    prs, release = jaccard_pairs(
        read_testdata(spark, sf_dir, "documents"), threshold=0.8, return_release=True
    )
    try:
        return dedup_clusters(prs)
    finally:
        # the components are computed (driver union-find or persisted
        # labels), so the pinned per-doc hash arrays can drop
        release.release()


_PRUNE_ORACLE = f"""
WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
    SELECT v, v FROM verts
    UNION
    SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
),
labels AS (
    SELECT v AS doc_id, min(r) AS cluster_id, (v = min(r)) AS keeper
    FROM reach GROUP BY v
)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(l.keeper, TRUE) AS kept
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


@register("corpus_near_dup_prune", oracle=_PRUNE_ORACLE,
          doc="End-to-end near-dup pruning: Jaccard pairs -> transitive clusters -> "
              "keeper-per-cluster applied back onto the FULL corpus (singletons kept); "
              "filter(kept) IS the deduplicated corpus")
def corpus_near_dup_prune(spark, sf_dir):
    from ..operators.graph import dedup_clusters, prune_near_dups

    docs = read_testdata(spark, sf_dir, "documents")
    prs, release = jaccard_pairs(docs, threshold=0.8, return_release=True)
    try:
        clusters = dedup_clusters(prs)
    finally:
        release.release()
    return prune_near_dups(docs, clusters)


@register("corpus_near_dup_prune_lsh", oracle=_PRUNE_ORACLE,
          doc="Near-dup pruning composed over the SUB-QUADRATIC MinHash-LSH pair path "
              "(banded candidates, exact-verified) — the 100 TB form of "
              "corpus_near_dup_prune, hash-matching the same exact-Jaccard oracle. "
              "LSH is probabilistic (a pair at s=0.8 misses all 16 bands with "
              "p~2e-4), so equality with the exact oracle is empirical at this "
              "sf/seed, not guaranteed at every scale")
def corpus_near_dup_prune_lsh(spark, sf_dir):
    from ..operators.graph import dedup_clusters, prune_near_dups

    docs = read_testdata(spark, sf_dir, "documents")
    clusters = dedup_clusters(minhash_lsh_pairs(docs, threshold=0.8))
    return prune_near_dups(docs, clusters)


# one-row corpus dedup report: the numbers a pipeline owner actually
# asks for before committing to a dedup pass. The cluster-size histogram
# is a canonical "size:count,..." string (ascending size) so the value
# hash-compares across engines without struct/array representation
# differences.
_DEDUP_REPORT_ORACLE = f"""
WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
    SELECT v, v FROM verts
    UNION
    SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
),
clus AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
csizes AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY 1),
hist AS (SELECT sz, count(*) AS n_clusters FROM csizes GROUP BY 1),
hist_s AS (SELECT coalesce(string_agg(sz || ':' || n_clusters, ',' ORDER BY sz), '') AS h
           FROM hist),
ex AS (SELECT coalesce(sum(n - 1), 0) AS n_exact FROM (
           SELECT count(*) AS n FROM documents
           GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) g),
tot AS (SELECT count(*) AS n_docs FROM documents),
near AS (SELECT count(*) AS n_near FROM clus WHERE doc_id <> cluster_id)
SELECT tot.n_docs,
       CAST(ex.n_exact AS bigint) AS n_exact_dup_docs,
       {o_round('ex.n_exact * 1.0 / tot.n_docs', 6)} AS pct_exact_dups,
       CAST(near.n_near AS bigint) AS n_near_dup_docs,
       {o_round('near.n_near * 1.0 / tot.n_docs', 6)} AS pct_near_dups,
       hist_s.h AS cluster_size_hist
FROM tot, ex, near, hist_s
"""


@register("corpus_dedup_report", oracle=_DEDUP_REPORT_ORACLE,
          doc="One-row corpus dedup report: fraction of docs an exact dedup would drop, "
              "fraction a near-dup (0.8 Jaccard) prune would drop, and the near-dup "
              "cluster-size histogram as a canonical 'size:count' string — composes "
              "exact_dedup_groups + dedup_clusters, all aggregates tiny post-shuffle")
def corpus_dedup_report(spark, sf_dir):
    from ..functions.money import dround
    from ..operators.graph import dedup_clusters

    docs = read_testdata(spark, sf_dir, "documents")
    # ONE corpus pass feeds both corpus-level counts (r21, guide §1.2
    # step 1): every document lands in exactly one fingerprint group
    # (md5(NULL) groups NULLs together like the oracle's GROUP BY), so
    # sum(n_docs) over groups IS count(*) — the former separate
    # docs.agg(count) scan re-read the whole corpus for a number the
    # dedup aggregate already had
    tot_ex = exact_dedup_groups(docs).agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.col("n_docs") - 1), F.lit(0)).cast("bigint").alias("n_exact_dup_docs"),
    )
    prs, release = jaccard_pairs(docs, threshold=0.8, return_release=True)
    try:
        clusters = dedup_clusters(prs)
    finally:
        release.release()
    hist = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    # the near-dup count is derivable from the size histogram — each
    # cluster keeps exactly its keeper, so non-keepers = Σ (sz-1) per
    # cluster (r21: drops the separate sum(~keeper) aggregate branch
    # and its crossJoin; integer arithmetic, bit-identical)
    hist_s = hist.agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sz", "n_clusters"))),
                lambda s: F.concat_ws(":", s["sz"], s["n_clusters"]),
            ),
            ",",
        ).alias("cluster_size_hist"),
        F.coalesce(
            F.sum((F.col("sz") - 1) * F.col("n_clusters")), F.lit(0)
        ).cast("bigint").alias("n_near_dup_docs"),
    )
    return (
        tot_ex.crossJoin(hist_s)
        .select(
            "n_docs",
            "n_exact_dup_docs",
            dround(F.col("n_exact_dup_docs") / F.col("n_docs"), 6).alias("pct_exact_dups"),
            "n_near_dup_docs",
            dround(F.col("n_near_dup_docs") / F.col("n_docs"), 6).alias("pct_near_dups"),
            "cluster_size_hist",
        )
    )


@register("doc_minhash_lsh_pairs", oracle=_JACCARD_ORACLE,
          doc="MinHash(64)+LSH(16x4) candidates, exact-verified at 0.8 — sub-quadratic "
              "scale path, checked against the SAME oracle as doc_jaccard_pairs. "
              "Verified candidates are exact-rescored so there are no false positives; "
              "recall is probabilistic (a pair at s=0.8 misses all bands with p~2e-4), "
              "so oracle equality is empirical at this sf/seed, not a guarantee")
def doc_minhash_lsh_pairs(spark, sf_dir):
    return minhash_lsh_pairs(read_testdata(spark, sf_dir, "documents"), threshold=0.8)


# DuckDB twin of llm/dedup.py simhash64: md5_number_upper(tok) equals
# Python's int.from_bytes(md5(tok)[:8], 'little'); each bit votes +-1,
# signature bit = sign of the vote sum, bit 63 wraps to int64 sign.
_SIMHASH_SIG_SQL = """
toks AS (SELECT doc_id, unnest(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS tok
         FROM documents),
h AS (SELECT doc_id, md5_number_upper(tok) AS h64 FROM toks),
votes AS (SELECT doc_id, b.b AS bit,
                 sum(CASE WHEN (h64 >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) b GROUP BY 1, 2),
sig AS (SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN
                    CASE WHEN bit = 63 THEN -9223372036854775808
                         ELSE (1::BIGINT << CAST(bit AS INT)) END
                    ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1)
"""


@register("doc_simhash", oracle=f"WITH {_SIMHASH_SIG_SQL} SELECT doc_id, simhash FROM sig",
          doc="64-bit SimHash signatures (Charikar) per document — bit-exact vs the "
              "DuckDB md5 reimplementation")
def doc_simhash(spark, sf_dir):
    return simhash64(read_testdata(spark, sf_dir, "documents"))


@register("doc_simhash_pairs",
          oracle=f"""WITH {_SIMHASH_SIG_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
          doc="SimHash near-dup pairs (hamming <= 3) via 4x16-bit chunk buckets — "
              "pigeonhole-exact, one band-style self-join, never all-pairs; the oracle "
              "recomputes signatures from scratch and brute-forces all pairs")
def doc_simhash_pairs(spark, sf_dir):
    return simhash_pairs(read_testdata(spark, sf_dir, "documents"), max_hamming=3)


# --- similarity search ------------------------------------------------------

_KNN_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 100),
scored AS (
    SELECT q.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(q.e, a.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(a.e, a.e)))', 8)} AS cos_sim
    FROM q JOIN v a ON a.vec_id <> q.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT vec_id, CAST(rnk AS int) AS rank, neighbor_id, cos_sim FROM ranked WHERE rnk <= 5
"""


@register("emb_cosine_topk", oracle=_KNN_ORACLE,
          doc="Exact brute-force cosine top-5 neighbors for query vectors (vec_id < 100)")
def emb_cosine_topk(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)


_HARDNEG_ORACLE = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 100),
scored AS (
    SELECT q.vec_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
           {o_round('list_dot_product(q.e, a.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(a.e, a.e)))', 8)} AS cos_sim
    FROM q JOIN v a ON a.label <> q.label
),
ranked AS (
    SELECT vec_id, neighbor_id, neighbor_label, cos_sim,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT vec_id, CAST(rnk AS int) AS rank, neighbor_id, neighbor_label, cos_sim
FROM ranked WHERE rnk <= 5
"""


@register("emb_hard_negatives", oracle=_HARDNEG_ORACLE,
          doc="Hard-negative mining for contrastive training: exact top-5 most-similar "
              "CROSS-label neighbors per query vector (vec_id < 100) — same bounded-query "
              "BLAS scan as emb_cosine_topk with the same-label columns masked per batch")
def emb_hard_negatives(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, k=5, query_filter=F.col("vec_id") < 100)


# DuckDB twin of llm/projection.py: the Rademacher sign of matrix cell
# (i, j) is the low bit of md5('rp{i}_{j}') — md5_number_upper's low
# bit equals Python md5(tag).digest()[0] & 1 (same identity the
# SimHash oracle is bit-verified on). Both engines fold the signed
# terms strictly left-to-right (F.aggregate == list_reduce), and the
# +-1 multiplies are IEEE-exact, so parity never rides on float
# associativity.
def _rp_fold_sql(arr: str, jref: str, in_dim: int = 64, out_dim: int = 16) -> str:
    """One projected coordinate: the signed sequential fold over
    ``arr`` for output dim ``jref`` (DuckDB list_reduce == Spark
    F.aggregate, both strictly left-to-right)."""
    return (
        f"list_reduce(list_transform(range(1, {in_dim + 1}), i -> "
        f"CASE WHEN md5_number_upper('rp' || CAST(i - 1 AS VARCHAR) || '_' || CAST({jref} AS VARCHAR)) & 1 = 1 "
        f"THEN {arr}[i] ELSE -{arr}[i] END), (a, b) -> a + b) / sqrt({float(out_dim)!r})"
    )


_RP_TERM = _rp_fold_sql("ev", "j.j", 64, 16)

_RP_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings),
j AS (SELECT CAST(unnest(range(16)) AS INT) AS j),
p AS (
    SELECT e.vec_id, j.j, {o_round(_RP_TERM, 8)} AS pv
    FROM e CROSS JOIN j
)
SELECT vec_id, j, pv AS rp_value FROM p
"""


@register("emb_random_projection", oracle=_RP_ORACLE,
          doc="Johnson-Lindenstrauss 64->16 Rademacher projection (Achlioptas sign "
              "matrix derived from md5, regenerable by the SQL oracle) — zero-shuffle "
              "zero-Python whole-stage-codegen map; the dim-reduce pre-step for "
              "billion-vector dedup/clustering pipelines. The graded entry emits "
              "EXPLODED scalar rows (vec_id, j, rp_value) — one row per output "
              "coordinate — because hash-graded catalog results must be atomic-typed "
              "(the r11 driver could not canonicalize a top-level array cell); the "
              "array-returning jl_random_projection API is unchanged for pipeline use")
def emb_random_projection(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    proj = jl_random_projection(emb, out_dim=16, in_dim=64)
    return proj.select(
        "vec_id", F.posexplode("rp").alias("j", "rp_value")
    ).select("vec_id", F.col("j").cast("int").alias("j"), "rp_value")


# (emb_rp_rerank_topk is registered below, after _ann_summary_sql.)


_CENTROID_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
x AS (SELECT label, CAST(i AS int) AS dim, ev[CAST(i + 1 AS int)] AS val
      FROM e CROSS JOIN unnest(range(0, len(ev))) AS u(i)),
m AS (SELECT label, dim,
             (sign(s / n) * floor(abs(s / n) * 100000000.0 + 0.5) / 100000000.0) AS mean_value
      FROM (SELECT label, dim,
                   CAST(sum(CAST(val AS DECIMAL(38,12))) AS double) AS s,
                   CAST(count(*) AS bigint) AS n
            FROM x GROUP BY 1, 2)),
c AS (SELECT label, list(mean_value ORDER BY dim) AS ce FROM m GROUP BY label),
scored AS (
    SELECT c.label, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(c.ce, a.ev) / (sqrt(list_dot_product(c.ce, c.ce)) * sqrt(list_dot_product(a.ev, a.ev)))', 8)} AS cos_sim
    FROM c CROSS JOIN e a
),
ranked AS (
    SELECT label, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY label ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT CAST(label AS BIGINT) AS label, CAST(rnk AS int) AS rank, neighbor_id, cos_sim
FROM ranked WHERE rnk <= 5
"""


@register("emb_centroid_knn", oracle=_CENTROID_KNN_ORACLE,
          doc="Cross-frame KNN join: the 10 per-label centroids (deterministic "
              "decimal means) query the corpus for their 5 nearest vectors by "
              "exact cosine — 'most representative examples per class'. The "
              "corpus never leaves its partitions (BLAS matmul vs the broadcast "
              "centroid matrix, per-partition heaps); exclude_self off because "
              "centroid ids live in a different namespace than vec_ids")
def emb_centroid_knn(spark, sf_dir):
    from ..llm.embeddings import group_centroids

    emb = read_testdata(spark, sf_dir, "embeddings")
    cents = group_centroids(emb, "label")
    queries = cents.select(
        F.col("label").cast("bigint").alias("vec_id"),
        F.col("centroid").alias("embedding"),
    )
    out = cosine_topk_bruteforce(
        emb, k=5, queries=queries, exclude_self=False, max_queries=1000
    )
    return out.select(
        F.col("vec_id").alias("label"), "rank", "neighbor_id", "cos_sim"
    )


# ---- ANN recall-summary oracles (hash-grade since round 9) ---------------
#
# Each ANN entry returns ONE recall-summary row (n_queries, n_exact,
# n_ann, n_hits, recall, floor_ok) comparing the approximate top-5 to
# exact brute force. The DuckDB oracle RECOMPUTES THE WHOLE PIPELINE
# independently — exact top-k AND the ANN algorithm itself — following
# the corpus_bpe_merges generated-CTE precedent. What makes the ANN
# side SQL-replicable:
#   - LSH: the seeded hyperplanes are data-independent (random.Random
#     at import time), so their float64 values are inlined as literals
#     and DuckDB re-derives every bucket bit.
#   - IVF: the catalog entry quantizes against SEED-VECTOR centroids
#     (the unit-normalized 16 lowest-id corpus vectors) instead of the
#     k-means trainer, so the oracle reconstructs the same centroids
#     with a window + LIMIT. The k-means path stays the operator
#     default and keeps its pytest recall floors.
#   - PQ: codebooks are subvectors of the 32 lowest-id unit vectors
#     (same reconstruction trick), and pq_topk's candidate cut is
#     partition-independent (global rounded-ADC top-(k+rerank)).
# Ties everywhere break (score DESC, id ASC) on both engines; scores
# are rounded (cos 8dp, ADC 6dp, recall 4dp) half-away-from-zero —
# and since r10 so is EVERY ordering key (IVF assignment/probe argmax,
# PQ encode argmin, LSH sign bit, all 8dp), so no bucket/assignment
# ever depends on bit-identical unrounded accumulation across engines.

_ANN_EXACT_CTES = f"""
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
n AS (SELECT vec_id, e,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
      FROM v),
exact_scored AS (
    SELECT q.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(q.e, a.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(a.e, a.e)))', 8)} AS cos_sim
    FROM v q JOIN v a ON a.vec_id <> q.vec_id
    WHERE q.vec_id < 100),
exact AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM exact_scored) WHERE rnk <= 5)"""


def _ann_summary_sql(ann_ctes: str, floor: float) -> str:
    """Compose the recall-summary oracle: exact CTEs + the entry's ANN
    CTE chain (must define ``ann(vec_id, neighbor_id)``) + the summary
    row, matching llm.similarity.ann_recall_summary column for column."""
    return f"""
WITH {_ANN_EXACT_CTES},
{ann_ctes},
hits AS (SELECT ann.vec_id FROM ann JOIN exact USING (vec_id, neighbor_id)),
s AS (SELECT (SELECT count(DISTINCT vec_id) FROM exact) AS nq,
             (SELECT count(*) FROM exact) AS ne,
             (SELECT count(*) FROM ann) AS na,
             (SELECT count(*) FROM hits) AS nh)
SELECT CAST(nq AS BIGINT) AS n_queries,
       CAST(ne AS BIGINT) AS n_exact,
       CAST(na AS BIGINT) AS n_ann,
       CAST(nh AS BIGINT) AS n_hits,
       CASE WHEN ne = 0 THEN 0.0
            ELSE {o_round('CAST(nh AS DOUBLE) / ne', 4)} END AS recall,
       CASE WHEN ne = 0 THEN FALSE
            ELSE CAST(nh AS DOUBLE) / ne >= {floor!r} END AS floor_ok
FROM s
"""


def _lsh_plane_literals(n_planes: int, dim: int) -> list[str]:
    """The seeded hyperplanes as DuckDB DOUBLE[] literals — repr() of a
    float64 round-trips exactly, so both engines hash the same planes."""
    from ..llm.similarity import _planes

    return [
        "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        for row in _planes(n_planes, dim)
    ]


def _lsh_ann_ctes(n_planes: int = 4, dim: int = 64) -> str:
    # sign bit on the ROUNDED dot (o_round 8dp, mirroring the Spark
    # side's dround): an ulp of skew at the 0 boundary can't flip a bit
    bits = " || ".join(
        f"(CASE WHEN {o_round(f'list_dot_product(e, {p})', 8)} >= 0 THEN '1' ELSE '0' END)"
        for p in _lsh_plane_literals(n_planes, dim)
    )
    cos = ("list_dot_product(qb.e, cb.e) / "
           "(sqrt(list_dot_product(qb.e, qb.e)) * sqrt(list_dot_product(cb.e, cb.e)))")
    return f"""b AS (SELECT vec_id, e, {bits} AS bucket FROM v),
ann_scored AS (
    SELECT qb.vec_id, cb.vec_id AS neighbor_id,
           {o_round(cos, 8)} AS cos_sim
    FROM b qb JOIN b cb ON cb.bucket = qb.bucket AND cb.vec_id <> qb.vec_id
    WHERE qb.vec_id < 100),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


def _lsh_mp_ann_ctes(n_planes: int = 4, dim: int = 64, n_probes: int = 2) -> str:
    """Multi-probe LSH replayed in SQL: per-plane ROUNDED dots as
    columns, each query's flip set = the (n_probes - 1) planes with the
    smallest (|rounded dot|, idx) — the same lexicographic order
    hyperplane_lsh_topk's sort_array((m, idx)) uses — and each flipped
    bucket rebuilt with that one bit inverted. Corpus vectors live in
    exactly one bucket and probe signatures are distinct, so the
    probe-join produces each candidate pair at most once, like the
    Spark side."""
    planes = _lsh_plane_literals(n_planes, dim)
    rds = ", ".join(
        f"{o_round(f'list_dot_product(e, {p})', 8)} AS rd{i}"
        for i, p in enumerate(planes)
    )
    bit = lambda i: f"(CASE WHEN rd{i} >= 0 THEN '1' ELSE '0' END)"  # noqa: E731
    flipped_bit = lambda i: (  # noqa: E731
        f"(CASE WHEN f.idx = {i} THEN (CASE WHEN rd{i} >= 0 THEN '0' ELSE '1' END) "
        f"ELSE {bit(i)} END)"
    )
    own_bucket = " || ".join(bit(i) for i in range(n_planes))
    flip_bucket = " || ".join(flipped_bit(i) for i in range(n_planes))
    margins = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS idx, abs(rd{i}) AS m FROM qd"
        for i in range(n_planes)
    )
    cos = ("list_dot_product(qv.e, cb.e) / "
           "(sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(cb.e, cb.e)))")
    return f"""bd AS (SELECT vec_id, e, {rds} FROM v),
b AS (SELECT vec_id, e, {own_bucket} AS bucket, {', '.join(f'rd{i}' for i in range(n_planes))} FROM bd),
qd AS (SELECT * FROM b WHERE vec_id < 100),
qmargin AS ({margins}),
flips AS (SELECT vec_id, idx FROM (
    SELECT vec_id, idx,
           row_number() OVER (PARTITION BY vec_id ORDER BY m, idx) AS rnk
    FROM qmargin) WHERE rnk <= {n_probes - 1}),
qprobes AS (
    SELECT vec_id, bucket FROM qd
    UNION ALL
    SELECT qd.vec_id, {flip_bucket} AS bucket
    FROM qd JOIN flips f ON f.vec_id = qd.vec_id),
ann_scored AS (
    SELECT qp.vec_id, cb.vec_id AS neighbor_id,
           {o_round(cos, 8)} AS cos_sim
    FROM qprobes qp
    JOIN v qv ON qv.vec_id = qp.vec_id
    JOIN b cb ON cb.bucket = qp.bucket AND cb.vec_id <> qp.vec_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


_IVF_ANN_CTES = f"""cents AS (SELECT CAST(rn - 1 AS INT) AS list_id, u AS c FROM (
    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT nv.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {o_round('list_dot_product(nv.u, c.c)', 8)} DESC, c.list_id) AS rnk
    FROM n nv CROSS JOIN cents c) WHERE rnk = 1),
probes AS (SELECT vec_id, list_id FROM (
    SELECT nq.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nq.vec_id
                              ORDER BY {o_round('list_dot_product(nq.u, c.c)', 8)} DESC, c.list_id) AS rnk
    FROM n nq CROSS JOIN cents c WHERE nq.vec_id < 100) WHERE rnk <= 4),
ann_scored AS (
    SELECT p.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM probes p
    JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.vec_id
    JOIN v qv ON qv.vec_id = p.vec_id
    JOIN v av ON av.vec_id = a.vec_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


def _seed_unit_vectors(emb, n: int):
    """The n LOWEST-vec_id vectors, unit-normalized float64 — the
    deterministic, oracle-replayable seed set (an ordered take, so it is
    independent of partition layout; bounded driver cost)."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect()
    if len(rows) < n:
        raise ValueError(f"need >= {n} embedding rows for seed vectors, got {len(rows)}")
    xs = np.array([r[1] for r in rows], dtype=np.float64)
    return xs / np.maximum(np.linalg.norm(xs, axis=1, keepdims=True), 1e-12)


@register("emb_lsh_ann_topk", oracle=_ann_summary_sql(_lsh_ann_ctes(), 0.06),
          doc="Hyperplane-LSH approximate top-5 (bucketed scoring) vs exact brute force — "
              "ONE deterministic recall summary row (n_queries, n_exact, n_ann, n_hits, "
              "recall, floor_ok). HASH-GRADE: the oracle re-derives the seeded planes "
              "(inlined float64 literals), every bucket bit, the in-bucket top-5 AND "
              "the exact top-5 independently in DuckDB")
def emb_lsh_ann_topk(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    # 4 planes = 16 buckets: on these near-orthogonal synthetic vectors
    # sign-LSH recall is bucket-probability-limited (~13% at p~0.5^4 per
    # plane agreement); clustered real embeddings bucket far better.
    ann = hyperplane_lsh_topk(emb, k=5, n_planes=4, query_filter=F.col("vec_id") < 100)
    return ann_recall_summary(exact, ann, recall_floor=0.06)


@register("emb_lsh_mp_topk", oracle=_ann_summary_sql(_lsh_mp_ann_ctes(), 0.12),
          doc="MULTI-PROBE hyperplane-LSH approximate top-5 (r10): each query also "
              "scans its closest-margin flip-one-bit neighbor bucket (n_probes=2), "
              "roughly doubling single-bucket recall (measured 0.134 -> 0.244 at "
              "sf0.01, 0.128 -> 0.238 at sf0.001) for ~2x candidates — ONE "
              "deterministic recall summary row. HASH-GRADE: the oracle re-derives "
              "the planes, every bucket bit, the (|rounded dot|, idx) flip choice, "
              "the flipped signature, the probed in-bucket top-5 AND the exact twin "
              "entirely in DuckDB. emb_lsh_ann_topk stays the single-probe baseline")
def emb_lsh_mp_topk(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    ann = hyperplane_lsh_topk(
        emb, k=5, n_planes=4, query_filter=F.col("vec_id") < 100, n_probes=2
    )
    return ann_recall_summary(exact, ann, recall_floor=0.12)


# Two-stage retrieval CTEs: project (64->32), candidate top-40 by
# rp-space cosine, exact rerank in the original space, top-5. Every
# score rounds half-away to 8dp with a neighbor-id tie-break, so both
# stages replay exactly; `v`/`exact` come from _ANN_EXACT_CTES.
_RP_ANN_CTES = f"""
rpj AS (SELECT v.vec_id, j.j, {o_round(_rp_fold_sql("v.e", "j.j", 64, 32), 8)} AS pv
        FROM v CROSS JOIN (SELECT CAST(unnest(range(32)) AS INT) AS j) j),
rpm AS (SELECT vec_id, list(pv ORDER BY j) AS rp FROM rpj GROUP BY vec_id),
rp_scored AS (
    SELECT q.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(q.rp, a.rp) / (sqrt(list_dot_product(q.rp, q.rp)) * sqrt(list_dot_product(a.rp, a.rp)))', 8)} AS rp_sim
    FROM rpm q JOIN rpm a ON a.vec_id <> q.vec_id
    WHERE q.vec_id < 100),
rp_cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY rp_sim DESC, neighbor_id) AS rnk
    FROM rp_scored) WHERE rnk <= 40),
rr AS (SELECT c.vec_id, c.neighbor_id,
              {o_round('list_dot_product(q.e, a.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(a.e, a.e)))', 8)} AS cos_sim
       FROM rp_cand c
       JOIN v q ON q.vec_id = c.vec_id
       JOIN v a ON a.vec_id = c.neighbor_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM rr) WHERE rnk <= 5)"""


@register("emb_rp_rerank_topk", oracle=_ann_summary_sql(_RP_ANN_CTES, 0.25),
          doc="Two-stage retrieval: JL 64->32 candidate scan (half the flops and "
              "bandwidth of the full-width scan) + exact rerank of the broadcast "
              "top-40 candidate list — ONE deterministic recall summary row. "
              "HASH-GRADE: the oracle regenerates the Rademacher matrix from md5, "
              "replays the projection, both ranking stages AND the exact twin in "
              "DuckDB. Measured recall 0.586 at sf0.001 / 0.542 at sf0.01 "
              "(floor 0.25, ~2x margin); a linear-scan accelerator like PQ's ADC, "
              "not sublinear — compose with IVF list-pruning for that")
def emb_rp_rerank_topk(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    ann = rp_rerank_topk(
        emb, k=5, out_dim=32, oversample=8,
        query_filter=F.col("vec_id") < 100, in_dim=64,
    )
    return ann_recall_summary(exact, ann, recall_floor=0.25)


@register("emb_ivf_topk", oracle=_ann_summary_sql(_IVF_ANN_CTES, 0.2),
          doc="IVF approximate top-5 via the PHYSICAL index path: corpus materialized "
              "partitioned by list_id (ivf_build_index), probe scan partition-pruned to "
              "the 4/16 probed lists (ivf_search) — ONE deterministic recall summary "
              "row. HASH-GRADE: quantizes against seed-vector centroids (unit-normalized "
              "16 lowest-id vectors) so the oracle replays assignment, probing, scoring "
              "and the exact twin entirely in DuckDB; the k-means coarse quantizer stays "
              "the operator default (pytest recall floors). Measured seed-centroid "
              "recall: 0.564 at sf0.001, 0.544 at sf0.01 (4/16 probes) — the 0.2 floor "
              "is ~2.7x margin below that, wide because seed centroids quantize worse "
              "than k-means (whose pytest floor is 0.5)")
def emb_ivf_topk(spark, sf_dir):
    import shutil
    import tempfile

    from ..llm.similarity import ivf_build_index, ivf_search

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    # unique per-invocation index dir, and the one-row recall summary is
    # materialized before the dir is deleted: parquet file listings are
    # captured eagerly, so returning a frame that still references the
    # index would break if a later rebuild (or a concurrent driver on
    # the same sf_dir) replaced the files. Localizing one bounded row
    # makes the returned frame independent of the index files entirely.
    idx = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        ivf_build_index(emb, idx, n_lists=16, centroids=_seed_unit_vectors(emb, 16))
        ann = ivf_search(spark, idx, emb.filter(F.col("vec_id") < 100), k=5, n_probe=4)
        summary = ann_recall_summary(exact, ann, recall_floor=0.2)
        return localize(summary)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


_NEAR_DUP_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) n
           FROM embeddings),
scored AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {o_round('list_dot_product(a.e, b.e) / (a.n * b.n)', 8)} AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.4
"""


@register("emb_cosine_near_dup", oracle=_NEAR_DUP_ORACLE,
          doc="Exact embedding-cosine near-dup pairs >= 0.4 (synthetic vectors are "
              "near-orthogonal; production threshold would be ~0.95)")
def emb_cosine_near_dup(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.4)


@register("emb_lsh_near_dup", oracle=_NEAR_DUP_ORACLE,
          doc="Banded hyperplane-LSH near-dup pairs (24 bands x 2 planes), exact-rescored "
              "within buckets — the fully distributed scale path (no driver collect); "
              "checked against the exact all-pairs oracle. Recall is probabilistic "
              "(miss-all-bands p~5e-6 at t=0.4 with these params), so oracle equality "
              "is empirical at this sf/seed, not a guarantee. NOTE: this low-threshold "
              "regime is quadratic BY DESIGN (coarse 2-plane buckets keep recall at "
              "t=0.4) and since r11 emits a loud RuntimeWarning saying so — the scale "
              "path is t~0.9 with 8-16 planes/band (SCALING.md: 1.8x vs 26x at 8x)")
def emb_lsh_near_dup(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(emb, threshold=0.4)


# --- end-to-end corpus cleaning pipeline ------------------------------------

_CLEAN_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS bigint) AS n_chars,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS bigint) AS sum_tok,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t IN ('the','of','and','is','to'))) AS bigint) AS stop,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS bigint) AS punct,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
), q AS (
    SELECT doc_id, n_tokens, fingerprint,
           (n_tokens >= 5 AND n_tokens <= 100000)
           AND {o_round('stop * 1.0 / n_tokens', 6)} >= 0.01
           AND {o_round('punct * 1.0 / n_chars', 6)} <= 0.3
           AND {o_round('sum_tok * 1.0 / n_tokens', 4)} BETWEEN 2.0 AND 12.0 AS keep
    FROM base
), keepers AS (
    SELECT fingerprint, min(doc_id) AS keeper FROM q WHERE keep GROUP BY 1
), lang AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('the','of','and','is','to'))) AS bigint) AS score_en,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('der','die','das','und','ist'))) AS bigint) AS score_de,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('el','la','de','y','es'))) AS bigint) AS score_es
    FROM documents
), lg AS (
    SELECT doc_id,
           CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS lang_guess
    FROM lang
)
SELECT lg.lang_guess,
       count(*) AS n_docs,
       CAST(sum(q.n_tokens) AS bigint) AS total_tokens
FROM q
JOIN keepers k ON q.fingerprint = k.fingerprint AND q.doc_id = k.keeper
JOIN lg ON q.doc_id = lg.doc_id
WHERE q.keep
GROUP BY 1
"""


# per-language corpus profile: the sizing table a curation run starts
# from (how much data per language, how long are the documents). Built
# as ONE projection (token count + language vote from the same split)
# plus one groupBy shuffle — no self-join of per-doc stat frames.
# Spark percentile(col, p) / DuckDB quantile_cont(col, p) is the proven
# exact-percentile twin (sketch_price_percentiles).
_CORPUS_PROFILE_ORACLE = f"""
WITH s AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('the','of','and','is','to'))) AS bigint) AS score_en,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('der','die','das','und','ist'))) AS bigint) AS score_de,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ('el','la','de','y','es'))) AS bigint) AS score_es
    FROM documents
),
lt AS (
    SELECT doc_id, n_tokens,
           CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS lang
    FROM s
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS bigint) AS total_tokens,
       {o_round('quantile_cont(n_tokens, 0.5)', 2)} AS p50_tokens,
       {o_round('quantile_cont(n_tokens, 0.9)', 2)} AS p90_tokens,
       {o_round('sum(n_tokens) * 1.0 / count(*)', 4)} AS avg_tokens
FROM lt GROUP BY 1
"""


@register("corpus_text_profile", oracle=_CORPUS_PROFILE_ORACLE,
          doc="Per-language corpus sizing profile: doc counts, total/median/p90/avg "
              "tokens — the table a curation run starts from; one projection + one "
              "groupBy shuffle, exact percentiles via the proven percentile/"
              "quantile_cont twin")
def corpus_text_profile(spark, sf_dir):
    from ..functions.money import dround
    from ..llm.textstats import LANG_LEXICONS

    docs = read_testdata(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    docs_w = docs.select(F.col("doc_id"), w.alias("w"))

    def score(lex):
        return F.size(F.filter(F.col("w"), lambda t: t.isin(*lex))).cast("bigint")

    en, de, es = (score(LANG_LEXICONS[k]) for k in ("en", "de", "es"))
    lt = docs_w.select(
        F.size("w").cast("bigint").alias("n_tokens"),
        F.when((en >= de) & (en >= es), "en")
        .when(de >= es, "de")
        .otherwise("es")
        .alias("lang"),
    )
    return lt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        dround(F.percentile("n_tokens", F.lit(0.5)), 2).alias("p50_tokens"),
        dround(F.percentile("n_tokens", F.lit(0.9)), 2).alias("p90_tokens"),
        dround(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias("avg_tokens"),
    )


_VOCAB_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents)
SELECT word, count(*) AS term_freq, count(DISTINCT doc_id) AS doc_freq
FROM toks GROUP BY 1 ORDER BY term_freq DESC, word LIMIT 50
"""


@register("corpus_vocabulary", oracle=_VOCAB_ORACLE,
          doc="Corpus vocabulary top-50: (word, term_freq, doc_freq) — tokenizer/vocab "
              "construction input; one explode + one word-keyed agg shuffle, top-k on "
              "the aggregated table only, deterministic tie-break")
def corpus_vocabulary_q(spark, sf_dir):
    from ..llm.textstats import corpus_vocabulary

    return corpus_vocabulary(read_testdata(spark, sf_dir, "documents"), k=50)


_TFIDF_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT word, count(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.word, tf.tf,
                  {o_round('tf.tf * (n.n_docs + 1) / (dfreq.doc_freq + 1)', 9)} AS score
           FROM tf JOIN dfreq USING (word) CROSS JOIN n),
ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, word) AS rnk
           FROM scored)
SELECT doc_id, CAST(rnk AS int) AS rank, word, tf, score FROM ranked WHERE rnk <= 3
"""


@register("doc_tfidf_keywords", oracle=_TFIDF_ORACLE,
          doc="Top-3 tf-idf keywords per document — RATIONAL idf (N+1)/(df+1) instead "
              "of log so the ranking is bit-deterministic across engines (log is only "
              "~1-ulp reproducible); tf shuffle + word-keyed doc-freq join + ranking "
              "window")
def doc_tfidf_keywords(spark, sf_dir):
    from ..llm.textstats import tfidf_keywords

    return tfidf_keywords(read_testdata(spark, sf_dir, "documents"), k_per_doc=3)


@register("corpus_clean_pipeline", oracle=_CLEAN_ORACLE,
          doc="End-to-end training-data pipeline: quality filter -> exact dedup "
              "(keep min-id per fingerprint) -> per-language corpus token budget; "
              "single-pass document_profile, no per-stat re-scan joins")
def corpus_clean_pipeline(spark, sf_dir):
    from pyspark import StorageLevel

    from ..llm.textstats import document_profile

    docs = read_testdata(spark, sf_dir, "documents")
    prof = (
        document_profile(docs)
        .filter(F.col("keep"))
        .select("doc_id", "fingerprint", "n_tokens", "lang_guess")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keepers = prof.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    kept = prof.join(keepers, ["fingerprint", "doc_id"])
    return kept.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# --- multimodal plumbing ----------------------------------------------------

_MEDIA_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS bigint) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 16 AS bigint) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 + 16 AS bigint) AS height
FROM documents
"""


@register("multimodal_decode_stats", oracle=_MEDIA_ORACLE,
          doc="Binary media column -> Arrow-batched mapInPandas decode stage: REAL "
              "header/pixel decode (llm.codecs) for image payloads, deterministic "
              "length-derived pseudo-stats for non-image binary (these text payloads) "
              "so the stage is total; the real-decode path is oracle-checked by "
              "multimodal_png_roundtrip")
def multimodal_decode_stats(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    media = to_media_column(docs, payload_col="text", id_col="doc_id", source_col="source")
    return decode_media_stats(media)


# frame_bytes=64, max_frames=4 over UTF-8 payloads; the oracle verifies
# the sampling arithmetic (offsets/lengths from byte size) — DuckDB
# cannot slice BLOBs, so the byte content is pytest-verified instead
_FRAMES_ORACLE = """
WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents),
f AS (SELECT media_id, n,
             least(4, greatest(1, CAST(ceil(n / 64.0) AS bigint))) AS n_frames
      FROM m)
SELECT media_id, CAST(i AS int) AS frame_idx,
       i * (n // n_frames) AS frame_offset,
       least(64, n - i * (n // n_frames)) AS frame_len
FROM f CROSS JOIN unnest(range(0, n_frames)) AS u(i)
"""


_RESIZE_ORACLE = """
SELECT doc_id AS media_id,
       CAST(least(octet_length(encode(text)), 256) AS bigint) AS n_bytes_after,
       CAST(octet_length(encode(text)) AS bigint) AS orig_bytes,
       octet_length(encode(text)) > 256 AS resized
FROM documents
"""


@register("multimodal_resize", oracle=_RESIZE_ORACLE,
          doc="Resize/downscale stage (stub codec, pure-JVM byte truncation): bounds "
              "downstream batch memory at |rows| x max_bytes; size semantics "
              "oracle-checked, swap in PIL/ffmpeg for real pixels")
def multimodal_resize(spark, sf_dir):
    from ..llm.multimodal import resize_media

    docs = read_testdata(spark, sf_dir, "documents")
    media = to_media_column(docs, payload_col="text", id_col="doc_id", source_col="source")
    return resize_media(media, max_bytes=256).select(
        "media_id",
        F.length("payload").cast("bigint").alias("n_bytes_after"),
        "orig_bytes",
        "resized",
    )


@register("multimodal_frame_sample", oracle=_FRAMES_ORACLE,
          doc="Frame sampling over binary payloads: up to 4 evenly-spaced 64-byte windows "
              "per item — pure JVM fan-out (sequence+posexplode+binary substring), no "
              "Python; frame byte content is pytest-verified (DuckDB can't slice blobs)")
def multimodal_frame_sample(spark, sf_dir):
    from ..llm.multimodal import sample_frames

    docs = read_testdata(spark, sf_dir, "documents")
    media = to_media_column(docs, payload_col="text", id_col="doc_id", source_col="source")
    return sample_frames(media, frame_bytes=64, max_frames=4).select(
        "media_id", "frame_idx", "frame_offset", "frame_len"
    )


# real-codec proof: per document, synthesize a PNG whose dimensions,
# channel count, and pixel values are pure arithmetic on doc_id; decode
# it back with the library-free PNG decoder (llm.codecs) and report the
# DECODED stats. The oracle recomputes the same arithmetic in SQL — a
# codec bug (wrong unfilter, wrong stride, wrong channel order) breaks
# the hash match. Pixels vary along x and channel so the check is
# sensitive to axis transposition, not just byte counts.
_PNG_RT_ORACLE = """
WITH base AS (
    SELECT doc_id,
           doc_id % 13 + 1 AS width,
           doc_id % 7 + 1  AS height,
           CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS channels,
           doc_id % 251    AS fill
    FROM documents
)
SELECT doc_id AS media_id,
       CAST(width AS bigint) AS width,
       CAST(height AS bigint) AS height,
       CAST(channels AS bigint) AS channels,
       CAST(height * (SELECT sum((fill + x.i + 7 * ch.j) % 256)
                      FROM unnest(range(0, width)) AS x(i),
                           unnest(range(0, channels)) AS ch(j))
            AS bigint) AS pixel_sum
FROM base
"""


@register("multimodal_png_roundtrip", oracle=_PNG_RT_ORACLE,
          doc="REAL image codec end-to-end: encode a deterministic PNG per document "
              "(dims/pixels are arithmetic on doc_id), pixel-decode it with the "
              "library-free PNG codec, report decoded width/height/channels/pixel_sum — "
              "the SQL oracle recomputes the arithmetic, so any codec defect "
              "(unfilter, stride, channel order) hash-mismatches")
def multimodal_png_roundtrip(spark, sf_dir):
    import pandas as pd

    from ..llm.codecs import codec_loader

    # r21 (guide §2.4/§4): compute-bound Python codec chain over a single
    # parquet split ran as ONE task; spread doc_ids across the session's
    # cores before the Python boundary (shuffle moves only doc_id).
    docs = (
        read_testdata(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    load_codecs = codec_loader()

    def work(batches):
        import numpy as np

        ns = load_codecs()
        decode_png, encode_png = ns["decode_png"], ns["encode_png"]

        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "channels": [], "pixel_sum": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 13 + 1, d % 7 + 1
                c = 3 if d % 2 == 0 else 1
                fill = d % 251
                x = np.arange(w, dtype=np.int64)[None, :, None]
                ch = np.arange(c, dtype=np.int64)[None, None, :]
                px = np.broadcast_to((fill + x + 7 * ch) % 256, (h, w, c)).astype(np.uint8)
                back = decode_png(encode_png(px))  # the real decode under test
                out["media_id"].append(d)
                out["width"].append(back.shape[1])
                out["height"].append(back.shape[0])
                out["channels"].append(back.shape[2])
                out["pixel_sum"].append(int(back.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        work,
        schema="media_id bigint, width bigint, height bigint, channels bigint, pixel_sum bigint",
    )


_JPEG_RT_ORACLE = """
SELECT doc_id AS media_id,
       CAST(doc_id % 13 + 8 AS bigint) AS width,
       CAST(doc_id % 7 + 8 AS bigint) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS bigint) AS channels,
       TRUE AS within_tol
FROM documents
"""


@register("multimodal_jpeg_roundtrip", oracle=_JPEG_RT_ORACLE,
          doc="REAL JPEG codec end-to-end: encode a deterministic gradient per "
              "document (dims from doc_id) — BASELINE sequential for doc_id%3!=0, "
              "PROGRESSIVE (SOF2, successive approximation) for doc_id%3==0 — then "
              "entropy-decode with the library-free JPEG codec and report decoded "
              "dims + a within-quantization-tolerance flag. Dims are exact "
              "oracle arithmetic; pixel error is bounded (<=6/255 at q95), not "
              "SQL-predictable, so it lands as a boolean that flips the hash on "
              "any codec defect in either mode")
def multimodal_jpeg_roundtrip(spark, sf_dir):
    import pandas as pd

    from ..llm.codecs import codec_loader

    # r21 (guide §2.4/§4): compute-bound Python codec chain over a single
    # parquet split ran as ONE task; spread doc_ids across the session's
    # cores before the Python boundary (shuffle moves only doc_id).
    docs = (
        read_testdata(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    load_codecs = codec_loader()

    def work(batches):
        import numpy as np

        ns = load_codecs()
        decode_jpeg, encode_jpeg = ns["decode_jpeg"], ns["encode_jpeg_baseline"]
        encode_prog = ns["encode_jpeg_progressive"]

        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "channels": [], "within_tol": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 13 + 8, d % 7 + 8
                c = 3 if d % 2 == 0 else 1
                yy = np.arange(h, dtype=np.int64)[:, None, None]
                xx = np.arange(w, dtype=np.int64)[None, :, None]
                ch = np.arange(c, dtype=np.int64)[None, None, :]
                # smooth gradient (JPEG-friendly), offset per doc
                px = ((d % 97) + 2 * xx + 3 * yy + 11 * ch).astype(np.float64)
                px = np.clip(px % 200 // 1, 0, 255).astype(np.uint8)
                px = np.broadcast_to(px, (h, w, c)).astype(np.uint8)
                src = px if c == 3 else px[:, :, 0]
                if d % 3 == 0:  # progressive path (SOF2, SA depth 1)
                    enc = encode_prog(src, quality=95, al_levels=1)
                else:
                    enc = encode_jpeg(src, quality=95)
                back = decode_jpeg(enc)
                err = int(np.abs(back.astype(np.int64) - px.astype(np.int64)).max())
                out["media_id"].append(d)
                out["width"].append(back.shape[1])
                out["height"].append(back.shape[0])
                out["channels"].append(back.shape[2])
                out["within_tol"].append(err <= 10)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        work,
        schema="media_id bigint, width bigint, height bigint, channels bigint, within_tol boolean",
    )


_WAV_RT_ORACLE = f"""
WITH b AS (
    SELECT doc_id,
           n_chars % 1000 + 100 AS nf,
           CAST(round((n_chars % 100) / 100.0 * 32767) AS bigint) AS amp
    FROM documents
)
SELECT doc_id AS media_id,
       CAST(44 + 2 * nf AS bigint) AS n_bytes,
       8000 AS sample_rate,
       1 AS channels,
       CAST(nf AS bigint) AS n_frames,
       {o_round('nf / 8.0', 4)} AS duration_ms,
       {o_round('CAST(amp AS double)', 4)} AS rms
FROM b
"""


@register("multimodal_wav_roundtrip", oracle=_WAV_RT_ORACLE,
          doc="REAL audio codec end-to-end: encode a deterministic square wave per "
              "document as PCM WAV (length/amplitude are arithmetic on n_chars), "
              "decode it back with the library-free RIFF parser, report byte size, "
              "rate, channels, frames, duration and RMS — a square wave's RMS is "
              "its amplitude exactly, so every column is exact oracle arithmetic "
              "(any header/layout/sample defect hash-mismatches)")
def multimodal_wav_roundtrip(spark, sf_dir):
    import pandas as pd

    from ..llm.codecs import codec_loader

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "n_chars")
    load_codecs = codec_loader()

    def work(batches):
        import numpy as np

        ns = load_codecs()
        decode_wav, encode_wav = ns["decode_wav"], ns["encode_wav"]

        def _r4(v: float) -> float:
            # dround's IEEE half-away sequence, python-side
            return float(np.sign(v) * np.floor(abs(v) * 1e4 + 0.5) / 1e4)

        for pdf in batches:
            out = {
                "media_id": [], "n_bytes": [], "sample_rate": [], "channels": [],
                "n_frames": [], "duration_ms": [], "rms": [],
            }
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                d, n = int(doc_id), int(n_chars)
                nf = n % 1000 + 100
                amp = int(round((n % 100) / 100.0 * 32767))
                wave = np.full(nf, amp, dtype=np.int64)
                wave[1::2] *= -1  # square wave: |sample| == amp everywhere
                payload = encode_wav(wave.astype(np.int16), rate=8000)
                samples, rate = decode_wav(payload)  # the real decode under test
                s = samples.astype(np.float64)
                rms = float(np.sqrt((s * s).mean())) if s.size else 0.0
                out["media_id"].append(d)
                out["n_bytes"].append(len(payload))
                out["sample_rate"].append(rate)
                out["channels"].append(samples.shape[1])
                out["n_frames"].append(samples.shape[0])
                out["duration_ms"].append(_r4(1000.0 * samples.shape[0] / rate))
                out["rms"].append(_r4(rms))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        work,
        schema=(
            "media_id bigint, n_bytes bigint, sample_rate int, channels int, "
            "n_frames bigint, duration_ms double, rms double"
        ),
    )


def _rarity_oracle() -> str:
    from ..functions.money import o_money_units, o_round

    term = o_round("t.total * 1.0 / v.tf", 6)
    return f"""
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM documents),
v AS (SELECT word, CAST(count(*) AS bigint) AS tf FROM toks GROUP BY 1),
t AS (SELECT CAST(count(*) AS bigint) AS total FROM toks),
scored AS (SELECT toks.doc_id,
                  {o_money_units(term)} AS units,
                  {term} AS term
           FROM toks JOIN v USING (word) CROSS JOIN t)
SELECT doc_id,
       CAST(count(*) AS bigint) AS n_tokens,
       {o_round('sum(units) / 1000000.0 / count(*)', 4)} AS mean_rarity,
       {o_round('max(term)', 4)} AS max_rarity
FROM scored GROUP BY doc_id
"""


@register("doc_rarity_score", oracle=_rarity_oracle(),
          doc="Unigram rarity (mean/max inverse corpus term frequency) per document — "
              "the surprisal-style novelty/quality signal with the log removed for "
              "bit-determinism (same rational-form decision as tfidf); per-term "
              "fixed-point rounding + exact micro-unit summation keeps the mean "
              "order-independent across engines")
def doc_rarity_score(spark, sf_dir):
    from ..llm.textstats import rarity_score

    return rarity_score(read_testdata(spark, sf_dir, "documents"))


_AUDIO_STATS_ORACLE = """
WITH b AS (SELECT doc_id,
                  n_chars % 1000 + 100 AS nf,
                  CAST(round((n_chars % 100) / 100.0 * 32767) AS bigint) AS amp,
                  CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END AS rate,
                  CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch
           FROM documents)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 4 = 0 THEN CAST(4 + length(CAST(doc_id AS VARCHAR)) AS bigint)
            ELSE CAST(44 + 2 * ch * nf AS bigint) END AS n_bytes,
       CASE WHEN doc_id % 4 = 0 THEN NULL ELSE rate END AS sample_rate,
       CASE WHEN doc_id % 4 = 0 THEN NULL ELSE ch END AS channels,
       CASE WHEN doc_id % 4 = 0 THEN NULL ELSE CAST(nf AS bigint) END AS n_frames,
       CASE WHEN doc_id % 4 = 0 THEN NULL ELSE 1000.0 * nf / rate END AS duration_ms,
       CASE WHEN doc_id % 4 = 0 THEN NULL ELSE CAST(amp AS double) END AS rms
FROM b
"""


@register("multimodal_audio_stats", oracle=_AUDIO_STATS_ORACLE,
          doc="The production audio ingest stage (llm.multimodal.decode_audio_stats) "
              "over a mixed corpus: per document a deterministic square-wave PCM WAV "
              "(frames/amplitude/rate/channels all arithmetic on doc_id/n_chars; "
              "doc_id%4==0 rows carry NON-audio bytes instead). The stage must "
              "report exact rate/channels/frames/duration and rms == amplitude "
              "(square wave) for audio rows and all-null audio columns for the "
              "rest — totality over arbitrary binary is the contract under test, "
              "which the wav-roundtrip entry (payloads all valid) cannot see")
def multimodal_audio_stats(spark, sf_dir):
    import pandas as pd

    from ..llm.codecs import codec_loader
    from ..llm.multimodal import decode_audio_stats

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "n_chars")
    load_codecs = codec_loader()

    def synth(batches):
        import numpy as np

        ns = load_codecs()
        encode_wav = ns["encode_wav"]

        for pdf in batches:
            out = {"media_id": [], "payload": [], "media_type": [], "source": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                d, n = int(doc_id), int(n_chars)
                if d % 4 == 0:  # non-audio payload: the stage must yield nulls
                    payload, mtype = f"doc-{d}".encode(), "text/plain"
                else:
                    nf = n % 1000 + 100
                    amp = int(round((n % 100) / 100.0 * 32767))
                    rate = 16000 if d % 2 == 0 else 8000
                    ch = 2 if d % 3 == 0 else 1
                    wave = np.full((nf, ch), amp, dtype=np.int64)
                    wave[1::2, :] *= -1  # |sample| == amp everywhere
                    payload, mtype = encode_wav(wave.astype(np.int16), rate=rate), "audio/wav"
                out["media_id"].append(d)
                out["payload"].append(payload)
                out["media_type"].append(mtype)
                out["source"].append("synth")
            yield pd.DataFrame(out)

    media = docs.mapInPandas(
        synth, schema="media_id bigint, payload binary, media_type string, source string"
    )
    return decode_audio_stats(media)


_PACK_ORACLE = """
WITH t AS (SELECT doc_id,
                  CAST(len(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS bigint) AS n_tokens,
                  md5('r7' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY k, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
SELECT doc_id,
       CAST(cum - n_tokens AS bigint) AS tok_offset,
       CAST(floor((cum - n_tokens) / 512.0) AS bigint) AS pack_id,
       n_tokens,
       n_tokens > 512 AS oversize
FROM c
"""


@register("doc_pack_sequences", oracle=_PACK_ORACLE,
          doc="Training-order preparation: deterministic md5-seeded corpus shuffle + "
              "fixed 512-token sequence packing (pack_id = floor(tokens_before / "
              "budget)). The oracle computes the SAME assignment with one global "
              "window; the engine computes it scalably — md5-prefix bucketing, "
              "per-bucket cumsums in one shuffle, 256-row bucket-offset prefix "
              "broadcast back — so the hash check proves the two-phase prefix sum "
              "equals the global one exactly")
def doc_pack_sequences(spark, sf_dir):
    from ..llm.chunking import pack_sequences

    docs = read_testdata(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512, shuffle_seed="r7")


_PQ_ANN_CTES = f"""seeds AS (SELECT CAST(rn - 1 AS INT) AS cid, u FROM (
    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= 32),
book AS (SELECT s.cid, CAST(t.j AS INT) AS j,
                s.u[CAST(t.j * 8 + 1 AS INT):CAST(t.j * 8 + 8 AS INT)] AS bv
         FROM seeds s CROSS JOIN range(8) t(j)),
codes AS (SELECT vec_id, j, cid FROM (
    SELECT nv.vec_id, b.j, b.cid,
           row_number() OVER (PARTITION BY nv.vec_id, b.j
                              ORDER BY {o_round('list_distance(nv.u[b.j * 8 + 1:b.j * 8 + 8], b.bv)', 8)},
                                       b.cid) AS rnk
    FROM n nv CROSS JOIN book b) WHERE rnk = 1),
adc_scored AS (
    SELECT nq.vec_id, cd.vec_id AS neighbor_id,
           {o_round('sum(list_dot_product(nq.u[cd.j * 8 + 1:cd.j * 8 + 8], b.bv))', 6)} AS adc
    FROM n nq
    JOIN codes cd ON cd.vec_id <> nq.vec_id
    JOIN book b ON b.j = cd.j AND b.cid = cd.cid
    WHERE nq.vec_id < 100
    GROUP BY nq.vec_id, cd.vec_id),
cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY adc DESC, neighbor_id) AS rnk
    FROM adc_scored) WHERE rnk <= 133),
ann_scored AS (
    SELECT cd.vec_id, cd.neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM cand cd
    JOIN v qv ON qv.vec_id = cd.vec_id
    JOIN v av ON av.vec_id = cd.neighbor_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


@register("emb_pq_topk", oracle=_ann_summary_sql(_PQ_ANN_CTES, 0.6),
          doc="Product-quantization ANN with exact re-rank: corpus vectors "
              "compress to m=8 codes (32x smaller than float32 at dim=64), "
              "queries score by ADC table lookups, the global rounded-ADC "
              "top-(5+128) candidates re-rank exactly, vs brute force — ONE "
              "deterministic recall summary row. HASH-GRADE: codebooks are "
              "subvectors of the 32 lowest-id unit vectors, so the oracle "
              "replays encoding (argmin L2 per subspace), the ADC scores, the "
              "partition-independent candidate cut, the exact re-rank AND the "
              "brute-force twin entirely in DuckDB. Completes the ANN triad: "
              "IVF prunes what is READ, LSH prunes what is COMPARED, PQ "
              "shrinks what is HELD")
def emb_pq_topk(spark, sf_dir):
    import numpy as np

    from ..llm.similarity import ann_recall_summary, pq_topk

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    u = _seed_unit_vectors(emb, 32)
    books = np.stack([u[:, j * 8:(j + 1) * 8] for j in range(8)])
    ann = pq_topk(emb, k=5, ksub=32, rerank=128,
                  query_filter=F.col("vec_id") < 100, books=books)
    return ann_recall_summary(exact, ann, recall_floor=0.6)


# SQ8 replay: the quantization input is the 8dp-ROUNDED unit vector —
# computed JVM-side in Spark with the same left-to-right fold DuckDB's
# list_dot_product uses, so both engines quantize IDENTICAL doubles and
# the per-dim min/max (pure selections) and codes match bit for bit.
# The dequantized dot rounds at 6dp like PQ's ADC (accumulation-order
# noise only), the exact re-rank at 8dp.
_SQ8_ANN_CTES = f"""ur AS (SELECT vec_id, list_transform(u, x -> {o_round('x', 8)}) AS ru FROM n),
sx AS (SELECT vec_id, CAST(i AS int) AS dim, ru[CAST(i + 1 AS int)] AS val
       FROM ur CROSS JOIN unnest(range(0, len(ru))) AS t(i)),
mm AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM sx GROUP BY dim),
sq AS (SELECT x.vec_id, x.dim,
              m.mn + (CASE WHEN m.mx = m.mn THEN 0.0
                           ELSE floor((x.val - m.mn) / (m.mx - m.mn) * 255.0 + 0.5)
                      END) * ((m.mx - m.mn) / 255.0) AS dqv
       FROM sx x JOIN mm m USING (dim)),
dq AS (SELECT vec_id, list(dqv ORDER BY dim) AS dv FROM sq GROUP BY vec_id),
adc_scored AS (
    SELECT q.vec_id, d.vec_id AS neighbor_id,
           {o_round('list_dot_product(q.ru, d.dv)', 6)} AS adc
    FROM ur q JOIN dq d ON d.vec_id <> q.vec_id
    WHERE q.vec_id < 100),
cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY adc DESC, neighbor_id) AS rnk
    FROM adc_scored) WHERE rnk <= 37),
ann_scored AS (
    SELECT cd.vec_id, cd.neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM cand cd
    JOIN v qv ON qv.vec_id = cd.vec_id
    JOIN v av ON av.vec_id = cd.neighbor_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


@register("emb_sq8_topk", oracle=_ann_summary_sql(_SQ8_ANN_CTES, 0.8),
          doc="Int8 scalar-quantized ANN with exact re-rank: per-dimension "
              "affine min/max quantization of the unit-normalized corpus to "
              "1 byte per dim (8x less scan bandwidth than float64, every "
              "dim kept unlike PQ), approximate scoring against dequantized "
              "codes, global top-(5+32) candidates re-ranked exactly, vs "
              "brute force — ONE deterministic recall summary row. "
              "HASH-GRADE: the quantization input is the 8dp-rounded unit "
              "vector computed with the same IEEE op sequence on both "
              "engines, so codes match bit for bit and the oracle replays "
              "training (per-dim min/max), encoding, the ADC scan, the "
              "partition-independent cut, the exact re-rank AND the "
              "brute-force twin entirely in DuckDB. Completes the "
              "quantization pair: PQ shrinks what is HELD, SQ8 cuts the "
              "bandwidth of what is SCANNED")
def emb_sq8_topk(spark, sf_dir):
    from ..llm.similarity import ann_recall_summary, sq8_topk

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    ann = sq8_topk(emb, k=5, rerank=32, query_filter=F.col("vec_id") < 100)
    return ann_recall_summary(exact, ann, recall_floor=0.8)


# IVF x SQ8 composed search (r13): the two pruning axes graded TOGETHER.
# Seed-vector coarse centroids (the emb_ivf_topk treatment, so the
# oracle replays assignment + probing with a window + LIMIT) over the
# full-corpus SQ8 quantization (the emb_sq8_topk treatment: rounded
# unit input -> bit-identical codes). The probed ADC scan sees only
# (query-probe, assigned-list) pairs, the candidate cut is the global
# rounded-ADC top-(5+64) within the probe set, and the exact re-rank
# replays the shared JVM fold at 8dp.
def _sq8_ivf_ann_ctes(n_lists: int = 16, n_probe: int = 10,
                      keep: int = 69) -> str:
    rdot = o_round("list_dot_product(nv.u, c.c)", 8)
    qdot = o_round("list_dot_product(nq.u, c.c)", 8)
    return f"""qcents AS (SELECT CAST(rn - 1 AS INT) AS list_id, u AS c FROM (
    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= {n_lists}),
qasg AS (SELECT vec_id, list_id FROM (
    SELECT nv.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {rdot} DESC, c.list_id) AS rnk
    FROM n nv CROSS JOIN qcents c) WHERE rnk = 1),
qprobes AS (SELECT vec_id, list_id FROM (
    SELECT nq.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nq.vec_id
                              ORDER BY {qdot} DESC, c.list_id) AS rnk
    FROM n nq CROSS JOIN qcents c WHERE nq.vec_id < 100) WHERE rnk <= {n_probe}),
ur AS (SELECT vec_id, list_transform(u, x -> {o_round('x', 8)}) AS ru FROM n),
sx AS (SELECT vec_id, CAST(i AS int) AS dim, ru[CAST(i + 1 AS int)] AS val
       FROM ur CROSS JOIN unnest(range(0, len(ru))) AS t(i)),
mm AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM sx GROUP BY dim),
sq AS (SELECT x.vec_id, x.dim,
              m.mn + (CASE WHEN m.mx = m.mn THEN 0.0
                           ELSE floor((x.val - m.mn) / (m.mx - m.mn) * 255.0 + 0.5)
                      END) * ((m.mx - m.mn) / 255.0) AS dqv
       FROM sx x JOIN mm m USING (dim)),
dq AS (SELECT vec_id, list(dqv ORDER BY dim) AS dv FROM sq GROUP BY vec_id),
adc_scored AS (
    SELECT p.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(q.ru, d.dv)', 6)} AS adc
    FROM qprobes p
    JOIN qasg a ON a.list_id = p.list_id AND a.vec_id <> p.vec_id
    JOIN ur q ON q.vec_id = p.vec_id
    JOIN dq d ON d.vec_id = a.vec_id),
cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY adc DESC, neighbor_id) AS rnk
    FROM adc_scored) WHERE rnk <= {keep}),
ann_scored AS (
    SELECT cd.vec_id, cd.neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM cand cd
    JOIN v qv ON qv.vec_id = cd.vec_id
    JOIN v av ON av.vec_id = cd.neighbor_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


@register("emb_sq8_ivf_topk", oracle=_ann_summary_sql(_sq8_ivf_ann_ctes(), 0.8),
          doc="IVF x SQ8 COMPOSED physical search: one index whose codes are "
              "partitioned by coarse list (IVF prunes which FILES open) and "
              "byte-quantized (SQ8 shrinks what is SCANNED 8x) — a probed "
              "search reads 10/16 of the files at an eighth of the width, "
              "then re-ranks exactly JVM-side. HASH-GRADE: seed-vector "
              "centroids (16 lowest-id unit vectors) make assignment + "
              "probing window-replayable and the rounded-unit quantization "
              "input makes the codes bit-identical, so the oracle replays "
              "BOTH pruning axes, the probed ADC scan, the global "
              "top-(5+64) cut, the exact re-rank AND the brute-force twin "
              "in DuckDB. Recall >= 0.8 honestly: the r13 sweep shows the "
              "recall knob is n_probe (4/16 -> 0.54, 10/16 -> 0.86-0.91 "
              "across sf0.001..sf0.1 and 8x), NOT the rerank budget (32 vs "
              "128 identical — SQ8's 8-bit ADC orders nearly exactly); "
              "rerank pins 64 so the oracle is scale-stable, and "
              "sq8_search(rerank=None) offers the PQ-style corpus-scaled "
              "budget as the guard rail for wider-dynamic-range corpora")
def emb_sq8_ivf_topk(spark, sf_dir):
    import shutil
    import tempfile

    from ..llm.similarity import sq8_build_index, sq8_search

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    # emb_ivf_topk's index lifecycle: unique per-invocation dir, the
    # one-row summary localized before the files are deleted
    idx = tempfile.mkdtemp(prefix="sq8_ivf_index_")
    try:
        sq8_build_index(
            emb, idx, n_lists=16, centroids=_seed_unit_vectors(emb, 16)
        )
        ann = sq8_search(
            spark, idx, emb.filter(F.col("vec_id") < 100), emb,
            k=5, rerank=64, n_probe=10,
        )
        summary = ann_recall_summary(exact, ann, recall_floor=0.8)
        return localize(summary)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# IVF x PQ composed search (r14): the canonical IVFPQ layout (Jégou et
# al. 2011) graded end to end — coarse list partitioning (IVF prunes
# which FILES open) over m=8-byte PQ codes (PQ shrinks what is HELD
# 64x vs float64 at dim=64). The oracle composes the two replay
# treatments that are each individually hash-green: the
# qcents/qasg/qprobes coarse stage of emb_sq8_ivf_topk (seed-vector
# centroids -> window-replayable assignment + probing) and the
# book/codes/ADC stage of emb_pq_topk (seed-subvector codebooks ->
# replayable encode + table-lookup scoring). The candidate cut is the
# global rounded-ADC top-(5+256) WITHIN the probe set; survivors
# re-rank exactly through the shared JVM fold. rerank pins 256: unlike
# SQ8 (whose 8-bit ADC orders nearly exactly — recall insensitive to
# the budget), PQ's coarse 8-code ADC genuinely needs the exact window
# to track the pool (r13 sweep: recall 0.768/0.842/0.870 at rerank
# 64/128/256 with n_probe=10) — the measured quantizer asymmetry
# behind pq_search(rerank=None)'s corpus-scaled default vs
# sq8_search's pinned constant.
def _pq_ivf_ann_ctes(n_lists: int = 16, n_probe: int = 10,
                     keep: int = 261) -> str:
    rdot = o_round("list_dot_product(nv.u, c.c)", 8)
    qdot = o_round("list_dot_product(nq.u, c.c)", 8)
    return f"""qcents AS (SELECT CAST(rn - 1 AS INT) AS list_id, u AS c FROM (
    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= {n_lists}),
qasg AS (SELECT vec_id, list_id FROM (
    SELECT nv.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {rdot} DESC, c.list_id) AS rnk
    FROM n nv CROSS JOIN qcents c) WHERE rnk = 1),
qprobes AS (SELECT vec_id, list_id FROM (
    SELECT nq.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nq.vec_id
                              ORDER BY {qdot} DESC, c.list_id) AS rnk
    FROM n nq CROSS JOIN qcents c WHERE nq.vec_id < 100) WHERE rnk <= {n_probe}),
seeds AS (SELECT CAST(rn - 1 AS INT) AS cid, u FROM (
    SELECT u, row_number() OVER (ORDER BY vec_id) AS rn FROM n) WHERE rn <= 32),
book AS (SELECT s.cid, CAST(t.j AS INT) AS j,
                s.u[CAST(t.j * 8 + 1 AS INT):CAST(t.j * 8 + 8 AS INT)] AS bv
         FROM seeds s CROSS JOIN range(8) t(j)),
codes AS (SELECT vec_id, j, cid FROM (
    SELECT nv.vec_id, b.j, b.cid,
           row_number() OVER (PARTITION BY nv.vec_id, b.j
                              ORDER BY {o_round('list_distance(nv.u[b.j * 8 + 1:b.j * 8 + 8], b.bv)', 8)},
                                       b.cid) AS rnk
    FROM n nv CROSS JOIN book b) WHERE rnk = 1),
adc_scored AS (
    SELECT p.vec_id, cd.vec_id AS neighbor_id,
           {o_round('sum(list_dot_product(nq.u[cd.j * 8 + 1:cd.j * 8 + 8], b.bv))', 6)} AS adc
    FROM qprobes p
    JOIN qasg a ON a.list_id = p.list_id AND a.vec_id <> p.vec_id
    JOIN codes cd ON cd.vec_id = a.vec_id
    JOIN book b ON b.j = cd.j AND b.cid = cd.cid
    JOIN n nq ON nq.vec_id = p.vec_id
    GROUP BY p.vec_id, cd.vec_id),
cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY adc DESC, neighbor_id) AS rnk
    FROM adc_scored) WHERE rnk <= {keep}),
ann_scored AS (
    SELECT cd.vec_id, cd.neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM cand cd
    JOIN v qv ON qv.vec_id = cd.vec_id
    JOIN v av ON av.vec_id = cd.neighbor_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


@register("emb_pq_ivf_topk", oracle=_ann_summary_sql(_pq_ivf_ann_ctes(), 0.6),
          doc="IVF x PQ COMPOSED physical search — the canonical IVFPQ "
              "billion-scale layout: one index whose codes are partitioned "
              "by coarse list (IVF prunes which FILES open: 10/16 at these "
              "params) and product-quantized to m=8 BYTES per vector (PQ "
              "shrinks what is HELD 64x vs float64 at dim=64), then the "
              "probed ADC survivors re-rank exactly JVM-side. HASH-GRADE: "
              "seed-vector centroids (16 lowest-id unit vectors) make "
              "assignment + probing window-replayable and seed-subvector "
              "codebooks (32 lowest-id unit vectors) make the encode + ADC "
              "table lookups replayable, so the oracle replays BOTH pruning "
              "axes, the probed ADC scan, the global top-(5+256) cut, the "
              "exact re-rank AND the brute-force twin in DuckDB. rerank "
              "pins 256 (floor 0.6): PQ's coarse 8-code ADC needs the "
              "exact window to track the pool — r13 sweep recall "
              "0.768/0.842/0.870 at rerank 64/128/256 with n_probe=10 — "
              "unlike SQ8 whose 8-bit ADC is budget-insensitive; the "
              "measured quantizer asymmetry behind pq_search(rerank=None) "
              "vs sq8_search's pinned constant. The PIN is the "
              "oracle-stability choice, not the scale path: at 8x bench "
              "scale the fixed 261-slot window covers only ~2.6% of the "
              "probed pool and recall decays to 0.596, while rerank=None "
              "(corpus-scaled, floor 128) rises to 0.824 — production "
              "composes the auto budget (SCALING.md r14)")
def emb_pq_ivf_topk(spark, sf_dir):
    import shutil
    import tempfile

    import numpy as np

    from ..llm.similarity import ann_recall_summary, pq_build_index, pq_search

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    u = _seed_unit_vectors(emb, 32)
    books = np.stack([u[:, j * 8:(j + 1) * 8] for j in range(8)])
    # emb_sq8_ivf_topk's index lifecycle: unique per-invocation dir,
    # the one-row summary localized before the files are deleted
    idx = tempfile.mkdtemp(prefix="pq_ivf_index_")
    try:
        pq_build_index(
            emb, idx, m=8, ksub=32, books=books,
            # the 16 coarse centroids ARE the first 16 of the 32 seed
            # unit vectors already collected above — no second
            # ordered-take job
            n_lists=16, centroids=u[:16],
        )
        ann = pq_search(
            spark, idx, emb.filter(F.col("vec_id") < 100), emb,
            k=5, rerank=256, n_probe=10,
        )
        summary = ann_recall_summary(exact, ann, recall_floor=0.6)
        return localize(summary)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# --- iterative clustering (r11): seeded Lloyd k-means + SemDeDup -------------
#
# The whole fit is SQL-replayable because every step is deterministic:
# seeded init (k lowest-id vectors), assignments by ROUNDED distance
# with lowest-cid ties, means via exact decimal sums (the
# emb_label_centroids treatment), empty clusters keeping their previous
# centroid. The oracle unrolls the n_iter Lloyd iterations as CTEs.

def _kmeans_cte_chain(k: int, n_iter: int, prefix: str = "") -> str:
    """CTE chain ending in {prefix}c{n_iter}(cid, pos, val) — the
    refined centroids — plus {prefix}x(vec_id, pos, val), replaying
    kmeans_fit. ``prefix`` namespaces every CTE so the chain composes
    with _ANN_EXACT_CTES (which owns the bare ``v``/``n`` names)."""
    p = prefix
    dist = o_round("sqrt(sum((x.val - c.val) * (x.val - c.val)))", 8)
    mean8 = o_round("CAST(sum(CAST(x.val AS DECIMAL(38,12))) AS double) / count(*)", 8)
    parts = [f"""{p}v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
{p}x AS (SELECT vec_id, CAST(i AS int) AS pos, e[CAST(i + 1 AS int)] AS val
      FROM {p}v CROSS JOIN unnest(range(0, len(e))) AS u(i)),
{p}seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cid
         FROM (SELECT vec_id FROM {p}v ORDER BY vec_id LIMIT {k})),
{p}c0 AS (SELECT s.cid, x.pos, x.val FROM {p}seed s JOIN {p}x x ON x.vec_id = s.vec_id)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""{p}d{i} AS (SELECT x.vec_id, c.cid, {dist} AS dist
       FROM {p}x x JOIN {p}c{i - 1} c ON c.pos = x.pos GROUP BY x.vec_id, c.cid),
{p}a{i} AS (SELECT vec_id, cid FROM (
       SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
       FROM {p}d{i}) WHERE rnk = 1),
{p}m{i} AS (SELECT a.cid, x.pos, {mean8} AS val
       FROM {p}x x JOIN {p}a{i} a ON a.vec_id = x.vec_id GROUP BY a.cid, x.pos),
{p}c{i} AS (SELECT cid, pos, val FROM {p}m{i}
       UNION ALL
       SELECT c.cid, c.pos, c.val FROM {p}c{i - 1} c
       WHERE c.cid NOT IN (SELECT DISTINCT cid FROM {p}m{i}))""")
    return ",\n".join(parts)


def _kmeans_oracle_sql(k: int, n_iter: int) -> str:
    dist = o_round("sqrt(sum((x.val - c.val) * (x.val - c.val)))", 8)
    return f"""
WITH {_kmeans_cte_chain(k, n_iter)},
df AS (SELECT x.vec_id, c.cid, {dist} AS dist
       FROM x JOIN c{n_iter} c ON c.pos = x.pos GROUP BY x.vec_id, c.cid)
SELECT vec_id, CAST(cid AS int) AS cluster_id, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
    FROM df) WHERE rnk = 1
"""


def _semdedup_oracle_sql(k: int, n_iter: int, threshold: float) -> str:
    cos = o_round("list_dot_product(na.u, nb.u)", 8)
    return f"""
WITH {_kmeans_cte_chain(k, n_iter)},
nu AS (SELECT vec_id, list_transform(e, t -> t / sqrt(list_dot_product(e, e))) AS u
       FROM v),
df AS (SELECT x.vec_id, c.cid,
              {o_round('sqrt(sum((x.val - c.val) * (x.val - c.val)))', 8)} AS dist
       FROM x JOIN c{n_iter} c ON c.pos = x.pos GROUP BY x.vec_id, c.cid),
af AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
    FROM df) WHERE rnk = 1)
SELECT a.vec_id FROM af a
WHERE NOT EXISTS (
    SELECT 1 FROM af b
    JOIN nu na ON na.vec_id = a.vec_id
    JOIN nu nb ON nb.vec_id = b.vec_id
    WHERE b.cid = a.cid AND b.vec_id < a.vec_id AND {cos} >= {threshold!r})
"""


@register("emb_kmeans_clusters", oracle=_kmeans_oracle_sql(8, 2),
          doc="Seeded distributed k-means (Lloyd, k=8, 2 update iterations + final "
              "E-step): per-vector (cluster_id, rounded distance) against the refined "
              "centroids. Scale shape per iteration: one Arrow E-step pass (broadcast "
              "k x dim closure, no shuffle) + ONE k x dim map-side-reduced shuffle for "
              "the decimal-sum means — corpus never reaches the driver. HASH-GRADE: "
              "seeded init from the 8 lowest-id vectors, assignments by 8dp-rounded "
              "distance with lowest-cid ties, exact decimal(38,12) means, so the "
              "oracle unrolls BOTH Lloyd iterations as CTEs and replays the whole fit")
def emb_kmeans_clusters(spark, sf_dir):
    from ..llm.clustering import kmeans_lloyd

    emb = read_testdata(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, n_iter=2)


def _kmpp_oracle_sql(k: int = 8, rounds: int = 2, l: int = 16,
                     seed: int = 42) -> str:
    """Unrolled k-means|| init (the Lloyd-oracle treatment applied to
    SEEDING): lowest-id first candidate -> [rounded min-distance ->
    exact-decimal Σd² -> seeded-uniform threshold pick -> candidate
    union] x rounds -> weight every corpus point to its nearest
    candidate -> top-k candidates by (count DESC, id). The uniform is
    the DSIR md5-int64 recipe with a 'kmpp:{seed}:' tag."""
    rdist = o_round("sqrt(sum((x.val - c.val) * (x.val - c.val)))", 8)
    md5u = f"md5_number_upper('kmpp:{seed}:' || CAST(vec_id AS VARCHAR))"
    parts = [f"""kv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
kx AS (SELECT vec_id, CAST(i AS int) AS pos, e[CAST(i + 1 AS int)] AS val
       FROM kv CROSS JOIN unnest(range(0, len(e))) AS t(i)),
ku AS (SELECT vec_id,
              least(greatest(
                CAST(CAST({md5u} AS HUGEINT)
                     - CASE WHEN {md5u} >= CAST(9223372036854775808 AS UBIGINT)
                            THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
                  AS DOUBLE) / 18446744073709551616.0 + 0.5,
                5.421010862427522e-20), 0.9999999999999999) AS u
       FROM kv),
kc0 AS (SELECT vec_id FROM kv ORDER BY vec_id LIMIT 1)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""kpd{r} AS (SELECT x.vec_id, c.vec_id AS cid, {rdist} AS d
        FROM kx x JOIN kx c ON c.pos = x.pos
        JOIN kc{r - 1} s ON s.vec_id = c.vec_id
        GROUP BY x.vec_id, c.vec_id),
kd{r} AS (SELECT vec_id, {o_round('min(d) * min(d)', 8)} AS d2
          FROM kpd{r} GROUP BY vec_id),
kt{r} AS (SELECT CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE) AS tot FROM kd{r}),
ks{r} AS (SELECT d.vec_id FROM kd{r} d
          JOIN ku ON ku.vec_id = d.vec_id CROSS JOIN kt{r} t
          WHERE ku.u < {float(l)!r} * d.d2 / NULLIF(t.tot, 0)),
kc{r} AS (SELECT vec_id FROM kc{r - 1} UNION SELECT vec_id FROM ks{r})""")
    parts.append(f"""kpw AS (SELECT x.vec_id, c.vec_id AS cid, {rdist} AS d
        FROM kx x JOIN kx c ON c.pos = x.pos
        JOIN kc{rounds} s ON s.vec_id = c.vec_id
        GROUP BY x.vec_id, c.vec_id),
kasg AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
    FROM kpw) WHERE rnk = 1),
kw AS (SELECT cid, count(*) AS n FROM kasg GROUP BY cid),
kch AS (SELECT cid, n, row_number() OVER (ORDER BY n DESC, cid) AS rnk FROM kw)""")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT CAST(rnk AS int) AS init_rank, CAST(cid AS bigint) AS vec_id,
       CAST(n AS bigint) AS n_assigned
FROM kch WHERE rnk <= {k}
"""


@register("emb_kmeans_pp_init", oracle=_kmpp_oracle_sql(8, 2, 16),
          doc="k-means||-style seeded init (Bahmani et al. 2012): oversample "
              "candidates in 2 FIXED passes — each point enters with probability "
              "l*d²/Σd² against the current candidate set via a seeded md5 "
              "uniform — then keep the k=8 candidates that attract the most "
              "corpus points. O(rounds) corpus passes instead of k-means++'s k "
              "sequential ones; feeds kmeans_fit(centroids=...) as a "
              "geometry-aware alternative to lowest-id seeding. HASH-GRADE: "
              "rounded distances, exact-decimal Σd², the bit-verified md5 "
              "uniform and id tie-breaks make every pick deterministic; the "
              "oracle unrolls both rounds, the weighting pass and the final "
              "cut as CTEs")
def emb_kmeans_pp_init(spark, sf_dir):
    from ..llm.clustering import kmeans_parallel_init

    emb = read_testdata(spark, sf_dir, "embeddings")
    return kmeans_parallel_init(
        emb, k=8, rounds=2, oversample=16, seed=42, return_frame=True
    )


@register("emb_semdedup_prune", oracle=_semdedup_oracle_sql(8, 2, 0.4),
          doc="SemDeDup-style semantic dedup: k-means cluster (k=8, 2 Lloyd "
              "iterations), then WITHIN each cluster drop vectors with cosine >= 0.4 "
              "to a lower-id cluster-mate (lowest id of each semantic group survives; "
              "synthetic vectors are near-orthogonal so 0.4 here plays the role "
              "production ~0.95 would). Pairwise work is per-cluster applyInPandas — "
              "cluster-bounded blocks, never corpus all-pairs. HASH-GRADE: the oracle "
              "replays the k-means fit AND the within-cluster prune in SQL")
def emb_semdedup_prune(spark, sf_dir):
    from ..llm.clustering import semdedup_prune

    emb = read_testdata(spark, sf_dir, "embeddings")
    return semdedup_prune(emb, threshold=0.4, k=8, n_iter=2)


def _ivf_kmeans_ctes(k: int = 16, n_iter: int = 2, n_probe: int = 4) -> str:
    """IVF assignment/probe/scoring against k-means-REFINED centroids:
    the _kmeans_cte_chain (km_-prefixed so it composes with
    _ANN_EXACT_CTES) feeds unit-normalized list-form centroids into the
    same assignment/probe CTEs emb_ivf_topk uses."""
    chain = _kmeans_cte_chain(k, n_iter, prefix="km_")
    return f"""{chain},
km_norm AS (SELECT cid, sqrt(sum(val * val)) AS nm FROM km_c{n_iter} GROUP BY cid),
km_cu AS (SELECT c.cid AS list_id, list(c.val / n.nm ORDER BY c.pos) AS c
          FROM km_c{n_iter} c JOIN km_norm n ON n.cid = c.cid GROUP BY c.cid),
assign AS (SELECT vec_id, list_id FROM (
    SELECT nv.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {o_round('list_dot_product(nv.u, c.c)', 8)} DESC, c.list_id) AS rnk
    FROM n nv CROSS JOIN km_cu c) WHERE rnk = 1),
probes AS (SELECT vec_id, list_id FROM (
    SELECT nq.vec_id, c.list_id,
           row_number() OVER (PARTITION BY nq.vec_id
                              ORDER BY {o_round('list_dot_product(nq.u, c.c)', 8)} DESC, c.list_id) AS rnk
    FROM n nq CROSS JOIN km_cu c WHERE nq.vec_id < 100) WHERE rnk <= {n_probe}),
ann_scored AS (
    SELECT p.vec_id, a.vec_id AS neighbor_id,
           {o_round('list_dot_product(qv.e, av.e) / (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(av.e, av.e)))', 8)} AS cos_sim
    FROM probes p
    JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.vec_id
    JOIN v qv ON qv.vec_id = p.vec_id
    JOIN v av ON av.vec_id = a.vec_id),
ann AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM ann_scored) WHERE rnk <= 5)"""


@register("emb_ivf_kmeans_topk", oracle=_ann_summary_sql(_ivf_kmeans_ctes(), 0.3),
          doc="IVF ANN with k-means-REFINED coarse quantizer: kmeans_fit (k=16, 2 "
              "Lloyd iterations from the seeded init) produces the centroids, "
              "unit-normalized, then the PHYSICAL index path (ivf_build_index + "
              "partition-pruned ivf_search, n_probe=4) runs against them. "
              "Refinement buys recall at the same probe budget: 0.544 (seed "
              "centroids, emb_ivf_topk) -> 0.612 measured at sf0.01. HASH-GRADE: "
              "the oracle replays the whole k-means fit (unrolled Lloyd CTEs), the "
              "normalization, assignment, probing, scoring AND the exact twin in "
              "DuckDB — iterative refinement composed end-to-end with the ANN index")
def emb_ivf_kmeans_topk(spark, sf_dir):
    import shutil
    import tempfile

    import numpy as np

    from ..llm.clustering import kmeans_fit
    from ..llm.similarity import ivf_build_index, ivf_search

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    km = kmeans_fit(emb, k=16, n_iter=2)
    km = km / np.maximum(np.linalg.norm(km, axis=1, keepdims=True), 1e-12)
    idx = tempfile.mkdtemp(prefix="ivf_km_index_")
    try:
        ivf_build_index(emb, idx, n_lists=16, centroids=km)
        ann = ivf_search(spark, idx, emb.filter(F.col("vec_id") < 100), k=5, n_probe=4)
        summary = ann_recall_summary(exact, ann, recall_floor=0.3)
        # localize the one-row summary before deleting the index files
        # (the emb_ivf_topk precedent: parquet listings capture eagerly)
        return localize(summary)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


_GIF_FRAMES_ORACLE = """
WITH d AS (SELECT doc_id,
                  doc_id % 9 + 4 AS w,
                  doc_id % 5 + 4 AS h,
                  doc_id % 4 + 2 AS f
           FROM documents),
e AS (SELECT doc_id, w, h, f, unnest(range(f)) AS i FROM d WHERE doc_id % 7 != 0)
SELECT doc_id AS media_id,
       CAST(i AS int) AS frame_idx,
       CAST(f AS int) AS n_frames,
       CAST((doc_id + i) % 10 + 1 AS int) AS delay_cs,
       CAST(w AS int) AS width,
       CAST(h AS int) AS height,
       CAST(w * h * ((doc_id * 7 + 13 * i) % 256
                     + (doc_id * 11 + 17 * i) % 256
                     + (doc_id * 3 + 29 * i) % 256) AS bigint) AS pixel_sum
FROM e
UNION ALL
SELECT doc_id, CAST(NULL AS int), CAST(NULL AS int), CAST(NULL AS int),
       CAST(NULL AS int), CAST(NULL AS int), CAST(NULL AS bigint)
FROM documents WHERE doc_id % 7 = 0
"""


@register("multimodal_gif_frames", oracle=_GIF_FRAMES_ORACLE,
          doc="REAL animated-GIF codec end-to-end: per document a synthesized "
              "multi-frame GIF89a (doc_id%4+2 solid-color frames, dims/delays/"
              "colors all arithmetic on doc_id), decoded by the from-spec "
              "animation decoder (GCE delays, disposal compositing) through the "
              "Arrow frame-stats stage — one row per composed frame with exact "
              "pixel sums; doc_id%7==0 rows carry non-GIF bytes and must yield "
              "one all-null frame row (stage totality). Every column is exact "
              "oracle arithmetic, so any LZW/GCE/compositing defect "
              "hash-mismatches")
def multimodal_gif_frames(spark, sf_dir):
    import pandas as pd

    from ..llm.codecs import codec_loader
    from ..llm.multimodal import decode_gif_frame_stats

    # r21 (guide §2.4/§4): the synth->decode Python chain is compute-bound
    # real-codec work, but the doc_id scan is a single parquet split, so the
    # whole chain ran as ONE task. Spread it across the session's cores
    # before the Python boundary; the shuffle moves only the doc_id column.
    docs = (
        read_testdata(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    load_codecs = codec_loader()

    def synth(batches):
        import numpy as np

        ns = load_codecs()
        encode_gif_animation = ns["encode_gif_animation"]

        for pdf in batches:
            out = {"media_id": [], "payload": [], "media_type": [], "source": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 7 == 0:  # non-GIF payload: stage must yield nulls
                    payload, mtype = f"doc-{d}".encode(), "text/plain"
                else:
                    w, h, f = d % 9 + 4, d % 5 + 4, d % 4 + 2
                    frames = [
                        np.full(
                            (h, w, 3),
                            [(d * 7 + 13 * k) % 256, (d * 11 + 17 * k) % 256,
                             (d * 3 + 29 * k) % 256],
                            dtype=np.uint8,
                        )
                        for k in range(f)
                    ]
                    delays = [(d + k) % 10 + 1 for k in range(f)]
                    payload, mtype = encode_gif_animation(frames, delays), "image/gif"
                out["media_id"].append(d)
                out["payload"].append(payload)
                out["media_type"].append(mtype)
                out["source"].append("synth")
            yield pd.DataFrame(out)

    media = docs.mapInPandas(
        synth, schema="media_id bigint, payload binary, media_type string, source string"
    )
    return decode_gif_frame_stats(media)


def _bpe_stage_ctes(n_merges: int, carry_word: bool = False) -> str:
    """The shared WITH-prefix of the BPE oracles: word frequencies,
    then one (pairs, top, vocab) CTE triple per merge stage. With
    ``carry_word`` the per-word key rides along every stage so the
    final vocab can be joined back to documents (the apply oracle)."""
    w0 = "word, " if carry_word else ""
    wk = "v.word, " if carry_word else ""
    parts = [f"""WITH words AS (
  SELECT unnest(string_split_regex(trim(coalesce(text, '')), '\\s+')) AS word
  FROM documents
), vocab_0 AS (
  SELECT {w0}CAST(count(*) AS BIGINT) AS cnt,
         list_append(string_split(word, ''), '</w>') AS toks
  FROM words WHERE word <> '' GROUP BY word
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""", pairs_{k} AS (
  SELECT struct_extract(p, 1) AS a, struct_extract(p, 2) AS b,
         CAST(sum(cnt) AS BIGINT) AS freq
  FROM (SELECT cnt, unnest(list_zip(toks[:len(toks)-1], toks[2:])) AS p
        FROM vocab_{k-1}) u
  GROUP BY 1, 2
), top_{k} AS (
  SELECT a, b, a || b AS m, freq FROM pairs_{k}
  ORDER BY freq DESC, a ASC, b ASC LIMIT 1
), vocab_{k} AS (
  SELECT {wk}v.cnt,
         list_transform(
           string_split(
             trim(replace(
               array_to_string(list_transform(v.toks, x -> '<' || hex(x) || '>'), ''),
               '<' || hex(t.a) || '><' || hex(t.b) || '>',
               '<' || hex(t.a) || hex(t.b) || '>'), '<>'),
             '><'),
           h -> decode(unhex(h))) AS toks
  FROM vocab_{k-1} v CROSS JOIN top_{k} t
)""")
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int) -> str:
    """Generated DuckDB oracle for ``learn_bpe``: a chain of per-merge
    CTE stages over the word-frequency vocabulary. The greedy
    left-to-right merge of pair (a, b) is reproduced with plain string
    ``replace``: each token is encoded as ``<HEX>`` (hex alphabet never
    collides with the delimiters, and ``hex(a||b) = hex(a)||hex(b)``),
    so DuckDB's non-overlapping left-to-right replace of
    ``<hex a><hex b>`` with ``<hex a+b>`` is EXACTLY the single-pass
    carry fold the Spark side runs (merged tokens are never re-matched
    within the pass on either engine). Tie-breaks (freq desc, then
    lexicographic a, b) mirror ``llm/bpe.py``."""
    parts = [_bpe_stage_ctes(n_merges)]
    tops = "\nUNION ALL ".join(
        f'SELECT CAST({k} AS INTEGER) AS rank, a AS "left", b AS "right", '
        f"m AS merged, freq FROM top_{k}"
        for k in range(1, n_merges + 1)
    )
    parts.append(f"\nSELECT * FROM (\n{tops}\n) ORDER BY rank")
    return "".join(parts)


@register("corpus_bpe_merges", oracle=_bpe_oracle_sql(10),
          doc="Distributed BPE tokenizer training: one corpus pass builds the "
              "word-frequency vocabulary, then each merge iteration counts "
              "adjacent token pairs and applies the winning merge on the SMALL "
              "vocab frame — arrays_zip/explode/aggregate-fold JVM expressions, "
              "zero Python per row, one bounded 1-row collect per iteration. "
              "Deterministic (freq-then-lexicographic tie-break); pinned "
              "against a pure-Python reference implementation in "
              "tests/test_text_properties.py AND hash-checked against a "
              "generated per-merge-stage DuckDB CTE oracle (hex-encoded "
              "replace() reproduces the greedy merge fold exactly)")
def corpus_bpe_merges(spark, sf_dir):
    from ..llm.bpe import learn_bpe

    return learn_bpe(read_testdata(spark, sf_dir, "documents"), n_merges=10)


def _bpe_apply_oracle_sql(n_merges: int) -> str:
    """Apply oracle: learn the merges (same stage CTEs, word carried
    through), then tokenize every document by joining its positional
    words to the final vocab and flattening tokens in reading order."""
    return _bpe_stage_ctes(n_merges, carry_word=True) + f"""
, doc_words AS (
  SELECT doc_id, struct_extract(wp, 1) AS word,
         CAST(struct_extract(wp, 2) AS INTEGER) AS pos
  FROM (
    SELECT doc_id, unnest(list_zip(ws, range(1, len(ws) + 1))) AS wp
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                             w -> w <> '') AS ws
          FROM documents)
  )
)
SELECT dw.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(m.toks)) AS BIGINT) AS n_tokens,
       md5(array_to_string(flatten(list(m.toks ORDER BY dw.pos)), ' ')) AS tok_fingerprint
FROM doc_words dw JOIN vocab_{n_merges} m ON dw.word = m.word
GROUP BY dw.doc_id"""


@register("doc_bpe_tokenize", oracle=_bpe_apply_oracle_sql(10),
          doc="BPE tokenizer APPLY — the other half of the train->apply loop: "
              "learn 10 merges on the corpus, then tokenize every document by "
              "sequential merge replay. The merge table is collected once "
              "(bounded by n_merges); tokenization runs per DISTINCT word "
              "(JVM greedy-merge folds, or one Arrow stage for real 32k-merge "
              "tables), then one word-map join + one groupBy(doc_id) shuffle "
              "reassembles sequences. Hash row is a per-doc md5 fingerprint of "
              "the full token sequence, so any token anywhere diverging flips "
              "the hash; oracle recomputes learn+apply as generated DuckDB CTEs")
def doc_bpe_tokenize(spark, sf_dir):
    from ..llm.bpe import apply_bpe, learn_bpe

    docs = read_testdata(spark, sf_dir, "documents")
    # the trainer's final vocabulary state IS the tokenized wordmap
    # (same sequential-replay semantics, pinned in tests) — hand it to
    # apply so the fold chain and the distinct-vocab shuffle aren't
    # recomputed (r10 profile: learn 1.8 s / apply 2.1 s of the 4 s
    # entry at sf0.1; sharing cuts apply to the join+reassembly core)
    state = []
    merges = learn_bpe(docs, n_merges=10, state_out=state)
    out = apply_bpe(docs, merges, wordmap=state[0])
    return out.select(
        "doc_id",
        "n_words",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join("toks", " ")).alias("tok_fingerprint"),
    )
