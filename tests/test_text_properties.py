"""Property-based tests (hypothesis) for the n-gram text operators:
repetition stats and decontamination overlap must agree with a direct
pure-Python model on ANY whitespace-tokenized corpus, not just the
parquet fixtures. Few examples, large random documents — each example
pays a Spark job."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st

from sahithi_metamorph_etl_spark.llm.decontaminate import ngram_overlap
from sahithi_metamorph_etl_spark.llm.textstats import repetition_stats

from .shingles import naive_hashed_shingles

# small vocab → high collision rate → duplicates and overlaps actually occur
_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "yy"])
_doc = st.lists(_word, min_size=0, max_size=30).map(" ".join)


def _grams(text: str, n: int) -> list[str]:
    w = text.split()
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=8))
def test_repetition_stats_matches_python_model(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    for i, t in enumerate(texts):
        grams = _grams(t, 2)
        if not grams:
            assert i not in got
            continue
        c = Counter(grams)
        r = got[i]
        assert r.n_grams == len(grams)
        assert r.n_distinct_grams == len(c)
        top_cnt, top_gram = max((cnt, g) for g, cnt in c.items())
        assert (r.top_gram_count, r.top_gram) == (top_cnt, top_gram)
        dup_occ = sum(cnt for cnt in c.values() if cnt > 1)
        assert abs(r.dup_gram_frac - dup_occ / len(grams)) < 1e-6
        assert abs(r.top_gram_char_frac - len(top_gram) * top_cnt / len(t)) < 1e-6


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=6),
    st.lists(_doc, min_size=1, max_size=3),
)
def test_ngram_overlap_matches_python_model(spark, corpus_texts, eval_texts):
    corpus = spark.createDataFrame(list(enumerate(corpus_texts)), "doc_id bigint, text string")
    eval_df = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(eval_texts)], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in ngram_overlap(corpus, eval_df, n=2).collect()}
    eval_grams = {g for t in eval_texts for g in _grams(t.lower(), 2)}
    for i, t in enumerate(corpus_texts):
        doc_grams = set(_grams(t.lower(), 2))
        if not doc_grams:
            assert i not in got
            continue
        r = got[i]
        assert r.n_grams == len(doc_grams)
        assert r.n_matched == len(doc_grams & eval_grams)
        assert r.contaminated == (r.n_matched >= 1)


def test_rarity_score_bounds_and_base_rate(spark, sf_dir):
    """Rarity sanity: every mean is >= 1 x the base rate... actually the
    MINIMUM possible term is total/tf(most common word) > 1, and a doc
    made only of the corpus's most common word scores the corpus
    minimum; rarer vocabulary strictly raises the mean. Also pins
    n_tokens against the independent tokenizer count."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.textstats import rarity_score
    from sahithi_metamorph_etl_spark.sources.readers import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    out = rarity_score(docs)
    row = out.agg(
        F.min("mean_rarity").alias("lo"),
        F.max("mean_rarity").alias("hi"),
        F.sum("n_tokens").alias("ntok"),
    ).collect()[0]
    assert row["lo"] > 1.0  # no word is the whole corpus
    assert row["hi"] >= row["lo"]
    ntok = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert row["ntok"] == ntok
    # max_rarity >= mean_rarity per doc, within rounding slack
    bad = out.filter(F.col("max_rarity") < F.col("mean_rarity") - F.lit(1e-3)).count()
    assert bad == 0


def test_pack_sequences_prefix_sum_property(spark):
    """Property: for ANY token-length distribution, the bucketed
    two-phase prefix sum equals the sequential model computed in plain
    Python over the same md5 order (hypothesis-style generated corpora,
    fixed seeds for reproducibility)."""
    import hashlib
    import random

    from sahithi_metamorph_etl_spark.llm.chunking import pack_sequences

    rng = random.Random(711)
    for trial in range(3):
        n = rng.randint(1, 120)
        rows = []
        for i in range(n):
            # adversarial mix: empty-ish, tiny, huge documents
            k = rng.choice([1, 2, 3, 50, 700])
            rows.append((i, " ".join(f"w{j}" for j in range(k))))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            r["doc_id"]: (r["tok_offset"], r["pack_id"], r["n_tokens"])
            for r in pack_sequences(df, budget=64, shuffle_seed="p").collect()
        }
        # sequential python model over the same deterministic order
        order = sorted(
            rows, key=lambda r: (hashlib.md5(f"p{r[0]}".encode()).hexdigest(), r[0])
        )
        cum = 0
        for doc_id, text in order:
            toks = len(text.split())
            expect = (cum, cum // 64, toks)
            assert got[doc_id] == expect, (trial, doc_id, got[doc_id], expect)
            cum += toks


def _python_bpe_reference(word_counts, n_merges):
    """Sequential (recount-between-merges) pure-Python BPE trainer —
    greedy left-to-right merge, frequency-then-lexicographic pair
    selection. The semantics both learn_bpe paths must reproduce."""
    from sahithi_metamorph_etl_spark.llm.bpe import END_TOKEN

    vocab = {}
    for w, c in word_counts.items():
        key = tuple(list(w) + [END_TOKEN])
        vocab[key] = vocab.get(key, 0) + c
    expect = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        if not pc:
            break
        (a, b), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, a, b, a + b, freq))
        new_vocab = {}
        for toks, c in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return expect


def test_learn_bpe_matches_reference_implementation(spark, sf_dir):
    """The distributed BPE trainer must reproduce a pure-Python
    reference (greedy left-to-right merge, frequency-then-lexicographic
    pair selection) EXACTLY over the real documents vocabulary —
    every rank, pair and frequency — and the safe batching must cut
    the iteration count below one-job-per-merge."""
    from collections import Counter as _Counter

    from sahithi_metamorph_etl_spark.llm.bpe import learn_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_merges = 8
    stats = {}
    got = [tuple(r) for r in learn_bpe(docs, n_merges=n_merges, stats=stats).collect()]

    wc = _Counter()
    for r in docs.select("text").collect():
        for w in (r["text"] or "").split():
            wc[w] += 1
    assert got == _python_bpe_reference(wc, n_merges)
    assert stats["merges"] == n_merges
    assert stats["iterations"] < n_merges  # batching actually batched


def test_learn_bpe_batching_equals_sequential_on_random_corpora(spark):
    """Property: batched selection must equal the sequential reference
    on ANY corpus — adversarial small vocabularies where merges
    interact heavily (shared tokens, chained merges, ties) are exactly
    where an unsafe batch would diverge."""
    import random

    from sahithi_metamorph_etl_spark.llm.bpe import learn_bpe

    rng = random.Random(4242)
    alphabet = ["a", "b", "c"]
    for trial in range(4):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 25))
        ]
        rows = [(i, " ".join(rng.choices(words, k=rng.randint(1, 12))))
                for i in range(rng.randint(2, 10))]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        wc = Counter(w for _, t in rows for w in t.split())
        n_merges = 12
        got = [tuple(r) for r in learn_bpe(df, n_merges=n_merges).collect()]
        assert got == _python_bpe_reference(wc, n_merges), (trial, got[:4])


def test_apply_bpe_paths_match_python_replay(spark, sf_dir):
    """apply_bpe's fold path (JVM aggregate chain) and arrow path
    (mapInPandas replay) must produce the IDENTICAL per-document token
    sequence as a pure-Python sequential replay over the real corpus,
    and the two engine paths must be bit-equal to each other."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.bpe import (
        apply_bpe,
        learn_bpe,
        replay_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = learn_bpe(docs, n_merges=6)
    pairs = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]

    def run(method):
        return {
            r["doc_id"]: (r["n_words"], r["n_tokens"], tuple(r["toks"]))
            for r in apply_bpe(docs, merges, method=method).collect()
        }

    fold, arrow = run("fold"), run("arrow")
    assert fold == arrow

    # python model over the same docs
    expect = {}
    for r in docs.select("doc_id", "text").collect():
        words = (r["text"] or "").split()
        if not words:
            continue
        toks = []
        for w in words:
            toks.extend(replay_merges(w, pairs))
        expect[r["doc_id"]] = (len(words), len(toks), tuple(toks))
    assert fold == expect

    # docs with zero words are absent by contract
    empty = spark.createDataFrame([(1, None), (2, "   ")], "doc_id bigint, text string")
    assert apply_bpe(empty, merges).count() == 0

    # the trainer's final state handed in as a precomputed wordmap
    # (the r10 train->apply sharing path) must be bit-equal to the
    # fold recomputation
    state = []
    merges2 = learn_bpe(docs, n_merges=6, state_out=state)
    shared = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], tuple(r["toks"]))
        for r in apply_bpe(docs, merges2, wordmap=state[0]).collect()
    }
    assert shared == fold


def test_select_merge_batch_safe_prefix_property():
    """Driver-side stress (no Spark): the batched safe-prefix selection
    must reproduce sequential (recount-between-merges) training on 150
    random adversarial vocabularies — tiny alphabets (maximal merge
    interaction), tie-heavy counts, and top-T windows as small as 3,
    where an unsafe prefix bound would diverge."""
    import random

    from sahithi_metamorph_etl_spark.llm.bpe import END_TOKEN, _select_merge_batch

    def pairs_of(vocab):
        pc = Counter()
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        return pc

    def apply_merge(vocab, a, b):
        nv = {}
        for toks, c in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        return nv

    def sequential(vocab, n):
        out = []
        for _ in range(n):
            pc = pairs_of(vocab)
            if not pc:
                break
            (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((a, b, f))
            vocab = apply_merge(vocab, a, b)
        return out

    def batched(vocab, n, T):
        out = []
        known = {END_TOKEN}
        while len(out) < n:
            pc = pairs_of(vocab)
            if not pc:
                break
            snap = sorted(
                ((a, b, f) for (a, b), f in pc.items()),
                key=lambda t: (-t[2], t[0], t[1]),
            )[:T]
            floor = snap[-1][2] if len(snap) == T else None
            for a, b, f in _select_merge_batch(snap, floor, n - len(out), known):
                out.append((a, b, f))
                known.add(a + b)
                vocab = apply_merge(vocab, a, b)
        return out

    rng = random.Random(1234)
    for trial in range(150):
        alpha = rng.choice(["ab", "abc", "abcd"])
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(2, 30))
        ]
        wc = Counter(rng.choices(words, k=rng.randint(2, 60)))
        vocab = {}
        for w, c in wc.items():
            key = tuple(list(w) + [END_TOKEN])
            vocab[key] = vocab.get(key, 0) + c
        n, T = rng.randint(1, 20), rng.choice([3, 5, 50])
        assert sequential(dict(vocab), n) == batched(dict(vocab), n, T), (trial, T)


def test_select_merge_batch_merged_name_collision_regression():
    """Regression: a batch must STOP after accepting a candidate whose
    merged name collides with a token that can already exist (a merge
    learned earlier in the run). Post-merge, old ``(x, abc)`` pairs and
    adjacencies newly created from ``(x, a)`` COMBINE under the same
    name, so the separate visible bounds (40 and 50 here) do not bound
    the recount (90) — an unguarded batch accepts the 85-count
    ``(p, q)`` out of sequential order.

    State modeled: token ``abc`` learned earlier (e.g. from
    ``(ab, c)``); current vocab gives counts (a,bc)=100, (p,q)=85,
    (x,a)=50, (x,abc)=40.
    """
    from sahithi_metamorph_etl_spark.llm.bpe import END_TOKEN, _select_merge_batch

    def pairs_of(vocab):
        pc = Counter()
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += c
        return pc

    def apply_merge(vocab, a, b):
        nv = {}
        for toks, c in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        return nv

    def sequential(vocab, n):
        out = []
        for _ in range(n):
            pc = pairs_of(vocab)
            if not pc:
                break
            (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((a, b, f))
            vocab = apply_merge(vocab, a, b)
        return out

    def batched(vocab, n, T, known):
        out = []
        known = set(known)
        while len(out) < n:
            pc = pairs_of(vocab)
            if not pc:
                break
            snap = sorted(
                ((a, b, f) for (a, b), f in pc.items()),
                key=lambda t: (-t[2], t[0], t[1]),
            )[:T]
            floor = snap[-1][2] if len(snap) == T else None
            for a, b, f in _select_merge_batch(snap, floor, n - len(out), known):
                out.append((a, b, f))
                known.add(a + b)
                vocab = apply_merge(vocab, a, b)
        return out

    vocab = {
        ("a", "bc"): 50,
        ("x", "a", "bc"): 50,
        ("p", "q"): 85,
        ("x", "abc"): 40,
    }
    known = {END_TOKEN, "ab", "abc", "bc"}  # names learned in earlier rounds
    seq = sequential(dict(vocab), 3)
    assert seq == [("a", "bc", 100), ("x", "abc", 90), ("p", "q", 85)]
    assert batched(dict(vocab), 3, 50, known) == seq
    # the guarded single batch accepts ONLY the colliding candidate
    snap = sorted(
        ((a, b, f) for (a, b), f in pairs_of(vocab).items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    assert _select_merge_batch(snap, None, 3, known) == [("a", "bc", 100)]


def test_bigram_logprob_model_properties(spark):
    """The bigram LM scorer must (a) match an exact Python model of the
    same add-k/rounded-integer arithmetic, (b) be invariant under
    repartitioning (the scaled-bigint sum is order-independent), and
    (c) rank a document made of the corpus's dominant bigram above one
    of never-repeated bigrams."""
    import math

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.textstats import bigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat again"),
        (3, "zig zag quux blorp fizz"),
        (4, "the cat the cat the cat"),
        (5, "solo"),          # 1 token -> excluded
        (6, None),            # null -> excluded
        (7, "   "),           # whitespace only -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert set(out) == {1, 2, 3, 4}

    # python model: same tokenization, counts, add-k, per-bigram 4dp
    # scaled-int rounding, exact integer sum
    toks = {i: (t or "").split() for i, t in rows}
    pairs = {i: list(zip(w, w[1:])) for i, w in toks.items() if len(w) >= 2}
    allp = [p for ps in pairs.values() for p in ps]
    c12 = {}
    c1 = {}
    for a, b in allp:
        c12[(a, b)] = c12.get((a, b), 0) + 1
        c1[a] = c1.get(a, 0) + 1
    v = len({t for w in toks.values() for t in w})
    for i, ps in pairs.items():
        lps = 0
        for a, b in ps:
            lp = math.log2((c12[(a, b)] + 0.5) / (c1[a] + 0.5 * v))
            lps += int(math.copysign(math.floor(abs(lp) * 1e4 + 0.5), lp))
        n = len(ps)
        avg = (lps / n) / 1e4
        # the engine rounds half-AWAY (dround), not python's round()
        avg_r = math.copysign(math.floor(abs(avg) * 1e4 + 0.5), avg) / 1e4
        r = out[i]
        assert r["n_bigrams"] == n
        assert abs(r["avg_logprob"] - avg_r) < 1e-12, (i, r, avg)
    # the repeated dominant bigram scores above the all-unique doc
    assert out[4]["avg_logprob"] > out[3]["avg_logprob"]
    assert out[4]["perplexity"] < out[3]["perplexity"]

    # partition-layout invariance
    re = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["perplexity"])
        for r in bigram_logprob(docs.repartition(7, F.col("doc_id"))).collect()
    }
    assert re == {
        i: (r["n_bigrams"], r["avg_logprob"], r["perplexity"]) for i, r in out.items()
    }

    # the order-n generalization: trigram vs the same python model
    from sahithi_metamorph_etl_spark.llm.textstats import ngram_logprob

    out3 = {r["doc_id"]: r for r in ngram_logprob(docs, n=3).collect()}
    tris = {
        i: list(zip(w, w[1:], w[2:])) for i, w in toks.items() if len(w) >= 3
    }
    assert set(out3) == set(tris)
    all3 = [t for ts in tris.values() for t in ts]
    c123 = {}
    cctx = {}
    for a, b, c in all3:
        c123[(a, b, c)] = c123.get((a, b, c), 0) + 1
        cctx[(a, b)] = cctx.get((a, b), 0) + 1
    for i, ts in tris.items():
        lps = 0
        for a, b, c in ts:
            lp = math.log2((c123[(a, b, c)] + 0.5) / (cctx[(a, b)] + 0.5 * v))
            lps += int(math.copysign(math.floor(abs(lp) * 1e4 + 0.5), lp))
        n3 = len(ts)
        avg = (lps / n3) / 1e4
        avg_r = math.copysign(math.floor(abs(avg) * 1e4 + 0.5), avg) / 1e4
        assert out3[i]["n_bigrams"] == n3
        assert abs(out3[i]["avg_logprob"] - avg_r) < 1e-12, (i, out3[i], avg)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ngram_logprob(docs, n=1)


@settings(max_examples=3, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10))
def test_jaccard_prefix_equals_naive_on_random_corpora(spark, texts):
    """Prefix-filtered jaccard_pairs must equal the naive
    inverted-index form on ANY corpus (hypothesis-generated small-vocab
    docs maximize shingle collisions and frequency ties), at a low and
    a high threshold — the completeness of the prefix lemma is exactly
    the kind of claim random exploration should keep honest."""
    from sahithi_metamorph_etl_spark.llm.dedup import (
        _jaccard_from_shingles,
        jaccard_pairs,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    sh = naive_hashed_shingles(docs)
    for t in (0.34, 0.85):
        got = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(docs, threshold=t).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in _jaccard_from_shingles(sh, "doc_id", t).collect()
        }
        assert got == want, (t, got ^ want)


@settings(max_examples=3, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10))
def test_containment_pairs_matches_set_model_on_random_corpora(spark, texts):
    """containment_pairs must equal a pure-Python shingle-set model on
    ANY corpus: random small-vocab docs give many shingle collisions,
    size ties and sub-documents, at a low, a high and the saturating
    threshold."""
    from sahithi_metamorph_etl_spark.llm.dedup import containment_pairs

    sets = {i: set(_grams(t, 3)) for i, t in enumerate(texts)}
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    for t in (0.34, 0.85, 1.0):
        want = set()
        for a in sets:
            for b in sets:
                c = len(sets[a] & sets[b])
                if a < b and c:
                    ca, cb = c / len(sets[a]), c / len(sets[b])
                    if max(ca, cb) >= t:
                        want.add((a, b, round(ca, 9), round(cb, 9)))
        got = {
            (
                r["doc_a"],
                r["doc_b"],
                round(r["containment_a_in_b"], 9),
                round(r["containment_b_in_a"], 9),
            )
            for r in containment_pairs(docs, threshold=t).collect()
        }
        assert got == want, (t, got ^ want)


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=8))
def test_dsir_weights_match_python_model(spark, texts):
    """DSIR weights must equal the direct add-k log-ratio model on ANY
    corpus (target = even doc ids), including empty docs (excluded)
    and words absent from the target slice (tc = 0)."""
    import math

    from sahithi_metamorph_etl_spark.llm.textstats import dsir_logratio_weights
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_tokens, r.avg_logratio)
        for r in dsir_logratio_weights(df, F.col("doc_id") % 2 == 0).collect()
    }

    occ = [(i, tok) for i, t in enumerate(texts) for tok in t.split()]
    rc = Counter(tok for _, tok in occ)
    tc = Counter(tok for i, tok in occ if i % 2 == 0)
    rtot, ttot, v = len(occ), sum(tc.values()), len(rc)
    k = 0.5

    def rnd(x, s):
        return math.copysign(math.floor(abs(x) * s + 0.5), x)

    lam = {
        tok: rnd(
            math.log2((tc.get(tok, 0) + k) / (ttot + k * v))
            - math.log2((rc[tok] + k) / (rtot + k * v)),
            1e4,
        )
        for tok in rc
    }
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert i not in got
            continue
        s = sum(lam[tok] for tok in toks)
        want = rnd((s / len(toks)) / 1e4, 1e4) / 1e4
        assert got[i] == (len(toks), want), (i, t)


def test_multi_merge_expr_equals_sequential_folds(spark):
    """r21: `_greedy_multi_merge_expr` (one combined greedy pass over a
    token-disjoint merge batch) must be bit-identical to chaining one
    `_greedy_merge_expr` per pair — the fold-count collapse learn_bpe
    and apply_bpe's fold path now rely on. Exercises the carry edge
    cases: trailing carry, overlapping same-pair runs (greedy
    non-overlap), interleaved pairs, and empty/short arrays."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.bpe import (
        _greedy_merge_expr,
        _greedy_multi_merge_expr,
    )

    batch = [("a", "b"), ("c", "d"), ("e", "f")]  # pairwise disjoint, fresh names
    arrays = [
        ["a", "b", "c", "d", "e", "f"],
        ["a", "a", "b", "b", "c", "d", "d"],
        ["a", "b", "a", "b", "a"],           # greedy non-overlap + trailing carry
        ["c", "a", "b", "d", "e"],            # cross-pair interleave, no (c,d) adjacency
        ["x", "y"],
        ["a"],
        [],
        ["f", "e", "f", "e", "f"],            # reversed order never merges
        ["a", "b", "c", "d", "a", "b"],
    ]
    df = spark.createDataFrame([(i, arr) for i, arr in enumerate(arrays)],
                               "i int, toks array<string>")
    seq = F.col("toks")
    for a, b in batch:
        seq = _greedy_merge_expr(seq, a, b)
    multi = _greedy_multi_merge_expr("toks", batch)
    rows = df.select("i", seq.alias("s"), multi.alias("m")).orderBy("i").collect()
    for r in rows:
        assert r["s"] == r["m"], (r["i"], r["s"], r["m"])
