"""Distributed BPE tokenizer training (byte-pair-encoding merge
learning) — the canonical "train the tokenizer on the corpus" step of
an LLM data pipeline, re-expressed Spark-first.

SCALE SHAPE: the corpus is touched ONCE — a single explode + word-count
aggregation (one fact shuffle, map-side combined). Every merge
iteration then runs on the WORD-FREQUENCY VOCABULARY, whose size is
bounded by distinct words, not corpus tokens — the same reduction
classical BPE trainers use, here as a small cached DataFrame. Pair
counting and pair merging are pure JVM higher-order expressions
(arrays_zip / explode / aggregate fold) — zero Python in any per-row
path; the only driver action per iteration is collecting the single
winning pair (1 row, bounded by construction).

Determinism: ties on pair frequency break lexicographically, so the
learned merge table is bit-reproducible across engines and runs — the
property every other operator in this engine holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.frames import local_frame

END_TOKEN = "</w>"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, count) over whitespace tokens — the one corpus-sized pass."""
    words = docs.select(
        F.explode(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")).alias(
            "word"
        )
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))


def _chars_plus_end(word_col: str = "word"):
    """word -> [c1, c2, ..., "</w>"] via an index-sequence transform."""
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(word_col)),
            lambda i: F.col(word_col).substr(i, F.lit(1)),
        ),
        F.array(F.lit(END_TOKEN)),
    )


def _greedy_merge_expr(toks_col, a: str, b: str):
    """Column expression: greedy left-to-right merge of adjacent pair
    (a, b) inside a token array — a single-pass fold with a one-token
    carry, pure JVM (`F.aggregate`), no UDF. Merged tokens are not
    re-examined within the pass (carry clears after a merge), matching
    the classic BPE trainer's replace step."""
    la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, x):
        return F.when(
            acc["carry"].isNull(),
            F.struct(acc["out"].alias("out"), x.alias("carry")),
        ).otherwise(
            F.when(
                (acc["carry"] == la) & (x == lb),
                F.struct(
                    F.concat(acc["out"], F.array(lm)).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["carry"])).alias("out"),
                    x.alias("carry"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        )

    return F.aggregate(toks_col, init, step, finish)


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal with backslash/quote escaping
    (tokens come from corpus text — arbitrary content). Assumes the
    DEFAULT parser behavior (spark.sql.parser.escapedStringLiterals =
    false, pinned in core.session.get_spark per ADVICE_r21): a session
    with the legacy escaped-literals mode enabled would mis-parse
    backslash escapes that the former F.lit Column path handled."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _greedy_multi_merge_expr(toks_col: str, pairs):
    """Column expression: ONE greedy left-to-right pass applying a
    whole batch of PAIRWISE TOKEN-DISJOINT merges ``(a_i, b_i)`` with
    fresh merged names — bit-identical to chaining one
    :func:`_greedy_merge_expr` per pair (r21 driver-cost fix: a
    10-merge batch used to build 10 nested ``F.aggregate`` folds whose
    construction and Catalyst analysis dominated the BPE entries' wall
    time; one fold with a CASE over the batch is ~10x fewer expression
    nodes, and building it as ONE parsed ``F.expr`` string replaces
    hundreds of py4j Column calls with a single JVM parse).

    ``toks_col`` is the COLUMN NAME of the token array.

    Equivalence argument (the `_select_merge_batch` invariant does the
    work): accepted pairs share no side tokens, and every merged name
    is fresh within the batch — so any adjacency matches at most ONE
    pair, no pair's merge can create or destroy another pair's
    adjacency (a merge replaces two tokens with one fresh token,
    never deletes a gap), and greedy non-overlap within one pair is
    the same single-carry mechanics either way. Covered by
    tests/test_text_properties.py::
    test_multi_merge_expr_equals_sequential_folds plus the
    sequential-reference property tests.
    """
    tq = "`" + toks_col.replace("`", "``") + "`"
    mcase = (
        "CASE "
        + " ".join(
            f"WHEN acc.carry = {_sql_str(a)} AND x = {_sql_str(b)} "
            f"THEN {_sql_str(a + b)}"
            for a, b, *_ in pairs
        )
        + " END"
    )
    return F.expr(
        f"aggregate({tq}, "
        "named_struct('out', cast(array() as array<string>), "
        "'carry', cast(null as string)), "
        "(acc, x) -> CASE "
        "WHEN acc.carry IS NULL THEN named_struct('out', acc.out, 'carry', x) "
        f"WHEN ({mcase}) IS NOT NULL THEN named_struct("
        f"'out', concat(acc.out, array({mcase})), "
        "'carry', cast(null as string)) "
        "ELSE named_struct('out', concat(acc.out, array(acc.carry)), "
        "'carry', x) END, "
        "acc -> CASE WHEN acc.carry IS NULL THEN acc.out "
        "ELSE concat(acc.out, array(acc.carry)) END)"
    )


def _select_merge_batch(snap, floor, max_k, preexisting=frozenset()):
    """Maximal PREFIX of the snapshot's sorted pair candidates that is
    provably identical to sequential (recount-between) selection.

    Why a prefix is safe: old-pair counts never increase under a merge
    (new adjacencies always involve the merged token), and accepted
    pairs are fully consumed by the greedy pass, so the only way
    candidate j could lose its sequential turn is to a NEWLY CREATED
    pair ``(x, m_i)`` / ``(m_i, y)``. Each such pair's count is bounded
    by the snapshot count of ``(x, a_i)`` / ``(b_i, y)`` — every
    post-merge adjacency to ``m_i`` was an adjacency to its first/last
    side before. Pairs outside the collected top-T are bounded by the
    T-th count (``floor``). So candidate j is accepted only when:
    token-disjoint (by string, merged names included) from everything
    accepted, strictly above ``floor``, and strictly above every
    visible neighbor-of-an-accepted-side count (ties rejected
    conservatively — the created pair's name could win the
    lexicographic tie). Rejection STOPS the batch (skipping would
    break the prefix argument: a conflicting candidate's count may
    survive the recount and outrank everything after it).

    The neighbor bound above identifies post-merge pairs BY NAME, so it
    additionally requires every accepted merged name to be FRESH — if
    ``a_i + b_i`` equals a token that can already exist in the state
    (``preexisting``: ``</w>`` plus every merged name learned earlier
    in the run; in-batch reuse is covered by ``used``), the created
    adjacencies to ``m_i`` COMBINE with the pre-existing pairs of the
    same name and the combined recount can exceed both visible bounds
    separately (e.g. old ``(x, abc)``=40 + created-from-``(x, a)``=50
    beats a later 85-count candidate). An accepted candidate whose
    merged name collides therefore ENDS the batch: its own turn is
    still sequentially correct (the collision only perturbs counts
    after its merge applies), but no later candidate can be certified.

    The conflict check is O(1) per candidate: the snapshot is
    pre-indexed once into per-token max-neighbor-count maps (max count
    of any pair whose RIGHT side is t / whose LEFT side is t), and a
    running threshold over the accepted pairs' sides replaces the
    previous rescans of the whole top-T per (candidate, accepted) pair
    — same accept/reject decisions, O(T) total instead of O(T^3).
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    # max snapshot count of any pair (x, y): by_right[t] over pairs with
    # y == t (neighbors created left of a merged token via its LEFT
    # side), by_left[t] over pairs with x == t (right via RIGHT side)
    by_right: dict[str, int] = {}
    by_left: dict[str, int] = {}
    for x, y, fq in snap:
        if fq > by_right.get(y, -1):
            by_right[y] = fq
        if fq > by_left.get(x, -1):
            by_left[x] = fq
    # running max over accepted (a_i, b_i) of the visible counts that
    # bound pairs creatable by their merges; a candidate is safe iff
    # strictly above it (snap is sorted desc, so failure is terminal)
    neighbor_cap = -1
    for a, b, f in snap:
        if len(accepted) >= max_k:
            break
        if accepted:
            if floor is not None and f <= floor:
                break
            if a in used or b in used or (a + b) in used:
                break
            if neighbor_cap >= f:
                break
        accepted.append((a, b, f))
        used.update((a, b, a + b))
        if (a + b) in preexisting:
            break
        cap = max(by_right.get(a, -1), by_left.get(b, -1))
        if cap > neighbor_cap:
            neighbor_cap = cap
    return accepted


def learn_bpe(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 8,
    batch_top: int = 50,
    stats: dict | None = None,
    state_out: list | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the merge
    table (rank, left, right, merged, freq) — ``rank`` is the merge
    order, which IS the tokenizer (applying merges in rank order
    re-tokenizes any text; ``apply_bpe`` is the apply half).

    Each word starts as its characters plus the ``</w>`` end marker;
    each iteration counts adjacent token pairs weighted by word
    frequency, merges the most frequent pair (lexicographic tie-break)
    everywhere, and records it. The vocabulary frame is cached and
    lineage-truncated so the per-iteration plan stays flat.

    BATCHED: each iteration collects the top-``batch_top`` pair counts
    (ONE job) and accepts the longest safe prefix of non-interacting
    merges (``_select_merge_batch`` — provably bit-identical to
    one-merge-per-job sequential training, which is also pinned against
    a pure-Python reference in tests). A 32k-merge production run
    therefore pays ~32k/batch-size jobs instead of 32k; pass
    ``stats={}`` to read back ``{"iterations", "merges"}``.

    ``state_out``: pass a list and the FINAL vocabulary state — every
    corpus word tokenized by all learned merges in rank order, i.e.
    exactly the wordmap ``apply_bpe``'s fold path would recompute — is
    appended as a (word, toks) DataFrame. A train→apply composition
    hands it to ``apply_bpe(wordmap=...)`` so tokenization work done
    during training is not paid twice (measured ~1 s of the 4 s
    combined entry at sf0.1).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = docs.sparkSession
    vocab = word_frequencies(docs, text_col, id_col)
    state = vocab.select(
        "count", "word", _chars_plus_end("word").alias("toks")
    ).localCheckpoint()

    merges: list[tuple[int, str, str, str, int]] = []
    iterations = 0
    folds_since_ckpt = 0
    T = max(2, batch_top)
    # multi-char token names that can already exist in the state — the
    # end marker plus every merged name learned so far; a batch stops
    # at a candidate whose merged name collides (see _select_merge_batch)
    known_names: set[str] = {END_TOKEN}
    while len(merges) < n_merges:
        iterations += 1
        n = F.size("toks")
        pairs = state.filter(n >= 2).select(
            "count",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("a"),
                    F.slice("toks", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("a"), F.asc("b"))
            .limit(T)
            .collect()
        )
        if not top:
            break
        snap = [(r["a"], r["b"], int(r["freq"])) for r in top]
        # pairs beyond the collected top-T are bounded by the T-th count
        floor = snap[-1][2] if len(snap) == T else None
        batch = _select_merge_batch(snap, floor, n_merges - len(merges), known_names)
        for a, b, freq in batch:
            merges.append((len(merges) + 1, a, b, a + b, freq))
            known_names.add(a + b)
        # ONE greedy pass applies the whole disjoint batch (identical
        # to chaining per-pair folds — see _greedy_multi_merge_expr;
        # the batch's token-disjointness is _select_merge_batch's
        # invariant), keeping the per-iteration expression tree flat
        sel = _greedy_multi_merge_expr("toks", batch)
        state = state.select("count", "word", sel.alias("toks"))
        folds_since_ckpt += len(batch)
        if folds_since_ckpt >= checkpoint_every:
            # the vocab frame is small; truncating its lineage keeps the
            # per-iteration plan flat instead of n_merges folds deep
            state = state.localCheckpoint()
            folds_since_ckpt = 0

    if stats is not None:
        stats["iterations"] = iterations
        stats["merges"] = len(merges)
    if state_out is not None:
        state_out.append(state.select("word", "toks"))
    return local_frame(
        spark, merges, "rank int, left string, right string, merged string, freq bigint"
    )


def replay_merges(word: str, pairs) -> list[str]:
    """Pure-Python sequential merge replay for one word: characters +
    ``</w>``, then each learned pair applied in rank order with the
    same greedy left-to-right single pass as ``_greedy_merge_expr``.
    Merges whose sides are absent from the current token set are
    skipped in O(1), so a 32k-merge table costs ~O(applied merges ×
    word length), not O(32k × length).

    Note: splits by Unicode code point (Python semantics); Spark's
    ``substr`` splits by UTF-16 unit. Identical for all BMP text —
    the fold path and this path are pinned equal in tests.
    """
    toks = list(word) + [END_TOKEN]
    tokset = set(toks)
    for a, b in pairs:
        if a not in tokset or b not in tokset:
            continue
        out, i, n, applied = [], 0, len(toks), False
        while i < n:
            if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
                applied = True
            else:
                out.append(toks[i])
                i += 1
        if applied:
            toks = out
            tokset = set(toks)
    return toks


def apply_bpe(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "auto",
    wordmap: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table — the apply
    half of the train→apply tokenizer loop (``learn_bpe`` is the train
    half). Returns one row per document that has >=1 word:
    ``(id_col, n_words, n_tokens, toks)`` where ``toks`` is the full
    token sequence (words in reading order, each word's tokens
    concatenated).

    Semantics: SEQUENTIAL REPLAY — each merge is applied everywhere in
    rank order, exactly reproducing the trainer's own vocabulary state
    (this can differ from rank-priority-queue application on words
    where a later merge first creates an earlier merge's pair; replay
    is the variant that matches ``learn_bpe``'s internal state and is
    oracle-expressible).

    SCALE SHAPE: the merge table is collected once (bounded by
    n_merges — a 32k-merge production table is <1 MB); tokenization
    runs per DISTINCT word, not per occurrence; the corpus is touched
    by one posexplode and one word-map join (broadcastable when the
    vocabulary is small — AQE decides), then one groupBy(id_col)
    shuffle to reassemble sequences. Per-doc arrays are bounded by
    document length.

    ``method``: 'fold' chains one JVM ``F.aggregate`` greedy-merge fold
    per merge over the distinct-word frame (zero Python; right for
    small merge tables), 'arrow' tokenizes distinct words in one
    Arrow ``mapInPandas`` stage replaying the collected merge list
    (right for real tokenizer-sized tables where a 32k-deep expression
    chain is not viable), 'auto' picks fold for <=64 merges. Both
    paths are pinned equal in tests.

    ``wordmap``: a precomputed (word, toks) frame covering every corpus
    word — e.g. ``learn_bpe(state_out=...)``'s final state, which is
    this map by construction — skips the distinct-vocabulary shuffle
    AND the tokenize stage entirely; only the posexplode, the map join
    and the reassembly shuffle remain.
    """
    if method not in ("auto", "fold", "arrow"):
        raise ValueError(f"unknown method {method!r}")

    occurrences = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")

    if wordmap is not None:
        return _reassemble(occurrences, wordmap.select("word", "toks"), id_col)

    pairs = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").select("rank", "left", "right").collect()
    ]
    if method == "auto":
        method = "fold" if len(pairs) <= 64 else "arrow"
    vocab = occurrences.select("word").distinct()

    if method == "fold":
        wordmap = vocab.select("word", _chars_plus_end("word").alias("toks"))
        # chunk the rank-ordered merges into maximal runs whose pairs
        # are pairwise token-disjoint with fresh merged names — within
        # such a run one combined greedy pass is bit-identical to the
        # per-merge sequential folds (_greedy_multi_merge_expr), so a
        # run costs ONE fold expression instead of len(run); a merge
        # that reuses any earlier side or merged name starts a new run,
        # preserving sequential-replay semantics exactly
        runs: list[list[tuple[str, str]]] = []
        cur: list[tuple[str, str]] = []
        seen: set[str] = set()
        for a, b in pairs:
            if cur and ({a, b, a + b} & seen):
                runs.append(cur)
                cur, seen = [], set()
            cur.append((a, b))
            seen.update((a, b, a + b))
        if cur:
            runs.append(cur)
        for i, run in enumerate(runs, 1):
            wordmap = wordmap.select(
                "word", _greedy_multi_merge_expr("toks", run).alias("toks")
            )
            if i % 8 == 0:
                # vocabulary frame is small; keep the plan flat instead
                # of n_merges folds deep
                wordmap = wordmap.localCheckpoint()
    else:
        def _tokenize(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "word": pdf["word"],
                        "toks": [replay_merges(w, pairs) for w in pdf["word"]],
                    }
                )

        wordmap = vocab.mapInPandas(_tokenize, schema="word string, toks array<string>")

    return _reassemble(occurrences, wordmap, id_col)


def _reassemble(occurrences: DataFrame, wordmap: DataFrame, id_col: str) -> DataFrame:
    """Join per-occurrence words to their token arrays and rebuild each
    document's full sequence: ONE groupBy(id_col) shuffle, reading-order
    restored by the in-group position sort."""
    return (
        occurrences.join(wordmap, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("toks"),
        )
        .select(id_col, "n_words", F.size("toks").alias("n_tokens"), "toks")
    )
