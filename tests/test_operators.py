"""Unit tests for the operator library: drift handling, validators,
joins, tiering, reconciliation, the layered warehouse, and the
approximate-dedup operators against their exact twins."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sahithi_metamorph_etl_spark.core.contracts import ENTITY_PRODUCTS
from sahithi_metamorph_etl_spark.llm.dedup import jaccard_pairs, minhash_lsh_pairs
from sahithi_metamorph_etl_spark.llm.similarity import cosine_topk_bruteforce, hyperplane_lsh_topk
from sahithi_metamorph_etl_spark.operators.projection import (
    conform_to_contract,
    normalize_columns,
    rename_positional,
)
from sahithi_metamorph_etl_spark.operators.joins import join_on_clean_keys
from sahithi_metamorph_etl_spark.operators.quantiles import tier_by_cutoffs
from sahithi_metamorph_etl_spark.reconcile import diff
from sahithi_metamorph_etl_spark.sources.readers import read_testdata
from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse
from sahithi_metamorph_etl_spark.validators import (
    DuplicateKeyError,
    EmptyInputError,
    SchemaMismatchError,
    validate_non_empty,
    validate_schema,
    validate_unique,
)

from .shingles import naive_hashed_shingles


# --- projection / drift -----------------------------------------------------


def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["  product id ", "Cost Price"])
    assert normalize_columns(df).columns == ["PRODUCT_ID", "COST_PRICE"]


def test_rename_positional_drops_phantom_trailing_column(spark):
    # the reference incident: trailing-comma CSV header => phantom column
    df = spark.createDataFrame([("C1", "Ann", "x", None)], "_c0 string, _c1 string, _c2 string, _c3 string")
    out = rename_positional(df, ["CUSTOMER_ID", "NAME", "CITY"])
    assert out.columns == ["CUSTOMER_ID", "NAME", "CITY"]
    assert out.first()["CUSTOMER_ID"] == "C1"


def test_rename_positional_rejects_missing_columns(spark):
    df = spark.createDataFrame([("a",)], ["_c0"])
    with pytest.raises(ValueError):
        rename_positional(df, ["A", "B"])


def test_conform_to_contract_name_match_and_null_fill(spark):
    # 7-column drifted products file (single `price`) vs 8-column contract
    drifted = spark.createDataFrame(
        [("P1", "Widget", "Toys", 9.99, 100, 10, "S1")],
        ["product id", "PRODUCT_NAME", "category", "price", "STOCK_QUANTITY", "REORDER_LEVEL", "SUPPLIER_ID"],
    )
    out = conform_to_contract(drifted, ENTITY_PRODUCTS, positional_fallback=False, missing_as_null=True)
    row = out.first()
    assert out.columns == ENTITY_PRODUCTS.fieldNames()
    assert row["PRODUCT_ID"] == "P1" and row["SELLING_PRICE"] is None and row["STOCK_QUANTITY"] == 100
    assert out.schema["STOCK_QUANTITY"].dataType == T.LongType()


def test_conform_to_contract_positional_fallback(spark):
    df = spark.createDataFrame([("P1", "n", "c", 1.0, 2.0, 3, 4, "S1")],
                               [f"_c{i}" for i in range(8)])
    out = conform_to_contract(df, ENTITY_PRODUCTS)
    assert out.first()["SELLING_PRICE"] == 1.0


# --- validators -------------------------------------------------------------


def test_validate_unique_passes_and_raises(spark):
    ok = spark.createDataFrame([(1,), (2,)], ["k"])
    validate_unique(ok, ["k"])
    dup = spark.createDataFrame([(1,), (1,)], ["k"])
    with pytest.raises(DuplicateKeyError):
        validate_unique(dup, ["k"])


def test_validate_non_empty(spark):
    with pytest.raises(EmptyInputError):
        validate_non_empty(spark.createDataFrame([], "a int"))


def test_validate_schema_type_mismatch(spark):
    df = spark.createDataFrame([(1,)], "PRODUCT_ID int")
    with pytest.raises(SchemaMismatchError):
        validate_schema(df, T.StructType([T.StructField("PRODUCT_ID", T.StringType())]))


# --- joins ------------------------------------------------------------------


def test_join_trim_keys(spark):
    left = spark.createDataFrame([(" S1 ", 10)], ["k", "v"])
    right = spark.createDataFrame([("S1", "sup")], ["k", "name"])
    out = join_on_clean_keys(left, right, "k", trim_keys=True, broadcast_right=True)
    assert out.count() == 1
    assert join_on_clean_keys(left, right, "k").count() == 0  # untrimmed misses


# --- tiering ----------------------------------------------------------------


def test_tier_boundaries(spark):
    df = spark.createDataFrame([(49.0,), (50.0,), (80.0,), (80.01,)], ["amt"])
    out = df.select("amt", tier_by_cutoffs(F.col("amt"), 50.0, 80.0).alias("tier")).collect()
    assert [r["tier"] for r in out] == ["BRONZE", "SILVER", "SILVER", "GOLD"]


# --- reconciliation ---------------------------------------------------------


def test_diff_detects_cells_and_extras(spark):
    src = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"])
    tgt = spark.createDataFrame([(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)], ["k", "s", "v"])
    d = diff(src, tgt, keys=["k"])
    summary = d.summary.first().asDict()
    assert summary == {
        "source_total": 3, "target_total": 3, "common": 2,
        "source_only": 1, "target_only": 1, "mismatched_rows": 1,
    }
    cells = {(r["k"], r["column_name"]): (r["source_value"], r["target_value"])
             for r in d.mismatched_cells.collect()}
    assert cells == {(2, "s"): ("b", "B")}
    col = {r["column_name"]: r["n_mismatch"] for r in d.column_mismatches.collect()}
    assert col == {"s": 1, "v": 0}


def test_diff_null_safety(spark):
    schema = "k int, x string"
    src = spark.createDataFrame([(1, None), (2, "x")], schema)
    tgt = spark.createDataFrame([(1, None), (2, None)], schema)
    d = diff(src, tgt, keys=["k"])
    cells = d.mismatched_cells.collect()
    assert len(cells) == 1 and cells[0]["k"] == 2  # null==null is a match


# --- layered warehouse ------------------------------------------------------


def test_warehouse_layers_and_day_replace(spark, tmp_path):
    wh = LayeredWarehouse(str(tmp_path))
    day = dt.date(2026, 1, 1)
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    wh.write_raw(df, "t")
    wh.write_legacy(df, "t", day)
    wh.write_legacy(df, "t", day)  # re-run same day: replaces, not duplicates
    assert wh.read_legacy(spark, "t", day).count() == 1
    day2 = dt.date(2026, 1, 2)
    wh.write_legacy(spark.createDataFrame([(2, "b")], ["id", "v"]), "t", day2)
    assert wh.read_legacy(spark, "t").count() == 2
    assert wh.read_legacy(spark, "t", day2).first()["id"] == 2
    assert wh.read_raw(spark, "t").count() == 1


# --- approximate dedup vs exact twins ---------------------------------------


def test_salted_join_equals_plain_join(spark, sf_dir):
    from sahithi_metamorph_etl_spark.operators.skew import salted_join
    from sahithi_metamorph_etl_spark.sources.readers import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = read_testdata(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o = o.withColumnRenamed("o_orderkey", "l_orderkey")
    salted = salted_join(li, o, on=["l_orderkey"], salt_source_col="l_linenumber", n_salts=8)
    plain = li.join(o, "l_orderkey")
    assert sorted(salted.columns) == sorted(plain.columns)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse
    from sahithi_metamorph_etl_spark.sources.readers import read_testdata

    wh = LayeredWarehouse(str(tmp_path))
    li = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_testdata(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    wh.write_bucketed(li, "bk_lineitem", ["l_orderkey"], num_buckets=8)
    wh.write_bucketed(o, "bk_orders", ["o_orderkey"], num_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner must pick the shuffle-join
        # path — the bucket layout then replaces the shuffle entirely
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_lineitem").join(
            spark.table("bk_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # co-located: bucket layout satisfies the join distribution on
        # both sides -> no shuffle exchange anywhere in the plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")
        spark.sql("DROP TABLE IF EXISTS bk_orders")


def test_salted_join_rejects_right_preserving_modes(spark):
    from sahithi_metamorph_etl_spark.operators.skew import salted_join

    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, on=["k"], salt_source_col="k", how="full")


def _collect_and_release(spark, make):
    """Collect the pairs of ``make() -> (pairs, release)`` and prove the
    release handle frees the cache: the persisted-RDD count is above
    its baseline while the plan is live, back at it after
    ``release()``, and a second ``release()`` does nothing. Starts
    from a clear cache — an identical plan cached by an earlier call
    would otherwise absorb the operator's persist."""
    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_persistent()
    pairs, release = make()
    rows = pairs.collect()
    assert n_persistent() > base  # pinned while the plan is live
    release.release()
    assert n_persistent() == base  # gone immediately, not at clearCache
    release.release()  # idempotent
    assert n_persistent() == base
    return rows


def test_minhash_rejects_bad_band_split(spark):
    from sahithi_metamorph_etl_spark.llm.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, num_perm=16, bands=32)
    # a threshold outside (0, 1] is not a near-dup cut: fail fast, not
    # jaccard-0 pairs (<= 0) or a silently empty result (> 1)
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            minhash_lsh_pairs(df, threshold=bad)


def test_diff_rejects_empty_compare_cols(spark):
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="no columns to compare"):
        diff(df, df, keys=["k"])


def test_cosine_topk_empty_query_set(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk_bruteforce(emb, k=3, query_filter=F.col("vec_id") < 0)
    assert out.count() == 0
    assert out.columns == ["vec_id", "rank", "neighbor_id", "cos_sim"]


def test_lsh_infers_embedding_dim(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # dim inferred: buckets must actually partition the corpus (more
    # than one bucket); a silent dim mismatch would put all in one
    from pyspark.sql import functions as SF
    from sahithi_metamorph_etl_spark.llm.similarity import _planes  # noqa: F401

    out = hyperplane_lsh_topk(emb, k=1, n_planes=4, query_filter=F.col("vec_id") < 10)
    assert out.count() > 0


def test_rest_source_mixed_case_contract(spark):
    from pyspark.sql import types as T
    from sahithi_metamorph_etl_spark.sources.rest import rows_from_records

    schema = T.StructType([T.StructField("doc_id", T.LongType(), True)])
    df = rows_from_records(spark, [{"doc_id": 7}], schema)
    assert df.first()["doc_id"] == 7


def test_sketches_within_relative_error(spark, sf_dir):
    from sahithi_metamorph_etl_spark.queries.catalog import get_query
    from sahithi_metamorph_etl_spark.sources.readers import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem")
    dc = {r["metric"]: r for r in get_query("sketch_distinct_counts").fn(spark, sf_dir).collect()}
    assert set(dc) == {"orders", "parts", "suppliers"}
    for metric, key in [("orders", "l_orderkey"), ("parts", "l_partkey")]:
        exact = li.select(key).distinct().count()
        assert dc[metric]["exact_distinct"] == exact
        assert dc[metric]["sketch_ok"], (metric, dc[metric])

    qs = {r["pctl"]: r for r in get_query("sketch_price_percentiles").fn(spark, sf_dir).collect()}
    assert set(qs) == {"p50", "p80", "p95", "p99"}
    assert all(r["sketch_ok"] for r in qs.values()), qs
    assert qs["p50"]["exact_value"] <= qs["p99"]["exact_value"]


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, threshold=0.8).collect()}
    approx = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert approx == exact  # verified candidates: no false positives; planted dups all recalled


def test_jaccard_pairs_threshold_validation_and_release(spark, sf_dir):
    import pytest as _pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # out-of-domain thresholds fail at entry, not at job runtime
    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError, match="threshold"):
            jaccard_pairs(docs, threshold=bad)
    # release handle: pinned storage dropped after, result unchanged
    rows = _collect_and_release(
        spark, lambda: jaccard_pairs(docs, threshold=0.8, return_release=True)
    )
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {
        (r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, threshold=0.8).collect()
    }


def test_containment_pairs_matches_naive_and_catches_subdocs(spark):
    from sahithi_metamorph_etl_spark.llm.dedup import containment_pairs

    # doc 1 is a strict sub-document of doc 0 (its shingles are a
    # subset): containment 1-in-0 is 1.0 while Jaccard is low; doc 2 is
    # unrelated; doc 3 is too short for a 3-gram (never pairs)
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "c d e f g"),
        (2, "x y z w v u"),
        (3, "q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = {}
    sh = {i: shingles(t) for i, t in rows}
    for a in sh:
        for b in sh:
            if a >= b or not sh[a] or not sh[b]:
                continue
            c = len(sh[a] & sh[b])
            ca, cb = c / len(sh[a]), c / len(sh[b])
            if c and max(ca, cb) >= 0.5:
                want[(a, b)] = (ca, cb)

    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a_in_b"], r["containment_b_in_a"])
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    assert got == want
    assert got[(0, 1)][1] == 1.0  # the sub-document direction saturates
    assert all(3 not in p and 2 not in p for p in got)

    # jaccard at the same threshold misses the asymmetric pair
    jac = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) not in jac

    import pytest as _pytest

    for bad in (0.0, 1.5):
        with _pytest.raises(ValueError, match="threshold"):
            containment_pairs(docs, threshold=bad)

    # hot-shingle cap: capped shingles leave the index entirely —
    # planting the shared shingles in >max_freq docs removes the pair
    many = docs.union(
        spark.createDataFrame(
            [(10 + i, "c d e f g") for i in range(4)], "doc_id bigint, text string"
        )
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(many, threshold=0.5, max_shingle_freq=3).collect()
    }
    assert (0, 1) not in capped  # their only shared shingles are now hot

    with _pytest.raises(ValueError, match="max_shingle_freq"):
        containment_pairs(docs, max_shingle_freq=1)  # silent-empty degenerate

    # release handle: pinned index dropped after, result unchanged
    rows = _collect_and_release(
        spark, lambda: containment_pairs(docs, threshold=0.5, return_release=True)
    )
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == set(want)


def test_jl_inference_skips_null_rows_and_gumbel_carry_cols(spark):
    from sahithi_metamorph_etl_spark.llm.projection import jl_random_projection
    from sahithi_metamorph_etl_spark.llm.textstats import dsir_gumbel_sample

    # in_dim inference must skip a NULL first vector, not crash
    emb = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1)
    out = jl_random_projection(emb, out_dim=2)
    got = {r["vec_id"]: r["rp"] for r in out.collect()}
    assert len(got[1]) == 2
    assert got[0] == [None, None]  # NULL vector -> NULL components, not a crash

    # a weights frame without n_tokens works with carry_cols=()
    w = spark.createDataFrame(
        [(0, 1.5), (1, -0.5), (2, 0.25)], "doc_id bigint, avg_logratio double"
    )
    rows = dsir_gumbel_sample(w, k=2, carry_cols=()).collect()
    assert len(rows) == 2 and set(rows[0].asDict()) == {
        "doc_id", "avg_logratio", "sample_key"
    }


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir, tmp_path):
    from sahithi_metamorph_etl_spark.llm.similarity import ivf_build_index, ivf_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 50)
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_lists=8)
    approx = ivf_search(spark, idx, emb.filter(F.col("vec_id") < 50), k=5, n_probe=4)
    e: dict[int, set] = {}
    for r in exact.collect():
        e.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    a: dict[int, set] = {}
    for r in approx.collect():
        a.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    assert a, "IVF produced no neighbors"
    hits = sum(len(a.get(v, set()) & e[v]) for v in e)
    total = sum(len(e[v]) for v in e)
    # probing half the lists on clustered synthetic data: recall@5
    # must be substantial (deterministic: seeded centroids)
    assert hits / total >= 0.5, f"recall@5 = {hits}/{total}"


def test_ivf_physical_index_prunes_probe_scan(spark, sf_dir, tmp_path):
    """The materialized IVF layout must (a) preserve every corpus row
    across the partitioned write, (b) push the probe set into the scan
    as a PARTITION filter — non-probed list directories never open —
    (c) read only the probed list directories, and (d) return the same
    answer when the index is rebuilt from a repartitioned corpus (the
    seeded k-means trains on the lowest ids, so the centroids — and
    everything downstream — are layout-independent)."""
    import contextlib
    import io
    import os

    import numpy as np

    from sahithi_metamorph_etl_spark.llm.similarity import (
        ivf_build_index,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    cents = ivf_build_index(emb, idx, n_lists=8)

    # (a) physical layout: one directory per non-empty list, rows preserved
    list_dirs = [d for d in os.listdir(f"{idx}/lists") if d.startswith("list_id=")]
    assert 1 < len(list_dirs) <= 8
    assert spark.read.parquet(f"{idx}/lists").count() == emb.count()
    # the k-row centroid table is ONE part file (single footer read at
    # search time)
    cent_parts = [
        f for f in os.listdir(f"{idx}/centroids") if f.endswith(".parquet")
    ]
    assert len(cent_parts) == 1

    queries = emb.filter(F.col("vec_id") < 50)
    ann = ivf_search(spark, idx, queries, k=5, n_probe=4)

    # (b) the probe filter reaches the scan as a partition filter
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ann.explain(mode="formatted")
    plan = buf.getvalue()
    scan = next(s for s in plan.split("\n\n") if "Scan parquet" in s and "lists" in s)
    assert "PartitionFilters" in scan and "list_id" in scan.split("PartitionFilters")[1]

    # (c) execution-level pruning: only probed list directories are read
    # (recompute the probe union the same way ivf_search does)
    cents_rows = spark.read.parquet(f"{idx}/centroids").collect()
    stored = np.zeros((len(cents_rows), len(cents_rows[0]["centroid"])))
    for r in cents_rows:
        stored[r["list_id"]] = r["centroid"]
    assert np.array_equal(stored, cents)
    qrows = queries.select("vec_id", "embedding").collect()
    qm = np.array([r[1] for r in qrows], dtype=np.float64)
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    probe_union = {int(p) for row in np.argsort(-(qm @ cents.T), axis=1)[:, :4] for p in row}
    scanned = {
        r[0].split("list_id=")[1].split("/")[0]
        for r in spark.read.parquet(f"{idx}/lists")
        .filter(F.col("list_id").isin(sorted(probe_union)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert scanned == {str(p) for p in probe_union}

    # (d) same seed, different layout -> same centroids, same answer
    idx2 = str(tmp_path / "ivf_relaid")
    again = ivf_build_index(emb.repartition(7), idx2, n_lists=8)
    assert np.array_equal(again, cents)
    got = sorted(tuple(r) for r in ann.collect())
    want = sorted(
        tuple(r) for r in ivf_search(spark, idx2, queries, k=5, n_probe=4).collect()
    )
    assert got == want


@pytest.mark.parametrize("kind", ["ivf", "sq8", "pq"])
def test_physical_index_equals_reference_on_random_corpora(spark, kind):
    """Every ANN index layout is a storage optimization, never a
    semantics change: a search over the materialized index must return
    EXACTLY its reference on ANY corpus.

    - ivf: a numpy replay — rounded-argmax list assignment, stable
      lowest-list probes, (cos desc, id asc) top-k — and probing every
      list equals cosine_topk_bruteforce;
    - sq8: the flat sq8_topk scan at the same parameters;
    - pq: the flat pq_topk scan, on a flat index and on an
      IVF-composed one probing every list.

    Discrete small-range coordinates force the hard cases: duplicate
    vectors (score ties -> id tie-breaks), zero vectors (norm clamp),
    constant dimensions (the SQ8 code-0 branch), encode ties between
    codebook entries (lowest cid), and fewer vectors than lists."""
    import shutil
    import tempfile

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sahithi_metamorph_etl_spark.llm import similarity as sim

    # fixed tiny PQ codebooks (m=2, ksub=3, dsub=2) and coarse centroids:
    # explicit so the flat and physical paths share them exactly
    books = np.array([
        [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]],
        [[0.5, -0.5], [0.0, 0.0], [1.0, 1.0]],
    ])
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, -1.0, 0.0, 1.0]])
    dim = 4 if kind == "pq" else 3
    vec = st.lists(st.integers(min_value=-2, max_value=2), min_size=dim, max_size=dim)
    every = F.col("vec_id") >= 0

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    def ivf_replay(vecs, cents, n_probe, k):
        u = np.array(vecs, dtype=np.float64)
        u = u / np.maximum(np.linalg.norm(u, axis=1, keepdims=True), 1e-12)
        near = sim._nround(u @ cents.T)
        lists = near.argmax(axis=1)
        cos = sim._nround(u @ u.T)
        want = []
        for q in range(len(u)):
            probes = np.argsort(-near[q], kind="stable")[:n_probe]
            scored = sorted(
                (-cos[q, j], j)
                for j in range(len(u))
                if j != q and lists[j] in probes
            )
            want += [(q, r + 1, j, -s) for r, (s, j) in enumerate(scored[:k])]
        return sorted(want)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(vec, min_size=2, max_size=14))
    def check(vecs):
        emb = spark.createDataFrame(
            [(i, [float(v) for v in vv]) for i, vv in enumerate(vecs)],
            "vec_id bigint, embedding array<double>",
        )
        idx = tempfile.mkdtemp(prefix=f"{kind}_prop_")
        try:
            if kind == "ivf":
                trained = sim.ivf_build_index(emb, idx, n_lists=3)
                got = rows_of(sim.ivf_search(spark, idx, emb, k=3, n_probe=2))
                assert got == ivf_replay(vecs, trained, 2, 3), vecs
                got = rows_of(sim.ivf_search(spark, idx, emb, k=3, n_probe=len(trained)))
                exact = sim.cosine_topk_bruteforce(emb, k=3, query_filter=every)
                assert got == rows_of(exact), vecs
            elif kind == "sq8":
                sim.sq8_build_index(emb, idx)
                got = rows_of(sim.sq8_search(spark, idx, emb, emb, k=3, rerank=2))
                flat = sim.sq8_topk(emb, k=3, rerank=2, query_filter=every)
                assert got == rows_of(flat), vecs
            else:
                want = rows_of(sim.pq_topk(
                    emb, k=3, m=2, ksub=3, rerank=2, query_filter=every, books=books,
                ))
                sim.pq_build_index(emb, idx, m=2, ksub=3, books=books)
                got = rows_of(sim.pq_search(spark, idx, emb, emb, k=3, rerank=2))
                assert got == want, vecs
                ivf_idx = f"{idx}/ivf"
                sim.pq_build_index(
                    emb, ivf_idx, m=2, ksub=3, books=books, n_lists=2, centroids=cents
                )
                got = rows_of(
                    sim.pq_search(spark, ivf_idx, emb, emb, k=3, rerank=2, n_probe=2)
                )
                assert got == want, vecs
        finally:
            shutil.rmtree(idx, ignore_errors=True)

    check()


def test_neardup_against_seen_matches_python_model_on_random_docs(spark):
    """Property vs a driver-side model: the returned pairs are EXACTLY
    the (new, seen) pairs that (a) collide in >=1 MinHash band — ground
    truth taken from band_signature_store's own frames, which zero-
    shuffle determinism makes layout-independent — and (b) have exact
    word-3-gram Jaccard >= threshold computed in pure Python. Random
    small-vocabulary docs generate genuine near-dups, exact dups and
    unrelated docs; docs under 3 tokens emit no shingles and never
    pair."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sahithi_metamorph_etl_spark.llm.dedup import (
        band_signature_store,
        neardup_against_seen,
    )

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5), st.lists(doc, min_size=1, max_size=5))
    def check(old_texts, new_texts):
        old = spark.createDataFrame(
            [(i, t) for i, t in enumerate(old_texts)], "doc_id bigint, text string"
        )
        new = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(new_texts)],
            "doc_id bigint, text string",
        )
        store = band_signature_store(old)
        got = {
            (r["doc_id"], r["seen_id"]): r["jaccard"]
            for r in neardup_against_seen(new, store, old, threshold=0.5).collect()
        }
        # ground-truth collisions from the deterministic band frames
        old_bands = {}
        for r in store.collect():
            old_bands.setdefault((r["band"], r["sig"]), set()).add(r["doc_id"])
        collide = set()
        for r in band_signature_store(new).collect():
            for sid in old_bands.get((r["band"], r["sig"]), ()):
                collide.add((r["doc_id"], sid))
        want = {}
        for (nid, sid) in collide:
            a = shingles(new_texts[nid - 100])
            b = shingles(old_texts[sid])
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= 0.5:
                want[(nid, sid)] = jac
        assert set(got) == set(want), (old_texts, new_texts, got, want)
        for pair, jac in got.items():
            assert abs(jac - want[pair]) < 1e-12

    check()


def test_lsh_ann_agrees_with_bruteforce_when_bucketed(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk_bruteforce(emb, k=1, query_filter=F.col("vec_id") < 50)
    approx = hyperplane_lsh_topk(emb, k=1, n_planes=4, query_filter=F.col("vec_id") < 50)
    e = {r["vec_id"]: (r["neighbor_id"], r["cos_sim"]) for r in exact.collect()}
    a = {r["vec_id"]: (r["neighbor_id"], r["cos_sim"]) for r in approx.collect()}
    assert a, "LSH produced no neighbors"
    # ANN may miss (bucket boundary) but can never beat brute force
    for vid, (nid, cos) in a.items():
        assert cos <= e[vid][1] + 1e-9
    # with 4 random planes over near-random embeddings the true top-1
    # only sometimes shares a bucket — require agreement > 0, not recall
    agree = sum(1 for vid in a if a[vid][0] == e[vid][0])
    assert agree >= 1


def test_lsh_multiprobe_lifts_recall_monotonically(spark, sf_dir):
    """Multi-probe (flip the closest-margin bits) must strictly grow
    each query's candidate set (supersets by construction), so top-k
    recall against brute force is monotonically non-decreasing in
    n_probes — and measurably higher by n_probes=3 (sf0.001/sf0.01
    measured 0.134 → 0.244 → 0.340 for probes 1→2→3 at sf0.01)."""
    from sahithi_metamorph_etl_spark.llm.similarity import ann_recall_summary

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=F.col("vec_id") < 100)
    recalls = []
    for n_probes in (1, 2, 3):
        ann = hyperplane_lsh_topk(
            emb, k=5, n_planes=4, query_filter=F.col("vec_id") < 100, n_probes=n_probes
        )
        r = ann_recall_summary(exact, ann, recall_floor=0.0).collect()[0]
        recalls.append(r["recall"])
    assert recalls[0] <= recalls[1] <= recalls[2], recalls
    # flip-1 probing roughly doubles single-bucket recall at both
    # shipped SFs; a loose floor catches a silent probe no-op
    assert recalls[2] >= recalls[0] * 1.5 or recalls[2] >= 0.95, recalls
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hyperplane_lsh_topk(emb, k=5, n_planes=4, n_probes=6)


def test_asof_join_null_payload_not_backfilled(spark):
    """A matched right row's legitimate NULL must survive — an older
    row's non-null value must NOT leak in (DuckDB ASOF returns the
    matched row wholesale)."""
    from sahithi_metamorph_etl_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [Row(k="a", ts=10), Row(k="a", ts=20)], "k string, ts long"
    )
    right = spark.createDataFrame(
        [Row(k="a", ts=5, price=1.0, note="x"), Row(k="a", ts=15, price=None, note="y")],
        "k string, ts long, price double, note string",
    )
    out = {
        r["ts"]: (r["asof_price"], r["asof_note"])
        for r in as_of_join(left, right, ["k"], "ts", "ts", ["price", "note"]).collect()
    }
    assert out[10] == (1.0, "x")
    # ts=20 matches the ts=15 row: price is genuinely NULL there
    assert out[20] == (None, "y")


def test_lsh_near_dup_matches_exact(spark, sf_dir):
    """The distributed bucketed path recalls every exact pair at these
    params (miss prob ~5e-6/pair, seeded planes => deterministic)."""
    from sahithi_metamorph_etl_spark.llm.similarity import (
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs(emb, threshold=0.4).collect()}
    lsh = {(r.vec_a, r.vec_b, r.cos_sim) for r in lsh_near_dup_pairs(emb, threshold=0.4).collect()}
    assert lsh == exact and len(exact) > 0


def test_lsh_near_dup_warns_in_quadratic_regime(spark, sf_dir):
    """Few planes per band => essentially all pairs share a bucket and
    exact scoring goes quadratic with the corpus (SCALING.md: 26x work
    for 8x rows at t=0.4/2-planes). That regime must be loud: a
    RuntimeWarning fires when the expected random-pair collision
    fraction 1-(1-2^-planes)^bands exceeds 5%, and stays silent in the
    production parameterization (t=0.9, 12 planes/band: 1.8x at 8x)."""
    import warnings

    from sahithi_metamorph_etl_spark.llm.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_near_dup_pairs(emb, threshold=0.4)  # defaults: 24 bands x 2 planes
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("QUADRATIC" in m and "band_planes" in m for m in msgs), msgs
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lsh_near_dup_pairs(emb, threshold=0.9, n_bands=32, band_planes=12)
    assert not [w for w in caught if w.category is RuntimeWarning]


def test_unbounded_query_collects_rejected(spark, sf_dir):
    from sahithi_metamorph_etl_spark.llm.similarity import (
        cosine_near_dup_pairs,
        cosine_topk_bruteforce,
        sq8_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="query_filter"):
        cosine_topk_bruteforce(emb, k=3)
    with pytest.raises(ValueError, match="query_filter"):
        sq8_topk(emb, k=3)
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_bruteforce(emb, k=3, max_queries=10)
    with pytest.raises(ValueError, match="max_corpus_rows"):
        cosine_near_dup_pairs(emb, max_corpus_rows=10)
    # explicit cap >= query-set size works without a filter
    assert cosine_topk_bruteforce(emb.limit(5), k=2, max_queries=5).count() > 0


def test_zero_norm_vectors_score_zero_not_nan(spark):
    import math

    from sahithi_metamorph_etl_spark.llm.similarity import cosine_topk_bruteforce

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    rows = cosine_topk_bruteforce(emb, k=2, query_filter=F.col("vec_id") == 2).collect()
    assert rows and all(not math.isnan(r.cos_sim) and r.cos_sim == 0.0 for r in rows)


def test_simhash_pairs_exact_within_radius_and_recalls_jaccard(spark, sf_dir):
    """Chunk-bucket candidates are pigeonhole-exact for hamming <= 3:
    output must equal brute-force over signatures, and (data check) the
    pairs it finds are real near-dups per exact Jaccard."""
    import itertools

    from sahithi_metamorph_etl_spark.llm.dedup import jaccard_pairs, simhash64, simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = {r.doc_id: r.simhash & ((1 << 64) - 1) for r in simhash64(docs).collect()}
    brute = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    mine = {(r.doc_a, r.doc_b, r.hamming) for r in simhash_pairs(docs).collect()}
    assert mine == brute and len(brute) > 0
    jac = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.8).collect()}
    found = {(a, b) for a, b, _ in mine}
    assert found <= jac  # hamming<=3 pairs are genuine 0.8-jaccard near-dups here
    assert len(found) / len(jac) >= 0.5  # and a substantial share is recalled


def test_simhash_pairs_rejects_radius_beyond_guarantee(spark, sf_dir):
    from sahithi_metamorph_etl_spark.llm.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=4, n_chunks=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(docs, n_chunks=5, max_hamming=3)


def test_simhash_is_jvm_only_and_leaves_no_cache_blocks(spark, sf_dir):
    """simhash64 must stay a pure JVM projection (no Python stage in
    the plan — recompute beats persist) and simhash_pairs must not
    accumulate storage: no new persistent RDDs after materialization."""
    import hashlib
    import io
    import contextlib

    from sahithi_metamorph_etl_spark.llm.dedup import _md5_64_le, simhash64, simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the hash primitive is bit-exact vs the Python/DuckDB mapping
    row = spark.createDataFrame([("hello",), ("",), ("Ünïcode",)], "t string").select(
        _md5_64_le(F.col("t")).alias("h")
    ).collect()
    for got, tok in zip(row, ["hello", "", "Ünïcode"]):
        want = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
        assert got.h == (want if want < 1 << 63 else want - (1 << 64))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        simhash64(docs).explain(mode="simple")
    plan = buf.getvalue()
    assert "InPandas" not in plan and "PythonUDF" not in plan and "BatchEvalPython" not in plan

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert simhash_pairs(docs).count() > 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_dedupe_by_key_keeps_deterministic_survivor(spark):
    from sahithi_metamorph_etl_spark.operators.aggregates import dedupe_by_key

    df = spark.createDataFrame(
        [("k1", 2, "b"), ("k1", 1, "a"), ("k1", 1, None), ("k2", 5, "z")],
        "id string, n int, s string",
    )
    out = dedupe_by_key(df, ["id"]).orderBy("id").collect()
    assert [(r.id, r.n, r.s) for r in out] == [("k1", 1, "a"), ("k2", 5, "z")]
    # custom ordering flips the survivor
    from pyspark.sql import functions as F

    out2 = dedupe_by_key(df, ["id"], order_by=[F.col("n").desc()]).orderBy("id").collect()
    assert out2[0].n == 2


def test_connected_components_chain_and_clique(spark):
    from sahithi_metamorph_etl_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2-3-4 (diameter 3) + triangle 10-11-12 + isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # local union-find fast path (default) and distributed hash-min
    # (forced with local_threshold=0) must agree exactly
    cc_local = {r.vertex: r.component for r in connected_components(pairs).collect()}
    cc_dist = {
        r.vertex: r.component
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert cc_local == expected
    assert cc_dist == expected

    cl = dedup_clusters(pairs).collect()
    keepers = {r.doc_id for r in cl if r.keeper}
    assert keepers == {1, 10, 20}

    import pytest

    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=1, local_threshold=0)


def test_hash_split_deterministic_and_partition_independent(spark, sf_dir):
    from sahithi_metamorph_etl_spark.operators.sampling import hash_split

    docs = read_testdata(spark, sf_dir, "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id", w).select("doc_id", "split").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(13), "doc_id", w).select("doc_id", "split").collect()
    }
    assert a == b  # membership survives repartitioning
    from collections import Counter

    c = Counter(a.values())
    n = sum(c.values())
    assert 0.7 < c["train"] / n < 0.9  # rough proportions at 500 docs
    assert c["val"] > 0 and c["test"] > 0

    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, "doc_id", {"a": 0.5, "b": 0.1})


def test_stratified_sample_deterministic_subset(spark, sf_dir):
    from sahithi_metamorph_etl_spark.operators.sampling import stratified_sample

    docs = read_testdata(spark, sf_dir, "documents")
    out = stratified_sample(docs, {"en": 0.2}, "lang", "doc_id", default_fraction=1.0)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    again = {r.doc_id for r in stratified_sample(
        docs.repartition(7), {"en": 0.2}, "lang", "doc_id", default_fraction=1.0
    ).select("doc_id").collect()}
    assert kept == again
    # non-en strata fully kept; en strictly downsampled
    rows = docs.select("doc_id", "lang").collect()
    non_en = {r.doc_id for r in rows if r.lang != "en"}
    en = {r.doc_id for r in rows if r.lang == "en"}
    assert non_en <= kept
    assert 0 < len(kept & en) < len(en)

    import pytest

    with pytest.raises(ValueError, match=r"\[0,1\]"):
        stratified_sample(docs, {"en": 1.5}, "lang", "doc_id")


def test_chunk_documents_boundaries(spark):
    from sahithi_metamorph_etl_spark.llm.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # n=10 < chunk -> 1 chunk
            (2, " ".join(f"t{i}" for i in range(8))),    # n == chunk -> 1 chunk
            (3, " ".join(f"t{i}" for i in range(9))),    # n = chunk+1 -> 2 chunks
            (4, ""),                                      # empty -> no rows
            (5, None),                                    # null -> no rows
            (6, "a b"),                                   # n <= overlap -> 1 chunk
        ],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_tokens=8, overlap=2)
    rows = {(r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text) for r in out.collect()}
    by_doc = {}
    for (d, c), v in rows.items():
        by_doc.setdefault(d, []).append((c, v))
    # n=10, chunk=8, stride=6: ceil((10-2)/6)=2 chunks -> starts 0,6
    assert len(by_doc[1]) == 2
    assert len(by_doc[2]) == 1 and by_doc[2][0][1][0] == 8
    assert len(by_doc[3]) == 2
    assert rows[(3, 1)][1].split()[:2] == ["t6", "t7"]  # 2-token overlap
    assert 4 not in by_doc and 5 not in by_doc
    assert len(by_doc[6]) == 1 and by_doc[6][0][1][1] == "a b"
    # every token of doc 3 appears in some chunk
    covered = set()
    for _, (n, txt) in by_doc[3]:
        covered.update(txt.split())
    assert covered == {f"t{i}" for i in range(9)}

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_scrub_pii_redacts_and_counts(spark):
    from sahithi_metamorph_etl_spark.llm.scrub import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at bob@corp.io or +1 555 123 4567 from 10.0.0.1"),
            (2, "nothing sensitive here"),
            (3, None),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert "[email]" in out[1].text and "[phone]" in out[1].text
    assert "bob@corp.io" not in out[1].text and "555" not in out[1].text
    assert out[1].n_redactions >= 2
    assert out[2].text == "nothing sensitive here" and out[2].n_redactions == 0
    assert out[3].text == "" and out[3].n_redactions == 0


def test_scrub_pii_phone_shapes_and_negatives(spark):
    """Pin the phone pattern's digit-bounded behavior (ADVICE r3/r4):
    full international/NANP shapes redact with NO residual digits, while
    dates, timestamps, thousands groups, IPs (redacted as [ipv4], not
    [phone]), and separator-padded non-phones survive untouched."""
    from sahithi_metamorph_etl_spark.llm.scrub import scrub_pii

    redact_whole = [
        "+1 (555) 123-4567",
        "+44 (0) 20 7946 0958",  # E.164 worst case with separators
        "+15551234567",
        "+1 - 555 123 4567",  # 3-char separator run after the country code
        "(555) 123-4567",
        "555-123-4567",
    ]
    survive = [
        "2024-01-15",
        "2024-01-15 12:30:45",
        "10 000 000",
        "+1-----2",  # 2 digits: digit bound rejects it
        "order 123456",
    ]
    rows = [(i, t) for i, t in enumerate(redact_whole + survive)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in scrub_pii(docs).collect()}
    for i, t in enumerate(redact_whole):
        assert out[i].text == "[phone]", (t, out[i].text)
        assert out[i].n_redactions == 1
    for j, t in enumerate(survive):
        i = len(redact_whole) + j
        assert out[i].text == t, (t, out[i].text)
        assert out[i].n_redactions == 0
    # an IP redacts as [ipv4] (ipv4 rule ordered before phones), never [phone]
    ip = spark.createDataFrame([(0, "from 10.0.0.1 ok")], "doc_id bigint, text string")
    r = scrub_pii(ip).collect()[0]
    assert r.text == "from [ipv4] ok" and r.n_redactions == 1


def test_profile_columns_metrics(spark):
    from sahithi_metamorph_etl_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (4, "a")], "k bigint, s string"
    )
    p = {r.column_name: r for r in profile_columns(df).collect()}
    assert p["k"].n_rows == 4 and p["k"].n_nulls == 0 and p["k"].n_distinct == 3
    assert p["k"].min_value == "1" and p["k"].max_value == "4"
    assert p["s"].n_nulls == 1 and p["s"].n_distinct == 2
    assert p["s"].min_value == "a" and p["s"].max_value == "b"

    import pytest

    with pytest.raises(ValueError, match="unknown columns"):
        profile_columns(df, ["ghost"])


def test_jaccard_hot_shingle_cap(spark):
    from sahithi_metamorph_etl_spark.llm.dedup import hot_shingles, jaccard_pairs

    # docs 1+2 near-identical; every doc shares the boilerplate footer
    footer = "standard license footer text here"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon " + footer),
            (2, "alpha beta gamma delta zeta " + footer),
            (3, "totally different content body words " + footer),
            (4, "another unrelated document entirely now " + footer),
        ],
        "doc_id bigint, text string",
    )
    hot = hot_shingles(docs, min_freq=4).collect()
    assert any("license footer text" in r.shingle for r in hot)
    # uncapped: the shared footer alone cannot push unrelated docs over
    # 0.5, but capping must remove footer-only pairs at ANY threshold
    capped = jaccard_pairs(docs, threshold=0.1, max_shingle_freq=3)
    pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (1, 2) in pairs            # genuine near-dup survives
    assert (3, 4) not in pairs        # boilerplate-only pair gone
    uncapped = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.1).collect()}
    assert (3, 4) in uncapped         # sanity: footer connected them before

    import pytest

    with pytest.raises(ValueError, match="max_shingle_freq"):
        jaccard_pairs(docs, max_shingle_freq=1)


def test_sample_frames_reassembles_payload_prefixes(spark):
    from sahithi_metamorph_etl_spark.llm.multimodal import sample_frames, to_media_column

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "short"), (3, "y" * 64)], "doc_id bigint, text string"
    )
    media = to_media_column(docs, payload_col="text", id_col="doc_id")
    rows = sample_frames(media, frame_bytes=64, max_frames=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    # 300 bytes -> 4 frames; short -> 1 frame containing the whole payload
    assert len(by_id[1]) == 4 and len(by_id[2]) == 1 and len(by_id[3]) == 1
    assert bytes(by_id[2][0].frame_payload) == b"short"
    assert by_id[2][0].frame_len == 5
    for r in by_id[1]:
        # every frame's bytes really come from the declared offset
        assert bytes(r.frame_payload) == b"x" * min(64, 300 - r.frame_offset)
        assert len(bytes(r.frame_payload)) == r.frame_len

    import pytest

    with pytest.raises(ValueError, match="positive"):
        sample_frames(media, frame_bytes=0)


def test_extract_features_histogram(spark):
    from sahithi_metamorph_etl_spark.llm.multimodal import extract_features, to_media_column

    docs = spark.createDataFrame([(1, "aab"), (2, "")], "doc_id bigint, text string")
    media = to_media_column(docs, payload_col="text", id_col="doc_id")
    out = {r.media_id: r.features for r in extract_features(media, dim=4).collect()}
    # 'a'=97 -> 97%4=1 twice; 'b'=98 -> 2 once
    assert out[1] == [0, 2, 1, 0]
    assert out[2] == [0, 0, 0, 0]
    assert sum(out[1]) == 3  # counts cover every byte


def test_incremental_slice_and_watermark(spark):
    from sahithi_metamorph_etl_spark.sources.incremental import (
        advance_watermark,
        incremental_slice,
    )

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id bigint, wm bigint")
    assert incremental_slice(df, "wm", None).count() == 3  # initial full load
    inc = incremental_slice(df, "wm", 10)
    assert {r.id for r in inc.collect()} == {2, 3}  # strict inequality
    assert advance_watermark(inc, "wm") == 30
    empty = incremental_slice(df, "wm", 30)
    assert empty.count() == 0 and advance_watermark(empty, "wm") is None
    # idempotence: re-running with the advanced watermark yields nothing new
    assert incremental_slice(df, "wm", advance_watermark(df, "wm")).count() == 0


def test_group_centroids_array_form(spark):
    from sahithi_metamorph_etl_spark.llm.embeddings import group_centroids

    emb = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0, 4.0]), (3, "b", [10.0, 20.0])],
        "vec_id bigint, label string, embedding array<double>",
    )
    out = {r.label: r for r in group_centroids(emb, "label").collect()}
    assert out["a"].centroid == [2.0, 3.0] and out["a"].n_vectors == 2
    assert out["b"].centroid == [10.0, 20.0] and out["b"].n_vectors == 1


def test_per_row_operators_have_zero_shuffle_plans(spark, sf_dir):
    """The per-row LLM-prep operators (chunk/split/sample/scrub/frames/
    resize) must compile to pure map plans — any Exchange here would be
    a scale bug (they run over the full 100 TB corpus)."""
    from sahithi_metamorph_etl_spark.llm.chunking import chunk_documents
    from sahithi_metamorph_etl_spark.llm.multimodal import (
        resize_media,
        sample_frames,
        to_media_column,
    )
    from sahithi_metamorph_etl_spark.llm.scrub import scrub_pii
    from sahithi_metamorph_etl_spark.operators.sampling import hash_split, stratified_sample

    docs = read_testdata(spark, sf_dir, "documents")
    media = to_media_column(docs, payload_col="text", id_col="doc_id")
    plans = {
        "chunk": chunk_documents(docs),
        "split": hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1}),
        "sample": stratified_sample(docs, {"en": 0.5}, "lang", "doc_id"),
        "scrub": scrub_pii(docs),
        "frames": sample_frames(media),
        "resize": resize_media(media),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_select_by_token_budget_greedy_whole_docs(spark):
    from sahithi_metamorph_etl_spark.operators.sampling import select_by_token_budget

    df = spark.createDataFrame(
        [
            ("en", 1, 40, 0.9),
            ("en", 2, 50, 1.0),   # highest quality, selected first
            ("en", 3, 30, 0.5),   # would overflow: dropped whole
            ("de", 4, 100, 0.2),  # exactly at budget
        ],
        "lang string, doc_id bigint, n_tokens bigint, q double",
    )
    out = select_by_token_budget(
        df, budget=100, token_col="n_tokens", group_col="lang",
        order_by=[F.col("q").desc()],
    ).collect()
    sel = {r.doc_id: r.cum_tokens for r in out}
    assert sel == {2: 50, 1: 90, 4: 100}  # doc 3 (cum 120) dropped whole

    import pytest

    with pytest.raises(ValueError, match="budget"):
        select_by_token_budget(df, 0, "n_tokens")


def test_expectations_report_counts(spark):
    from sahithi_metamorph_etl_spark.validators.expectations import (
        expect_between,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        run_expectations,
    )

    df = spark.createDataFrame(
        [(1, "F", 10.0, "1-URGENT"), (2, "O", -5.0, "9-BAD"),
         (2, "X", 20.0, None), (None, "F", 30.0, "2-HIGH")],
        "k bigint, status string, price double, prio string",
    )
    rep = {r.expectation: r for r in run_expectations(df, [
        expect_not_null("k"),
        expect_unique("k"),
        expect_in_set("status", ["F", "O", "P"]),
        expect_between("price", 0, 100),
        expect_matches("prio", "^[1-5]-"),
    ]).collect()}
    assert rep["not_null(k)"].n_violations == 1 and not rep["not_null(k)"].passed
    assert rep["unique(k)"].n_violations == 1          # k=2 twice (null k ignored)
    assert rep["in_set(status)"].n_violations == 1     # 'X'
    assert rep["between(price)"].n_violations == 1     # -5.0
    assert rep["matches(prio)"].n_violations == 1      # '9-BAD'; null prio ignored
    assert all(r.n_rows == 4 for r in rep.values())

    import pytest

    with pytest.raises(ValueError, match="unknown column"):
        run_expectations(df, [expect_not_null("ghost")])


def test_route_invalid_quarantines_with_reasons(spark):
    from sahithi_metamorph_etl_spark.validators.expectations import route_invalid

    df = spark.createDataFrame(
        [(1, 10.0, "F"), (2, -1.0, "F"), (3, 5.0, "X"), (4, -2.0, None)],
        "k bigint, price double, status string",
    )
    valid, invalid = route_invalid(df, {
        "price_nonneg": F.col("price") >= 0,
        "status_known": F.col("status").isin("F", "O"),
    })
    assert {r.k for r in valid.collect()} == {1}
    bad = {r.k: set(r.failed_checks) for r in invalid.collect()}
    assert bad == {
        2: {"price_nonneg"},
        3: {"status_known"},
        4: {"price_nonneg", "status_known"},  # null check result = failure
    }


def test_expire_legacy_days_drops_old_partitions(spark, tmp_path):
    wh = LayeredWarehouse(str(tmp_path))
    for day in [dt.date(2026, 1, 1), dt.date(2026, 1, 5), dt.date(2026, 1, 9)]:
        wh.write_legacy(spark.createDataFrame([(1,)], "id bigint"), "t", day)
    dropped = wh.expire_legacy_days(spark, "t", keep_days=5, as_of=dt.date(2026, 1, 9))
    assert dropped == ["2026-01-01"]  # 1/5 is exactly at the keep horizon
    assert wh.read_legacy(spark, "t").count() == 2
    assert wh.expire_legacy_days(spark, "missing", 5, dt.date(2026, 1, 9)) == []

    import pytest

    with pytest.raises(ValueError, match="keep_days"):
        wh.expire_legacy_days(spark, "t", 0, dt.date(2026, 1, 9))


def test_repetition_stats_known_values(spark):
    from sahithi_metamorph_etl_spark.llm.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),      # 2-grams: "a b"x2, "b a", "b c" → 4 grams, 3 distinct
            (2, "x"),              # fewer than 2 words → excluded
            (3, None),             # NULL text → excluded
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert r.n_grams == 4 and r.n_distinct_grams == 3
    assert r.top_gram == "a b" and r.top_gram_count == 2
    assert abs(r.dup_gram_frac - 0.5) < 1e-9          # 2 of 4 occurrences duplicated
    assert abs(r.top_gram_char_frac - 3 * 2 / 9) < 1e-4  # len("a b")*2 / len(text)


def test_repetition_stats_tie_break_is_deterministic(spark):
    from sahithi_metamorph_etl_spark.llm.textstats import repetition_stats

    # "a b" and "b a" both occur twice → tie broken by highest gram string
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id bigint, text string")
    r = repetition_stats(df, n=2).collect()[0]
    assert r.top_gram == "b a" and r.top_gram_count == 2


def test_ngram_overlap_flags_only_shared_grams(spark):
    import pytest

    from sahithi_metamorph_etl_spark.llm.decontaminate import ngram_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "quick brown fox" with eval
            (2, "entirely different words here"),
            (3, "ab"),                           # < 3 words → no grams, excluded
        ],
        "doc_id bigint, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "QUICK Brown FOX runs")],  # case-normalized match
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in ngram_overlap(corpus, eval_df, n=3).collect()}
    assert set(out) == {1, 2}
    assert out[1].contaminated and out[1].n_matched == 1 and out[1].n_grams == 3
    assert not out[2].contaminated and out[2].n_matched == 0

    with pytest.raises(ValueError, match="min_hits"):
        ngram_overlap(corpus, eval_df, min_hits=0)


def test_prune_near_dups_singletons_kept(spark):
    from sahithi_metamorph_etl_spark.operators.graph import dedup_clusters, prune_near_dups

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a bigint, doc_b bigint")
    out = {r.doc_id: r for r in prune_near_dups(docs, dedup_clusters(pairs)).collect()}
    assert len(out) == 6
    # cluster {1,3,5}: keeper is min id 1
    assert out[1].kept and out[1].cluster_id == 1
    assert not out[3].kept and out[3].cluster_id == 1
    assert not out[5].kept and out[5].cluster_id == 1
    # singletons keep themselves
    for i in (0, 2, 4):
        assert out[i].kept and out[i].cluster_id == i


def test_asof_join_forward_earliest_at_or_after(spark):
    import pytest

    from sahithi_metamorph_etl_spark.operators.asof import as_of_join

    left = spark.createDataFrame([("k", 5), ("k", 9), ("k", 13)], "k string, ts bigint")
    right = spark.createDataFrame(
        [("k", 9, 90.0), ("k", 12, 120.0)], "k string, ts bigint, price double"
    )
    out = {
        r["ts"]: r["asof_price"]
        for r in as_of_join(left, right, ["k"], "ts", "ts", ["price"], direction="forward").collect()
    }
    assert out[5] == 90.0     # earliest at-or-after
    assert out[9] == 90.0     # equal timestamps match
    assert out[13] is None    # nothing after

    with pytest.raises(ValueError, match="direction"):
        as_of_join(left, right, ["k"], "ts", "ts", ["price"], direction="nearest")


def test_equi_width_histogram_edges(spark):
    import pytest

    from sahithi_metamorph_etl_spark.operators.profiling import equi_width_histogram

    df = spark.createDataFrame([(0.0,), (2.5,), (5.0,), (10.0,), (None,)], "x double")
    out = {r.bucket: r for r in equi_width_histogram(df, "x", n_buckets=4).collect()}
    # range [0,10], width 2.5: 0.0→b0, 2.5→b1, 5.0→b2, 10.0 (max)→b3, NULL dropped
    assert {b: out[b].n_rows for b in sorted(out)} == {0: 1, 1: 1, 2: 1, 3: 1}
    assert out[3].hi == 10.0 and out[0].lo == 0.0

    # degenerate range: all equal → single bucket 0
    same = spark.createDataFrame([(7.0,), (7.0,)], "x double")
    rows = equi_width_histogram(same, "x", n_buckets=4).collect()
    assert len(rows) == 1 and rows[0].bucket == 0 and rows[0].n_rows == 2

    with pytest.raises(ValueError, match="n_buckets"):
        equi_width_histogram(df, "x", n_buckets=0)


def test_plan_guards_pin_headline_shapes(spark, sf_dir):
    """Plan shape as a contract: the guards must (a) hold for the
    audited PLANS.md shapes and (b) actually fire when a shape is
    violated."""
    import pytest

    from sahithi_metamorph_etl_spark.operators.plancheck import assert_plan, plan_summary
    from sahithi_metamorph_etl_spark.queries.catalog import all_queries

    qs = all_queries()
    # single-shuffle aggregate with a pushed filter, JVM-only
    s = assert_plan(
        qs["pricing_summary"](spark, sf_dir),
        max_shuffles=1, min_pushed_filter_scans=1, forbid_python=True,
        forbid_sort_merge_join=True,
    )
    assert s.shuffles == 1
    # zero-shuffle pure projection
    assert_plan(qs["doc_token_stats"](spark, sf_dir), max_shuffles=0, forbid_python=True)
    # dimension joins stay broadcast in the supplier mart (no SMJ)
    assert_plan(
        qs["mart_supplier_performance"](spark, sf_dir),
        forbid_sort_merge_join=True, require_broadcast_joins=3, forbid_python=True,
    )
    # an Arrow stage is correctly counted, and forbid_python fires on it
    mm = qs["multimodal_decode_stats"](spark, sf_dir)
    assert plan_summary(mm).python_stages >= 1
    with pytest.raises(AssertionError, match="Python stage"):
        assert_plan(mm, forbid_python=True)
    # max_shuffles fires
    with pytest.raises(AssertionError, match="shuffles"):
        assert_plan(qs["supplier_part_agg"](spark, sf_dir), max_shuffles=1)


def test_plan_summary_attributes_cached_branch_counts(spark, sf_dir):
    """Counters under an InMemoryRelation are cache-BUILD work (runs
    once at materialization, not per consumer): a persisted Arrow-stage
    frame consumed twice must show its Python stages as cached, while
    the same pipeline unpersisted shows them live."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.plancheck import plan_summary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)

    def arrow_stage(df):
        def gen(batches):
            for pdf in batches:
                yield pdf.assign(n=pdf["text"].str.len())
        return df.select("doc_id", "text").mapInPandas(
            gen, schema="doc_id bigint, text string, n int")

    staged = arrow_stage(docs).persist()
    try:
        two_branch = staged.join(
            staged.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")),
            F.col("doc_id") < F.col("d2"),
        )
        two_branch.count()  # materialize so the plan shows InMemoryRelation
        s = plan_summary(two_branch)
        assert s.python_stages >= 2
        assert s.python_stages_cached == s.python_stages
    finally:
        staged.unpersist()

    live = arrow_stage(docs)
    s2 = plan_summary(live)
    assert s2.python_stages == 1 and s2.python_stages_cached == 0
    assert s2.shuffles_cached == 0


def test_quantile_histogram_edges(spark):
    from sahithi_metamorph_etl_spark.operators.profiling import quantile_histogram

    # constant column: every boundary equals the value, nothing is
    # strictly below it -> all rows land in bucket 1
    const = spark.createDataFrame([(5.0,)] * 10, "x double")
    rows = quantile_histogram(const, "x", n_buckets=4).collect()
    assert len(rows) == 1 and rows[0].bucket == 1 and rows[0].n_rows == 10
    assert rows[0].lo == 5.0 and rows[0].hi == 5.0

    # nulls excluded; buckets population-balanced on distinct values
    vals = [(float(i),) for i in range(1, 9)] + [(None,)]
    df = spark.createDataFrame(vals, "x double")
    out = {r.bucket: r for r in quantile_histogram(df, "x", n_buckets=4).collect()}
    assert sum(r.n_rows for r in out.values()) == 8  # null dropped
    assert len(out) == 4 and all(out[b].n_rows == 2 for b in out)
    assert out[1].lo == 1.0 and out[4].hi == 8.0

    import pytest

    with pytest.raises(ValueError, match="n_buckets"):
        quantile_histogram(df, "x", n_buckets=0)


def test_hll_sketch_merge_equals_full_sketch(spark, sf_dir):
    """HLL union is register-wise max, so merging per-slice sketches
    must give EXACTLY the estimate of one sketch over all the data —
    the property that makes per-day sketch storage sound (no drift as
    history accumulates)."""
    ev = read_testdata(spark, sf_dir, "events")
    full = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est")
    ).first()["est"]
    halves = (
        ev.withColumn("h", (F.col("event_id") % 2).cast("int"))
        .groupBy("h")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    merged = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias("est")
    ).first()["est"]
    assert merged == full


def test_observed_write_collects_metrics_in_one_pass(spark, tmp_path):
    """observed_write must land the data AND return the audit metrics
    from the same job — values match an independent recount, and the
    write output is complete."""
    from sahithi_metamorph_etl_spark.core.metrics import observed_write

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k bigint, amount double"
    )
    out = str(tmp_path / "observed")
    stats = observed_write(
        df,
        lambda d: d.write.mode("overwrite").parquet(out),
        {
            "n_rows": F.count(F.lit(1)),
            "null_amounts": F.sum(F.col("amount").isNull().cast("bigint")),
            "total_amount": F.sum("amount"),
        },
    )
    assert stats == {"n_rows": 3, "null_amounts": 1, "total_amount": 40.0}
    back = spark.read.parquet(out)
    assert back.count() == 3
    # default metric
    stats2 = observed_write(df, lambda d: d.write.mode("overwrite").parquet(out))
    assert stats2 == {"n_rows": 3}


def test_adaptive_salted_join_equals_plain_and_spreads_hot_key(spark, sf_dir):
    """The adaptive composition must (a) produce exactly the plain-join
    result, (b) actually detect the planted hot key and spread its rows
    over multiple shuffle partitions (no 1-partition straggler), and
    (c) keep a plain-join branch for the cold keys (union in the plan)."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.skew import adaptive_salted_join

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.when(F.col("l_partkey") % 50 == 0, F.lit(0))
            .otherwise(F.col("l_partkey"))
            .cast("long")
            .alias("skew_key"),
            "l_quantity",
            "l_orderkey",
        )
    )
    dim = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").cast("long").alias("skew_key"), "p_brand"
    )
    adaptive = adaptive_salted_join(
        li, dim, on=["skew_key"], salt_source_col="l_orderkey",
        sample_fraction=1.0, how="left",
    )
    plain = li.join(dim, ["skew_key"], "left")
    assert adaptive.count() == plain.count()
    assert (
        adaptive.groupBy("skew_key").count()
        .exceptAll(plain.groupBy("skew_key").count()).count() == 0
    )
    # the hot key's joined rows must occupy >1 shuffle partition — the
    # straggler a plain hash join would put on a single task. Salting
    # matters exactly when the small side CANNOT broadcast, so the probe
    # forces the shuffle-join scenario (autoBroadcast off; at this toy
    # scale the dim would otherwise broadcast and nothing shuffles) and
    # disables AQE's small-partition coalescing (which would merge all
    # the tiny test partitions back into one — at real scale the salted
    # partitions are too big to coalesce).
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_co = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        shuffled = adaptive_salted_join(
            li, dim, on=["skew_key"], salt_source_col="l_orderkey",
            sample_fraction=1.0, how="left",
        )
        n_parts = (
            shuffled.filter(F.col("skew_key") == 0)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_co)
    assert n_parts > 1, "hot key still lands in a single partition"
    # single-pass contract: the fact table is scanned exactly ONCE (the
    # r6 form scanned it three times: sample + hot semi + cold anti; the
    # hot/cold split is now a broadcast tag + conditional salt, so there
    # is no Union of per-temperature joins and no extra fact pass)
    plan = adaptive._jdf.queryExecution().executedPlan().toString()
    fact_scans = sum(
        1 for ln in plan.splitlines()
        if ("FileScan" in ln or "BatchScan" in ln) and "lineitem" in ln
    )
    assert fact_scans == 1, f"expected 1 fact scan, plan has {fact_scans}"
    assert "Union" not in plan

    # no hot keys (uniform data) -> decision falls through to plain join
    uniform = adaptive_salted_join(
        li.filter(F.col("skew_key") > 0), dim, on=["skew_key"],
        salt_source_col="l_orderkey", sample_fraction=1.0, how="left",
    )
    assert "Union" not in uniform._jdf.queryExecution().executedPlan().toString()


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir):
    """Z-order clustering must make selective range predicates prunable
    on BOTH participating columns from parquet min/max stats, where a
    single-column sort only serves its own column. Checked from the
    written footers (no Spark job in the assertion), plus row fidelity."""
    import tempfile

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.layout import (
        parquet_pruning_stats,
        write_zordered,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    lo_p, hi_p = 1, 50  # ~2.5% of l_partkey's range
    lo_o, hi_o = 1, 150
    with tempfile.TemporaryDirectory(prefix="zorder_") as root:
        zpath = write_zordered(
            li, f"{root}/z", ["l_partkey", "l_orderkey"], n_files=8,
            block_size_bytes=64 * 1024,
        )
        spath = (
            li.repartitionByRange(8, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite")
            .option("parquet.block.size", 64 * 1024)
            .parquet(f"{root}/s")
            or f"{root}/s"
        )

        # row fidelity: the layout is a permutation, never a filter
        z = spark.read.parquet(zpath)
        assert z.count() == li.count()
        assert z.exceptAll(li).count() == 0

        zp = parquet_pruning_stats(zpath, "l_partkey", lo_p, hi_p)
        zo = parquet_pruning_stats(zpath, "l_orderkey", lo_o, hi_o)
        sp = parquet_pruning_stats(f"{root}/s", "l_partkey", lo_p, hi_p)

        # z-order prunes row groups on BOTH columns...
        assert zp["admitted_groups"] < zp["n_groups"], zp
        assert zo["admitted_groups"] < zo["n_groups"], zo
        # ...and beats the orderkey-sorted layout on the OTHER column,
        # where that layout admits everything (partkey uncorrelated
        # with orderkey order)
        assert sp["admitted_groups"] == sp["n_groups"], sp
        z_frac = zp["admitted_groups"] / zp["n_groups"]
        assert z_frac < 0.7, f"z-order admitted {z_frac:.0%} of groups"


def test_funnel_matches_cascade_and_handles_empty_stage(spark, sf_dir):
    """The single-pass fold must equal the k-cascade of conditional mins
    computed independently in Spark, and a stage nobody reached must
    still emit its row with n_users=0."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.windows import funnel

    ev = read_testdata(spark, sf_dir, "events")
    got = {r["stage"]: r["n_users"] for r in funnel(ev, ["view", "click", "purchase"]).collect()}

    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    t2 = (
        ev.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & F.col("t1").isNotNull() & (F.col("ts") > F.col("t1")))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.join(t2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    assert got[1] == t1.filter(F.col("t1").isNotNull()).count()
    assert got[2] == t2.count()
    assert got[3] == t3.count()
    assert got[1] >= got[2] >= got[3] > 0

    rows = {r["stage"]: r["n_users"] for r in funnel(ev, ["view", "click", "__never"]).collect()}
    assert rows[3] == 0 and rows[1] > 0


def test_funnel_ignores_null_timestamps(spark):
    """Null event times must be invisible to the funnel (the cascade
    oracle's min(CASE...) skips nulls): a null-ts stage-1 event must
    neither advance the funnel nor block later stages by poisoning the
    strictly-after comparison with last=null."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.operators.windows import funnel

    t = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        # user 1: null-ts view first, then a real view -> click chain
        (1, None, "view"),
        (1, t, "view"),
        (1, t + dt.timedelta(minutes=1), "click"),
        # user 2: ONLY a null-ts view -> reaches nothing
        (2, None, "view"),
        # user 3: clean two-stage completion
        (3, t, "view"),
        (3, t + dt.timedelta(minutes=2), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    got = {r["stage"]: r["n_users"] for r in funnel(ev, ["view", "click"]).collect()}
    assert got == {1: 2, 2: 2}


def test_pruning_stats_recurses_partitions_and_rejects_empty(spark, sf_dir, tmp_path):
    """parquet_pruning_stats must see files inside partitioned layouts
    (partitionBy subdirectories) and must raise on an empty/typo'd path
    rather than silently reporting zero groups."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.layout import parquet_pruning_stats

    part_path = str(tmp_path / "orders_by_status")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.partitionBy("o_orderstatus")
        .parquet(part_path)
    )
    stats = parquet_pruning_stats(part_path, "o_totalprice", 0.0, 1e12)
    assert stats["n_files"] > 0 and stats["n_groups"] > 0
    assert stats["admitted_groups"] == stats["n_groups"]  # full-range admits all

    with _pytest.raises(FileNotFoundError, match="no parquet files"):
        parquet_pruning_stats(str(tmp_path / "nope"), "o_totalprice", 0.0, 1.0)


def test_pack_sequences_two_phase_equals_global_window(spark, sf_dir):
    """The bucketed two-phase prefix sum must equal a single global
    window exactly, the plan must keep the corpus out of any
    single-partition exchange, and the seed must actually reorder."""
    from pyspark.sql import Window, functions as F

    from sahithi_metamorph_etl_spark.llm.chunking import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = pack_sequences(docs, budget=256, shuffle_seed="s")

    key = F.md5(F.concat(F.lit("s"), F.col("doc_id").cast("string")))
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    w = Window.orderBy("__k", "doc_id").rowsBetween(Window.unboundedPreceding, 0)
    ref = (
        docs.select(F.col("doc_id"), key.alias("__k"), toks.alias("n_tokens"))
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            (F.col("__cum") - F.col("n_tokens")).alias("tok_offset"),
            F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(256))
            .cast("bigint").alias("pack_id"),
            "n_tokens",
            (F.col("n_tokens") > 256).alias("oversize"),
        )
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0

    # assignment invariant: every document's start offset lies inside
    # its pack's token window (straddlers belong to the pack where they
    # START — a long doc may overshoot into later windows, which is the
    # documented semantics, so pack token totals are NOT asserted)
    bad = got.filter(
        (F.col("tok_offset") < F.col("pack_id") * 256)
        | (F.col("tok_offset") >= (F.col("pack_id") + 1) * 256)
    ).count()
    assert bad == 0

    # different seed -> different order (first document differs)
    other = pack_sequences(docs, budget=256, shuffle_seed="t")
    first_s = got.orderBy("tok_offset").limit(1).collect()[0]["doc_id"]
    first_t = other.orderBy("tok_offset").limit(1).collect()[0]["doc_id"]
    assert first_s != first_t

    # scale shape: the only corpus-sized exchange is the bucket hash
    # shuffle; the SinglePartition window runs on the 256-row totals
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") >= 1
    corpus_single = [
        ln for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln and "documents" in ln
    ]
    assert not corpus_single


def test_pq_topk_recall_and_full_rerank_exactness(spark, sf_dir):
    """PQ ANN invariants: (a) with rerank >= corpus size every vector
    survives candidate selection, so the exact re-rank must reproduce
    brute force EXACTLY — ADC error can only cost candidates, never
    distort survivors' scores; (b) at the catalog parameters recall
    clears the floor; (c) seeded end-to-end determinism."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk_bruteforce,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    qf = F.col("vec_id") < 50

    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)
    full = pq_topk(emb, k=5, rerank=n, query_filter=qf)
    assert full.exceptAll(exact).count() == 0 and exact.exceptAll(full).count() == 0

    ann = pq_topk(emb, k=5, ksub=32, rerank=128, query_filter=qf)
    row = ann_recall_summary(exact, ann, recall_floor=0.6).collect()[0]
    assert row["floor_ok"], row
    again = pq_topk(emb, k=5, ksub=32, rerank=128, query_filter=qf)
    assert ann.exceptAll(again).count() == 0 and again.exceptAll(ann).count() == 0

    # dim must split evenly into subspaces
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        pq_topk(emb, k=5, m=7, query_filter=qf)


def test_pq_topk_auto_rerank_scales_with_corpus(spark, sf_dir):
    """rerank=None (default) must budget max(128, ceil(n/16)) exact
    re-rank candidates — equal to an explicit rerank of that value, so
    a growing corpus grows the budget instead of silently losing
    recall (r10 SCALING.md saw 0.742 -> 0.502 at 8x under pinned 128)."""
    import math

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # union shifted copies to push n past the 128*16 floor so the
    # ceil(n/16) branch (not the max floor) is what is exercised
    big = emb
    for i in range(1, 5):
        big = big.unionByName(
            emb.select((F.col("vec_id") + 1_000_000 * i).alias("vec_id"),
                       "embedding", "label")
        )
    n = big.count()
    auto_budget = max(128, math.ceil(n / 16))
    assert auto_budget > 128  # fixture big enough that ceil(n/16) governs
    qf = F.col("vec_id") < 20
    auto = pq_topk(big, k=5, ksub=32, query_filter=qf)
    pinned = pq_topk(big, k=5, ksub=32, rerank=auto_budget, query_filter=qf)
    assert auto.exceptAll(pinned).count() == 0
    assert pinned.exceptAll(auto).count() == 0


def test_pq_topk_empty_corpus_returns_empty(spark):
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import pq_topk

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = pq_topk(empty, k=3, query_filter=F.col("vec_id") < 10)
    assert out.count() == 0
    assert out.columns == ["vec_id", "rank", "neighbor_id", "cos_sim"]


def test_sq8_topk_recall_rerank_exactness_and_layout_independence(spark, sf_dir):
    """SQ8 ANN invariants, mirroring the PQ suite: (a) with
    rerank >= corpus size the exact re-rank reproduces brute force
    EXACTLY — 8-bit quantization error can only cost candidates, never
    distort survivors' scores; (b) at the catalog parameters
    (rerank=32) recall clears the 0.8 floor; (c) the result is
    partition-layout independent (the rounded-ADC heaps + global cut
    are a superset of the global top list under any repartitioning);
    (d) empty corpus returns the empty typed frame."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk_bruteforce,
        sq8_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    qf = F.col("vec_id") < 50

    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)
    full = sq8_topk(emb, k=5, rerank=n, query_filter=qf)
    assert full.exceptAll(exact).count() == 0 and exact.exceptAll(full).count() == 0

    ann = sq8_topk(emb, k=5, rerank=32, query_filter=qf)
    row = ann_recall_summary(exact, ann, recall_floor=0.8).collect()[0]
    assert row["floor_ok"], row

    relaid = sq8_topk(emb.repartition(7, "label"), k=5, rerank=32, query_filter=qf)
    assert ann.exceptAll(relaid).count() == 0
    assert relaid.exceptAll(ann).count() == 0

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = sq8_topk(empty, k=3, query_filter=F.col("vec_id") < 10)
    assert out.count() == 0
    assert out.columns == ["vec_id", "rank", "neighbor_id", "cos_sim"]


def test_global_rank_two_phase_equals_sequential_model(spark):
    """global_rank must equal the rank a single sorted pass would give,
    for any partition count (including more partitions than rows and a
    single partition), and its plan must carry NO un-partitioned
    Window node."""
    import random

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.plancheck import plan_summary
    from sahithi_metamorph_etl_spark.operators.windows import global_rank

    rng = random.Random(808)
    rows = [(i, rng.randint(0, 50)) for i in range(257)]
    df = spark.createDataFrame(rows, "id bigint, v bigint")
    expect = {
        i: r + 1
        for r, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    for n in (1, 4, 1000):
        ranked, total = global_rank(df, ["v", "id"], rank_col="rk", num_partitions=n)
        assert total == len(rows)
        got = {r["id"]: r["rk"] for r in ranked.collect()}
        assert got == expect, f"num_partitions={n}"
        assert plan_summary(ranked).unpartitioned_windows == 0

    # empty frame: no rows, zero total, no crash
    empty_ranked, zero = global_rank(
        df.filter(F.lit(False)), ["v", "id"], rank_col="rk"
    )
    assert zero == 0 and empty_ranked.count() == 0


def test_pack_sequences_null_text_counts_as_empty(spark):
    """NULL text must behave exactly like empty text (Spark's
    size(split(trim(NULL))) is -1, which would silently corrupt every
    later tok_offset) — and downstream offsets must stay consistent."""
    from sahithi_metamorph_etl_spark.llm.chunking import pack_sequences

    base = [(0, "a b c"), (2, "d e"), (3, "f g h i")]
    with_null = spark.createDataFrame(
        base + [(1, None)], "doc_id bigint, text string"
    )
    with_empty = spark.createDataFrame(
        base + [(1, "")], "doc_id bigint, text string"
    )

    def run(df):
        return sorted(
            (r["doc_id"], r["tok_offset"], r["pack_id"], r["n_tokens"], r["oversize"])
            for r in pack_sequences(df, budget=4, shuffle_seed="z").collect()
        )

    got_null, got_empty = run(with_null), run(with_empty)
    assert got_null == got_empty
    assert all(r[3] >= 0 for r in got_null)  # no -1 token counts
    # exact sequential model over the deterministic md5 order
    import hashlib

    counts = {0: 3, 1: 1, 2: 2, 3: 4}  # empty text counts its one '' token
    order = sorted(counts, key=lambda i: (hashlib.md5(f"z{i}".encode()).hexdigest(), i))
    cum, expect = 0, {}
    for i in order:
        expect[i] = cum
        cum += counts[i]
    assert {r[0]: r[1] for r in got_null} == expect


def test_pq_codebooks_layout_independent_and_runs_reproducible(spark, sf_dir):
    """The PQ codebooks and the IVF coarse centroids train on ONE shared
    sample, the train_sample LOWEST ids (ordered take) — so both must be
    bit-identical across any physical repartitioning of the input (an
    un-ordered limit would pick layout-dependent rows). And a fixed
    layout must reproduce pq_topk results exactly run to run."""
    import numpy as np

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _train_centroids,
        _train_pq_codebooks,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    books = _train_pq_codebooks(emb, "vec_id", "embedding", 8, 8, 42, 64)
    cents = _train_centroids(emb, "vec_id", "embedding", 8, 42, 64)
    for n in (1, 7):
        relaid = emb.repartition(n)
        again = _train_pq_codebooks(relaid, "vec_id", "embedding", 8, 8, 42, 64)
        assert np.array_equal(books, again), f"repartition({n})"
        again = _train_centroids(relaid, "vec_id", "embedding", 8, 42, 64)
        assert np.array_equal(cents, again), f"centroids repartition({n})"

    def run():
        return sorted(
            tuple(r)
            for r in pq_topk(
                emb, k=3, m=8, ksub=8, rerank=8,
                query_filter=F.col("vec_id") < 5, train_sample=64,
            ).collect()
        )

    assert run() == run()


def test_scd2_merge_versions_close_and_chain(spark):
    """SCD2 semantics across three merges: changed keys close at the
    merge date and open a new version; unchanged and absent keys pass
    through; new keys insert; close_missing treats absence as delete;
    re-running the same snapshot is a no-op; NULL->NULL is unchanged
    and NULL->value is a change (null-safe compare)."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.operators.scd import scd2_init, scd2_merge

    d1, d2, d3 = dt.date(2025, 1, 1), dt.date(2025, 2, 1), dt.date(2025, 3, 1)
    snap1 = spark.createDataFrame(
        [(1, "A", None), (2, "B", "x"), (3, "C", "y")],
        "k bigint, seg string, note string",
    )
    dim = scd2_init(snap1, ["k"], ["seg", "note"], d1)

    # day 2: k=1 gains a note (NULL->value = change), k=2 unchanged
    # (note NULL->... stays 'x'), k=3 absent, k=4 new
    upd2 = spark.createDataFrame(
        [(1, "A", "now"), (2, "B", "x"), (4, "D", None)],
        "k bigint, seg string, note string",
    )
    dim2 = scd2_merge(dim, upd2, ["k"], ["seg", "note"], d2)
    rows = {(r["k"], r["is_current"]): r for r in dim2.collect()}
    assert len(rows) == 5  # 3 originals (one closed) + 1 new version + 1 insert
    assert rows[(1, False)]["effective_to"] == d2
    assert rows[(1, True)]["note"] == "now" and rows[(1, True)]["effective_from"] == d2
    assert rows[(2, True)]["effective_from"] == d1  # unchanged kept
    assert rows[(3, True)]["effective_from"] == d1  # absent kept
    assert rows[(4, True)]["effective_from"] == d2  # new key

    # idempotency: same snapshot again changes nothing
    dim2b = scd2_merge(dim2, upd2, ["k"], ["seg", "note"], d2)
    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731
    assert canon(dim2) == canon(dim2b)

    # day 3 with close_missing: k=2,3 absent -> closed as deletes;
    # k=1 changes again -> a 3-version history
    upd3 = spark.createDataFrame([(1, "Z", "now"), (4, "D", None)],
                                 "k bigint, seg string, note string")
    dim3 = scd2_merge(dim2, upd3, ["k"], ["seg", "note"], d3, close_missing=True)
    hist1 = sorted(
        (r["effective_from"], r["effective_to"], r["seg"])
        for r in dim3.filter("k = 1").collect()
    )
    assert hist1 == [(d1, d2, "A"), (d2, d3, "A"), (d3, None, "Z")]
    assert dim3.filter("k = 2 AND is_current").count() == 0
    assert dim3.filter("k = 2").collect()[0]["effective_to"] == d3
    assert dim3.filter("k = 4 AND is_current").count() == 1
    # intervals never overlap per key: each close date == next open date
    assert dim3.filter("is_current AND effective_to IS NOT NULL").count() == 0


def test_gapfill_daily_semantics(spark):
    """Gap-fill: every day in each key's span appears exactly once;
    zero_fill gets 0 on generated days, ffill carries the last observed
    value, leading days before first observation keep NULL ffill only
    when the span starts at the first observation (by construction the
    span starts at an observed day, so ffill is never NULL here);
    pass-through columns stay NULL on generated days. Keys never bleed
    into each other."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.operators.timeseries import gapfill_daily

    d = dt.date
    rows = [
        ("a", d(2025, 1, 1), 2, 10.0, "x"),
        ("a", d(2025, 1, 4), 1, 20.0, "y"),
        ("b", d(2025, 3, 1), 5, 7.0, "z"),
    ]
    df = spark.createDataFrame(
        rows, "k string, day date, n bigint, price double, tag string"
    )
    out = {
        (r["k"], r["day"]): (r["n"], r["price"], r["tag"])
        for r in gapfill_daily(
            df, ["k"], "day", zero_fill=["n"], ffill=["price"]
        ).collect()
    }
    assert len(out) == 5  # a: 4 days, b: 1 day
    assert out[("a", d(2025, 1, 1))] == (2, 10.0, "x")
    assert out[("a", d(2025, 1, 2))] == (0, 10.0, None)  # generated
    assert out[("a", d(2025, 1, 3))] == (0, 10.0, None)
    assert out[("a", d(2025, 1, 4))] == (1, 20.0, "y")
    assert out[("b", d(2025, 3, 1))] == (5, 7.0, "z")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="both"):
        gapfill_daily(df, ["k"], "day", zero_fill=["n"], ffill=["n"])
    with _pytest.raises(ValueError, match="not in frame"):
        gapfill_daily(df, ["k"], "day", zero_fill=["nope"])


def test_blocked_fuzzy_join_blocks_and_distance(spark):
    """Blocked fuzzy join: matches only within the blocking prefix,
    at the exact levenshtein threshold; cross-block near-matches are
    (by documented design) not candidates; column clashes refused."""
    from sahithi_metamorph_etl_spark.operators.linkage import blocked_fuzzy_join

    left = spark.createDataFrame(
        [(1, "martha"), (2, "zebra"), (3, "marcus")], "lid bigint, lname string"
    )
    right = spark.createDataFrame(
        [(10, "martha"), (11, "marthaxx"), (12, "marthaxxx"), (13, "aebra")],
        "rid bigint, rname string",
    )
    got = {
        (r["lid"], r["rid"]): r["distance"]
        for r in blocked_fuzzy_join(
            left, right, "lname", "rname", max_distance=2, block_len=2
        ).collect()
    }
    # martha matches itself (0) and marthaxx (2); marthaxxx is distance 3
    # -> out; aebra is 1 edit from zebra but in block 'ae' vs 'ze' -> out
    assert got == {(1, 10): 0, (1, 11): 2}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="rename"):
        blocked_fuzzy_join(left, left, "lname", "lname")


def test_bucketed_prefix_sum_equals_grouped_window(spark):
    """The two-phase grouped prefix sum must equal a per-group global
    window for any bucket width, with no corpus-wide window partition
    in the plan (groups stay parallel across their md5 buckets)."""
    import hashlib

    from sahithi_metamorph_etl_spark.operators.windows import bucketed_prefix_sum

    rows = []
    for i in range(300):
        # values include negatives: bucket totals must be value sums,
        # not maxima of the running sum
        rows.append((i, "g" + str(i % 3), (i * 7) % 23 - 11,
                     hashlib.md5(f"s:{i}".encode()).hexdigest()))
    df = spark.createDataFrame(rows, "id bigint, g string, v bigint, k string")

    # sequential model per group over (k, id) order
    expect = {}
    for gname in ("g0", "g1", "g2"):
        cum = 0
        for i, g, v, k in sorted(rows, key=lambda r: (r[3], r[0])):
            if g != gname:
                continue
            cum += v
            expect[i] = cum

    for width in (1, 2, 4):
        got = {
            r["id"]: r["cum"]
            for r in bucketed_prefix_sum(
                df, ["g"], "k", "id", "v", bucket_hex_chars=width
            ).collect()
        }
        assert got == expect, f"bucket_hex_chars={width}"


def test_mixture_by_token_budget_fills_shares(spark):
    """Mixture sampling: each source's selection is the greedy md5-order
    prefix within its own budget share; unknown sources drop; budgets
    never overflow; weights validate."""
    import hashlib

    import pytest as _pytest

    from sahithi_metamorph_etl_spark.operators.sampling import (
        mixture_by_token_budget,
    )

    rows = [(i, ["a", "b", "zz"][i % 3], (i % 13) + 1) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n bigint")
    out = mixture_by_token_budget(
        df, "source", {"a": 0.75, "b": 0.25}, total_budget=200,
        token_col="n", seed="mx",
    ).collect()
    budgets = {"a": 150, "b": 50}
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) <= {"a", "b"}  # 'zz' dropped entirely
    for s, rs in by_src.items():
        assert max(r["cum_tokens"] for r in rs) <= budgets[s]
    # exact greedy-prefix model
    for s in ("a", "b"):
        cum, keep = 0, set()
        for i, src, n in sorted(
            rows, key=lambda r: (hashlib.md5(f"mx:{r[0]}".encode()).hexdigest(), r[0])
        ):
            if src != s:
                continue
            cum += n
            if cum <= budgets[s]:
                keep.add(i)
        assert {r["doc_id"] for r in by_src.get(s, [])} == keep, s

    with _pytest.raises(ValueError, match="weights"):
        mixture_by_token_budget(df, "source", {}, 100, "n")
    with _pytest.raises(ValueError, match="total_budget"):
        mixture_by_token_budget(df, "source", {"a": 1.0}, 0, "n")


def test_ranged_prefix_sum_arbitrary_order(spark):
    """Range-partitioned grouped running sum must equal the sequential
    per-group model under an ARBITRARY (non-hex) order key, for any
    partition count, grouped or ungrouped, with partitioned windows
    only in the grouped plan."""
    import random

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.plancheck import plan_summary
    from sahithi_metamorph_etl_spark.operators.windows import ranged_prefix_sum

    rng = random.Random(88)
    rows = [
        # NEGATIVE values included: partition totals must be sums of
        # values, not maxima of the running sum
        (i, "g" + str(i % 4), rng.randint(-50, 50), rng.randint(-9, 9))
        for i in range(250)
    ]
    df = spark.createDataFrame(rows, "id bigint, g string, score bigint, v bigint")

    def model(group):
        exp = {}
        for gname in {r[1] for r in rows}:
            cum = 0
            for i, g, s, v in sorted(rows, key=lambda r: (-r[2], r[0])):
                if group and g != gname:
                    continue
                cum += v
                exp[(gname, i) if group else i] = cum
            if not group:
                return exp
        return exp

    order = [F.col("score").desc(), F.col("id").asc()]
    for n in (1, 5, 64):
        out = ranged_prefix_sum(df, ["g"], order, "v", num_partitions=n)
        got = {(r["g"], r["id"]): r["cum"] for r in out.collect()}
        assert got == model(True), f"grouped n={n}"
        assert plan_summary(out).unpartitioned_windows == 0
    # ungrouped: single virtual group, still range-parallel
    got = {
        r["id"]: r["cum"]
        for r in ranged_prefix_sum(df, [], order, "v", num_partitions=7).collect()
    }
    assert got == model(False)


def test_dedup_against_seen_drops_known_content(spark):
    """Cross-snapshot dedup: a new doc whose NORMALIZED content matches
    any seen fingerprint drops, regardless of id; novel docs survive;
    the seen set is consulted content-wise, not id-wise."""
    from sahithi_metamorph_etl_spark.llm.dedup import dedup_against_seen
    from sahithi_metamorph_etl_spark.llm.textstats import content_fingerprint

    prior = spark.createDataFrame(
        [(1, "Hello World"), (2, "unique old doc")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "hello, WORLD!!"),   # normalization-dup of seen doc 1
            (11, "hello world2"),     # novel
            (12, "unique old doc"),   # exact dup of seen doc 2
            (13, "brand new"),        # novel
        ],
        "doc_id bigint, text string",
    )
    out = dedup_against_seen(batch, content_fingerprint(prior))
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def test_neardup_against_seen_catches_edited_repeats(spark):
    """Cross-snapshot NEAR-dup: a new doc that is a one-word edit of a
    seen doc collides through the band store and verifies above
    threshold (exact-fingerprint dedup misses it); unrelated new docs
    emit no pair; the seen store is consulted content-wise. The verified
    jaccard equals the exact shingle-set value."""
    from sahithi_metamorph_etl_spark.llm.dedup import (
        band_signature_store,
        dedup_against_seen,
        neardup_against_seen,
    )
    from sahithi_metamorph_etl_spark.llm.textstats import content_fingerprint

    base = " ".join(f"w{i}" for i in range(40))
    edited = " ".join("XX" if i == 20 else f"w{i}" for i in range(40))
    prior = spark.createDataFrame(
        [(1, base), (2, "a completely different old document here")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(10, edited), (11, "novel content nothing like the corpus at all")],
        "doc_id bigint, text string",
    )
    got = neardup_against_seen(
        batch, band_signature_store(prior), prior, threshold=0.5
    ).collect()
    assert [(r["doc_id"], r["seen_id"]) for r in got] == [(10, 1)]
    # exact 3-gram jaccard of a one-token edit over 38 shingles: the
    # edit at position 20 breaks the 3 windows covering it, so
    # 35 shared / (38 + 38 - 35)
    assert abs(got[0]["jaccard"] - 35 / 41) < 1e-12
    # the fingerprint op misses the edited repeat — both new docs "novel"
    kept = dedup_against_seen(batch, content_fingerprint(prior))
    assert sorted(r["doc_id"] for r in kept.collect()) == [10, 11]
    # a threshold outside (0, 1] is not a near-dup cut: fail fast
    for bad in (0.0, -1.0, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            neardup_against_seen(batch, band_signature_store(prior), prior, threshold=bad)
    # release handle: the persisted candidate frame drops, result unchanged
    rows = _collect_and_release(
        spark,
        lambda: neardup_against_seen(
            batch, band_signature_store(prior), prior, threshold=0.5,
            return_release=True,
        ),
    )
    assert [(r["doc_id"], r["seen_id"], r["jaccard"]) for r in rows] == [
        (r["doc_id"], r["seen_id"], r["jaccard"]) for r in got
    ]


def test_neardup_band_store_bucketed_colocation(spark, sf_dir, tmp_path):
    """The docstring's 100 TB claim, plan-proven: with the persisted
    band store written BUCKETED on (band, sig) — the collision-join
    keys — the store side satisfies the join distribution from its
    layout, so with broadcast disabled the plan drops the store-side
    exchange (only the small daily batch still shuffles) and the
    bucketed scan is actually exploited. Data path identical to the
    unbucketed store."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.dedup import (
        band_signature_store,
        neardup_against_seen,
    )
    from sahithi_metamorph_etl_spark.operators.plancheck import (
        _plan_string,
        plan_summary,
    )
    from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    store_df = band_signature_store(old)

    tbl = "band_store_bk_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = LayeredWarehouse(str(tmp_path))
    wh.write_bucketed(store_df, tbl, ["band", "sig"], num_buckets=8,
                      path=str(tmp_path / "bk"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = neardup_against_seen(batch, spark.table(tbl), old)
        plain = neardup_against_seen(batch, store_df, old)
        got_b = sorted((r["doc_id"], r["seen_id"], r["jaccard"])
                       for r in bucketed.collect())
        got_p = sorted((r["doc_id"], r["seen_id"], r["jaccard"])
                       for r in plain.collect())
        assert got_b == got_p
        assert "Bucketed: true" in _plan_string(bucketed)
        # the store-side hash exchange disappears; everything else is
        # common to both plans
        assert plan_summary(bucketed).shuffles < plan_summary(plain).shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_cosine_topk_cross_frame_queries(spark, sf_dir):
    """Cross-frame KNN: with queries from a separate frame and
    exclude_self=False, a corpus row sharing a query's id number must
    still be a candidate (and an identical vector must rank first with
    cos_sim 1.0); same-frame behavior is unchanged."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import cosine_topk_bruteforce

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    got = sorted(
        (r["vec_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk_bruteforce(
            corpus, k=3, queries=queries, exclude_self=False, max_queries=10
        ).collect()
    )
    # corpus vec 2 is identical to the query -> rank 1, cos 1.0;
    # corpus vec 1 (same id as the query) is NOT excluded
    assert got[0] == (1, 1, 2, 1.0)
    assert {g[2] for g in got} == {1, 2, 3}

    # same-frame default still excludes self
    same = cosine_topk_bruteforce(corpus, k=3, query_filter=F.col("vec_id") == 1)
    assert all(r["neighbor_id"] != 1 for r in same.collect())


def test_unpartitioned_window_detector_positive_case(spark):
    """The un-partitioned-window counter must actually FIRE on a global
    Window (and stay 0 on a partitioned one) — without this positive
    case, a Spark plan-format change could silently reduce the whole
    parity-suite gate to a vacuous == 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.plancheck import plan_summary

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    global_w = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    part_w = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert plan_summary(global_w).unpartitioned_windows == 1
    assert plan_summary(part_w).unpartitioned_windows == 0
    # stacked: one of each still counts exactly the global one
    both = part_w.withColumn("r2", F.row_number().over(Window.orderBy("r")))
    assert plan_summary(both).unpartitioned_windows == 1


def test_heavy_hitters_mg_guarantee_and_exactness(spark):
    """Misra-Gries + exact verification: on skewed data the sketch's
    top-k equals the full-groupBy top-k with every row guaranteed; on
    uniform data (no heavy hitters) any returned 'guaranteed' flag must
    be false and exact counts are still exact for whatever candidates
    surfaced. Tiny counter budgets stress the decrement path."""
    from collections import Counter

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.profiling import heavy_hitters_topk

    # skewed: keys 0..2 hold ~60% of 3000 rows; tail unique
    rows = []
    for i in range(3000):
        rows.append((i % 3,) if i % 10 < 6 else (1000 + i,))
    df = spark.createDataFrame(rows, "k bigint").repartition(8)
    truth = Counter(r[0] for r in rows)
    expect = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = heavy_hitters_topk(df, "k", k=3, counters=16).collect()
    assert [(r["item"], r["exact_count"]) for r in got] == expect
    assert all(r["guaranteed"] for r in got)
    assert all(r["n_rows"] == 3000 for r in got)

    # uniform: every key appears once -> nothing can be guaranteed
    uni = spark.createDataFrame([(i,) for i in range(500)], "k bigint").repartition(4)
    out = heavy_hitters_topk(uni, "k", k=3, counters=8).collect()
    assert all(not r["guaranteed"] for r in out)
    assert all(r["exact_count"] == 1 for r in out)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="counters"):
        heavy_hitters_topk(df, "k", k=5, counters=3)


def test_scd2_snapshot_asof_interval_boundaries(spark):
    """As-of reads: eff_from day itself is INCLUDED, the close day is
    EXCLUDED (half-open intervals), open rows always visible from their
    start — so chaining merge then as-of reconstructs any past state."""
    import datetime as dt

    from sahithi_metamorph_etl_spark.operators.scd import (
        scd2_init,
        scd2_merge,
        scd2_snapshot_asof,
    )

    d1, d2 = dt.date(2025, 1, 1), dt.date(2025, 2, 1)
    dim = scd2_init(
        spark.createDataFrame([(1, "A")], "k bigint, v string"), ["k"], ["v"], d1
    )
    state = scd2_merge(
        dim, spark.createDataFrame([(1, "B")], "k bigint, v string"), ["k"], ["v"], d2
    )

    def vals(day):
        return sorted(r["v"] for r in scd2_snapshot_asof(state, day).collect())

    assert vals(dt.date(2024, 12, 31)) == []     # before history
    assert vals(d1) == ["A"]                      # start day included
    assert vals(dt.date(2025, 1, 15)) == ["A"]
    assert vals(d2) == ["B"]                      # close day excluded, new starts
    assert vals(dt.date(2026, 1, 1)) == ["B"]     # open row visible forever


def test_heavy_hitters_null_is_a_first_class_hot_key(spark):
    """NULL-dominated columns are the classic skew case the operator
    exists to diagnose: NULL must surface as a candidate, exact-count
    through the null-safe join, and carry the guarantee flag like any
    value. Regression for dropna value_counts + null-dropping equi-join
    silently returning only non-null candidates."""
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.operators.profiling import heavy_hitters_topk

    # 2000 rows: 55% NULL, 25% key 7, tail unique
    rows = []
    for i in range(2000):
        if i % 20 < 11:
            rows.append((None,))
        elif i % 20 < 16:
            rows.append((7,))
        else:
            rows.append((1000 + i,))
    df = spark.createDataFrame(rows, "k bigint").repartition(8)
    got = heavy_hitters_topk(df, "k", k=2, counters=16).collect()
    n_null = sum(1 for (v,) in rows if v is None)
    n_seven = sum(1 for (v,) in rows if v == 7)
    by_item = {r["item"]: r for r in got}
    assert set(by_item) == {None, 7}
    assert by_item[None]["exact_count"] == n_null
    assert by_item[None]["guaranteed"]
    assert by_item[7]["exact_count"] == n_seven
    assert all(r["n_rows"] == 2000 for r in got)

    # string column with NULL majority — exercises the object-dtype path
    sdf = spark.createDataFrame(
        [(None,)] * 40 + [("x",)] * 10 + [(f"t{i}",) for i in range(30)],
        "k string",
    ).repartition(4)
    out = {r["item"]: r["exact_count"] for r in
           heavy_hitters_topk(sdf, "k", k=2, counters=8).collect()}
    assert out == {None: 40, "x": 10}


def test_global_rank_cache_release_drops_pinned_storage(spark):
    """Long-lived-service contract: materialize, then release() — the
    operator-persisted ranged frame must leave the cache immediately
    (no pinned partitions surviving until clearCache), the handle must
    be idempotent, and the released plan must still recompute
    correctly."""
    from sahithi_metamorph_etl_spark.operators.windows import (
        global_rank,
        ranged_prefix_sum,
    )

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persistent()
    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(500)], "id bigint, v bigint"
    )
    ranked, total, release = global_rank(
        df, ["v", "id"], rank_col="rk", num_partitions=8, return_release=True
    )
    assert total == 500
    rows = {r["id"]: r["rk"] for r in ranked.collect()}  # materialize
    assert n_persistent() > base  # pinned while the plan is live
    release.release()
    assert n_persistent() == base  # gone immediately, not at clearCache
    release.release()  # idempotent
    # released plan still computes (recomputes the range shuffle)
    assert {r["id"]: r["rk"] for r in ranked.collect()} == rows
    expect = {
        id_: i + 1
        for i, (id_, _) in enumerate(
            sorted(((i, (i * 37) % 101) for i in range(500)), key=lambda t: (t[1], t[0]))
        )
    }
    assert rows == expect

    # the grouped sibling exposes the same handle
    out, rel2 = ranged_prefix_sum(
        df.withColumn("g", df.id % 3),
        ["g"], ["v", "id"], "v", out_col="cum",
        num_partitions=4, return_release=True,
    )
    out.collect()
    assert n_persistent() > base
    rel2.release()
    assert n_persistent() == base


def test_jaccard_prefix_filter_equals_naive_all_pairs(spark, sf_dir):
    """The prefix-filtered jaccard_pairs (AllPairs/PPJoin candidate
    pruning + exact array_intersect verify) must produce EXACTLY the
    naive inverted-index all-pairs result — same pairs, same scores —
    at several thresholds, on the real corpus and on an adversarial
    synthetic one (integer-boundary prefix lengths, ties in shingle
    frequency, capped variant)."""
    import random

    from sahithi_metamorph_etl_spark.llm.dedup import (
        _jaccard_from_shingles,
        jaccard_pairs,
    )

    def naive(docs, threshold, cap=None):
        return _jaccard_from_shingles(
            naive_hashed_shingles(docs, cap=cap), "doc_id", threshold
        )

    def as_set(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in df.collect()
        }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.5, 0.8):
        assert as_set(jaccard_pairs(docs, threshold=t)) == as_set(naive(docs, t)), t

    # adversarial synthetic corpus: shared blocks with varying overlap
    # so prefix lengths hit integer boundaries (t*n integral), plus
    # duplicate docs and frequency ties
    rng = random.Random(99)
    base = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        k = rng.randint(3, 20)
        start = rng.randint(0, 9)
        toks = base[start:start + k]
        if rng.random() < 0.3:
            toks = toks + [f"u{i}"]  # unique tail
        rows.append((i, " ".join(toks)))
    rows.append((100, rows[0][1]))  # exact duplicate -> jaccard 1.0
    sdocs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for t in (0.25, 0.5, 0.75, 0.8):
        got, want = as_set(jaccard_pairs(sdocs, threshold=t)), as_set(naive(sdocs, t))
        assert got == want, (t, got ^ want)
    # capped variant equality too
    assert as_set(jaccard_pairs(sdocs, threshold=0.5, max_shingle_freq=3)) == as_set(
        naive(sdocs, 0.5, cap=3)
    )


def test_passage_dups_detects_copies_at_any_offset(spark):
    """Content-defined chunking property: a long passage copied into an
    otherwise-unrelated document at ARBITRARY token offsets must be
    detected (fixed-stride windows would only match aligned phases),
    unrelated docs must NOT pair, and the within-doc dedup keeps a
    passage repeated inside one doc from inflating pair counts."""
    import random

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.dedup import passage_dups

    rng = random.Random(42)
    passage = " ".join(f"p{i}" for i in range(60))  # 60-token passage

    def noise(k, tag):
        return " ".join(f"{tag}{rng.randint(0, 10**9)}" for _ in range(k))

    rows = [(0, noise(7, "a") + " " + passage + " " + noise(13, "b"))]
    # same passage at different offsets in other docs
    for i, off in enumerate((0, 3, 11, 29), start=1):
        rows.append((i, noise(off, f"c{i}") + " " + passage + " " + noise(5, f"d{i}")))
    rows.append((50, noise(80, "z")))  # unrelated
    # internal repetition with noise separators: the two copies'
    # interior segments hash identically and must dedupe within-doc
    rows.append(
        (51, noise(4, "e") + " " + passage + " " + noise(6, "f") + " "
             + passage + " " + noise(3, "g"))
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_shared_passages"], r["shared_tokens"])
        for r in passage_dups(docs).collect()
    }
    carriers = [0, 1, 2, 3, 4, 51]
    for x in carriers:
        for y in carriers:
            if x < y:
                assert (x, y) in out, (x, y, sorted(out))
                n, tok = out[(x, y)]
                # interior segments of the 60-token passage: >= 1
                # shared segment and a substantial token mass
                assert n >= 1 and tok >= 8, (x, y, out[(x, y)])
    assert not any(50 in p for p in out), out
    # doc 51 carries the passage TWICE (noise-separated, both copies
    # offset into noise) but passages dedupe within-doc: the pair with
    # doc 0 (also a noise-embedded single copy) counts each shared
    # interior segment ONCE — identical to the single-copy pair (0, 2)
    assert out[(0, 51)] == out[(0, 2)], (out[(0, 51)], out[(0, 2)])
    # hot-passage cap: the shared segments sit in all 6 carriers, so a
    # cap of 6 keeps every pair and a cap of 5 drops them all
    capped = {
        (r["doc_a"], r["doc_b"]): (r["n_shared_passages"], r["shared_tokens"])
        for r in passage_dups(docs, max_passage_freq=6).collect()
    }
    assert capped == out
    assert passage_dups(docs, max_passage_freq=5).collect() == []
    with pytest.raises(ValueError, match="max_passage_freq"):
        passage_dups(docs, max_passage_freq=1)


# --- seeded k-means (Lloyd) + SemDeDup (r11) --------------------------------


def _naive_kmeans(rows, k, n_iter, decimals=8):
    """Driver-side replay of kmeans_lloyd's exact contract: seeded init
    from the k lowest ids, rounded-distance argmin with lowest-cid
    ties, decimal-12 sums -> rounded means, empty clusters keep their
    previous centroid."""
    import decimal

    import numpy as np

    from sahithi_metamorph_etl_spark.llm.similarity import _nround

    rows = sorted(rows, key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    m = np.array([r[1] for r in rows], dtype=np.float64)
    cents = m[:k].copy()

    def assign(cs):
        d = _nround(np.sqrt(((m[:, None, :] - cs[None]) ** 2).sum(axis=2)), decimals)
        cid = d.argmin(axis=1)
        return cid, d[np.arange(len(m)), cid]

    q12 = decimal.Decimal("1.000000000000")
    for _ in range(n_iter):
        cid, _d = assign(cents)
        nxt = cents.copy()
        for c in range(k):
            sel = m[cid == c]
            if len(sel) == 0:
                continue
            for pos in range(m.shape[1]):
                s = sum(
                    decimal.Decimal(repr(float(v))).quantize(
                        q12, rounding=decimal.ROUND_HALF_UP
                    )
                    for v in sel[:, pos]
                )
                nxt[c][pos] = _nround(float(s) / len(sel), decimals)
        cents = nxt
    cid, d = assign(cents)
    return {int(i): (int(c), float(dd)) for i, c, dd in zip(ids, cid, d)}


def test_kmeans_lloyd_matches_naive_and_is_layout_independent(spark, sf_dir):
    from sahithi_metamorph_etl_spark.llm.clustering import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [(r["vec_id"], r["embedding"]) for r in emb.select("vec_id", "embedding").collect()]
    want = _naive_kmeans(rows, k=8, n_iter=2)

    got = {
        r["vec_id"]: (r["cluster_id"], r["dist"])
        for r in kmeans_lloyd(emb, k=8, n_iter=2).collect()
    }
    assert got == want
    # partition-layout independence: 1 partition and 13 skewed partitions
    for parts in (emb.coalesce(1), emb.repartition(13, "label")):
        again = {
            r["vec_id"]: (r["cluster_id"], r["dist"])
            for r in kmeans_lloyd(parts, k=8, n_iter=2).collect()
        }
        assert again == want
    # every cluster id is in range and non-trivially populated at k=8
    assert {c for c, _ in got.values()} <= set(range(8))
    assert len({c for c, _ in got.values()}) > 1


def test_sq8_physical_index_matches_flat_scan(spark, sf_dir, tmp_path):
    """The SQ8 physical layout (the ivf_build_index treatment applied
    to quantization): (a) sq8_search over a materialized codes index
    equals sq8_topk row for row at the same parameters (codes are
    bit-identical by construction — both quantize the JVM-rounded unit
    values against the same min/max); (b) the candidate stage's only
    Python stage is the byte scan and the float corpus enters the plan
    only via broadcast joins on the candidate list; (c) the codes
    files carry a fraction of the float table's bytes — the bandwidth
    claim, measured."""
    import os

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        sq8_build_index,
        sq8_search,
        sq8_topk,
    )
    from sahithi_metamorph_etl_spark.operators.plancheck import (
        _plan_string,
        plan_summary,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qf = F.col("vec_id") < 30
    idx = str(tmp_path / "sq8_idx")
    sq8_build_index(emb, idx)

    flat = sq8_topk(emb, k=5, rerank=32, query_filter=qf)
    srch = sq8_search(spark, idx, emb.filter(qf), emb, k=5, rerank=32)
    # plan asserted PRE-execution (a collected AdaptiveSparkPlan prints
    # its Initial Plan section too and doubles every string count)
    s = plan_summary(srch)
    assert s.python_stages == 1  # the byte scan; the exact re-rank is JVM
    assert s.broadcast_hash_joins >= 2  # candidate list + query vectors
    assert "codes" in _plan_string(srch)
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, srch.collect()))

    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p) for f in fs
        )

    emb_path = f"{sf_dir}/embeddings.parquet"
    emb_bytes = (
        du(emb_path) if os.path.isdir(emb_path) else os.path.getsize(emb_path)
    )
    assert du(f"{idx}/codes") < emb_bytes / 3

    # codes that are not one binary cell per vector (an array<smallint>
    # layout written by hand) fail fast instead of mis-decoding
    import pytest as _pytest

    idx2 = str(tmp_path / "sq8_idx_array")
    sq8_build_index(emb, idx2)
    spark.createDataFrame(
        [(0, [1, 2, 3])], "vec_id bigint, codes array<smallint>"
    ).write.mode("overwrite").parquet(f"{idx2}/codes")
    with _pytest.raises(ValueError, match="binary"):
        sq8_search(spark, idx2, emb.filter(qf), emb, k=5, rerank=32)

    # empty query set: typed empty frame, no job
    none = sq8_search(spark, idx, emb.filter(F.col("vec_id") < 0), emb)
    assert none.count() == 0
    assert none.columns == ["vec_id", "rank", "neighbor_id", "cos_sim"]


def test_pq_physical_index_matches_flat_scan_and_composes_with_ivf(
    spark, sf_dir, tmp_path
):
    """The PQ physical layout (IVFPQ when list-partitioned — the sq8
    treatment applied to product quantization): (a) pq_search over a
    materialized m-bytes-per-vector codes index equals pq_topk row for
    row at the same parameters (same encode, same rounded-ADC cut,
    same shared JVM exact re-rank); (b) probing EVERY list reproduces
    the flat answer; (c) a pruned probe pushes ``list_id IN (probes)``
    into the scan as a partition filter and clears a recall floor;
    (d) n_probe on a flat index raises; (e) empty query set returns a
    typed empty frame; (f) the codes files hold m bytes per vector —
    an order of magnitude under the float corpus."""
    import contextlib
    import io
    import pathlib

    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk_bruteforce,
        pq_build_index,
        pq_search,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qf = F.col("vec_id") < 50

    # oracle-reconstructible books: subvectors of the 32 lowest-id unit
    # vectors (the emb_pq_topk treatment)
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(32).collect()
    u = np.array([r[1] for r in rows], dtype=np.float64)
    u = u / np.maximum(np.linalg.norm(u, axis=1, keepdims=True), 1e-12)
    books = np.stack([u[:, j * 8:(j + 1) * 8] for j in range(8)])

    idx = str(tmp_path / "pq_idx")
    pq_build_index(emb, idx, m=8, ksub=32, books=books)
    flat = pq_topk(emb, k=5, ksub=32, rerank=64, query_filter=qf, books=books)
    srch = pq_search(spark, idx, emb.filter(qf), emb, k=5, rerank=64)
    assert sorted(map(tuple, srch.collect())) == sorted(map(tuple, flat.collect()))

    ivf_idx = str(tmp_path / "pq_ivf_idx")
    pq_build_index(emb, ivf_idx, m=8, ksub=32, books=books, n_lists=8)
    full = pq_search(spark, ivf_idx, emb.filter(qf), emb, k=5, rerank=64, n_probe=8)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, flat.collect()))

    ann = pq_search(spark, ivf_idx, emb.filter(qf), emb, k=5, rerank=64, n_probe=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ann.explain(mode="formatted")
    scan = next(
        s for s in buf.getvalue().split("\n\n")
        if "Scan parquet" in s and "codes" in s
    )
    assert "PartitionFilters" in scan
    assert "list_id" in scan.split("PartitionFilters")[1]
    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)
    row = ann_recall_summary(exact, ann, recall_floor=0.2).collect()[0]
    assert row["floor_ok"], row

    with _pytest.raises(ValueError, match="n_probe"):
        pq_search(spark, idx, emb.filter(qf), emb, n_probe=4)

    none = pq_search(spark, idx, emb.filter(F.col("vec_id") < 0), emb)
    assert none.count() == 0
    assert none.columns == ["vec_id", "rank", "neighbor_id", "cos_sim"]

    n = emb.count()
    code_bytes = sum(
        p.stat().st_size for p in pathlib.Path(idx, "codes").rglob("*.parquet")
    )
    float_bytes = sum(
        p.stat().st_size
        for p in pathlib.Path(f"{sf_dir}/embeddings.parquet").rglob("*")
        if p.is_file()
    ) or pathlib.Path(f"{sf_dir}/embeddings.parquet").stat().st_size
    # 8 payload bytes/vector vs 64 float64 dims: parquet overhead eats
    # some of the 64x, but the codes must stay far under the floats
    assert code_bytes < float_bytes / 4, (code_bytes, float_bytes, n)


def test_pq_auto_budget_shares_helper_and_floor_with_flat_scan(
    spark, sf_dir, tmp_path
):
    """r13 ADVICE #1: pq_search's rerank=None budget previously
    resolved through a floor-64 helper while pq_topk inlined floor 128
    — on any corpus where ceil(n/16) < 128 the physical search got a
    smaller exact window than the flat scan and the row-for-row parity
    claim silently broke. Both paths now call _auto_rerank_budget with
    the PQ floor (128), so (a) the helper's floor parameter behaves,
    and (b) rerank=None matches flat-vs-physical row for row on a
    small corpus (exactly the regime the old floors diverged in)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _auto_rerank_budget,
        pq_build_index,
        pq_search,
        pq_topk,
    )

    # helper semantics: floor binds below, linear in the middle, cap above
    assert _auto_rerank_budget(100) == 64
    assert _auto_rerank_budget(100, floor=128) == 128
    assert _auto_rerank_budget(10_000, floor=128) == 625
    assert _auto_rerank_budget(10**9, floor=128) == 8192

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert emb.count() < 16 * 128  # the floor must actually bind
    qf = F.col("vec_id") < 20
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(32).collect()
    u = np.array([r[1] for r in rows], dtype=np.float64)
    u = u / np.maximum(np.linalg.norm(u, axis=1, keepdims=True), 1e-12)
    books = np.stack([u[:, j * 8:(j + 1) * 8] for j in range(8)])

    idx = str(tmp_path / "pq_auto_idx")
    pq_build_index(emb, idx, m=8, ksub=32, books=books)
    flat = pq_topk(emb, k=5, ksub=32, rerank=None, query_filter=qf, books=books)
    srch = pq_search(spark, idx, emb.filter(qf), emb, k=5, rerank=None)
    assert sorted(map(tuple, srch.collect())) == sorted(map(tuple, flat.collect()))


def test_adc_exact_rerank_broadcast_guard(spark, sf_dir):
    """r13 ADVICE #4: the survivor list is only broadcast-HINTED when
    the caller's row bound is known and under _BROADCAST_CAND_ROWS —
    at the documented caps (10k queries x 8192 auto budget) it is ~80M
    rows, far past sensible broadcast size. Larger or unknown bounds
    leave the strategy to AQE (only the always-tiny query-vector frame
    keeps its hint), and the answer is identical either way."""
    from pyspark.sql import functions as F  # noqa: F401

    from sahithi_metamorph_etl_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(3).collect()
    qrows = [(r[0], r[1]) for r in rows]
    cand = spark.createDataFrame(
        [(int(r[0]), int(r[0]) + 1, 0.5) for r in rows],
        "vec_id bigint, neighbor_id bigint, adc double",
    )

    def n_hints(df):
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    small = sim._adc_exact_rerank(
        spark, cand, qrows, emb, "vec_id", "embedding", 5, 8, cand_bound=9
    )
    big = sim._adc_exact_rerank(
        spark, cand, qrows, emb, "vec_id", "embedding", 5, 8,
        cand_bound=sim._BROADCAST_CAND_ROWS + 1,
    )
    unknown = sim._adc_exact_rerank(
        spark, cand, qrows, emb, "vec_id", "embedding", 5, 8
    )
    assert n_hints(small) == 2  # survivors + query vectors
    assert n_hints(big) == 1  # query vectors only
    assert n_hints(unknown) == 1
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_sq8_numpy_unit_fold_equals_jvm_fold(spark, sf_dir):
    """The SQ8 determinism keystone: _np_unit_rounded's np.cumsum norm
    accumulates strictly left-to-right, so its rounded unit values are
    BIT-IDENTICAL to the JVM F.aggregate fold (and therefore to
    DuckDB's list_dot_product twin the oracle evaluates). Pinned over
    the whole embeddings fixture — exact equality, no tolerance."""
    import numpy as np

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _dround_once,
        _norm,
        _np_unit_rounded,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jvm = (
        emb.withColumn("_nrm", _norm(F.col("embedding")))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: _dround_once(x.cast("double") / F.col("_nrm")),
            ).alias("un"),
        )
        .collect()
    )
    raw = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    ids = [r["vec_id"] for r in jvm]
    got = _np_unit_rounded(np.array([raw[i] for i in ids], dtype=np.float64))
    want = np.array([r["un"] for r in jvm], dtype=np.float64)
    assert np.array_equal(got, want)


def test_sq8_ivf_composition_prunes_files_and_bytes(spark, sf_dir, tmp_path):
    """The two pruning axes composed (sq8_build_index(n_lists=...)):
    (a) probing EVERY list reproduces the flat SQ8 answer exactly (the
    partition layout is a storage optimization); (b) a pruned probe
    pushes ``list_id IN (probes)`` into the scan as a partition filter
    and clears a recall floor vs brute force; (c) n_probe on a
    flat (un-listed) index raises clearly."""
    import contextlib
    import io

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        ann_recall_summary,
        cosine_topk_bruteforce,
        sq8_build_index,
        sq8_search,
        sq8_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qf = F.col("vec_id") < 50
    idx = str(tmp_path / "sq8_ivf_idx")
    sq8_build_index(emb, idx, n_lists=8)

    flat = sq8_topk(emb, k=5, rerank=32, query_filter=qf)
    full = sq8_search(spark, idx, emb.filter(qf), emb, k=5, rerank=32, n_probe=8)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, flat.collect()))

    ann = sq8_search(spark, idx, emb.filter(qf), emb, k=5, rerank=32, n_probe=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ann.explain(mode="formatted")
    plan = buf.getvalue()
    scan = next(
        s for s in plan.split("\n\n") if "Scan parquet" in s and "codes" in s
    )
    assert "PartitionFilters" in scan
    assert "list_id" in scan.split("PartitionFilters")[1]

    exact = cosine_topk_bruteforce(emb, k=5, query_filter=qf)
    row = ann_recall_summary(exact, ann, recall_floor=0.3).collect()[0]
    assert row["floor_ok"], row

    flat_idx = str(tmp_path / "sq8_flat_idx")
    sq8_build_index(emb, flat_idx)
    with _pytest.raises(ValueError, match="n_probe"):
        sq8_search(spark, flat_idx, emb.filter(qf), emb, n_probe=4)


def test_sq8_search_auto_rerank_scales_with_probed_pool(spark, tmp_path):
    """rerank=None (the PQ-style corpus-scaled budget, r13) resolves
    max(64, ceil(n_scanned/16)) from what the search actually SCANS.
    Pin BOTH branches at sf0.1 (2000 vectors): the flat index scans
    the whole corpus -> budget ceil(2000/16)=125 (the scale branch);
    a 4-of-8-lists probe scans ~1000 codes -> the 64 floor binds (the
    floor branch, and the count provably composed with the partition
    filter — a corpus-wide count would have resolved 125). Each auto
    run must equal its explicitly-pinned twin row for row."""
    import math

    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.similarity import (
        sq8_build_index,
        sq8_search,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = emb.count()
    assert n >= 1100  # the scale branch must actually bind below
    qf = F.col("vec_id") < 30

    flat_idx = str(tmp_path / "sq8_auto_flat")
    sq8_build_index(emb, flat_idx)
    budget = max(64, min(math.ceil(n / 16), 8192))
    assert budget > 64  # scale branch
    auto = sq8_search(spark, flat_idx, emb.filter(qf), emb, k=5, rerank=None)
    pinned = sq8_search(spark, flat_idx, emb.filter(qf), emb, k=5, rerank=budget)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, pinned.collect()))

    ivf_idx = str(tmp_path / "sq8_auto_ivf")
    sq8_build_index(emb, ivf_idx, n_lists=8)
    # observe the resolved budget directly: wrap _auto_rerank_budget
    # and record the n it was handed — the probed case must count the
    # PARTITION-PRUNED scan (well under the corpus), not the corpus
    import sahithi_metamorph_etl_spark.llm.similarity as sim

    seen: list[int] = []
    orig = sim._auto_rerank_budget

    def spy(n_scanned: int) -> int:
        seen.append(n_scanned)
        return orig(n_scanned)

    # ONE query: the scan prunes to exactly its 4 probe lists (many
    # diverse queries would union every list and the "pruned" scan
    # would equal the corpus — the budget follows what is READ)
    q1 = F.col("vec_id") == 0
    sim._auto_rerank_budget = spy
    try:
        auto_p = sq8_search(
            spark, ivf_idx, emb.filter(q1), emb, k=5, rerank=None, n_probe=4
        )
        pinned_p = sq8_search(
            spark, ivf_idx, emb.filter(q1), emb, k=5, rerank=orig(seen[0]),
            n_probe=4,
        )
    finally:
        sim._auto_rerank_budget = orig
    assert 0 < seen[0] < n, seen  # counted the pruned scan, not the corpus
    assert sorted(map(tuple, auto_p.collect())) == sorted(
        map(tuple, pinned_p.collect())
    )


def test_kmeans_parallel_init_layout_independent_and_beats_lowid(spark, sf_dir):
    """k-means|| init invariants: (a) the picked seeds are identical
    under any partition layout (seeded-hash selection + exact-decimal
    Σd² + id tie-breaks); (b) the frame and array forms agree; (c)
    after the same Lloyd budget the geometry-aware init's total
    within-cluster distance is no worse than lowest-id seeding; (d)
    the candidate cap and the too-few-candidates path raise clearly."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sahithi_metamorph_etl_spark.llm.clustering import (
        kmeans_assign,
        kmeans_fit,
        kmeans_parallel_init,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    frame = kmeans_parallel_init(emb, k=8, rounds=2, seed=42, return_frame=True)
    rows = sorted((r["init_rank"], r["vec_id"], r["n_assigned"])
                  for r in frame.collect())
    assert len(rows) == 8
    for parts in (emb.coalesce(1), emb.repartition(13, "label")):
        again = sorted(
            (r["init_rank"], r["vec_id"], r["n_assigned"])
            for r in kmeans_parallel_init(
                parts, k=8, rounds=2, seed=42, return_frame=True
            ).collect()
        )
        assert again == rows

    cents = kmeans_parallel_init(emb, k=8, rounds=2, seed=42)
    by_id = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    want = np.array([by_id[vid] for _, vid, _ in rows], dtype=np.float64)
    assert np.array_equal(cents, want)

    def cost(seeds):
        fit = kmeans_fit(emb, k=8, n_iter=2, centroids=seeds)
        return kmeans_assign(emb, fit).agg(F.sum("dist")).collect()[0][0]

    low_id = kmeans_fit(emb, k=8, n_iter=0)  # the plain seeded init
    assert cost(cents) <= cost(low_id) * 1.0001

    with _pytest.raises(ValueError, match="max_candidates"):
        kmeans_parallel_init(emb, k=8, rounds=2, max_candidates=2)
    tiny = emb.limit(3)
    with _pytest.raises(ValueError, match="need k"):
        kmeans_parallel_init(tiny, k=8, rounds=1, oversample=0)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """Two far groups + k=3 where the third seed is immediately starved:
    the fit must not crash and the surviving centroids still split the
    groups."""
    from sahithi_metamorph_etl_spark.llm.clustering import kmeans_fit, kmeans_lloyd

    rows = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
        (10, [9.0, 9.0]), (11, [9.1, 9.0]), (12, [9.0, 9.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = kmeans_fit(emb, k=3, n_iter=2)
    # seed 2 = vec 2's vector; every point assigns nearer seeds 0/1
    # group-mates after iteration 1, so cluster 2 may starve — its
    # centroid must remain a finite previous value, not NaN
    import numpy as np

    assert np.isfinite(cents).all()
    out = kmeans_lloyd(emb, k=3, n_iter=2).collect()
    by_id = {r["vec_id"]: r["cluster_id"] for r in out}
    assert len({by_id[0], by_id[10]}) == 2  # far groups never merge


def test_semdedup_prune_matches_per_cluster_bruteforce(spark, sf_dir):
    import numpy as np

    from sahithi_metamorph_etl_spark.llm.clustering import (
        kmeans_lloyd,
        semdedup_prune,
    )
    from sahithi_metamorph_etl_spark.llm.similarity import _nround

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = {
        r["vec_id"]: r["cluster_id"] for r in kmeans_lloyd(emb, k=8, n_iter=2).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    survivors = set()
    for vid in sorted(vecs):
        v = vecs[vid]
        v = v / max(float(np.linalg.norm(v)), 1e-12)
        dup = False
        for other in sorted(vecs):
            if other >= vid or assigned[other] != assigned[vid]:
                continue
            o = vecs[other]
            o = o / max(float(np.linalg.norm(o)), 1e-12)
            if _nround(float(v @ o), 8) >= 0.4:
                dup = True
                break
        if not dup:
            survivors.add(vid)

    got = {r["vec_id"] for r in semdedup_prune(emb, threshold=0.4, k=8, n_iter=2).collect()}
    assert got == survivors
    assert len(got) < len(vecs)  # something was actually pruned at 0.4


def test_kmeans_assign_chunked_equals_full_argmin_past_256_centroids(spark):
    """The E-step chunks centroids 256 at a time; with k=300 the loop
    crosses a chunk boundary. Must equal a single full argmin, including
    the lowest-cid tie-break when identical centroids live in DIFFERENT
    chunks (cid 10 == cid 290)."""
    import numpy as np

    from sahithi_metamorph_etl_spark.llm.clustering import kmeans_assign
    from sahithi_metamorph_etl_spark.llm.similarity import _nround

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(300, 4))
    cents[290] = cents[10]  # exact tie across the chunk boundary
    vecs = rng.normal(size=(25, 4))
    vecs[3] = cents[10]  # sits exactly on the tied pair
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    d = _nround(
        np.sqrt(((vecs[:, None, :] - cents[None]) ** 2).sum(axis=2)), 8
    )
    want_cid = d.argmin(axis=1)
    got = {r["vec_id"]: (r["cluster_id"], r["dist"])
           for r in kmeans_assign(emb, cents).collect()}
    for i in range(len(vecs)):
        assert got[i] == (want_cid[i], d[i, want_cid[i]])
    assert got[3][0] == 10  # lower cid of the tied pair wins


def test_semdedup_strips_equal_full_matrix_and_guard_fires(spark):
    """A single 1150-row cluster crosses the 1024-row strip boundary:
    survivors must equal the full-matrix lower-triangle reference, and
    max_cluster_rows must fail fast with a clear message."""
    import numpy as np
    import pytest

    from sahithi_metamorph_etl_spark.llm.clustering import semdedup_prune
    from sahithi_metamorph_etl_spark.llm.similarity import _nround

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(1150, 3))
    # plant exact duplicates straddling the strip boundary
    for lo, hi in ((2, 1100), (500, 1030), (1020, 1149)):
        vecs[hi] = vecs[lo]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    m = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    sims = _nround(m @ m.T, 8)
    dup = (np.tril(sims, -1) >= 0.999).any(axis=1)
    want = {i for i in range(1150) if not dup[i]}

    got = {r["vec_id"]
           for r in semdedup_prune(emb, threshold=0.999, k=1, n_iter=1).collect()}
    assert got == want
    # planted exact copies of earlier rows can never survive (their
    # originals may themselves be chance-dups in 3-d — that's fine)
    assert {1100, 1030, 1149}.isdisjoint(got)
    assert 2 in got  # earliest planted original always survives

    with pytest.raises(Exception, match="max_cluster_rows"):
        semdedup_prune(
            emb, threshold=0.999, k=1, n_iter=1, max_cluster_rows=100
        ).collect()


def test_hard_negative_topk_matches_naive_and_masks_labels(spark, sf_dir):
    import numpy as np

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _nround,
        hard_negative_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "label", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    labels = {r["vec_id"]: r["label"] for r in rows}
    want = {}
    for q in (v for v in sorted(vecs) if v < 50):
        u = vecs[q] / max(float(np.linalg.norm(vecs[q])), 1e-12)
        scored = sorted(
            (-float(_nround(float(u @ (vecs[o] / max(float(np.linalg.norm(vecs[o])), 1e-12))), 8)), o)
            for o in vecs
            if labels[o] != labels[q]
        )
        want[q] = [(i + 1, o, -s) for i, (s, o) in enumerate(scored[:3])]

    got = {}
    for r in hard_negative_topk(emb, k=3, query_filter=F.col("vec_id") < 50).collect():
        got.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"], r["cos_sim"]))
        # every returned neighbor carries its OWN label and it differs
        # from the query's (self-exclusion follows)
        assert r["neighbor_label"] == labels[r["neighbor_id"]]
        assert r["neighbor_label"] != labels[r["vec_id"]]
        assert r["neighbor_id"] != r["vec_id"]
    for q in got:
        got[q].sort()
    assert got == want


def test_hard_negative_topk_rejects_non_int_and_null_labels(spark):
    from sahithi_metamorph_etl_spark.llm.similarity import hard_negative_topk

    str_emb = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "b", [0.0, 1.0])],
        "vec_id bigint, label string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="integral type"):
        hard_negative_topk(str_emb, k=1)

    null_emb = spark.createDataFrame(
        [(1, None, [1.0, 0.0]), (2, 7, [0.0, 1.0])],
        "vec_id bigint, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="null"):
        hard_negative_topk(null_emb, k=1, query_filter=F.col("vec_id") == 1)


def test_rp_rerank_unfiltered_query_side_is_bounded(spark, sf_dir):
    """With query_filter=None the broadcast rerank side must be bounded
    by the candidate stage's query ids (a left-semi against the distinct
    cand keys), never the raw corpus frame: the optimized plan carries
    the LeftSemi and results equal the explicitly-filtered twin."""
    from sahithi_metamorph_etl_spark.llm.projection import rp_rerank_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 20
    )
    df = rp_rerank_topk(emb, k=3, max_queries=25)
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    unfiltered = df.collect()
    assert {r["vec_id"] for r in unfiltered} == set(range(20))
    filtered = rp_rerank_topk(
        emb, k=3, query_filter=F.col("vec_id") < 20
    ).collect()
    canon = lambda rows: sorted(
        (r["vec_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in rows
    )
    assert canon(unfiltered) == canon(filtered)


def test_jl_random_projection_matches_sequential_fold_zero_shuffle(spark, sf_dir):
    import numpy as np

    from sahithi_metamorph_etl_spark.llm.projection import (
        jl_random_projection,
        rademacher_signs,
    )
    from sahithi_metamorph_etl_spark.llm.similarity import _nround
    from sahithi_metamorph_etl_spark.operators.plancheck import plan_summary

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = jl_random_projection(emb, out_dim=16, in_dim=64)
    s = plan_summary(df)
    # pure map over the scan: no shuffle, no Python stage, one scan
    assert s.shuffles == 0 and s.python_stages == 0 and s.file_scans == 1

    signs = rademacher_signs(64, 16)
    got = {r["vec_id"]: list(r["rp"]) for r in df.collect()}
    assert all(len(v) == 16 for v in got.values())
    for r in emb.select("vec_id", "embedding").collect():
        v = [float(x) for x in r["embedding"]]
        for j in range(16):
            acc = 0.0  # the same left-to-right fold the plan pins
            for x, sgn in zip(v, signs[j]):
                acc += x * sgn
            assert got[r["vec_id"]][j] == float(_nround(acc / 4.0, 8))

    # in_dim inference on an empty frame yields an empty result
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert jl_random_projection(empty, out_dim=4).count() == 0


def test_dsir_graded_entries_release_vocab_cache(spark, sf_dir):
    """r12 verdict #5: the DSIR catalog entries must release their
    persisted vocabulary frame after materializing — two consecutive
    invocations may not grow the session's pinned-cache count (each
    call used to leave one |V|-row cached frame behind)."""
    from sahithi_metamorph_etl_spark.queries.catalog import get_query

    for name in ("doc_dsir_weights", "doc_dsir_sample"):
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        for _ in range(2):
            get_query(name).fn(spark, sf_dir).count()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after == before, (
            f"{name}: {after - before} pinned cache entr(ies) leaked "
            "across two invocations"
        )


def test_dsir_weights_separate_target_vocab(spark):
    """Docs sharing the target slice's vocabulary must outweigh docs
    that don't: build a corpus where target docs say 'alpha', others
    say 'beta', and check ordering plus the add-k lambda math on one
    word by hand."""
    import math

    from sahithi_metamorph_etl_spark.llm.textstats import dsir_logratio_weights

    rows = [
        (0, "alpha alpha gamma", "tgt"),
        (1, "alpha gamma alpha", "tgt"),
        (2, "beta beta gamma", "raw"),
        (3, "beta gamma beta", "raw"),
        (4, "alpha alpha alpha", "raw"),  # raw doc that LOOKS like target
        (5, None, "raw"),                  # no tokens: excluded by contract
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_logratio"])
        for r in dsir_logratio_weights(docs, F.col("source") == "tgt").collect()
    }
    assert 5 not in out and len(out) == 5
    assert all(n == 3 for n, _ in out.values())
    # target-vocab docs (0,1,4) outweigh beta docs (2,3)
    assert min(out[0][1], out[1][1], out[4][1]) > max(out[2][1], out[3][1])
    # hand-check lambda('alpha'): tc=4, ttot=6, rc=7, rtot=15, v=3, k=.5
    lam_alpha = math.log2((4 + 0.5) / (6 + 0.5 * 3)) - math.log2((7 + 0.5) / (15 + 0.5 * 3))
    ls = math.copysign(math.floor(abs(lam_alpha) * 1e4 + 0.5), lam_alpha)
    # doc 4 is 'alpha alpha alpha': avg == lambda('alpha') rounded
    want = math.copysign(math.floor(abs(3 * ls / 3 / 1e4) * 1e4 + 0.5), ls) / 1e4
    assert out[4][1] == want


def test_logreg_quality_classifier_matches_naive_fit(spark):
    """The distributed GD fit must equal a sequential pure-Python
    replay (same rounding ladder), be partition-independent, and
    separate a corpus with a real quality signal."""
    import math

    from sahithi_metamorph_etl_spark.llm.classifier import (
        _round6,
        logreg_quality_score,
        quality_features,
    )

    good = "the cat of the house and the dog is going to the market today"
    bad = "$$$ !!! @@@ ### %%% ^^^ &&& *** ((( )))"
    rows = (
        [(i, good + f" extra{i}", "tgt") for i in range(8)]
        + [(100 + i, bad + f" x{i}!!!", "raw") for i in range(8)]
        + [(999, None, "raw")]  # null text: excluded by contract
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    target = F.col("source") == "tgt"

    feats = {
        r["doc_id"]: (r["y"], r["x1"], r["x2"], r["x3"], r["x4"])
        for r in quality_features(docs, target).collect()
    }
    assert 999 not in feats and len(feats) == 16

    # sequential replay of logreg_fit's exact arithmetic
    w = [0.0] * 5
    for _ in range(3):
        g = [0] * 5
        n = 0
        for y, *x in feats.values():
            z = _round6(((((w[0] + w[1] * x[0]) + w[2] * x[1]) + w[3] * x[2]) + w[4] * x[3]))
            p = _round6(1.0 / (1.0 + math.exp(-z)))
            e = y - p
            for j, xv in enumerate([1.0] + x):
                t = e * xv
                g[j] += int(math.copysign(math.floor(abs(t) * 1e6 + 0.5), t))
            n += 1
        w = [_round6(w[j] + 0.5 * ((g[j] / 1e6) / n)) for j in range(5)]

    out = logreg_quality_score(docs, target).collect()
    got = {r["doc_id"]: (r["score"], r["pred"], r["is_target"]) for r in out}
    for doc_id, (y, *x) in feats.items():
        z = _round6(((((w[0] + w[1] * x[0]) + w[2] * x[1]) + w[3] * x[2]) + w[4] * x[3]))
        p = _round6(1.0 / (1.0 + math.exp(-z)))
        assert got[doc_id] == (p, p >= 0.5, y == 1.0), doc_id
    # the learned scores separate the slices on a separable corpus
    tgt_scores = [got[i][0] for i in range(8)]
    raw_scores = [got[100 + i][0] for i in range(8)]
    assert min(tgt_scores) > max(raw_scores)
    # partition-layout independence of the fit
    again = {
        r["doc_id"]: r["score"]
        for r in logreg_quality_score(docs.repartition(7), target).collect()
    }
    assert again == {k: v[0] for k, v in got.items()}


def test_dsir_gumbel_sample_respects_weights_and_layout(spark):
    """With a dominant weight gap the softmax sample must select every
    high-weight doc; keys are partition-independent and the cut is
    exactly k."""
    from sahithi_metamorph_etl_spark.llm.textstats import dsir_gumbel_sample

    rows = [(i, 10, 100.0 if i < 150 else -100.0) for i in range(300)]
    w = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint, avg_logratio double")
    out = dsir_gumbel_sample(w, k=100).collect()
    assert len(out) == 100
    assert all(r["avg_logratio"] == 100.0 for r in out)
    again = {
        (r["doc_id"], r["sample_key"])
        for r in dsir_gumbel_sample(w.repartition(13), k=100).collect()
    }
    assert again == {(r["doc_id"], r["sample_key"]) for r in out}


def test_hard_negative_property_matches_naive_on_random_corpora(spark):
    """hard_negative_topk == exhaustive cross-label ranking for ANY
    corpus — hypothesis over small discrete-valued vectors (forcing
    genuine rounded-cosine ties, so the neighbor-id tie-break is
    exercised) with random labels (including all-same-label queries,
    which must emit nothing)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _nround,
        hard_negative_topk,
    )

    vec = st.lists(
        st.sampled_from([0.0, 0.5, 1.0, -0.5]), min_size=3, max_size=3
    )

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return v / max(float(np.linalg.norm(v)), 1e-12)

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.tuples(vec, st.integers(0, 2)), min_size=3, max_size=12),
        st.integers(min_value=1, max_value=3),
    )
    def check(items, k):
        rows = [(i, [float(x) for x in v], lab) for i, (v, lab) in enumerate(items)]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>, label int"
        )
        want = {}
        for i, vi, li in rows:
            scored = sorted(
                (-float(_nround(float(unit(vi) @ unit(vj)), 8)), j, lj)
                for j, vj, lj in rows
                if lj != li
            )
            if scored:
                want[i] = [
                    (r + 1, j, lj, -s) for r, (s, j, lj) in enumerate(scored[:k])
                ]
        got = {}
        for r in hard_negative_topk(emb, k=k, query_filter=F.lit(True)).collect():
            got.setdefault(r["vec_id"], []).append(
                (r["rank"], r["neighbor_id"], r["neighbor_label"], r["cos_sim"])
            )
        for q in got:
            got[q].sort()
        assert got == want

    check()


def test_kmeans_property_matches_naive_on_random_corpora(spark):
    """kmeans_lloyd == the sequential replay for ANY vector set —
    hypothesis over small discrete-valued corpora (discrete values
    force genuine rounded-distance ties, exercising the lowest-cid
    tie-break on both sides)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sahithi_metamorph_etl_spark.llm.clustering import kmeans_lloyd

    vec = st.lists(
        st.sampled_from([0.0, 0.25, 0.5, 1.0, -0.5]), min_size=4, max_size=4
    )

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(vec, min_size=4, max_size=14),
        st.integers(min_value=2, max_value=3),
        st.integers(min_value=1, max_value=2),
    )
    def check(vecs, k, n_iter):
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        want = _naive_kmeans(rows, k=k, n_iter=n_iter)
        got = {
            r["vec_id"]: (r["cluster_id"], r["dist"])
            for r in kmeans_lloyd(emb, k=k, n_iter=n_iter).collect()
        }
        assert got == want

    check()


def test_logreg_property_matches_replay_on_random_corpora(spark):
    """Classifier fit == sequential replay for ANY corpus shape,
    including all-target, all-raw and docs of pure punctuation; an
    all-NULL corpus raises instead of dividing by zero."""
    import math

    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sahithi_metamorph_etl_spark.llm.classifier import (
        _round6,
        logreg_quality_score,
        quality_features,
    )

    word = st.sampled_from(["the", "of", "zzz", "!!!", "a1"])
    doc = st.lists(word, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=4, deadline=None)
    @given(st.lists(st.tuples(doc, st.booleans()), min_size=1, max_size=8))
    def check(items):
        rows = [(i, t, "tgt" if is_t else "raw") for i, (t, is_t) in enumerate(items)]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        target = F.col("source") == "tgt"
        feats = {
            r["doc_id"]: (r["y"], r["x1"], r["x2"], r["x3"], r["x4"])
            for r in quality_features(docs, target).collect()
        }
        w = [0.0] * 5
        for _ in range(3):
            g, n = [0] * 5, 0
            for y, *x in feats.values():
                z = _round6(((((w[0] + w[1] * x[0]) + w[2] * x[1]) + w[3] * x[2]) + w[4] * x[3]))
                p = _round6(1.0 / (1.0 + math.exp(-z)))
                e = y - p
                for j, xv in enumerate([1.0] + x):
                    t = e * xv
                    g[j] += int(math.copysign(math.floor(abs(t) * 1e6 + 0.5), t))
                n += 1
            w = [_round6(w[j] + 0.5 * ((g[j] / 1e6) / n)) for j in range(5)]
        got = {r["doc_id"]: r["score"] for r in logreg_quality_score(docs, target).collect()}
        for doc_id, (y, *x) in feats.items():
            z = _round6(((((w[0] + w[1] * x[0]) + w[2] * x[1]) + w[3] * x[2]) + w[4] * x[3]))
            assert got[doc_id] == _round6(1.0 / (1.0 + math.exp(-z)))

    check()

    all_null = spark.createDataFrame(
        [(0, None, "raw")], "doc_id bigint, text string, source string"
    )
    with _pytest.raises(ValueError, match="no scoreable"):
        logreg_quality_score(all_null, F.col("source") == "tgt")


@pytest.mark.parametrize(
    "path, want",
    [
        ("/tmp/x/c", "/tmp/x/c"),
        ("rel/idx/c", "rel/idx/c"),
        ("file:/tmp/x/c", "/tmp/x/c"),
        ("file:///tmp/x/c", "/tmp/x/c"),
        ("file://localhost/tmp/x/c", "/tmp/x/c"),
        ("file://otherhost/tmp/x/c", None),
        ("hdfs://nn/idx/c", None),
        ("hdfs:/idx/c", None),
        ("s3a://bucket/idx/c", None),
        ("s3a:/bucket/idx/c", None),
    ],
)
def test_local_sidecar_path_forms(path, want):
    """Sidecar paths resolve to the driver-local POSIX path both the
    pyarrow and the Hadoop FS layer read; a file: URI on another host
    and every other scheme — single-slash forms included — raise."""
    from sahithi_metamorph_etl_spark.llm.similarity import _local_sidecar_path

    if want is None:
        with pytest.raises(ValueError, match="driver-local"):
            _local_sidecar_path(path)
    else:
        assert _local_sidecar_path(path) == want


def test_sidecar_local_path_contract(tmp_path):
    """ADVICE_r21: the pyarrow sidecar fast path is driver-local POSIX
    I/O while codes/lists in the same index_path go through Spark's
    Hadoop FS — a remote-scheme index_path must fail fast instead of
    silently splitting the index across storage systems; file: URIs
    resolve to the same POSIX path either layer would use."""
    import pyarrow as pa
    import pytest as _pytest

    from sahithi_metamorph_etl_spark.llm.similarity import (
        _local_sidecar_path,
        _sidecar_rows,
        _sidecar_write,
    )

    assert _local_sidecar_path("/tmp/x/centroids") == "/tmp/x/centroids"
    assert _local_sidecar_path("file:///tmp/x/c") == "/tmp/x/c"
    for bad in ("hdfs://nn/idx/centroids", "s3a://bucket/idx/minmax"):
        with _pytest.raises(ValueError, match="driver-local"):
            _local_sidecar_path(bad)

    side = str(tmp_path / "side")
    _sidecar_write(
        f"file://{side}",
        {"pos": [0, 1], "v": [1.5, 2.5]},
        pa.schema([("pos", pa.int32()), ("v", pa.float64())]),
    )
    # readable through both the raw path and the file: URI
    assert _sidecar_rows(side) == _sidecar_rows(f"file://{side}") == [
        {"pos": 0, "v": 1.5},
        {"pos": 1, "v": 2.5},
    ]
    with _pytest.raises(ValueError, match="driver-local"):
        _sidecar_write("s3a://b/x", {"pos": [0]}, pa.schema([("pos", pa.int32())]))
