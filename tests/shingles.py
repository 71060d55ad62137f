"""Reference hashed-shingle index for the near-dup tests, built apart
from the package's shingler (``F.when``/``F.transform`` column calls,
not the package's parsed SQL n-gram expression), so the operators are
checked against a second implementation of the same index."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def naive_hashed_shingles(docs: DataFrame, n: int = 3, cap: int | None = None) -> DataFrame:
    """Distinct ``(doc_id, shingle)`` rows, ``shingle`` the xxhash64 of
    each word ``n``-gram of ``text``; with ``cap``, shingles found in
    more than ``cap`` docs are dropped."""
    words = docs.select(
        F.col("doc_id"),
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+").alias("w"),
    )
    w = F.col("w")
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        words.select(F.col("doc_id"), F.explode(grams).alias("__s"))
        .select(F.col("doc_id"), F.xxhash64("__s").alias("shingle"))
        .distinct()
    )
    if cap is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") > cap).select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    return sh
