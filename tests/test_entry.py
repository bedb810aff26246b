"""Local mirror of the driver's correctness gate: run each __spark_entry__
query on Spark AND its oracle SQL on DuckDB at sf0.01; compare row count,
column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            continue
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(4)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def _kind(col: pd.Series) -> str:
    if pd.api.types.is_integer_dtype(col):
        return "int"
    if pd.api.types.is_float_dtype(col):
        return "float"
    return "other"


def _neg_zeros(col: pd.Series) -> int:
    return int(((col == 0) & np.signbit(col)).sum())


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_vs_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    got = q(spark, SF_DIR).toPandas()
    if sql is None:
        # rows-only contract (non-SQL-expressible op): runs + stable schema
        assert len(got) >= 0
        return
    want = duck.execute(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: cols {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    # dtype kind and signed zero: both survive the value compare below
    # (int 3 == float 3.0; -0.0 == 0.0) yet change the result hash
    for c in got.columns:
        assert _kind(got[c]) == _kind(want[c]), (
            f"{name}: column {c} dtype {got[c].dtype} vs {want[c].dtype}"
        )
        if _kind(got[c]) == "float":
            assert _neg_zeros(got[c]) == _neg_zeros(want[c]), (
                f"{name}: column {c} has {_neg_zeros(got[c])} -0.0 values "
                f"vs {_neg_zeros(want[c])}"
            )
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c].tolist(), w[c].tolist()
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            ok = all(
                (math.isnan(a) and math.isnan(b)) or abs(a - b) < 1e-6
                for a, b in zip(gv, wv)
            )
        else:
            ok = gv == wv
        assert ok, f"{name}: column {c} differs; head: {gv[:5]} vs {wv[:5]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"url", "host", "host_rank", "effective_priority"}


def test_minhash_oracle_corpus_invariant(spark):
    """q_minhash_lsh's exact all-pairs oracle is sound only while the
    corpus has no moderate-similarity pairs: banded LSH at bands=32/rows=2
    misses a J=0.5 true pair w.p. ~1e-4, but a J>=0.85 pair w.p. <1e-20.
    Pin the generator invariant (no pairs with 0.4 <= J < 0.85) so data
    drift fails loudly here instead of as a rare driver hash flake
    (ADVICE r2)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sims = [
        r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()
    ]
    assert sims, "corpus lost its true near-dup pairs"
    assert min(sims) >= 0.85, f"moderate-similarity pair: min J={min(sims)}"
