"""Local rehearsal of the driver's correctness gate: run the Spark plan and
the DuckDB oracle side by side, compare row count, column names, and exact
values order-insensitively."""

from __future__ import annotations

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def assert_parity(spark_df, duck_con, sql: str, name: str = "?") -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.sql(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    for col in got.columns:
        g, w = got[col], want[col]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            g = g.astype("float64")
            w = w.astype("float64")
            bad = ~((g == w) | (g.isna() & w.isna()))
        else:
            bad = ~((g.astype(object) == w.astype(object)) | (g.isna() & w.isna()))
        assert not bad.any(), (
            f"{name}: value mismatch in column {col!r}, first few:\n"
            f"spark={g[bad].head(5).tolist()}\n"
            f"duck ={w[bad].head(5).tolist()}"
        )


def bm25_keyword_reference(
    docs, query: str, k: int, owner_id=None, owner_col: str | None = None
) -> list[tuple[str, float]]:
    """Index-free reference for the facade's ``keyword`` strategy:
    ``bm25_scored`` over ``docs`` → optional owner semi-join (scores
    stay corpus-global) → top-k by (bm25 desc, NUMERIC doc_id asc).
    Returns the facade's (id, score) rows in rank order."""
    from pyspark.sql import functions as F

    from sortify_spark.search.lexical import bm25_scored

    scored = bm25_scored(docs, tuple(dict.fromkeys(query.split())))
    if owner_id is not None:
        owner_ids = docs.filter(
            F.col(owner_col).cast("string") == F.lit(str(owner_id))
        ).select("doc_id")
        scored = scored.join(F.broadcast(owner_ids), "doc_id", "left_semi")
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    return [(str(r["doc_id"]), r["bm25"]) for r in top.collect()]
