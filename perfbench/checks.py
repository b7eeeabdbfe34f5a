"""Correctness checks the benchmark runs outside its timed regions.

* Table state: per-row ``sha256(content)`` of the lake table against the
  pandas fold oracle (`cdc.oracle`), compared as one digest.
* Change feed: the changelog fold of a commit window against the
  snapshot diff of the same window.
* Query results: a Spark result against its DuckDB oracle, with the
  comparison the repository's oracle test suite uses (same columns, same
  row count, order-insensitive values, floats compared exactly). It is
  restated here because importing that test module runs git and a
  child interpreter (the `__spark_entry__` query rotation).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def state_digest(rows: pd.DataFrame) -> str:
    """Digest of a ``(repo, path, sha256)`` frame, independent of row order."""
    rows = rows.sort_values(["repo", "path"], kind="mergesort")
    h = hashlib.sha256()
    for repo, path, sha in zip(rows["repo"], rows["path"], rows["sha256"]):
        h.update(f"{repo}\t{path}\t{sha or ''}\n".encode())
    return h.hexdigest()


def table_digest(spark, table) -> str:
    from pyspark.sql import functions as F

    rows = (
        table.read(spark)
        .select("repo", "path", F.sha2("content", 256).alias("sha256"))
        .toPandas()
    )
    return state_digest(rows)


def oracle_digest(events: pd.DataFrame) -> str:
    from image_deid_etl_spark.cdc.oracle import fold_feed, sha256_state

    return state_digest(sha256_state(fold_feed(events)))


def changes_mismatch(spark, table, from_sid: int) -> str | None:
    """None when the changelog fold equals the snapshot diff over
    ``(from_sid, head]``, else a one-line reason."""
    from pyspark.sql import functions as F

    def frame(use_changelog: bool) -> pd.DataFrame:
        df = table.read_changes(spark, from_sid, use_changelog=use_changelog)
        return canon(
            df.select(
                "repo", "path", "commit_seq", "_change_type",
                F.sha2("content", 256).alias("sha256"),
            ).toPandas()
        )

    fold, diff = frame(True), frame(False)
    if fold.equals(diff):
        return None
    return f"changelog fold ({len(fold)} rows) != snapshot diff ({len(diff)} rows)"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` matches the oracle frame ``exp``, else a reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} != {len(exp)}"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            for a, b in zip(gv, ev):
                if isinstance(a, float) and isinstance(b, float):
                    if not (a == b or (math.isnan(a) and math.isnan(b))):
                        return f"{c}: {a!r} != {b!r}"
                elif str(a) != str(b):
                    return f"{c}: {a!r} != {b!r}"
        else:
            try:
                pd.testing.assert_series_equal(
                    gv, ev, check_dtype=False, check_names=False
                )
            except AssertionError as exc:
                return f"{c}: {str(exc).splitlines()[0]}"
    return None
