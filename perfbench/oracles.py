"""Independent answers the benchmark checks the program's outputs against.

- Final table state and change feed: ``tests/oracle.replay_oracle``, the
  sequential row-by-row reducer. It is slow, so it runs outside the timed
  window, on key shards in a few worker processes: the WAL is split by
  ``hash(repo, path)`` and every shard keeps all schema events. Last-writer
  -wins is per key and schema events are chunk barriers applied to every
  key, so the union of the shard answers is the whole-WAL answer.
- Headline queries: the DuckDB SQL in ``queries.ORACLES`` over the same
  parquet files, compared as in the repository's own DuckDB gate.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import zlib
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from typing import Any

FP_COLS = ("repo", "path", "commit", "lang", "content_sha256", "last_seq")
# key shards of the replay oracle and the processes that reduce them
ORACLE_SHARDS = 16
ORACLE_WORKERS = min(4, os.cpu_count() or 1)
NULL = "\x00"


def _shard_worker(args: tuple[str, str, int, int, int]) -> tuple[dict, dict]:
    root, wal_dir, n_shards, shard, mid_chunk = args
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    import duckdb

    from tests.oracle import replay_oracle

    out = os.path.join(os.path.dirname(wal_dir), f"oracle-shard-{shard}")
    ops = "('add_column','rename_column','promote_type','drop_column')"
    con = duckdb.connect()
    try:
        con.execute(
            f"""
            COPY (
              SELECT * FROM read_parquet('{wal_dir}/chunk=*/*.parquet', hive_partitioning=true)
              WHERE coalesce(op IN {ops}, false)
                 OR hash(coalesce(repo, ''), coalesce(path, '')) % {n_shards} = {shard}
            ) TO '{out}' (FORMAT parquet, PARTITION_BY (chunk), OVERWRITE_OR_IGNORE)
            """
        )
    finally:
        con.close()
    final = replay_oracle(out)
    for d in os.listdir(out):
        if d.startswith("chunk=") and int(d.split("=", 1)[1]) > mid_chunk:
            shutil.rmtree(os.path.join(out, d))
    return final, replay_oracle(out)


def replay_states(root: str, wal_dir: str, mid_chunk: int) -> tuple[dict, dict]:
    """Oracle final state of the whole WAL and the state after chunks
    ``<= mid_chunk``: ``{(repo, path): row}``."""
    final: dict = {}
    mid: dict = {}
    with ProcessPoolExecutor(max_workers=ORACLE_WORKERS, mp_context=get_context("spawn")) as pool:
        for f, m in pool.map(_shard_worker, [(root, wal_dir, ORACLE_SHARDS, i, mid_chunk) for i in range(ORACLE_SHARDS)]):
            final.update(f)
            mid.update(m)
    return final, mid


# ---- final-state fingerprint -------------------------------------------------


def _fp_str(vals: list[Any]) -> str:
    return "\x1f".join(NULL if v is None else str(v) for v in vals)


def oracle_fingerprint(state: dict, extra_col: str | None) -> tuple[int, int]:
    """(live rows, sum of crc32 per row) — the same sum ``table_fingerprint``
    computes in Spark. Content enters through its own sha256."""
    total = 0
    for row in state.values():
        vals = [row.get(c) for c in FP_COLS]
        vals.append(hashlib.sha256((row.get("content") or "").encode()).hexdigest())
        if extra_col is not None:
            v = row.get(extra_col)
            vals.append(None if v is None else f"{float(v):.6f}")
        total += zlib.crc32(_fp_str(vals).encode())
    return len(state), total


def table_fingerprint(df, extra_col: str | None) -> tuple[int, int]:
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in FP_COLS]
    cols.append(F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
    if extra_col is not None:
        # format_string renders a null argument as "null": test it first
        q = F.col(extra_col)
        cols.append(F.when(q.isNull(), F.lit(NULL)).otherwise(F.format_string("%.6f", q)))
    row = df.select(F.crc32(F.concat_ws("\x1f", *cols)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


# ---- probes and change feed ---------------------------------------------------


def probe_ok(rows: list, key: tuple[str, str], state: dict) -> bool:
    live = [r for r in rows if not r["is_deleted"]]
    want = state.get(key)
    if want is None:
        return not live
    if len(live) != 1:
        return False
    got = live[0]
    return all(got[c] == want.get(c) for c in ("commit", "lang", "content", "content_sha256", "last_seq"))


def expected_changes(before: dict, after: dict) -> dict[tuple[str, str], tuple[str, str, int]]:
    """Logical feed between two oracle states: key -> (change type, sha,
    last_seq), the pre-image for deletes."""
    out = {}
    for k, row in after.items():
        old = before.get(k)
        if old is None:
            out[k] = ("insert", row["content_sha256"], row["last_seq"])
        elif any(old.get(c) != row.get(c) for c in ("commit", "lang", "content", "content_sha256", "last_seq")):
            out[k] = ("update", row["content_sha256"], row["last_seq"])
    for k, row in before.items():
        if k not in after:
            out[k] = ("delete", row["content_sha256"], row["last_seq"])
    return out


def changes_ok(rows: list, want: dict) -> bool:
    got = {(r["repo"], r["path"]): (r["_change_type"], r["content_sha256"], r["last_seq"]) for r in rows}
    return len(got) == len(rows) and got == want


# ---- headline queries ---------------------------------------------------------


def _normalize(df):
    import pandas as pd

    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(s) or str(s.dtype) in ("UInt64", "Int32", "Int64"):
            out[c] = s.astype("float64")
        elif s.dtype == object:
            try:
                out[c] = s.astype("float64")
            except (ValueError, TypeError):
                pass
    out = out.reindex(sorted(out.columns), axis=1)
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frames_match(got, want) -> bool:
    """Order-insensitive equality with the DuckDB gate's float tolerance."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a, b = _normalize(got), _normalize(want)
    for col in a.columns:
        for x, y in zip(a[col].tolist(), b[col].tolist()):
            try:
                if pd.isna(x) and pd.isna(y):
                    continue
            except (TypeError, ValueError):
                pass
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if abs(x - y) > 1e-6 + 1e-9 * abs(y):
                    return False
            elif x != y:
                return False
    return True


# emb_neardup_pairs calls embedding_neardup_pairs with these LSH settings
# (n_planes=6, n_tables=3, the default seed 42) over the embeddings plus a
# perturbed twin at vec_id + 100000 for every vec_id < 50
NEARDUP_LSH = {"n_planes": 6, "seed": 42, "n_tables": 3}
NEARDUP_TWIN_OFFSET = 100000


def _neardup_vectors(sf_dir: str, ids: set[int]):
    """The query's input vectors for ``ids``, computed as the query does:
    float32 embeddings as doubles, twins scaled per component by
    1 + ((id0 * 13 + i * 7) % 11 - 5) / 200."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]).to_pydict()
    base = {int(i): np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in zip(t["vec_id"], t["embedding"])}
    out = {}
    for i in ids:
        if i < NEARDUP_TWIN_OFFSET:
            out[i] = base[i]
        else:
            i0 = i - NEARDUP_TWIN_OFFSET
            v = base[i0]
            out[i] = v * (1 + (((i0 * 13 + np.arange(len(v)) * 7) % 11) - 5) / 200.0)
    return out


def neardup_pairs_ok(got, want, sf_dir: str) -> tuple[bool, int]:
    """Exact check of ``emb_neardup_pairs`` against the brute-force answer:
    the same pairs with the same cosines, except that a true pair may be
    missing when the operator's own plane family puts its two vectors in
    different buckets in every table. That is the miss the operator
    documents (P = (1 - (1 - theta/pi)^planes)^tables); any other
    difference fails. Returns (ok, pairs missed by that split)."""
    import numpy as np

    from observability_platform___databricks_etl_pipeline_spark.operators.similarity import _plane_family

    def pairs(df) -> dict[tuple[int, int], float]:
        return {(int(a), int(b)): float(c) for a, b, c in zip(df["id_a"], df["id_b"], df["cosine"])}

    g, w = pairs(got), pairs(want)
    if len(g) != len(got) or any(k not in w or abs(c - w[k]) > 1e-6 for k, c in g.items()):
        return False, 0
    missed = set(w) - set(g)
    if not missed:
        return True, 0
    vecs = _neardup_vectors(sf_dir, {i for pair in missed for i in pair})
    dim = len(next(iter(vecs.values())))
    planes_all, weights = _plane_family(dim, **NEARDUP_LSH)

    def buckets(i: int):  # one id per table, as the operator computes them
        return (np.einsum("tpd,d->tp", planes_all, vecs[i]) > 0) @ weights

    split = all(np.all(buckets(a) != buckets(b)) for a, b in missed)
    return split, len(missed)


def duckdb_answers(sf_dir: str, sqls: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    try:
        for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}
    finally:
        con.close()
