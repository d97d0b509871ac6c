"""Seeded workload inputs. The same seed gives the same inputs.

- ``write_bulk_wal``: a ``generate_changelog`` WAL with the generator's
  defaults, plus one benchmark-side DataFrame step that moves a share of
  the data events onto one ``(repo, path)`` key, like a lockfile that every
  commit touches; written with ``write_wal`` in two equal chunks.
- ``probe_keys``: a seeded mix of keys that end live, keys whose last event
  is a delete, and keys the WAL never mentions.
- ``write_query_tables``: the ten tables the headline queries read, with the
  column names and types of the TPC-H-ish test data, generated with NumPy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_KEY = ("org/hot-repo", "package-lock.json")
HOT_KEY_PCT = 20  # share of the data events moved onto HOT_KEY
SCHEMA_OPS = ("add_column", "rename_column", "promote_type", "drop_column")


def bulk_chunk_size(n_events: int) -> int:
    # seqs run to n_events + 1 (the generator parks the two displaced
    # schema-event seqs past the end), so this size gives exactly 2 chunks
    return (n_events + 3) // 2


def hot_key_changelog(spark, n_events: int, seed: int):
    """``generate_changelog`` (defaults) with ``HOT_KEY_PCT``% of the
    well-formed data events rewritten onto ``HOT_KEY``."""
    from pyspark.sql import functions as F

    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import generate_changelog

    df = generate_changelog(spark, n_events, seed=seed)
    is_data = F.col("repo").isNotNull() & ~F.coalesce(F.col("op").isin(*SCHEMA_OPS), F.lit(False))
    draw = F.pmod(F.xxhash64(F.col("seq"), F.lit(seed), F.lit(0x10CF11E)), F.lit(100))
    hot = is_data & (draw < HOT_KEY_PCT)
    return df.withColumn("repo", F.when(hot, F.lit(HOT_KEY[0])).otherwise(F.col("repo"))).withColumn(
        "path", F.when(hot, F.lit(HOT_KEY[1])).otherwise(F.col("path"))
    )


def write_bulk_wal(spark, wal_dir: str, n_events: int, seed: int) -> list[int]:
    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal

    return write_wal(
        hot_key_changelog(spark, n_events, seed), wal_dir, chunk_size=bulk_chunk_size(n_events)
    )


def probe_keys(wal_dir: str, n: int, seed: int) -> list[tuple[str, str]]:
    """``n`` keys in a seeded order: ~45% keys the WAL writes, ~20% keys
    whose last event is a delete, ~35% keys it never mentions.

    An absent key prunes to no file and its probe takes about twice as
    long as the others (~350 ms against ~180 ms on 4 cores). With 20%
    absent keys, p75 fell on the edge between the two groups and moved by
    20-35% from run to run; at 35% it falls inside the absent keys and p50
    inside the present ones."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT repo, path, arg_max(op, seq) AS last_op
            FROM read_parquet('{wal_dir}/chunk=*/*.parquet', hive_partitioning=true)
            WHERE repo IS NOT NULL AND path IS NOT NULL AND repo <> '__schema__'
            GROUP BY repo, path ORDER BY repo, path
            """
        ).fetchall()
    finally:
        con.close()
    rng = np.random.default_rng([seed, 0xB0B])
    deleted = [(r, p) for r, p, op in rows if op == "delete"]
    written = [(r, p) for r, p, op in rows if op != "delete"]
    n_del = min(len(deleted), n // 5)
    n_abs = n * 35 // 100
    n_live = n - n_del - n_abs
    pick = [written[i] for i in rng.choice(len(written), size=min(n_live, len(written)), replace=False)]
    pick += [deleted[i] for i in rng.choice(len(deleted), size=n_del, replace=False)]
    pick += [(f"org/absent-{i:04d}", f"src/none/file_{int(rng.integers(1 << 30))}.py") for i in range(n_abs)]
    if HOT_KEY not in pick:
        pick[0] = HOT_KEY
    return [pick[i] for i in rng.permutation(len(pick))]


# ---- query tables -----------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("blue", "cold", "hot", "large", "old", "red", "small", "bolt", "plate", "ring", "nut", "gear")


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"), type=pa.timestamp("us"))


def query_tables(n_lineitem: int, seed: int) -> dict[str, pa.Table]:
    """Tables sized from ``n_lineitem`` with the test data's proportions
    (orders = lineitem/4, customer = lineitem/40, part = lineitem/30,
    events = lineitem/6, documents = lineitem/120, embeddings = lineitem/300)."""
    rng = np.random.default_rng([seed, 0x0DA7A])
    n_orders = max(n_lineitem // 4, 10)
    n_cust = max(n_lineitem // 40, 10)
    n_part = max(n_lineitem // 30, 10)
    n_supp = max(n_lineitem // 600, 5)
    n_events = max(n_lineitem // 6, 100)
    n_users = max(n_events // 66, 5)
    n_docs = max(n_lineitem // 120, 60)
    n_emb = max(n_lineitem // 300, 60)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pw = np.array(_PART_WORDS)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(np.char.add(np.char.add(pw[rng.integers(0, 7, n_part)], " "), pw[rng.integers(7, 12, n_part)])),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_orders)),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)]),
        }
    )
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lineitem), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lineitem) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lineitem) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)]),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_lineitem)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)]),
            "value": np.round(rng.exponential(100.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    words = np.array(_WORDS)
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    for i in rng.choice(n_docs, size=max(n_docs // 500, 2), replace=False):  # exact dups
        texts[i] = texts[(i + 1) % n_docs]
    for i in rng.choice(n_docs, size=max(n_docs // 100, 2), replace=False):  # near dups
        toks = texts[(i + 2) % n_docs].split(" ")
        toks[int(rng.integers(len(toks)))] = str(words[int(rng.integers(len(words)))])
        texts[i] = " ".join(toks)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_query_tables(out_dir: str, n_lineitem: int, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in query_tables(n_lineitem, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
