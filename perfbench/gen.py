"""Seeded input generator, kept apart from the system under test.

Every input the benchmark feeds the engine is derived here from the
committed sf0.01 fixture tables (``fixture/``) and a seed, with pyarrow,
numpy and DuckDB only.  Each maker also returns the values the run's
checks compare against, computed without the engine.  Results are cached
per (workload, seed, fixture) under ``.cache/`` so generation never
lands inside a timed region or in ``setup_s``; the gates' oracle
digests, which no seed changes, are cached once per fixture.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from checks import frame_digest

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")
CACHE = os.path.join(HERE, ".cache")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
# Bump when a maker changes what it writes: the cache key includes it.
GEN_VERSION = 11

# convert: the byte-leg corpora are the seeded lineitem split, hardlinked
# this many times (enough bytes that per-job fixed cost stays a minority
# of each leg sample).
CSV_COPIES = 1
PARQUET_COPIES = 4
DRIFT_VARIANTS = 6
DRIFT_FILES = 2 * DRIFT_VARIANTS
DRIFT_ROWS = 50
CSV_PIECES = 6
STREAM_TRIGGER_FILES = 2
WORKLOAD_IDS = {"convert": 1, "gates": 2}
# gates: a fixed subset of the registered gates per family, small enough
# that set-up, the checked warm-up pass and a timed pass fit one run.
# llm covers MinHash-LSH blocking, the text-statistics and
# branch-parallel paths, and in similarity.py exact top-k, LSH-blocked
# pairs and semantic dedup.  The ANN-tier gates (embed_ann_quantized,
# embed_ann_bucketed, embed_ann_ivf_quantized, embed_ann_recall) add
# 3-15 s a pass each and do not fit.  rel covers the q*, rel_*, events_*
# and engine_* families.  The stream_* gates are left out: they stage on
# /dev/shm, outside the directory a benchmark run may write to.
LLM_GATES = [
    "dedup_minhash_family", "text_doc_scores", "text_df_assoc",
    "embed_exact", "dedup_semantic",
]
REL_GATES = [
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "rel_semi_anti_join", "events_json_extract", "engine_widen_union",
]
GATES = LLM_GATES + REL_GATES


def fixture_fingerprint() -> str:
    """Fingerprint of the fixture files and of GEN_VERSION."""
    h = hashlib.sha1(f"gen-v{GEN_VERSION}".encode())
    for t in TABLES:
        with open(os.path.join(FIXTURE, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(workload: str, seed: int):
    """(input dir, expected values) for ``workload`` at ``seed``, built
    on first use and reused afterwards.  The build writes to a private
    temp dir and renames it into place, so a killed build never leaves a
    half-written entry that a later run would trust."""
    d = os.path.join(CACHE, f"{workload}-s{seed}-{fixture_fingerprint()}")
    meta = os.path.join(d, "expect.json")
    if not os.path.exists(meta):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng([seed, WORKLOAD_IDS[workload]])
        expect = MAKERS[workload](tmp, rng)
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expect, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta) as f:
        return d, json.load(f)


# ---- shared helpers ---------------------------------------------------


def read_fixture(table: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURE, f"{table}.parquet"))


def permuted(tbl: pa.Table, rng: np.random.Generator) -> pa.Table:
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def split_points(n_rows: int, n_parts: int, rng: np.random.Generator) -> list[int]:
    """Sorted cut points (0 and n_rows included) for a random split of
    ``n_rows`` into ``n_parts`` non-empty pieces."""
    n_parts = max(1, min(n_parts, n_rows))
    inner = rng.choice(np.arange(1, n_rows), n_parts - 1, replace=False)
    return [0, *sorted(int(x) for x in inner), n_rows]


def write_split(tbl: pa.Table, out_dir: str, n_parts: int,
                rng: np.random.Generator, fmt: str = "parquet") -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    cuts = split_points(tbl.num_rows, n_parts, rng)
    paths = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        piece = tbl.slice(a, b - a)
        path = os.path.join(out_dir, f"part-{i:04d}.{fmt}")
        if fmt == "csv":
            pacsv.write_csv(piece, path)
        else:
            pq.write_table(piece, path)
        paths.append(path)
    return paths


def replicate(files: list[str], dest: str, copies: int) -> int:
    """Hardlink ``files`` ``copies`` times under ``dest``; returns the
    corpus's total bytes."""
    os.makedirs(dest, exist_ok=True)
    total = 0
    for c in range(copies):
        for f in files:
            dst = os.path.join(dest, f"rep{c:03d}_{os.path.basename(f)}")
            try:
                os.link(f, dst)
            except OSError:
                shutil.copy(f, dst)
            total += os.path.getsize(f)
    return total


def duck(dir_: str | None = None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection on UTC with a view per table found in
    ``dir_`` (each table a parquet file or a directory of parts)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    if dir_ is not None:
        for t in TABLES:
            p = os.path.join(dir_, f"{t}.parquet")
            if os.path.exists(p):
                src = f"{p}/*.parquet" if os.path.isdir(p) else p
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
                )
    return con


_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
            "DOUBLE", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def content_digest(con: duckdb.DuckDBPyConnection, rel: str) -> dict:
    """Order-insensitive row digest of a relation, typed so that the
    same values read back from csv or parquet agree: numbers hash as
    DOUBLE, timestamps (typed, or text that parses as one) as epoch
    microseconds, the rest as text, columns in name order.  Returns row count, column names and the digest."""
    cols = sorted(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    )
    exprs = []
    for name, typ in cols:
        q = '"' + name.replace('"', '""') + '"'
        if typ.startswith("DECIMAL") or typ in _NUMERIC:
            exprs.append(f"CAST({q} AS DOUBLE)")
        elif typ.startswith("TIMESTAMP") or typ == "DATE":
            exprs.append(f"CAST(epoch_us(CAST({q} AS TIMESTAMP)) AS VARCHAR)")
        else:
            # a timestamp kept as text by one reader is the same value
            exprs.append(
                f"coalesce(CAST(epoch_us(TRY_CAST({q} AS TIMESTAMP)) AS VARCHAR),"
                f" CAST({q} AS VARCHAR))"
            )
    n, s = con.execute(
        f"SELECT count(*), sum(hash({', '.join(exprs)})) FROM {rel}"
    ).fetchone()
    return {
        "rows": int(n),
        "cols": [c for c, _ in cols],
        "digest": str(int(s or 0) % (1 << 64)),
    }


# ---- convert -----------------------------------------------------------


def _drift_files(out_dir: str, rng: np.random.Generator) -> dict:
    """``DRIFT_FILES`` small csv and parquet files in ``DRIFT_VARIANTS``
    schema variants (two files each, one csv and one parquet).  The seed
    draws each variant's columns (five numeric of ten, one string of
    three; two variants rename one numeric column) and each file's
    numeric types (int or float): the concat must discover, probe each
    file's schema, widen int+float columns and align many schema groups.
    The counts are fixed, so every seed asks for the same amount of work."""
    os.makedirs(out_dir)
    variants = []
    for v in range(DRIFT_VARIANTS):
        names = [f"n{c}" for c in rng.choice(10, 5, replace=False)]
        if v < 2:
            names[0] += "_alt"  # a renamed column: a group of its own
        variants.append([*names, f"s{int(rng.integers(3))}"])
    nonnull: dict[str, int] = {}
    rows = 0
    for i in range(DRIFT_FILES):
        n = DRIFT_ROWS
        cols: dict[str, pa.Array] = {"id": pa.array(np.arange(rows, rows + n))}
        for name in variants[i // 2]:
            if name.startswith("s"):
                words = rng.choice(["alpha", "beta", "gamma", "delta"], n)
                cols[name] = pa.array(
                    [f"{w}-{j}" for w, j in zip(words, rng.integers(0, 99, n))]
                )
            elif rng.random() < 0.5:
                cols[name] = pa.array(rng.integers(-1000, 1000, n))
            else:
                cols[name] = pa.array(np.round(rng.normal(0, 100, n), 3))
        tbl = pa.table(cols)
        if i % 2:
            pacsv.write_csv(tbl, os.path.join(out_dir, f"f{i:04d}.csv"))
        else:
            pq.write_table(tbl, os.path.join(out_dir, f"f{i:04d}.parquet"))
        rows += n
        for name in cols:
            nonnull[name] = nonnull.get(name, 0) + n
    return {"files": DRIFT_FILES, "rows": rows, "nonnull": nonnull}


def write_tables(out: str, tables: list[str], rng: np.random.Generator) -> None:
    """Seeded copies of fixture tables, each a directory of 1-4 parquet
    parts (rows permuted, split points random)."""
    for t in tables:
        tbl = permuted(read_fixture(t), rng)
        n_parts = int(rng.integers(1, 5)) if tbl.num_rows >= 100 else 1
        write_split(tbl, os.path.join(out, f"{t}.parquet"), n_parts, rng)


def build_convert(out: str, rng: np.random.Generator) -> dict:
    li = permuted(read_fixture("lineitem"), rng)
    pieces = CSV_PIECES
    # the csv and parquet seeds share one row order and one file split
    cut_rng = np.random.default_rng(rng.integers(1 << 62))
    csv_seed = write_split(li, os.path.join(out, "seed_csv"), pieces, cut_rng, "csv")
    cut_rng = np.random.default_rng(rng.integers(1 << 62))
    pq_seed = write_split(li, os.path.join(out, "seed_pq"), pieces, cut_rng)
    csv_bytes = replicate(csv_seed, os.path.join(out, "csv"), CSV_COPIES)
    pq_bytes = replicate(pq_seed, os.path.join(out, "parquet"), PARQUET_COPIES)
    con = duck()
    one_csv = content_digest(
        con, f"read_csv('{out}/seed_csv/*.csv', header=true)"
    )
    one_pq = content_digest(con, f"read_parquet('{out}/seed_pq/*.parquet')")
    # replicas repeat every row `copies` times: scale the additive digest
    scale = lambda d, k: {  # noqa: E731
        "rows": d["rows"] * k, "cols": d["cols"],
        "digest": str(int(d["digest"]) * k % (1 << 64)),
    }
    return {
        "csv_dir": "csv", "csv_bytes": csv_bytes,
        "csv_files": CSV_COPIES * pieces,
        "parquet_dir": "parquet", "parquet_bytes": pq_bytes,
        "csv_digest": scale(one_csv, CSV_COPIES),
        "parquet_digest": scale(one_pq, PARQUET_COPIES),
        "drift_dir": "drift",
        "drift": _drift_files(os.path.join(out, "drift"), rng),
    }


# ---- gates -------------------------------------------------------------


def oracle_digests() -> dict:
    """Each gate's DuckDB oracle digest over the fixture tables.

    A seed changes only row order and file splits, never content, so the
    digests are computed once per (fixture, oracle SQL) and shared by
    every seed: computing them takes about 7 s on a 4-core host, a tenth
    of a gates run, and each run of a sweep uses a new seed."""
    sys_path_add_repo()
    import streaming_parquet_spark.queries_ext  # noqa: F401
    import streaming_parquet_spark.queries_tpch  # noqa: F401
    from streaming_parquet_spark.queries import ORACLES

    sqls = {g: ORACLES[g] for g in GATES}
    key = hashlib.sha1(
        (fixture_fingerprint() + json.dumps(sqls, sort_keys=True)).encode()
    ).hexdigest()[:12]
    path = os.path.join(CACHE, f"oracles-{key}.json")
    if not os.path.exists(path):
        con = duck(FIXTURE)
        digests = {g: frame_digest(con.execute(q).df()) for g, q in sqls.items()}
        os.makedirs(CACHE, exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "w") as f:
            json.dump(digests, f, sort_keys=True)
        os.rename(f"{path}.tmp{os.getpid()}", path)
    with open(path) as f:
        return json.load(f)


def build_gates(out: str, rng: np.random.Generator) -> dict:
    """The fixture tables with their rows permuted and re-split into
    1-4 files each; content is unchanged, so every DuckDB oracle holds
    for any seed.  Expected values: each gate's oracle digest."""
    write_tables(out, TABLES, rng)
    return {"oracle": oracle_digests()}


def sys_path_add_repo() -> None:
    """The package lives beside this directory, at the checkout root."""
    import sys

    root = os.path.dirname(HERE)
    if root not in sys.path:
        sys.path.insert(0, root)


MAKERS = {"convert": build_convert, "gates": build_gates}
