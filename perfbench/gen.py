"""Seeded input generator for the benchmark.

``base_tables`` writes the ten catalog tables (TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as single parquet
files whose shapes and value distributions follow the engine's
reference test data: key ranges, categorical domains, 5 % near-duplicate
documents, unit-norm 64-d embeddings. Everything is drawn from
``numpy.random.default_rng(seed)``, so the same seed gives byte-identical
files and another seed gives different ones.

``stage`` builds a replicated dataset from the base tables: fact tables
go through ``ladder.replicate`` (k replicas with offset keys, salted
document words, rotated embeddings) and are written back as single
parquet files, so scans are native and the DuckDB oracle reads the same
files. ``stage_messages`` writes the request-topic traffic of
``streaming.pipeline.request_messages`` for a dataset, and
``split_traffic`` splits it into files by a seeded hash. Staged data is
cached under directories keyed by (seed, scale, replicas, ``VERSION``);
bump ``VERSION`` whenever the derivation changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
# datasets per checkout: a run with seed s uses base seed s % 4
DATASETS = 4

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
SHIP_DAY0 = np.datetime64("1995-01-02", "us")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf 1 = 6 M lineitems)."""
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng, day0, n_days: int, n: int) -> np.ndarray:
    return day0 + rng.integers(0, n_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 101, n)
    ]
    # 5 % near-duplicates (another document plus one word) and a few
    # exact copies: the dedup operators have real work to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, ORDER_DAY0, 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, SHIP_DAY0, 2498, nl),
        }
    )
    offs = np.sort(rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": EVENT_T0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _publish(tmp: str, final: str) -> str:
    """Atomically move a finished staging dir into place."""
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def base_tables(root: str, seed: int, sf: float) -> str:
    """Directory of the ten base tables for (seed, sf), written once."""
    final = data_path(root, seed, sf, 1)
    if staged(final):
        return final
    tmp = f"{final}._staging_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, final)


def _single_file(spark_out: str, dest: str) -> None:
    """Move the one part file of a coalesced Spark write to ``dest``."""
    parts = [f for f in os.listdir(spark_out) if f.startswith("part-")]
    if len(parts) != 1:
        raise RuntimeError(f"expected one part file in {spark_out}, got {parts}")
    os.rename(os.path.join(spark_out, parts[0]), dest)
    shutil.rmtree(spark_out)


def data_path(root: str, seed: int, sf: float, k: int) -> str:
    if k <= 1:
        return os.path.join(root, f"base-v{VERSION}-sf{sf}-seed{seed}")
    return os.path.join(root, f"data-v{VERSION}-sf{sf}-x{k}-seed{seed}")


def messages_path(root: str, data_dir: str) -> str:
    return os.path.join(root, f"messages-v{VERSION}-{os.path.basename(data_dir)}")


def staged(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def ensure(root: str, seed: int, sf: float, k: int, messages: bool = False):
    """(dataset dir, request-message dir or None) for a run with ``seed``,
    staged first if missing. Datasets come from base seed
    ``seed % DATASETS``, so they are staged a few times per checkout,
    not once per seed, and runs differ less by their data than by the
    seeded traffic split and query order. Staging that needs Spark runs
    in a child process with its own session: the caller's JVM is never
    warmed by it, and set-up costs the same whether or not the inputs
    were cached."""
    seed %= DATASETS
    if k <= 1:
        return base_tables(root, seed, sf), None
    data = data_path(root, seed, sf, k)
    msgs = messages_path(root, data) if messages else None
    if not (staged(data) and (msgs is None or staged(msgs))):
        import subprocess
        import sys

        cmd = [sys.executable, os.path.abspath(__file__), root, str(seed), str(sf), str(k), str(int(messages))]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    for p in (data, msgs):
        if p is not None:
            os.utime(p)  # most recently used, for prune
    return data, msgs


def stage(spark, root: str, seed: int, sf: float, k: int) -> str:
    """Dataset directory for (seed, sf, k): base tables with every fact
    table replicated k times by ``ladder.replicate``."""
    from financial_tracker_etl_spark import catalog, ladder

    base = base_tables(root, seed, sf)
    if k <= 1:
        return base
    final = data_path(root, seed, sf, k)
    if staged(final):
        return final
    tmp = f"{final}._staging_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in catalog.TABLES:
        src = catalog.table_path(base, name)
        dest = catalog.table_path(tmp, name)
        if name not in ladder.FACT_KEYS:
            shutil.copyfile(src, dest)
            continue
        out = dest + ".spark"
        # several row groups per file, so a scan splits across cores
        ladder.replicate(spark.read.parquet(src), name, k).coalesce(1).write.option(
            "parquet.block.size", 4 << 20
        ).parquet(out)
        _single_file(out, dest)
    return _publish(tmp, final)


def stage_messages(spark, root: str, data_dir: str) -> str:
    """The request-topic traffic of ``data_dir``
    (``streaming.pipeline.request_messages``) as JSON lines."""
    from financial_tracker_etl_spark.streaming.pipeline import request_messages

    final = messages_path(root, data_dir)
    if staged(final):
        return final
    tmp = f"{final}._staging_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    request_messages(spark, data_dir).write.json(tmp)
    return _publish(tmp, final)


def split_traffic(messages_dir: str, dest: str, seed: int, n_files: int) -> str:
    """Split the staged messages into ``n_files`` JSON files, the file of
    each message chosen by a seeded hash; lines are sorted inside a file,
    so the bytes depend only on the messages and the seed."""
    salt = zlib.crc32(f"seed={seed}".encode())
    buckets: list[list[bytes]] = [[] for _ in range(n_files)]
    for f in sorted(os.listdir(messages_dir)):
        if f.startswith("part-"):
            with open(os.path.join(messages_dir, f), "rb") as fh:
                for line in fh:
                    buckets[zlib.crc32(line, salt) % n_files].append(line)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for i, lines in enumerate(buckets):
        lines.sort()
        with open(os.path.join(dest, f"part-{i:05d}.json"), "wb") as fh:
            fh.writelines(lines)
    return dest


def digest(path: str) -> str:
    """Content hash of every data file under ``path`` (names included),
    for the same-seed-same-inputs check. Parquet files are hashed by
    their decoded table: Spark's writer lists each column chunk's
    encodings in hash-set order, so equal data can differ in footer
    bytes. Other files are hashed byte for byte."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            if f.endswith(".parquet"):
                sink = pa.BufferOutputStream()
                table = pq.read_table(p)
                with pa.ipc.new_stream(sink, table.schema) as w:
                    w.write_table(table)
                h.update(sink.getvalue().to_pybytes())
            else:
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def prune(root: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used staged entries."""
    if not os.path.isdir(root):
        return
    entries = [os.path.join(root, e) for e in os.listdir(root)]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on end of input
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> None:
    """``gen.py ROOT SEED SF K MESSAGES``: stage one replicated dataset
    and, when MESSAGES is 1, its request messages."""
    import sys

    root, seed, sf, k, messages = argv[0], int(argv[1]), float(argv[2]), int(argv[3]), argv[4] == "1"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from financial_tracker_etl_spark.session import get_spark

    spark = get_spark("perfbench-stage")
    try:
        data = stage(spark, root, seed, sf, k)
        if messages:
            stage_messages(spark, root, data)
    finally:
        stop_session(spark)


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
