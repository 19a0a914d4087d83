"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size), written with pyarrow, so
the measured process only ever sees files. The generators are the
benchmark's own: they do not import the package under test, so a change
to the package cannot change the inputs it is measured on.

Generators return the ground truth the harness checks against:

- ``tpch``: TPC-H-shaped star schema plus ``events`` with closed foreign
  keys (every o_custkey, l_orderkey, l_partkey, l_suppkey resolves);
- ``ingest``: the merge-source schema (updates, NULL ``last_modified``
  inserts, soft deletes) and the expected consolidated table;
- ``stream``: micro-batches with a controlled near-dup share and the ids
  the near-dup admission must admit.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_US = 946684800 * 10**6   # 2000-01-01 in epoch microseconds


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table), so resizing one table
    leaves the others' contents unchanged."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _ts(days: np.ndarray, base: str) -> pa.Array:
    base_us = int(dt.datetime.fromisoformat(base).replace(
        tzinfo=dt.timezone.utc).timestamp() * 10**6)
    return pa.array(base_us + days.astype(np.int64) * 86_400 * 10**6,
                    pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write region..lineitem and events at ``scale`` (1.0 = sf1 row
    counts of the fixture generator; the harness uses small fractions)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_users = max(50, n_ev // 66)
    rows = {}
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    rows["region"] = _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    rows["nation"] = _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    rows["customer"] = _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = _rng(seed, "supplier")
    rows["supplier"] = _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = _rng(seed, "part")
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    rows["part"] = _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_part) / 10, 1)})

    r = _rng(seed, "orders")
    # 1995-01-01 .. 2001-08-01 like the fixture; some customers get none.
    odays = r.integers(0, 2404, n_ord)
    rows["orders"] = _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust - n_cust // 30, n_ord),
                              pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000, 500_000),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = _rng(seed, "lineitem")
    lorder = np.sort(r.integers(0, n_ord, n_line))
    _, first = np.unique(lorder, return_index=True)
    linenum = np.arange(n_line) - np.repeat(first, np.diff(
        np.append(first, n_line)))
    qty = r.integers(1, 51, n_line).astype(np.float64)
    lpart = r.integers(0, n_part, n_line)
    rows["lineitem"] = _write(p("lineitem"), {
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + r.integers(0, 1200, n_line)
                                           / 10), 2),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(odays[lorder] + r.integers(1, 122, n_line),
                          "1995-01-01")})

    r = _rng(seed, "events")
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(r.integers(0, span_us, n_ev))
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
               .timestamp() * 10**6)
    rows["events"] = _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base + ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(60, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    return rows


# ---------------------------------------------------------------------------
# ingest: the reference's incremental-merge source schema (FIXTURES.md A2)
# ---------------------------------------------------------------------------

INGEST_SCHEMA = pa.schema([
    ("id", pa.int32()), ("value", pa.string()),
    ("last_modified", pa.timestamp("us")), ("created", pa.timestamp("us")),
    ("date", pa.string()), ("deleted", pa.int32())])


def _ingest_rows(ids, values, last_mod_s, created_s, deleted) -> pa.Table:
    created = np.asarray(created_s, dtype=np.int64)
    days = created // 86_400
    return pa.table({
        "id": pa.array(ids, pa.int32()),
        "value": pa.array(values, pa.string()),
        "last_modified": pa.array(
            [None if s is None else _EPOCH_US + s * 10**6 for s in last_mod_s],
            pa.timestamp("us")),
        "created": pa.array(_EPOCH_US + created * 10**6, pa.timestamp("us")),
        "date": [(dt.date(2000, 1, 1) + dt.timedelta(days=int(d))).isoformat()
                 for d in days],
        "deleted": pa.array(deleted, pa.int32()),
    }, schema=INGEST_SCHEMA)


def ingest(out_dir: str, seed: int, n_base: int, n_batches: int,
           batch_rows: int) -> dict:
    """Base snapshot plus ``n_batches`` cumulative source snapshots.

    Snapshot ``b`` holds everything of snapshot ``b-1`` plus a batch of
    changes: 60% fresh inserts with NULL ``last_modified``, 30% updates
    of existing ids (new value, newer ``last_modified``) and 10% soft
    deletes (``deleted=1``, newer ``last_modified``). Appends see the
    snapshots as a growing log keyed by ``id``; merges see them as a
    mutable source. Returns row counts and the expected outcome.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "ingest")
    # The source table as a dict id -> row; rows are immutable tuples.
    ids = np.arange(n_base)
    vals = [f"v{x}" for x in r.integers(0, 10**6, n_base)]
    created = r.integers(0, 86_400 * 300, n_base)
    lm = [int(c) + 60 for c in created]
    current = {int(i): (vals[k], lm[k], int(created[k]), None)
               for k, i in enumerate(ids)}
    next_id = n_base
    clock = 86_400 * 400            # every change is newer than the base
    snapshots = []

    def snapshot(tag: str) -> str:
        keys = sorted(current)
        cols = list(zip(*(current[k] for k in keys)))
        path = os.path.join(out_dir, f"{tag}.parquet")
        pq.write_table(_ingest_rows(keys, cols[0], cols[1], cols[2],
                                    cols[3]), path)
        return path

    base_path = snapshot("base")
    base_keys = len(current)
    batch_stats = []
    for b in range(n_batches):
        n_ins = int(batch_rows * 0.6)
        n_upd = int(batch_rows * 0.3)
        n_del = batch_rows - n_ins - n_upd
        live = [k for k, v in current.items() if v[3] is None]
        touched = r.choice(len(live), n_upd + n_del, replace=False)
        for j, t in enumerate(touched):
            k = live[int(t)]
            clock += 1
            val, _, cr, _ = current[k]
            if j < n_upd:
                current[k] = (f"u{b}_{r.integers(0, 10**6)}", clock, cr, None)
            else:
                current[k] = (val, clock, cr, 1)
        for _ in range(n_ins):
            clock += 1
            current[next_id] = (f"n{b}_{r.integers(0, 10**6)}", None,
                                clock, None)
            next_id += 1
        batch_stats.append({"inserted": n_ins, "updated": n_upd,
                            "deleted": n_del, "source_rows": len(current),
                            "live_rows": sum(v[3] is None
                                             for v in current.values())})
        snapshots.append(snapshot(f"batch{b}"))

    live = {k: v for k, v in current.items() if v[3] is None}
    return {
        "base": base_path,
        "base_rows": base_keys,
        "snapshots": snapshots,
        "batches": batch_stats,
        "final_live_rows": len(live),
        "final_live_hash": row_hash(
            (k, v[0]) for k, v in live.items()),
        "append_rows": next_id,
    }


def row_hash(rows) -> int:
    """Order-insensitive hash of (id, value) rows: the sum of the first
    32 bits of md5("<id>|<value>"). The harness computes the same sum in
    Spark with ``md5`` and ``conv``, so the two sides agree exactly."""
    total = 0
    for k, v in rows:
        total += int(hashlib.md5(f"{k}|{v}".encode()).hexdigest()[:8], 16)
    return total


# ---------------------------------------------------------------------------
# stream: near-dup micro-batches with ground-truth admissions
# ---------------------------------------------------------------------------

STREAM_VOCAB = 4096


def stream(out_dir: str, seed: int, n_batches: int, batch_docs: int,
           dup_share: float, tokens: int = 40) -> dict:
    """``n_batches`` parquet micro-batches of ``batch_docs`` docs.

    Fresh docs draw ``tokens`` words from a 4096-word vocabulary, so two
    fresh docs share almost no 3-shingles. A ``dup_share`` of each batch
    after the first re-sends an earlier batch's fresh doc: half exactly,
    half with one extra trailing token (3-shingle Jaccard about 0.97,
    far above the 0.5 admission threshold). Ground truth: every fresh doc
    is admitted and every re-send is rejected.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "stream")
    vocab = np.array([f"w{hashlib.md5(f'{seed}:{i}'.encode()).hexdigest()[:6]}"
                      for i in range(STREAM_VOCAB)])
    fresh_pool: list[str] = []
    admitted: list[int] = []
    paths = []
    doc_id = 0
    for b in range(n_batches):
        ids, texts = [], []
        n_dup = int(batch_docs * dup_share) if fresh_pool else 0
        for j in range(batch_docs):
            if j < n_dup:
                src = fresh_pool[int(r.integers(0, len(fresh_pool)))]
                text = src if j % 2 == 0 else \
                    f"{src} {vocab[int(r.integers(0, STREAM_VOCAB))]}"
            else:
                text = " ".join(vocab[r.integers(0, STREAM_VOCAB, tokens)])
                admitted.append(doc_id)
            ids.append(doc_id)
            texts.append(text)
            doc_id += 1
        fresh_pool.extend(texts[n_dup:])
        order = r.permutation(batch_docs)
        path = os.path.join(out_dir, f"batch{b:03d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(np.array(ids)[order], pa.int64()),
            "text": np.array(texts, dtype=object)[order]}), path)
        paths.append(path)
    return {"batches": paths, "docs": doc_id, "admitted": admitted}
