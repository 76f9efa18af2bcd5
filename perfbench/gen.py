"""Seeded input generator for the benchmark workloads.

Everything the engine reads during a benchmark run is written here from a
``numpy.random.Generator``: the same seed gives byte-identical tables. The
tables follow the schemas and value domains of the engine's fixture set
(FIXTURES.md): a TPC-H-like star schema, the ``events`` hit log, and the
``documents``/``embeddings`` corpus. Row counts scale with one factor,
``sf`` (1.0 would be 6M lineitem rows; 0.1 matches the bench fixtures).

These properties were measured on the sf0.1 fixture tables and are
reproduced here: ``events`` has 100,000 hits by 1,500 users, spread evenly
over 2024-01-01 .. 2024-01-30 and the five event types, with ``value``
close to an exponential of mean 50 rounded to cents (p10 5.35, median
34.8, p90 114). ``documents`` has 5,000 docs of 10 to 100 words drawn
from :data:`WORDS`, and 5 % of them (250) are near-duplicates: the text
of another doc with the word ``dup`` appended.

Three workload-specific shapes sit on top. The spec classes say which of
their parameters are measured, which are chosen, and what each stresses.

- :func:`write_increments` cuts an events log into sync increments with
  seeded boundaries, re-delivered rows and late rows;
- :func:`corpus_tables` plants near-duplicate clusters with Zipf-shaped
  sizes into ``documents`` and matching near-identical ``embeddings``;
- :func:`write_fixtures` writes a full fixture directory.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400_000_000  # 30 days
DATE_LO_US = 788_918_400_000_000  # 1995-01-01
DATE_HI_US = 1_004_572_800_000_000  # 2001-11-01
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: Path, ts_unit: str = "us") -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    schema = pa.schema(
        [
            f.with_type(pa.timestamp(ts_unit)) if pa.types.is_timestamp(f.type) else f
            for f in table.schema
        ]
    )
    pq.write_table(table.cast(schema), path, version="2.6")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(DATE_LO_US // DAY_US, DATE_HI_US // DAY_US, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` hits over 30 days, ordered by time, with distinct timestamps
    (so the sync key ``(client_id, hit_ts)`` never collides)."""
    ts = EVENTS_START_US + np.sort(rng.choice(EVENTS_SPAN_US, n, replace=False))
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k]),
        }
    )


def _doc_text(rng: np.random.Generator) -> list[str]:
    return list(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


@dataclass
class CorpusSpec:
    """Shape of the curation corpus (recorded in the run's output).

    The sf0.1 fixture corpus has 5,000 docs and a 5 % near-duplicate
    share, and its copies form 229 clusters of one copy and 7 of two. The
    workload keeps the share and the copy rule but plants skewed cluster
    sizes, which the fixtures lack: one hot cluster of ``max_cluster``
    copies fills one LSH bucket in every band (the pair generation that
    made ``x_lsh_tuning`` O(k^3)), and a Zipf tail of smaller clusters.
    """

    docs: int
    near_dup_share: float  # share of docs that are copies of another doc
    zipf_a: float  # cluster-size skew: P(size = s) ~ s^-a
    max_cluster: int  # copies in the one hot cluster


def cluster_sizes(spec: CorpusSpec) -> list[int]:
    """Copies per duplicated document, Zipf-shaped: clusters of size ``s``
    hold a share of the copies proportional to ``s^(1-a)``, one cluster
    has ``max_cluster`` copies (the hot bucket), and size-1 clusters take
    the remainder, so the copies add up to ``near_dup_share`` of the docs."""
    n_dup = int(round(spec.docs * spec.near_dup_share))
    weight = {s: s ** (1.0 - spec.zipf_a) for s in range(2, spec.max_cluster)}
    total = sum(weight.values()) + 1.0  # size 1 has weight 1
    sizes = [spec.max_cluster]
    for s, w in sorted(weight.items(), reverse=True):
        sizes += [s] * int(n_dup * w / total / s + 0.5)
    while sum(sizes) > n_dup:
        sizes.pop()
    return sizes + [1] * (n_dup - sum(sizes))


def corpus_tables(rng: np.random.Generator, spec: CorpusSpec) -> tuple[pa.Table, pa.Table]:
    """``documents`` + ``embeddings`` with planted near-duplicate clusters.

    ``doc_id`` is contiguous from 0 (the streaming stage loaders rely on
    it). A copy is its base document's text with the word ``dup``
    appended, the rule the sf0.1 fixture corpus follows, so the copies of
    one base are also exact duplicates of each other. Its embedding is the
    base vector plus small noise, so vector dedup sees it too; the fixture
    embeddings carry no such link. The cluster sizes are
    :func:`cluster_sizes`, the same for every seed: pair counts, and so
    the cost of the dedup keys, do not swing with a lucky draw of one huge
    cluster.
    """
    sizes = cluster_sizes(spec)
    n_dup = sum(sizes)
    n_base = spec.docs - n_dup
    bases = [_doc_text(rng) for _ in range(n_base)]
    base_vec = _unit(rng.standard_normal((n_base, 64)))
    texts, vecs = list(bases), list(base_vec)
    owners = rng.choice(n_base, len(sizes), replace=False)
    for owner, size in zip(owners, sizes):
        for _ in range(size):
            texts.append(bases[owner] + ["dup"])
            vecs.append(_unit(base_vec[owner] + 0.02 * rng.standard_normal(64)))
    order = rng.permutation(spec.docs)  # copies spread over the id range
    text = [" ".join(texts[i]) for i in order]
    emb = np.asarray(vecs, dtype=np.float32)[order]
    ids = np.arange(spec.docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(text),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, spec.docs, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, spec.docs), pa.int32()),
        }
    )
    return docs, embeddings


def write_fixtures(
    out: Path,
    rng: np.random.Generator,
    sf: float,
    corpus: CorpusSpec | None = None,
) -> None:
    """Write the ten fixture tables at scale ``sf`` into ``out``."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), out / "region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           out / "nation.parquet")
    ck = np.arange(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), out / "customer.parquet")
    sk = np.arange(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), out / "supplier.parquet")
    pk = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), out / "part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), out / "orders.parquet")
    flags = rng.integers(0, 6, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _days(rng, n_li),
    }), out / "lineitem.parquet")
    _write(events_table(rng, int(1_000_000 * sf), max(15, int(15_000 * sf))),
           out / "events.parquet")
    corpus = corpus or CorpusSpec(max(500, int(50_000 * sf)), 0.05, 2.0, 2)
    docs, emb = corpus_tables(rng, corpus)
    _write(docs, out / "documents.parquet")
    _write(emb, out / "embeddings.parquet")


@dataclass
class IncrementSpec:
    """Shape of the sync increment sequence (recorded in the run's output).

    ``rows`` and ``users`` match the sf0.1 events log. The other fields
    are chosen, not measured: there is no real delivery trace to cut them
    from. Jittered boundaries vary the increment size, so the sync's fixed
    cost and its per-row cost both show. Re-delivered rows are rows the
    target already holds, which the anti-join must drop. Late rows fall
    inside the sync's 1-hour re-extract overlap, so the report must
    rewrite a day it has already written.
    """

    increments: int
    rows: int  # rows in the whole log the increments are cut from
    users: int
    boundary_jitter: float  # each cut moves up to ± this share of the spacing
    redelivered_share: float  # of the previous increment, offered again
    late_share: float  # of rows just before a boundary, held back one increment
    late_window_min: int  # late rows come from this many minutes before a cut


def write_increments(out: Path, rng: np.random.Generator, spec: IncrementSpec) -> list[Path]:
    """Cut a seeded events log into ``spec.increments`` sync increments.

    Boundaries are equal spacing, each cut moved by up to
    ``boundary_jitter`` of the spacing. Each increment
    also re-offers ``redelivered_share`` of the previous increment's rows,
    and holds back ``late_share`` of the rows from the last
    ``late_window_min`` minutes before its end until the next increment —
    inside the pipeline's 1-hour re-extract window. Every file is an
    ``events.parquet`` with ``TIMESTAMP(NANOS)`` ``ts``. Returns the
    increment directories in delivery order.
    """
    log = events_table(rng, spec.rows, spec.users)
    ts = log.column("ts").cast(pa.int64()).to_numpy()
    step = EVENTS_SPAN_US / spec.increments
    cuts = [
        int(EVENTS_START_US + step * (i + rng.uniform(-1, 1) * spec.boundary_jitter))
        for i in range(1, spec.increments)
    ]
    bounds = [EVENTS_START_US] + cuts + [EVENTS_START_US + EVENTS_SPAN_US + 1]
    window = spec.late_window_min * 60_000_000
    held = np.zeros(0, dtype=np.int64)
    prev = np.zeros(0, dtype=np.int64)
    dirs = []
    for i in range(spec.increments):
        own = np.nonzero((ts >= bounds[i]) & (ts < bounds[i + 1]))[0]
        late = np.zeros(0, dtype=np.int64)
        if i + 1 < spec.increments:
            tail = own[ts[own] >= bounds[i + 1] - window]
            late = rng.choice(tail, int(round(len(tail) * spec.late_share)), replace=False)
        redo = rng.choice(prev, int(round(len(prev) * spec.redelivered_share)), replace=False)
        delivered = np.setdiff1d(own, late)
        rows = np.concatenate([redo, held, delivered])
        part = log.take(pa.array(np.sort(rows)))
        d = out / f"inc{i:03d}"
        _write(part, d / "events.parquet", ts_unit="ns")
        dirs.append(d)
        prev, held = np.concatenate([held, delivered]), late
    return dirs


if __name__ == "__main__":  # python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
    import sys

    import workloads

    name, seed, out_dir = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    wl = workloads.WORKLOADS[name](out_dir, seed)
    wl.prepare()
    print(json.dumps({"workload": name, "seed": seed, "out": str(out_dir), **wl.props}))
