"""Seeded input generator for the benchmark workloads.

Everything a run feeds to graft is made here from `--seed`: the TPC-H-like
tables and the per-pass query order of `interactive`; the document corpus
with its planted near-duplicate shard, the amplified embeddings, and the
stream file split and arrival order of `neardup_batch`.
The same seed gives byte-identical inputs. Sizes come from `SIZES`.
"""
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per scale. "full" is what the benchmark measures; "tiny" is
# the smoke test's scale. dup_frac is the planted near-duplicate share.
SIZES = {
    "full": {
        "interactive": {"sf": 0.02, "order_passes": 400},
        "neardup_batch": {"docs": 600, "dup_frac": 0.25, "emb_base": 400,
                          "emb_factor": 16, "stream_files": 16, "span_hours": 12},
    },
    "tiny": {
        "interactive": {"sf": 0.001, "order_passes": 400},
        "neardup_batch": {"docs": 100, "dup_frac": 0.25, "emb_base": 50,
                          "emb_factor": 4, "stream_files": 8, "span_hours": 12},
    },
}

# The registry's headline queries, less q13_parquet_roundtrip: it writes its
# round-trip copy under /tmp, outside the benchmark's own directory.
HEADLINE = [
    "q01_groupby_agg_low", "q03_groupby_agg_high", "q30_join_broadcast",
    "q31_join_smj", "q40_sort_global", "q50_window_cumsum",
    "q60_scan_filter_project", "q70_string_funcs", "q90_resample_hour",
    "q100_dedup_exact_groups",
]

VOCAB = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the a shuffle plan stage task cache index bucket band "
    "shingle token corpus sample frame series pivot melt rank lag lead sum "
    "mean count limit range split chunk block page file disk memory core"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
DAY_MS = 86_400_000
HOUR_US = 3_600_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so changing one table's size never
    # reshuffles another's values
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_parts(table: pa.Table, directory: Path, parts: int) -> None:
    """Split into `parts` files, so a scan is `parts` tasks, not one."""
    directory.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        _write(table.slice(lo, hi - lo), directory / f"part-{i:03d}.parquet")


def _epoch_ms(date: str) -> int:
    return int(np.datetime64(date, "ms").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------- interactive

def tpch_tables(seed: int, sf: float) -> dict:
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_part, n_cust, n_ev = int(200_000 * sf), int(150_000 * sf), int(1_000_000 * sf)
    r = _rng(seed, "part")
    adjectives = ["large", "hot", "blue", "red", "small", "green", "bright", "dark"]
    nouns = ["ring", "bolt", "nut", "gear", "plate", "pipe", "valve", "spring"]
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [types[t] for t in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(r, 900, 2100, n_part),
    })
    r = _rng(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    lo_ms, hi_ms = _epoch_ms("1995-01-01"), _epoch_ms("2001-08-01")
    odays = r.integers(0, (hi_ms - lo_ms) // DAY_MS + 1, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, max(n_cust, 1), n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": pa.array(lo_ms + odays * DAY_MS, pa.timestamp("ms")),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    ship_days = r.integers(0, (_epoch_ms("2001-11-04") - lo_ms) // DAY_MS + 1, n_li)
    lineitem = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, max(int(10_000 * sf), 1), n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(lo_ms + ship_days * DAY_MS, pa.timestamp("ms")),
    })
    r = _rng(seed, "events")
    ev_lo = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(ev_lo + r.integers(0, 30 * 24 * HOUR_US, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, max(int(15_000 * sf), 1), n_ev).astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            r.integers(0, 5, n_ev)],
        "value": _money(r, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    return {"part": part, "orders": orders, "lineitem": lineitem, "events": events}


def query_orders(seed: int, passes: int) -> list:
    """One seed-shuffled permutation of the headline queries per pass."""
    r = _rng(seed, "query_order")
    return [[HEADLINE[i] for i in r.permutation(len(HEADLINE))] for _ in range(passes)]


# ------------------------------------------------------------------- corpus

def corpus(seed: int, n_base: int, dup_frac: float):
    """Random bag-of-words documents plus a planted near-duplicate shard.

    A planted sibling repeats its original with one extra word appended, so
    its word-trigram Jaccard with the original is m/(m+1) for m trigrams.
    Returns the document columns and the (original, sibling) id pairs."""
    r = _rng(seed, "corpus")
    vocab = np.array(VOCAB)
    lens = r.integers(8, 91, n_base)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in lens]
    ids = list(range(n_base))
    n_dup = int(round(n_base * dup_frac))
    originals = np.sort(r.choice(n_base, n_dup, replace=False))
    pairs = []
    for k, o in enumerate(originals):
        sib = n_base + k
        ids.append(sib)
        texts.append(texts[o] + " " + vocab[r.integers(0, len(vocab))])
        pairs.append((int(o), sib))
    n = len(ids)
    cols = {
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, pairs


def embeddings(seed: int, n_base: int, factor: int, dup_frac: float):
    """Clustered base vectors amplified `factor`x the way the scale benches
    amplify them: replica r > 0 reweights every dimension by an independent
    signed factor in [-1, 1] (replicas of one vector are unrelated), and
    each replica carries a `dup_frac` shard of siblings scaled by 1.0001
    (cosine 1 with the original, identical LSH signs). Returns the columns
    and the planted (original, sibling) id pairs."""
    r = _rng(seed, "embeddings")
    centers = r.normal(0, 1, (10, EMB_DIM))
    label = r.integers(0, 10, n_base)
    base = (0.3 * centers[label] + r.normal(0, 1, (n_base, EMB_DIM))) * 0.1
    ids, vecs, labels, pairs = [], [], [], []
    stride, sib_off = 1_000_000, 500_000
    for rep in range(factor):
        v = base if rep == 0 else base * r.uniform(-1, 1, base.shape)
        rid = np.arange(n_base, dtype=np.int64) + rep * stride
        ids.append(rid)
        vecs.append(v.astype(np.float32))
        labels.append(label)
        pick = np.sort(r.choice(n_base, int(round(n_base * dup_frac)), replace=False))
        ids.append(rid[pick] + sib_off)
        vecs.append((v[pick].astype(np.float32) * np.float32(1.0001)).astype(np.float32))
        labels.append(label[pick])
        pairs += [(int(a), int(a) + sib_off) for a in rid[pick]]
    ids, vecs, labels = np.concatenate(ids), np.concatenate(vecs), np.concatenate(labels)
    return {"vec_id": ids, "embedding": vecs, "label": labels.astype(np.int32)}, pairs


def _emb_table(cols) -> pa.Table:
    flat = pa.array(cols["embedding"].reshape(-1), pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, EMB_DIM, dtype=np.int32)), flat)
    return pa.table({"vec_id": cols["vec_id"], "embedding": lists, "label": cols["label"]})


def _shuffled(table: pa.Table, r: np.random.Generator) -> pa.Table:
    return table.take(pa.array(r.permutation(table.num_rows)))


# ---------------------------------------------------------------- workloads

def generate(workload: str, seed: int, scale: str, out: Path, parts: int) -> dict:
    """Write the workload's inputs under `out`; return their sizes and row
    counts."""
    size = SIZES[scale][workload]
    out.mkdir(parents=True, exist_ok=True)
    meta = {"sizes": size}
    if workload == "interactive":
        tables = tpch_tables(seed, size["sf"])
        docs, _ = corpus(seed, int(50_000 * size["sf"]), 0.0)
        tables["documents"] = pa.table(docs)
        emb, _ = embeddings(seed, int(20_000 * size["sf"]), 1, 0.0)
        tables["embeddings"] = _emb_table(emb)
        for name, t in tables.items():
            _write(t, out / f"{name}.parquet")
        (out / "query_order.txt").write_text("".join(
            " ".join(p) + "\n" for p in query_orders(seed, size["order_passes"])))
        meta["rows"] = {k: t.num_rows for k, t in tables.items()}
    elif workload == "neardup_batch":
        docs, doc_pairs = corpus(seed, size["docs"], size["dup_frac"])
        emb, emb_pairs = embeddings(seed, size["emb_base"], size["emb_factor"],
                                    size["dup_frac"])
        r = _rng(seed, "file_order")
        _write_parts(_shuffled(pa.table(docs), r), out / "documents", parts)
        _write_parts(_shuffled(_emb_table(emb), r), out / "embeddings", parts)
        _stage_stream(seed, docs, doc_pairs, size, out / "stream")
        meta["rows"] = {"documents": len(docs["doc_id"]), "embeddings": len(emb["vec_id"])}
        (out / "planted_emb_pairs.json").write_text(json.dumps(emb_pairs))
    else:
        raise ValueError(f"unknown workload {workload}")
    return meta


def _stage_stream(seed: int, docs: dict, pairs: list, size: dict, stage: Path) -> None:
    """Stage the corpus as a file drop: each document gets an event time,
    files hold contiguous event-time ranges and arrive in that order
    (increasing mtimes), so no row is ever behind the watermark.

    Originals are spread uniformly over `span_hours`, several 2 h eviction
    horizons, so band state both grows and evicts. A planted sibling
    arrives 1-45 minutes after its original: inside the horizon, which is
    what keeps the streaming kept set equal to the batch keep-first rule.
    File cut points and the row order inside each file are seeded too."""
    r = _rng(seed, "stream")
    n = len(docs["doc_id"])
    t0 = int(np.datetime64("2024-03-01", "us").astype(np.int64))
    ts = t0 + r.integers(0, size["span_hours"] * HOUR_US, n)
    for orig, sib in pairs:
        ts[sib] = ts[orig] + r.integers(60_000_000, 45 * 60_000_000)
    order = np.lexsort((docs["doc_id"], ts))
    table = pa.table(docs).append_column("ts", pa.array(ts, pa.timestamp("us")))
    table = table.take(pa.array(order))
    files = size["stream_files"]
    cuts = np.sort(r.choice(np.arange(1, n), files - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    stage.mkdir(parents=True, exist_ok=True)
    mtime = 1_700_000_000
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = stage / f"arrival-{i:03d}.parquet"
        _write(_shuffled(part, r), path)
        os.utime(path, (mtime + i, mtime + i))
