"""Output checks: every result a run produces is compared against DuckDB.

Each check returns a list of problems; an empty list means the output is
correct. `corrupt=True` damages graft's output before comparing, which the
smoke test uses to prove that a wrong result trips the check.
"""
import hashlib
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

HORIZON_US = 2 * 3600 * 1_000_000  # EventStream.nearDupBandClaims' default horizon


def _connect(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    con.execute("SET threads TO 4")
    return con


def _read_spark(path: Path) -> pd.DataFrame:
    files = sorted(path.glob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _cells(s: pd.Series) -> list:
    """Fixed byte form per cell, independent of the engine's column width:
    ints as int64, floats as IEEE-754 doubles, instants as epoch micros."""
    if pd.api.types.is_datetime64_any_dtype(s):
        raw = s.astype("datetime64[us]").to_numpy().view("<i8")
        nat = s.isna().to_numpy()
        return [b"N" if nat[i] else b"t" + raw[i].tobytes() for i in range(len(s))]
    if pd.api.types.is_integer_dtype(s) and not s.isna().any():
        return [b"i" + v.tobytes() for v in s.to_numpy().astype("<i8")]
    if pd.api.types.is_float_dtype(s):
        return [b"f" + v.tobytes() for v in s.to_numpy().astype("<f8")]
    out = []
    for v in s.to_numpy():
        if v is None or (isinstance(v, float) and np.isnan(v)):
            out.append(b"N")
        elif isinstance(v, (bool, np.bool_)):
            out.append(b"b1" if v else b"b0")
        elif isinstance(v, (int, np.integer)):
            out.append(b"i" + np.int64(v).tobytes())
        elif isinstance(v, (float, np.floating)):
            out.append(b"f" + np.float64(v).tobytes())
        else:
            out.append(b"s" + str(v).encode())
    return out


def checksum(df: pd.DataFrame) -> tuple:
    """(row count, order-independent content checksum): columns sorted by
    name, md5 of each row's cells, first 8 bytes summed mod 2^64."""
    cols = [_cells(df[c]) for c in sorted(df.columns)]
    total = 0
    for row in zip(*cols):
        total += int.from_bytes(hashlib.md5(b"|".join(row)).digest()[:8], "little")
    return len(df), sorted(df.columns), f"{total % (1 << 64):016x}"


# ------------------------------------------------------------- interactive

def check_interactive(data: Path, work: Path, corrupt: bool) -> dict:
    check = work / "check"
    con = _connect(work)
    for t in ("part", "orders", "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    sqls = json.loads((check / "oracle_sql.json").read_text())
    results = {}
    for i, (name, sql) in enumerate(sorted(sqls.items())):
        problems = []
        try:
            got = _read_spark(check / name)
            if corrupt and i == 0:
                got = got.iloc[1:]
            want = con.execute(sql).fetchdf()
            g, w = checksum(got), checksum(want)
            if g != w:
                problems.append(f"rows/columns/checksum {g} != oracle {w}")
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            problems.append(repr(e))
        results[name] = problems
    return results


# ------------------------------------------------------------- near-dup text

# The q104b oracle's md5 banding (16 hashes = 4 bands x 4 rows over word
# trigrams), its 60-bit folded shingle sets and its exact Jaccard verify.
_BANDED = """
WITH t AS (
  SELECT doc_id, ts,
         CASE WHEN len(w) >= 3
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
              ELSE [array_to_string(w, ' ')] END AS sh
  FROM (SELECT doc_id, {ts} AS ts, regexp_extract_all(trim(lower(text)), '\\S+') AS w
        FROM {src})),
e AS (
  SELECT doc_id, ts,
         list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)) AS hs,
         b,
         unhex(substr(md5(array_to_string(
           [list_min([substr(md5(s), b*4 + r + 1, 16) for s in sh])
            for r in range(0, 4)], '|')), 1, 16)) AS key
  FROM t CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(b))
"""


def _components_kept(ids, pairs) -> set:
    """Keep-min-id rule of Dedup.dropNearDuplicates via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def check_neardup(data: Path, work: Path, corrupt: bool) -> dict:
    check = work / "check"
    con = _connect(work)
    src = f"read_parquet('{data / 'documents'}/*.parquet')"
    pairs = con.execute(_BANDED.format(ts="0", src=src) + """
        SELECT DISTINCT a.doc_id, b.doc_id FROM e a JOIN e b
          ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.hs, b.hs))::DOUBLE
              / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.8""").fetchall()
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {src}").fetchall()]
    want = _components_kept(ids, pairs)
    text = []
    try:
        got = list(_read_spark(check / "kept")["doc_id"])
        if corrupt:
            got = got[1:]
        if len(got) != len(set(got)):
            text.append("kept set has duplicate ids")
        if set(got) != want:
            text.append(f"kept {len(set(got))} docs, oracle keeps {len(want)}; "
                        f"{len(set(got) - want)} extra, {len(want - set(got))} missing")
    except Exception as e:
        text.append(repr(e))

    emb = []
    try:
        planted = {tuple(p) for p in json.loads((data / "planted_emb_pairs.json").read_text())}
        out = _read_spark(check / "emb_pairs")
        emitted = set(zip(out["id_a"], out["id_b"]))
        missing = planted - emitted
        if missing:
            emb.append(f"{len(missing)} of {len(planted)} planted siblings not emitted")
        con.register("emitted", out)
        bad = con.execute(f"""
            SELECT count(*) FILTER (WHERE c < 0.9 - 1e-6),
                   count(*) FILTER (WHERE abs(c - cosine) > 1e-5),
                   count(*) FILTER (WHERE c IS NULL)
            FROM (SELECT list_cosine_similarity(a.embedding, b.embedding) AS c, cosine
                  FROM emitted
                  LEFT JOIN read_parquet('{data / 'embeddings'}/*.parquet') a ON a.vec_id = id_a
                  LEFT JOIN read_parquet('{data / 'embeddings'}/*.parquet') b ON b.vec_id = id_b)
            """).fetchone()
        if any(bad):
            emb.append(f"emitted pairs: {bad[0]} below 0.9, {bad[1]} cosine mismatches, "
                       f"{bad[2]} unknown ids")
    except Exception as e:
        emb.append(repr(e))
    results = {"text_kept": text, "emb_pairs": emb}
    if (check / "stream_kept").exists():  # written by traced runs only
        results["stream_kept"] = check_stream(data, check / "stream_kept", corrupt)
    return results


# ------------------------------------------------------------- stream

def check_stream(data: Path, kept: Path, corrupt: bool) -> list:
    """q232's oracle over the staged files, in arrival order: a document is
    dropped iff one of its band keys was carried by an earlier arrival
    (event time, then id). That is the streaming rule whenever consecutive
    carriers of a key are less than the eviction horizon apart, which the
    check verifies on the data before trusting the oracle."""
    con = _connect(kept.parent.parent)
    src = f"read_parquet('{data / 'stream'}/*.parquet')"
    banded = _BANDED.format(ts="epoch_us(ts)", src=src)
    gap = con.execute(banded + """
        SELECT max(ts - prev) FROM (
          SELECT ts, lag(ts) OVER (PARTITION BY b, key ORDER BY ts, doc_id) AS prev FROM e)
        """).fetchone()[0]
    want = {r[0] for r in con.execute(banded + f"""
        , collided AS (
          SELECT DISTINCT y.doc_id FROM e x JOIN e y
            ON x.b = y.b AND x.key = y.key
           AND (x.ts < y.ts OR (x.ts = y.ts AND x.doc_id < y.doc_id)))
        SELECT doc_id FROM {src} WHERE doc_id NOT IN (SELECT doc_id FROM collided)
        """).fetchall()}
    problems = []
    if gap is not None and gap >= HORIZON_US:
        problems.append(f"inputs break the oracle's premise: a band key recurs "
                        f"{gap / 3.6e9:.2f} h after its previous carrier")
    try:
        got = list(_read_spark(kept)["docId"])
        if corrupt:
            got = got[1:]
        if len(got) != len(set(got)):
            problems.append("kept set has duplicate ids")
        if set(got) != want:
            problems.append(f"kept {len(set(got))} docs, oracle keeps {len(want)}; "
                            f"{len(set(got) - want)} extra, {len(want - set(got))} missing")
    except Exception as e:
        problems.append(repr(e))
    return problems


CHECKS = {"interactive": check_interactive, "neardup_batch": check_neardup}
