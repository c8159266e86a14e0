"""Seeded input tables for the analytics workload, and the DuckDB oracle
check of its results.

The tables have the schemas of the registry's `events`, `documents` and
`embeddings` inputs: events over 10 or 30 days, short documents over a
30-word vocabulary with 5% near-duplicates (a copy of the previous
document with " dup" appended), and unit-norm 64-d embeddings around 10
weak label centroids.
"""
import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "full": {"events": 5000, "documents": 300, "embeddings": 300, "days": 30},
    "core": {"events": 150, "documents": 100, "embeddings": 150, "days": 10},
    "tiny": {"events": 500, "documents": 60, "embeddings": 60, "days": 30},
}
VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86400 * 1_000_000
JAN_2024_US = 1704067200 * 1_000_000


def generate(out: Path, seed: int, size: str = "full") -> dict:
    """Writes events/documents/embeddings parquet under `out`; returns the sizes."""
    n = SIZES[size]
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)

    ne = n["events"]
    ts = np.sort(rng.integers(0, n["days"] * DAY_US, ne)) + JAN_2024_US
    events = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, ne * 15 // 1000), ne).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
        "value": pa.array(np.round(rng.exponential(60.0, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    pq.write_table(events, out / "events.parquet")

    nd = n["documents"]
    texts = []
    for i in range(nd):
        # every 20th document is a near-duplicate of the one before it:
        # the near-duplicate graph is pairs, whatever the seed, so the
        # component rounds of the pipelines do not depend on it
        if i % 20 == 19:
            texts.append(texts[i - 1] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(documents, out / "documents.parquet")

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(size=(nv, 64)) + 1.2 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(embeddings, out / "embeddings.parquet")
    return dict(n)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, float32 widened, rows sorted by all columns
    (the canonical form of tools/check_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float32":
            df[c] = df[c].astype("float64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _num_class(col: pd.Series) -> str:
    kind = getattr(col.dtype, "kind", "O")
    return {"i": "int", "u": "int", "b": "bool", "f": "float"}.get(kind, "other")


def check_oracles(data: Path, results: Path) -> list:
    """Compares the dumped result of each row listed in results/rows.txt
    with its DuckDB oracle; returns one message per mismatch (empty when
    every row matches)."""
    import duckdb

    if not (results / "rows.txt").is_file():
        return ["no results/rows.txt: the run dumped no results"]
    rows = (results / "rows.txt").read_text().split()
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}')")
    oracle = json.loads((results / "oracle_sql.json").read_text())
    bad = []
    for row in rows:
        if row not in oracle:
            bad.append(f"{row}: no oracle")
            continue
        try:
            got = canon(pd.read_parquet(results / row))
            want = canon(con.execute(oracle[row]).fetchdf())
        except Exception as e:  # a missing dump or a failing oracle is a failed check
            bad.append(f"{row}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
            continue
        if list(got.columns) != list(want.columns):
            bad.append(f"{row}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{row}: rows {len(got)} != {len(want)}")
        elif any(_num_class(got[c]) != _num_class(want[c]) and
                 {_num_class(got[c]), _num_class(want[c])} <= {"int", "bool", "float"}
                 for c in got.columns):
            # int 0 and float 0.0 hash differently once stringified
            bad.append(f"{row}: numeric dtype class mismatch")
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                bad.append(f"{row}: value mismatch: {str(e).splitlines()[0]}")
    con.close()
    return bad
