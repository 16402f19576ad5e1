"""Seeded input generator.

Every input is derived from the read-only sf0.1 testdata tables and
keeps their schemas and their one-file-per-table layout. A seed fixes
the inputs byte for byte:

- TPC-H tables are scaled up by copies whose keys are offset by
  ``KEY_OFFSET`` per copy. Foreign keys move with their copy, so joins
  stay key-consistent and their work grows linearly. Non-key columns
  are resampled row-wise from the source table (each row takes the
  non-key values of a seeded random source row), so every value stays
  inside its column's observed domain.
- Documents: the source texts are assigned to ids in a seeded order,
  then a stated share of the corpus is overwritten with near-duplicates
  of other documents (one or two token substitutions), and the planted
  pairs are returned.
- Embeddings: a seeded permutation of the source vectors plus small
  seeded noise.
- Lake events: ``LAKE_DAYS`` daily gzip JSON-lines feeds, one file per
  day, rows resampled from the source events.

Key offsets stay far inside the engine's packing guards (ids below
``TPCH_SCALE * 10**6``; document ids are the source's), against
``dsir_select``'s 2**30 composite key and the dedup 2**43 id bound.
"""

from __future__ import annotations

import gzip
import json
import os
import re
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = "/root/testdata/sf0.1"
KEY_OFFSET = 10**6

TPCH_SCALE = 1
NEAR_DUP_SHARE = 0.04
LAKE_DAYS = 4
LAKE_ROWS_PER_DAY = 15_000
LAKE_FIRST_DAY = date(2024, 1, 1)

# Per TPC-H table: key columns (shifted per copy) and columns whose
# value is derived from the key ("Customer#000000042"), rewritten per
# copy. Every other column is a resampled non-key column.
_TPCH_KEYS = {
    "customer": (("c_custkey",), ("c_name",)),
    "supplier": (("s_suppkey",), ("s_name",)),
    "part": (("p_partkey",), ()),
    "orders": (("o_orderkey", "o_custkey"), ()),
    "lineitem": (("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"), ()),
}
_UNSHIFTED = {"l_linenumber"}
_NAMED_KEY = re.compile(r"^(.*#)(\d+)$")

def _rng(seed: int, *salt: str) -> np.random.Generator:
    """One independent stream per (seed, purpose), so adding a table
    never shifts the draws of another."""
    words = [seed] + [int.from_bytes(s.encode(), "little") % (2**32) for s in salt]
    return np.random.default_rng(words)


def _read(base_dir: str, table: str) -> pa.Table:
    return pq.read_table(os.path.join(base_dir, f"{table}.parquet"))


def _write(tbl: pa.Table, out_dir: str, table: str, schema: pa.Schema) -> str:
    path = os.path.join(out_dir, f"{table}.parquet")
    pq.write_table(tbl.cast(schema), path)
    return path


def _rename_keyed(names: pa.ChunkedArray, keys: np.ndarray) -> pa.Array:
    out = []
    for name, key in zip(names.to_pylist(), keys.tolist()):
        m = _NAMED_KEY.match(name)
        out.append(f"{m.group(1)}{key:0{len(m.group(2))}d}" if m else name)
    return pa.array(out, pa.string())


def scale_table(src: pa.Table, table: str, copies: int, seed: int) -> pa.Table:
    """``copies`` key-offset copies of ``src``, non-key columns
    resampled row-wise, rows in a seeded order."""
    keys, named = _TPCH_KEYS[table]
    n = src.num_rows
    parts = []
    for k in range(copies):
        pick = pa.array(_rng(seed, table, str(k)).integers(0, n, size=n))
        cols = {}
        for name in src.column_names:
            if name in keys:
                base = src.column(name).to_numpy()
                cols[name] = pa.array(
                    base if name in _UNSHIFTED else base + k * KEY_OFFSET,
                    src.schema.field(name).type,
                )
            elif name in named:
                cols[name] = _rename_keyed(
                    src.column(name), src.column(keys[0]).to_numpy() + k * KEY_OFFSET
                )
            else:
                cols[name] = pc.take(src.column(name), pick)
        parts.append(pa.table(cols, schema=src.schema))
    out = pa.concat_tables(parts)
    order = _rng(seed, table, "order").permutation(out.num_rows)
    return out.take(pa.array(order))


def _substitute(tokens: list[str], vocab: list[str], rng: np.random.Generator) -> list[str]:
    """A near-duplicate: one or two token substitutions at seeded
    positions, each by a different vocabulary word."""
    out = list(tokens)
    for pos in rng.choice(len(out), size=int(rng.integers(1, 3)), replace=False):
        choices = [w for w in vocab if w != out[pos]]
        out[pos] = choices[int(rng.integers(0, len(choices)))]
    return out


def make_documents(src: pa.Table, share: float, seed: int):
    """Returns (table, planted) where ``planted`` lists the
    (source_id, near_dup_id) pairs written into the corpus."""
    rng = _rng(seed, "documents")
    texts = src.column("text").to_pylist()
    ids = src.column("doc_id").to_pylist()
    vocab = sorted({w for t in texts for w in t.split(" ")})
    picks = rng.permutation(len(texts)).tolist()
    out_texts = [texts[j] for j in picks]
    total = len(ids)
    n_planted = round(share * total)
    # Sources and victims are disjoint, and sources are long enough
    # (>= 20 tokens) that two substitutions keep 3-gram Jaccard >= 0.5.
    eligible = [i for i in range(total) if len(out_texts[i].split(" ")) >= 20]
    chosen = rng.choice(len(eligible), size=2 * n_planted, replace=False)
    planted = []
    for s, v in zip(chosen[:n_planted], chosen[n_planted:]):
        s, v = eligible[s], eligible[v]
        out_texts[v] = " ".join(_substitute(out_texts[s].split(" "), vocab, rng))
        planted.append((min(ids[s], ids[v]), max(ids[s], ids[v])))
    take = pa.array(picks)
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(out_texts, pa.string()),
            "lang": pc.take(src.column("lang"), take),
            "source": pc.take(src.column("source"), take),
            "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
        }
    )
    order = rng.permutation(total)
    return tbl.take(pa.array(order)), sorted(planted)


def make_embeddings(src: pa.Table, seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    vecs = np.array(src.column("embedding").to_pylist(), dtype=np.float32)
    perm = rng.permutation(len(vecs))
    noise = rng.normal(0.0, 0.01 * float(vecs.std()), size=vecs.shape)
    moved = (vecs[perm] + noise).astype(np.float32)
    return pa.table(
        {
            "vec_id": src.column("vec_id"),
            "embedding": pa.array(list(moved), pa.list_(pa.float32())),
            "label": pc.take(src.column("label"), pa.array(perm)),
        }
    )


def lake_days() -> list[str]:
    return [str(LAKE_FIRST_DAY + timedelta(days=d)) for d in range(LAKE_DAYS)]


def make_lake_feeds(src: pa.Table, out_dir: str, seed: int) -> dict[str, str]:
    """One gzip JSON-lines feed per day under ``out_dir/landing``:
    rows resampled from the source events, timestamps moved onto that
    day (time of day kept, truncated to milliseconds), event ids
    dense and unique across days. Returns {ds: path}."""
    rng = _rng(seed, "events")
    n = src.num_rows
    ts = src.column("ts").cast(pa.timestamp("us")).to_numpy().astype("int64")
    tod_ms = (ts % 86_400_000_000) // 1000
    cols = {c: src.column(c).to_pylist() for c in ("user_id", "event_type", "value", "props")}
    landing = os.path.join(out_dir, "landing")
    os.makedirs(landing, exist_ok=True)
    feeds = {}
    for d, ds in enumerate(lake_days()):
        pick = rng.integers(0, n, size=LAKE_ROWS_PER_DAY)
        day0 = datetime.combine(LAKE_FIRST_DAY + timedelta(days=d), datetime.min.time())
        rows = sorted(
            (int(tod_ms[j]), d * LAKE_ROWS_PER_DAY + r, int(j))
            for r, j in enumerate(pick.tolist())
        )
        path = os.path.join(landing, f"events_{ds}.json.gz")
        # mtime=0: the gzip header carries no timestamp, so the bytes
        # depend on the seed alone.
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
            for tod, event_id, j in rows:
                stamp = day0 + timedelta(milliseconds=tod)
                rec = {
                    "event_id": event_id,
                    "ts": stamp.isoformat(timespec="milliseconds"),
                    "user_id": cols["user_id"][j],
                    "event_type": cols["event_type"][j],
                    "value": cols["value"][j],
                    "props": cols["props"][j],
                }
                f.write((json.dumps(rec) + "\n").encode())
        feeds[ds] = path
    return feeds


def generate(out_dir: str, workload: str, seed: int, base_dir: str = BASE_DIR) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; returns a manifest
    (rows and bytes per table, planted pairs, lake feeds)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"tables": {}, "planted": [], "feeds": {}}

    def note(table: str, tbl: pa.Table) -> None:
        path = _write(tbl, out_dir, table, _read(base_dir, table).schema)
        manifest["tables"][table] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}

    if workload == "sql_analytics":
        for table in ("region", "nation"):
            note(table, _read(base_dir, table))
        for table in _TPCH_KEYS:
            note(table, scale_table(_read(base_dir, table), table, TPCH_SCALE, seed))
    elif workload == "doc_curation":
        docs, planted = make_documents(_read(base_dir, "documents"), NEAR_DUP_SHARE, seed)
        note("documents", docs)
        note("embeddings", make_embeddings(_read(base_dir, "embeddings"), seed))
        manifest["planted"] = planted
    elif workload == "lake_incremental":
        manifest["feeds"] = make_lake_feeds(_read(base_dir, "events"), out_dir, seed)
        manifest["tables"]["landing"] = {
            "rows": LAKE_DAYS * LAKE_ROWS_PER_DAY,
            "bytes": sum(os.path.getsize(p) for p in manifest["feeds"].values()),
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return manifest
