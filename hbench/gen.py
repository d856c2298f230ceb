"""Seeded input generators. The same seed always yields the same inputs;
the program under test receives only the files written here.

* ``make_warehouse``: a Hadoop-layout Iceberg warehouse whose tables carry
  long snapshot histories and several schema versions. Only table-metadata
  JSON is written (the browse op never opens a manifest or data file), as
  spec-conformant v2 documents.
* ``make_corpus``: ``documents.parquet`` / ``embeddings.parquet`` in the
  fixture schema, with planted exact duplicates, near duplicates and
  nearest neighbours of the query vector.
* ``make_batches``: the append batches of the read/write workload, one
  pyarrow-written parquet file per batch.
"""

from __future__ import annotations

import json
import os
import random

AS_OF_MS = 1_767_225_600_000  # 2026-01-01 00:00:00 UTC, the health "now"
AS_OF = "2026-01-01 00:00:00"
DAY_MS = 86_400_000

# Every table has the same shape, so every browse op costs the same whatever
# the seed: the seed varies names, values, operations and timestamps only.
SCHEMA_STEPS = 5
N_SPECS = 2

OPERATIONS = ("append", "overwrite", "delete", "replace")
OP_WEIGHTS = (0.6, 0.15, 0.15, 0.1)


# --------------------------------------------------------------------------
# table_browse: warehouse of table-metadata documents
# --------------------------------------------------------------------------
def _schema_versions(rng: random.Random) -> list[list[dict]]:
    """Field lists of successive schema versions: adds, renames, and the
    type promotions the spec allows (int→long, float→double)."""
    fields = [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "customer", "required": False, "type": "string"},
        {"id": 3, "name": "qty", "required": False, "type": "int"},
        {"id": 4, "name": "price", "required": False, "type": "float"},
        {"id": 5, "name": "ts", "required": True, "type": "timestamp"},
        {"id": 6, "name": "region", "required": False, "type": "string"},
    ]
    versions = [fields]
    next_id = 7
    for step in range(SCHEMA_STEPS):
        cur = [dict(f) for f in versions[-1]]
        kind = ("add", "rename", "promote", "add", "rename", "promote")[step]
        if kind == "add":
            cur.append({"id": next_id, "name": f"attr_{next_id}_{rng.randint(0, 99)}",
                        "required": False, "type": rng.choice(["string", "int", "double"])})
            next_id += 1
        elif kind == "rename":
            f = rng.choice([f for f in cur if f["id"] != 1])
            f["name"] = f"{f['name']}_v{step}"
        else:
            promotable = [f for f in cur if f["type"] in ("int", "float")]
            if promotable:
                f = rng.choice(promotable)
                f["type"] = {"int": "long", "float": "double"}[f["type"]]
            else:
                cur.append({"id": next_id, "name": f"extra_{next_id}",
                            "required": False, "type": "long"})
                next_id += 1
        versions.append(cur)
    return versions


def _snapshot_history(rng: random.Random, table_loc: str, n: int, n_schemas: int) -> list[dict]:
    """``n`` snapshots over ~60 days before AS_OF, with a few commit bursts
    (many snapshots within one hour), schema ids rising over time."""
    ts = AS_OF_MS - 60 * DAY_MS
    snaps, total_files, total_records, total_size = [], 0, 0, 0
    parent = None
    for i in range(n):
        if rng.random() < 0.02:
            ts += rng.randint(1_000, 60_000)  # burst
        else:
            ts += rng.randint(60_000, 2 * 60 * 60_000)
        op = rng.choices(OPERATIONS, OP_WEIGHTS)[0]
        added_files = rng.randint(1, 12) if op in ("append", "overwrite", "replace") else 0
        deleted_files = rng.randint(1, 6) if op in ("overwrite", "delete", "replace") else 0
        deleted_files = min(deleted_files, total_files)
        added_recs = added_files * rng.randint(100, 50_000)
        deleted_recs = min(total_records, deleted_files * rng.randint(100, 50_000))
        added_size = added_recs * rng.randint(40, 200)
        removed_size = min(total_size, deleted_recs * rng.randint(40, 200))
        total_files += added_files - deleted_files
        total_records += added_recs - deleted_recs
        total_size += added_size - removed_size
        summary = {
            "operation": op,
            "added-data-files": str(added_files),
            "deleted-data-files": str(deleted_files),
            "added-records": str(added_recs),
            "deleted-records": str(deleted_recs),
            "added-files-size": str(added_size),
            "removed-files-size": str(removed_size),
            "total-data-files": str(total_files),
            "total-records": str(total_records),
            "total-files-size": str(total_size),
            "total-size": str(total_size),
        }
        if rng.random() < 0.05:  # summaries written by older writers lack sizes
            for k in ("added-files-size", "removed-files-size"):
                summary.pop(k)
        sid = rng.getrandbits(62) | 1
        snap = {
            "sequence-number": i + 1,
            "snapshot-id": sid,
            "timestamp-ms": ts,
            "summary": summary,
            "manifest-list": f"{table_loc}/metadata/snap-{sid}-1-{i:05d}.avro",
            "schema-id": min(n_schemas - 1, i * n_schemas // n),
        }
        if parent is not None:
            snap["parent-snapshot-id"] = parent
        snaps.append(snap)
        parent = sid
    return snaps


def _metadata_doc(rng, table_loc, versions, snaps, n_meta_files) -> dict:
    specs = [
        {"spec-id": 0, "fields": [
            {"name": "ts_day", "transform": "day", "source-id": 5, "field-id": 1000}]},
        {"spec-id": 1, "fields": [
            {"name": "ts_day", "transform": "day", "source-id": 5, "field-id": 1000},
            {"name": "region", "transform": "identity", "source-id": 6, "field-id": 1001}]},
        {"spec-id": 2, "fields": [
            {"name": "id_bucket", "transform": "bucket[16]", "source-id": 1, "field-id": 1002}]},
    ][:N_SPECS]
    last = snaps[-1] if snaps else None
    return {
        "format-version": 2,
        "table-uuid": "%08x-%04x-4%03x-8%03x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(12),
            rng.getrandbits(12), rng.getrandbits(48)),
        "location": table_loc,
        "last-sequence-number": len(snaps),
        "last-updated-ms": last["timestamp-ms"] if last else AS_OF_MS - 60 * DAY_MS,
        "last-column-id": max(f["id"] for v in versions for f in v),
        "current-schema-id": len(versions) - 1,
        "schemas": [
            {"type": "struct", "schema-id": i, "fields": v} for i, v in enumerate(versions)
        ],
        "default-spec-id": specs[-1]["spec-id"],
        "partition-specs": specs,
        "last-partition-id": max(f["field-id"] for s in specs for f in s["fields"]),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "commit.retry.num-retries": str(rng.randint(3, 8)),
            "owner": f"team_{rng.randint(0, 9)}",
        },
        "current-snapshot-id": last["snapshot-id"] if last else -1,
        "refs": {"main": {"snapshot-id": last["snapshot-id"], "type": "branch"}} if last else {},
        "snapshots": snaps,
        "snapshot-log": [
            {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]} for s in snaps
        ],
        "metadata-log": [
            {"timestamp-ms": AS_OF_MS - 60 * DAY_MS + k,
             "metadata-file": f"{table_loc}/metadata/v{k + 1}.metadata.json"}
            for k in range(n_meta_files - 1)
        ],
    }


def make_warehouse(root: str, seed: int, n_tables: int, n_snapshots: int,
                   n_versions: int = 3) -> list[dict]:
    """Write ``n_tables`` tables under ``root/<ns>/<table>/metadata`` with
    ``n_versions`` metadata versions each (older versions hold a prefix of
    the history). Returns one dict per table: name, latest document, path."""
    rng = random.Random(seed)
    tables = []
    for t in range(n_tables):
        ns = ("sales", "ops", "ml")[t % 3]
        name = f"tbl_{t}_{rng.randint(100, 999)}"
        loc = os.path.join(root, ns, name)
        mdir = os.path.join(loc, "metadata")
        os.makedirs(mdir, exist_ok=True)
        versions = _schema_versions(rng)
        snaps = _snapshot_history(rng, loc, n_snapshots, len(versions))
        doc = None
        for v in range(1, n_versions + 1):
            cut = len(snaps) * v // n_versions
            doc = _metadata_doc(random.Random(rng.random()), loc, versions, snaps[:cut], v)
            path = os.path.join(mdir, f"v{v}.metadata.json")
            with open(path, "w") as f:
                json.dump(doc, f)
        with open(os.path.join(mdir, "version-hint.text"), "w") as f:
            f.write(str(n_versions))
        tables.append({"namespace": ns, "table_name": name, "full_name": f"{ns}.{name}",
                       "path": path, "doc": doc})
    return tables


# --------------------------------------------------------------------------
# curate: documents / embeddings corpus
# --------------------------------------------------------------------------
LANGS = ("en", "de", "fr", "es", "zh")
_SYLL = ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va", "zu", "bi", "xo", "le", "fa")


def _vocab(rng: random.Random, n: int) -> list[str]:
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def shingle_set(text: str, n: int = 3) -> set:
    """Word n-gram shingles with the program's tokenisation (trim, split
    on whitespace runs)."""
    ws = text.split()
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def make_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64,
                exact_share: float = 0.05, near_share: float = 0.05) -> dict:
    """Write the corpus; return the planted facts the checks rely on:
    ``near_pairs`` (every doc pair whose 3-gram Jaccard is ≥ 0.9 by
    construction, exact copies included) and ``neighbours`` (the vec_ids
    planted closest to query vector 0, nearest first)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    texts, langs = [], []
    origin: dict[int, int] = {}  # planted copy → doc it was made from
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < exact_share:
            src = rng.randrange(i)
            src = origin.get(src, src)
            texts.append(texts[src])
            langs.append(langs[src])
            origin[i] = src
            continue
        if i > 10 and r < exact_share + near_share:
            src = rng.randrange(i)
            src = origin.get(src, src)
            ws = texts[src].split()
            if len(ws) >= 90:
                ws[-1 - rng.randrange(2)] = rng.choice(vocab)  # ≤3 shingles change
                texts.append(" ".join(ws))
                langs.append(langs[src])
                origin[i] = src
                continue
        n_words = rng.randint(30, 160)
        ws = [rng.choice(vocab) for _ in range(n_words)]
        if rng.random() < 0.15:  # punctuation-heavy docs fail the quality filter
            ws = [w + rng.choice(".,;:!?") for w in ws]
        texts.append(" ".join(ws))
        langs.append(rng.choice(LANGS))
    # every planted doc and its origin form one group; all pairs inside a
    # group are ≥ 0.9 similar when each copy is ≥ 0.95 similar to the origin
    groups: dict[int, list[int]] = {}
    for c, s in origin.items():
        groups.setdefault(s, [s]).append(c)
    near_pairs = set()
    sh = {}
    for members in groups.values():
        for a_i, a in enumerate(members):
            for b in members[a_i + 1:]:
                sa = sh.setdefault(a, shingle_set(texts[a]))
                sb = sh.setdefault(b, shingle_set(texts[b]))
                if jaccard(sa, sb) >= 0.9:
                    near_pairs.add((min(a, b), max(a, b)))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    vecs = nrng.standard_normal((n_vecs, dim)).astype(np.float32)
    n_planted = 15
    for k in range(1, n_planted + 1):  # neighbour k: cosine ≈ 1 - k/40 to vec 0
        noise = nrng.standard_normal(dim).astype(np.float32)
        noise -= noise.dot(vecs[0]) / vecs[0].dot(vecs[0]) * vecs[0]
        noise *= np.linalg.norm(vecs[0]) / np.linalg.norm(noise)
        ang = np.arccos(1 - k / 40)
        vecs[k * 7] = np.cos(ang) * vecs[0] + np.sin(ang) * noise
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 5, n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"near_pairs": near_pairs,
            "neighbours": [k * 7 for k in range(1, n_planted + 1)]}


# --------------------------------------------------------------------------
# lakehouse_rw: append batches
# --------------------------------------------------------------------------
CATEGORIES = tuple(f"cat_{k:02d}" for k in range(24))


def make_batches(out_dir: str, seed: int, n_batches: int, rows: int) -> list[dict]:
    """Write batch ``b`` (0 ≤ b < ``n_batches``) as ``b<b>.parquet``: ``rows``
    rows of (batch, id, cat, amount) with ``batch`` = b and ids unique over
    all batches. Returns per batch its path, file size (the user bytes one
    append carries) and rows, sorted by id."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = []
    for b in range(n_batches):
        rng = np.random.default_rng([seed, b])
        ids = np.arange(rows, dtype=np.int64) + b * rows
        cats = [CATEGORIES[k] for k in rng.integers(0, len(CATEGORIES), rows)]
        amounts = np.round(rng.random(rows) * 1000, 2)
        tbl = pa.table({"batch": pa.array(np.full(rows, b, np.int32)), "id": pa.array(ids),
                        "cat": pa.array(cats, pa.string()), "amount": pa.array(amounts)})
        path = os.path.join(out_dir, f"b{b}.parquet")
        pq.write_table(tbl, path)
        out.append({"path": path, "bytes": os.path.getsize(path),
                    "rows": list(zip([b] * rows, ids.tolist(), cats, amounts.tolist()))})
    return out
