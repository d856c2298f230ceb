"""The benchmark's workloads. Each is one kind of user action with one
cost, run by a single closed-loop client:

* ``table_browse``: open one table of a Hadoop-layout warehouse and render
  its page — discovery, snapshots, health dashboard, filtered timeline,
  schema evolution, partition specs and properties.
* ``curate``: one LLM-data curation pass — curation pipeline, MinHash
  near-duplicates, per-language stats and cosine top-k.
* ``lakehouse_rw``: one write cycle on an Iceberg table — two appends
  (one per write plane), read-after-write through both read planes, a
  retention delete and maintenance (compaction, expiry, orphan sweep).

A workload generates its inputs from a seed once per run, prepares the
program in every set-up round, runs ops, and checks each op's answer
(after the timed loop) against values recomputed without the program:
plain Python over the metadata JSON, DuckDB over the corpus, or the
generated batches themselves.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

import gen

# metadata_json.partition_spec_rows_from_doc row shape
SPEC_SCHEMA = StructType([
    StructField("table_name", StringType()), StructField("spec_id", IntegerType()),
    StructField("field_id", IntegerType()), StructField("source_id", IntegerType()),
    StructField("name", StringType()), StructField("transform", StringType())])


class TableBrowse:
    name = "table_browse"
    # fewest timed ops: an op takes about as long as the loop, and a loop of
    # sometimes one op, sometimes two, doubled the spread of op_p50_s
    MIN_TIMED_OPS = 2
    SIZES = {"full": {"n_tables": 4, "n_snapshots": 1000},
             "tiny": {"n_tables": 2, "n_snapshots": 60}}
    TIMELINE_FILTER = {"operations": ["append", "overwrite", "delete"], "min_added_files": 3}

    def __init__(self, tiny: bool = False):
        self.size = self.SIZES["tiny" if tiny else "full"]

    def generate(self, work_dir: str, seed: int) -> dict:
        wh = os.path.join(work_dir, "warehouse")
        tables = gen.make_warehouse(wh, seed, **self.size)
        return {"warehouse": wh, "tables": tables}

    def prepare(self, spark, inputs: dict, round_dir: str) -> None:
        from hielo_spark.engine import Engine

        inputs["engine"] = Engine(spark)

    def op(self, spark, inputs: dict, i: int, tr) -> dict:
        from hielo_spark.catalog.warehouse import discover_tables
        from hielo_spark.metadata import metadata_json as MJ
        from hielo_spark.metadata import properties as P
        from hielo_spark.metadata import schemas as SCH
        from hielo_spark.metadata import snapshots as SNAP

        tb = inputs["tables"][i % len(inputs["tables"])]
        full = tb["full_name"]
        found = discover_tables(spark, inputs["warehouse"]).filter(F.col("full_name") == full)
        with tr.span("browse.discover.exec"):
            row = found.collect()[0]
        path = row.metadata_json_path.removeprefix("file:")

        snaps = MJ.snapshots_from_metadata_json(spark, full, path)
        dash = inputs["engine"].health_dashboard(snaps, gen.AS_OF, full)

        tl = SNAP.timeline(snaps, SNAP.SnapshotFilter(**self.TIMELINE_FILTER))
        with tr.span("browse.timeline.exec"):
            timeline = [(r.snapshot_id, r.operation) for r in tl.collect()]

        schemas_long = MJ.schemas_from_metadata_json(spark, [(full, path)])
        changes = SCH.evolution_changes(schemas_long)
        with tr.span("browse.schemas.exec"):
            change_rows = [(r.schema_id, r.field_id, r.change) for r in changes.collect()]

        with tr.span("browse.specs.exec"):
            with open(path) as f:
                doc = json.load(f)
            specs = spark.createDataFrame(MJ.partition_spec_rows_from_doc(full, doc), SPEC_SCHEMA)
            current = schemas_long.filter(F.col("schema_id") == doc["current-schema-id"])
            spec_rows = [(r.spec_id, r.field_id, r.source_field)
                         for r in SCH.partition_source_join(specs, current).collect()]

        props = P.table_properties(snaps)
        with tr.span("browse.properties.exec"):
            prop_map = dict(props.collect()[0].properties)
        return {"table": full, "path": path, "dash": dash, "timeline": timeline,
                "changes": change_rows, "specs": spec_rows, "props": prop_map}

    # ------------------------------------------------------------- checks
    def expect(self, spark, inputs: dict) -> list[dict]:
        """Per table, the answer recomputed in plain Python from its doc."""
        out = []
        flt = self.TIMELINE_FILTER
        for tb in inputs["tables"]:
            doc = tb["doc"]
            snaps = doc["snapshots"]
            ops = [s["summary"]["operation"] for s in snaps]
            kept = [s for s in snaps
                    if s["summary"]["operation"] in flt["operations"]
                    and int(s["summary"].get("added-data-files", flt["min_added_files"]))
                    >= flt["min_added_files"]]
            kept.sort(key=lambda s: (s["timestamp-ms"], s["snapshot-id"]), reverse=True)
            changes = []
            prev: dict[int, dict] = {}
            for sc in sorted(doc["schemas"], key=lambda s: s["schema-id"]):
                for f in sc["fields"]:
                    p = prev.get(f["id"])
                    if p is None:
                        c = "added"
                    elif p["type"] != f["type"]:
                        c = "type_changed"
                    elif p["required"] != f["required"]:
                        c = "requirement_changed"
                    elif p["name"] != f["name"]:
                        c = "renamed"
                    else:
                        c = "unchanged"
                    changes.append((sc["schema-id"], f["id"], c))
                    prev[f["id"]] = f
            cur = next(s for s in doc["schemas"] if s["schema-id"] == doc["current-schema-id"])
            names = {f["id"]: f["name"] for f in cur["fields"]}
            specs = [(s["spec-id"], f["field-id"], names.get(f["source-id"], f"Field {f['source-id']}"))
                     for s in doc["partition-specs"] for f in s["fields"]]
            latest = max(snaps, key=lambda s: (s["timestamp-ms"], s["snapshot-id"]))
            out.append({
                "table": tb["full_name"], "path": tb["path"],
                "n_snapshots": len(snaps),
                "delete_ratio": sum("delete" in o for o in ops) / len(ops),
                "freshness_hours": float((gen.AS_OF_MS - latest["timestamp-ms"]) // 3_600_000),
                "timeline": [(s["snapshot-id"], s["summary"]["operation"]) for s in kept],
                "changes": sorted(changes), "specs": sorted(specs),
                "props": {"commit.total-snapshots": str(len(snaps)),
                          "current-schema-id": str(latest["schema-id"])},
            })
        return out

    def check(self, expected: list[dict], i: int, ans: dict, ref) -> list[str]:
        exp = expected[i % len(expected)]
        errs = []
        if ans["table"] != exp["table"] or ans["path"] != exp["path"]:
            errs.append(f"discovered {ans['table']} at {ans['path']}, want {exp['path']}")
        dash = ans["dash"]
        if dash.get("empty") or dash["table_name"] != exp["table"]:
            errs.append("health dashboard empty or for another table")
        else:
            m = dash["metrics"]
            if m["n_snapshots"] != exp["n_snapshots"]:
                errs.append(f"n_snapshots {m['n_snapshots']} != {exp['n_snapshots']}")
            if abs(m["delete_ratio"] - exp["delete_ratio"]) > 1e-9:
                errs.append(f"delete_ratio {m['delete_ratio']} != {exp['delete_ratio']}")
            if m["data_freshness_hours"] != exp["freshness_hours"]:
                errs.append(f"data_freshness_hours {m['data_freshness_hours']} != "
                            f"{exp['freshness_hours']}")
            if not 0 <= dash["health_score"] <= 100:
                errs.append(f"health_score {dash['health_score']} out of range")
        if ans["timeline"] != exp["timeline"]:
            errs.append(f"timeline {len(ans['timeline'])} rows != {len(exp['timeline'])} "
                        f"(per op {Counter(o for _, o in ans['timeline'])} vs "
                        f"{Counter(o for _, o in exp['timeline'])})")
        if sorted(ans["changes"]) != exp["changes"]:
            errs.append(f"schema changes {Counter(c for *_, c in ans['changes'])} != "
                        f"{Counter(c for *_, c in exp['changes'])}")
        if sorted(ans["specs"]) != exp["specs"]:
            errs.append(f"partition specs {sorted(ans['specs'])} != {exp['specs']}")
        for k, v in exp["props"].items():
            if ans["props"].get(k) != v:
                errs.append(f"property {k}={ans['props'].get(k)!r}, want {v!r}")
        return errs


CURATE_QUERIES = ("doc_curation_pipeline", "doc_neardup_minhash", "doc_lang_stats",
                  "emb_cosine_topk")
NO_ORACLE = "doc_neardup_minhash"


def _canon(rows: list[tuple]) -> list[tuple]:
    """Rows with floats rounded to 5 dp (both sides round to 6 dp, so a
    half-way case may differ in the last digit), sorted by their text."""
    out = [tuple(round(v, 5) if isinstance(v, float) else v for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple(str(v) for v in r))


class Curate:
    name = "curate"
    MIN_TIMED_OPS = 2
    SIZES = {"full": {"n_docs": 8000, "n_vecs": 4000},
             "tiny": {"n_docs": 400, "n_vecs": 200}}

    def __init__(self, tiny: bool = False):
        self.size = self.SIZES["tiny" if tiny else "full"]

    def generate(self, work_dir: str, seed: int) -> dict:
        d = os.path.join(work_dir, "corpus")
        os.makedirs(d, exist_ok=True)
        facts = gen.make_corpus(d, seed, **self.size)
        return {"dir": d, **facts}

    def prepare(self, spark, inputs: dict, round_dir: str) -> None:
        from hielo_spark.session import configure

        configure(spark)

    def op(self, spark, inputs: dict, i: int, tr) -> dict:
        from hielo_spark.queries import QUERIES

        out = {}
        for q in CURATE_QUERIES:
            with tr.span("queries.build"):
                df = QUERIES[q](spark, inputs["dir"])
            with tr.span("queries.exec"):
                out[q] = (df.columns, [tuple(r) for r in df.collect()])
                spark.catalog.clearCache()  # minhash persists its signature frame
        return out

    # ------------------------------------------------------------- checks
    def expect(self, spark, inputs: dict) -> dict:
        """DuckDB oracle answers for every query that has one."""
        import duckdb

        from hielo_spark.queries import ORACLE

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                p = os.path.join(inputs["dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            out = {}
            for q in CURATE_QUERIES:
                if q != NO_ORACLE:
                    res = con.execute(ORACLE[q])
                    cols = [c[0] for c in res.description]
                    out[q] = (cols, res.fetchall())
        finally:
            con.close()
        out["near_pairs"] = inputs["near_pairs"]
        return out

    def check(self, expected: dict, i: int, ans: dict, ref) -> list[str]:
        errs = []
        for q in CURATE_QUERIES:
            cols, rows = ans[q]
            if q == NO_ORACLE:
                pairs = {(r[cols.index("id_a")], r[cols.index("id_b")]): r[cols.index("jaccard")]
                         for r in rows}
                missing = expected["near_pairs"] - pairs.keys()
                if missing:
                    errs.append(f"{q}: {len(missing)} planted near-duplicate pairs missing")
                if any(j < 0.5 for j in pairs.values()):
                    errs.append(f"{q}: pair below the 0.5 threshold")
                if ref is not None and _canon(rows) != _canon(ref[q][1]):
                    errs.append(f"{q}: {len(rows)} rows differ from the warm-up answer "
                                f"({len(ref[q][1])} rows)")
                continue
            ecols, erows = expected[q]
            got = [tuple(r[cols.index(c)] for c in ecols) for r in rows]
            if _canon(got) != _canon(erows):
                errs.append(f"{q}: {len(got)} rows differ from the oracle's {len(erows)}")
        return errs


LAKE_COLS = ("batch", "id", "cat", "amount")


def listing(root: str) -> dict[str, int]:
    """path → size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def file_class(path: str) -> str:
    """Which part of an Iceberg table a file is."""
    name = os.path.basename(path)
    if name.endswith(".metadata.json") or name == "version-hint.text":
        return "metadata_json"
    if name.startswith("snap-") and name.endswith(".avro"):
        return "manifest_list"
    if name.endswith(".avro"):
        return "manifest"
    return "data"


def table_shape(table: str) -> dict:
    """Live files, manifests and rows of the current snapshot, and the
    files on disk."""
    from hielo_spark.metadata.avro_py import read_avro_file
    from hielo_spark.metadata.commit import current_metadata_path

    with open(current_metadata_path(table).removeprefix("file:")) as f:
        doc = json.load(f)
    snap = next(s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"])
    summ = snap["summary"]
    mlist = snap["manifest-list"].removeprefix("file:")
    if not os.path.isabs(mlist):
        mlist = os.path.join(table, mlist)
    files = listing(table)
    return {
        "live_data_files": int(summ.get("total-data-files", 0)),
        "live_delete_files": int(summ.get("total-delete-files", 0)),
        "live_manifests": len(read_avro_file(mlist)[2]),
        "live_rows": int(summ.get("total-records", 0)) - int(summ.get("total-position-deletes", 0)),
        "data_files_on_disk": sum(p.endswith(".parquet") for p in files),
        "metadata_files": sum(os.path.dirname(p) == os.path.join(table, "metadata")
                              for p in files),
        "disk_bytes": sum(files.values()),
    }


# the part of the shape that must be the same at every cycle start; the
# metadata directory and the files beside the data files (.crc, _SUCCESS)
# are left out because the program never reclaims them
STATIONARY = ("live_data_files", "live_delete_files", "live_manifests", "live_rows",
              "data_files_on_disk")


class LakehouseRW:
    """One op is one write cycle on a table that holds ``live_batches``
    batches at every cycle start: append batch b0 through
    ``commit.append`` and b1 through ``df.write.format("hielo_iceberg")``,
    read each back through ``manifests.read_table`` and the DataSource
    right after it lands, delete the two oldest batches with
    ``commit.delete_where``, then compact, expire and sweep orphans."""

    name = "lakehouse_rw"
    MIN_TIMED_OPS = 1
    SIZES = {"full": {"rows": 1000, "live_batches": 4, "n_batches": 48},
             "tiny": {"rows": 50, "live_batches": 2, "n_batches": 24}}

    def __init__(self, tiny: bool = False):
        self.size = self.SIZES["tiny" if tiny else "full"]

    def generate(self, work_dir: str, seed: int) -> dict:
        d = os.path.join(work_dir, "batches")
        os.makedirs(d, exist_ok=True)
        return {"batches": gen.make_batches(d, seed, self.size["n_batches"], self.size["rows"]),
                "live": self.size["live_batches"]}

    def prepare(self, spark, inputs: dict, round_dir: str) -> None:
        from hielo_spark.metadata import commit as C
        from hielo_spark.sources.iceberg_source import register

        register(spark)
        table = os.path.join(round_dir, "lake", "ns", "events")
        paths = [inputs["batches"][b]["path"] for b in range(inputs["live"])]
        C.append(spark, table, spark.read.parquet(*paths))
        inputs["table"] = table
        inputs["files"] = listing(table)

    def op(self, spark, inputs: dict, i: int, tr) -> dict:
        from hielo_spark.metadata import commit as C
        from hielo_spark.ops.analysis import remove_orphan_files

        t, live, batches = inputs["table"], inputs["live"], inputs["batches"]
        b0, b1 = live + 2 * i, live + 2 * i + 1
        if b1 >= len(batches):
            raise RuntimeError(f"op {i} needs batch {b1}; only {len(batches)} were generated")
        steps: list[tuple[str, float]] = []
        written: Counter = Counter()
        files = inputs["files"]

        def step(kind, fn):
            t0 = time.perf_counter()
            out = fn()
            steps.append((kind, time.perf_counter() - t0))
            return out

        def account(kind):
            nonlocal files
            with tr.span("lake.ls"):
                now = listing(t)
            for p, size in now.items():
                if files.get(p) != size:
                    written[f"{kind}.{file_class(p)}"] += size
            files = now

        def write_ds():
            with tr.span("lake.write_ds"):
                (spark.read.parquet(batches[b1]["path"])
                 .write.format("hielo_iceberg").mode("append").save(t))

        def maintain():
            C.rewrite_data_files(spark, t)
            account("rewrite")
            cutoff = int(time.time() * 1000) + 1000
            C.expire_snapshots(t, older_than_ms=cutoff, retain_last=1)
            account("expire")
            removed = remove_orphan_files(spark, os.path.join(t, "data"),
                                          C.current_metadata_path(t), older_than_ms=cutoff)
            account("orphans")
            return len(removed)

        reads = {}
        step("commit", lambda: C.append(spark, t, spark.read.parquet(batches[b0]["path"])))
        account("append")
        reads[b0] = self._read_both(spark, t, b0, tr, step)
        step("commit", write_ds)
        account("write_ds")
        reads[b1] = self._read_both(spark, t, b1, tr, step)
        step("commit", lambda: C.delete_where(spark, t, f"batch < {b0 + 2 - live}"))
        account("delete")
        removed = step("maint", maintain)
        inputs["files"] = files
        return {"batches": (b0, b1), "reads": reads, "steps": steps, "written": dict(written),
                "files_removed": removed,
                "user_bytes": batches[b0]["bytes"] + batches[b1]["bytes"]}

    @staticmethod
    def _read_both(spark, t, b, tr, step) -> dict:
        import pyspark.sql.functions as F

        from hielo_spark.metadata import manifests as M

        def read_manifests():
            df = M.read_table(spark, t, where=("batch", "=", b)).select(*LAKE_COLS)
            with tr.span("lake.read_m.exec"):
                rows = [tuple(r) for r in df.collect()]
            if tr.enabled:
                with tr.probe():
                    scanned = [p.removeprefix("file:") for p in df.inputFiles()]
                    tr.count("manifests.reads")
                    tr.count("manifests.files_scanned", len(scanned))
                    tr.count("manifests.files_useful", sum(_holds_batch(p, b) for p in scanned))
            return rows

        def read_source():
            with tr.span("lake.read_ds"):
                df = spark.read.format("hielo_iceberg").load(t).filter(F.col("batch") == b)
                return [tuple(r) for r in df.select(*LAKE_COLS).collect()]

        return {"manifests": step("read", read_manifests), "source": step("read", read_source)}

    def after_op(self, spark, inputs: dict, i: int, ans: dict) -> None:
        ans["end_shape"] = table_shape(inputs["table"])

    # ------------------------------------------------------------- checks
    def expect(self, spark, inputs: dict) -> dict:
        return {"rows": [b["rows"] for b in inputs["batches"]]}

    def check(self, expected: dict, i: int, ans: dict, ref) -> list[str]:
        errs = []
        for b, planes in ans["reads"].items():
            for plane, rows in planes.items():
                got = sorted(rows, key=lambda r: r[1])
                if got != expected["rows"][b]:
                    errs.append(f"read-after-write of batch {b} through {plane}: {len(got)} rows "
                                f"differ from the {len(expected['rows'][b])} appended")
        if ref is not None:
            want = {k: ref["end_shape"][k] for k in STATIONARY}
            got = {k: ans["end_shape"][k] for k in STATIONARY}
            if got != want:
                errs.append(f"table shape after the cycle {got} != after the first cycle {want}")
        return errs

    def final_check(self, spark, inputs: dict, expected: dict, last: dict) -> list[str]:
        """Full read through both planes against the live batches."""
        from hielo_spark.metadata import manifests as M

        b1 = last["batches"][1]
        want = sorted((r for b in range(b1 + 1 - inputs["live"], b1 + 1)
                       for r in expected["rows"][b]), key=lambda r: r[1])
        t = inputs["table"]
        errs = []
        for plane, df in (("manifests", M.read_table(spark, t)),
                          ("source", spark.read.format("hielo_iceberg").load(t))):
            got = sorted((tuple(r) for r in df.select(*LAKE_COLS).collect()), key=lambda r: r[1])
            if got != want:
                errs.append(f"full read through {plane}: {len(got)} rows differ from the "
                            f"{len(want)} live rows")
        return errs


def _holds_batch(path: str, b: int) -> bool:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["batch"]).column("batch")
    return bool(pc.any(pc.equal(col, b)).as_py())


WORKLOADS = {w.name: w for w in (TableBrowse, Curate, LakehouseRW)}
