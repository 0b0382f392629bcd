"""The two workloads: what one operation does, the closed loop that runs
operations until the deadline, and the checks of what they wrote.

Every workload runs ``min_ops`` operations whatever the deadline, so each
per-run median rests on several samples and the count metrics come from
the same seeded inputs on every run; timings cover every operation started
before the deadline.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import checks
import gen
import stats
from spans import OFF

from slice_db_spark import session
from slice_db_spark.config.graph import topo_levels
from slice_db_spark.config.model import Root
from slice_db_spark.functions import build_registry, transform_dataframe
from slice_db_spark.plans.restore import restore_to_parquet
from slice_db_spark.plans.subset import Subsetter
from slice_db_spark.plans.tpch import tpch_schema
from slice_db_spark.sources.slice import read_slice, write_slice
from slice_db_spark.streaming.corpus import ingest_corpus_stream

PEPPER = "perfbench-pepper"
# table -> (key column, scrubbed column) and the transform per column
SCRUB = {"customer": ("c_custkey", "c_name"), "supplier": ("s_suppkey", "s_name")}
SCRUB_SPECS = {
    "c_name": {"class": "GivenNameTransform"},
    "s_name": {"class": "AlphanumericTransform", "config": {"unique": True}},
}


class Loop:
    """Closed-loop bookkeeping: one client, the next operation starts when
    the previous one has returned.  A traced run stops only at the end of
    a whole tracing block (see :func:`traced`)."""

    def __init__(self, ctx, seconds: float, min_ops: int, block: int):
        self.deadline = time.perf_counter() + seconds
        self.block = block if ctx.trace else 1
        self.min_ops = max(min_ops, self.block)
        self.done = 0

    def more(self) -> bool:
        return (self.done < self.min_ops or self.done % self.block != 0
                or time.perf_counter() < self.deadline)


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _rate(items: float, seconds: float) -> float:
    return items / seconds if seconds > 0 else 0.0


#: a traced run traces its timed operations in blocks of four: untraced,
#: traced, traced, untraced
TRACE_BLOCK = 4


def traced(ctx, j: int) -> bool:
    """Whether a traced run traces its ``j``-th timed operation.  The ABBA
    order gives traced and untraced operations the same mean position in
    the run, so a drift that is linear in position (the JIT still warming
    up, an index growing between batches) cancels out of the tracing
    overhead, the traced mean minus the untraced mean."""
    return ctx.trace and j % TRACE_BLOCK in (1, 2)


def overhead(ops: list[dict], key) -> float:
    """Tracing overhead of a traced run: mean ``key`` of its traced
    operations minus that of its untraced ones (whole ABBA blocks)."""
    t = [key(o) for o in ops if o["traced"]]
    u = [key(o) for o in ops if not o["traced"]]
    return stats.mean(t) - stats.mean(u) if t and u else 0.0


# ------------------------------------------------------------ slice_small


class SliceSmall:
    """Dump a ~20-customer slice (closure of ~3.4k keys over 5 rounds,
    driver regime), scrub 2 columns, write parquet, then restore it."""

    name = "slice_small"
    min_ops = 2
    WARM = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.schema = tpch_schema()
        self.tables = tuple(self.schema.tables)
        self.data = gen.tpch_dir(ctx.inputs)
        self.source_bytes = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet")) for t in self.tables
        )
        self.row_counts = session.parquet_row_counts(self.data, self.tables)
        self.registry, _ = build_registry(SCRUB_SPECS, PEPPER)
        # the first warm_n root sets warm up; the rest feed the timed loop.  A
        # traced run warms up one dump more, so its tracing blocks start
        # after the first timed dump, which runs slower than the ones after it
        self.warm_n = self.WARM + ctx.trace
        self.roots = gen.slice_roots(ctx.seed, self.data, 100)
        self.ops: list[dict] = []

    def catalog(self, tr):
        with tr.span("session.load_catalog"):
            return session.load_catalog(self.ctx.spark, self.data, tables=self.tables)

    def dump(self, roots: list[int], out: str, tr) -> dict:
        """One dump as the CLI runs it: open the catalog, traverse, export,
        scrub, write."""
        spark = self.ctx.spark
        traced = tr is not OFF
        cat = self.catalog(tr)
        eng = Subsetter(spark, cat, self.schema, table_rows=self.row_counts)
        keys = ", ".join(str(k) for k in roots)
        with tr.span("subset.run"):
            res = eng.run([Root("customer", f"c_custkey IN ({keys})")])
        with tr.span("subset.export"):
            tables = eng.export(res)
            persisted = list(tables.values()) if traced else []
            for df in persisted:  # export is lazy: force it at its own boundary
                df.persist().count()
        with tr.span("transforms.scrub"):
            for t, (_key, col) in SCRUB.items():
                if t in tables:
                    tables[t] = transform_dataframe(tables[t], {col: self.registry[col]})
                    if traced:  # lazy too: scrub once here, and write_slice reads the cache
                        persisted.append(tables[t].persist())
                        tables[t].write.format("noop").mode("overwrite").save()
        with tr.span("slice.write"):
            manifest = write_slice(tables, self.schema, out)
        for df in persisted:
            df.unpersist()
        return {"roots": roots, "slice": out, "rounds": res.rounds,
                "rows": sum(rows_of(manifest, t) for t in manifest.tables),
                "keys": sum(res.row_counts.values()),
                "lifted": int(any(h.get("mode") == "dist" for h in res.history)),
                "scrub_rows": sum(rows_of(manifest, t) for t in SCRUB)}

    def restore(self, slice_dir: str, target: str, tr) -> None:
        with tr.span("slice.read"):
            tables, _ = read_slice(self.ctx.spark, slice_dir)
        with tr.span("restore.write"):
            restore_to_parquet(tables, self.schema, target)

    def catalog_s(self) -> float:
        """Median seconds of several catalog opens, counted into set-up."""
        return stats.median([_timed(lambda: self.catalog(OFF))[1] for _ in range(5)])

    def warm(self) -> None:
        for i in range(self.warm_n):
            d = os.path.join(self.ctx.run_dir, f"warm{i}")
            self.dump(self.roots[i], os.path.join(d, "slice"), OFF)
            self.restore(os.path.join(d, "slice"), os.path.join(d, "target"), OFF)

    def run(self, seconds: float) -> None:
        """Each operation is one dump and the restore of that dump."""
        loop = Loop(self.ctx, seconds, self.min_ops, TRACE_BLOCK)
        while loop.more():
            i = loop.done
            tr = self.ctx.tracer if traced(self.ctx, i) else OFF
            d = os.path.join(self.ctx.run_dir, f"op{i:03d}")
            op = {"traced": tr is not OFF}
            try:
                dump, op["dump_s"] = _timed(
                    lambda: self.dump(self.roots[self.warm_n + i], os.path.join(d, "slice"), tr))
                op.update(dump)
                op["target"] = os.path.join(d, "target")
                _, op["restore_s"] = _timed(lambda: self.restore(op["slice"], op["target"], tr))
            except Exception as e:  # a failed operation is counted, not fatal
                op["error"] = repr(e)
            self.ops.append(op)
            loop.done += 1

    def check(self) -> list[str]:
        problems = []
        oracle = checks.Oracle(self.data)
        try:
            for i, op in enumerate(self.ops):
                if "error" in op:
                    problems.append(f"op {i}: {op['error']}")
                    continue
                p = checks.check_closure(checks.slice_keys(op["slice"]),
                                         oracle.closure(op["roots"]))
                p += checks.check_scrub(op["slice"], self.data, SCRUB, self.registry)
                with open(os.path.join(op["slice"], "manifest.json")) as f:
                    manifest = json.load(f)
                p += checks.check_restore(op["target"], manifest, self.schema)
                op["ok"] = not p
                problems += [f"op {i}: {x}" for x in p]
        finally:
            oracle.close()
        return problems

    def metrics(self) -> dict:
        ok = [o for o in self.ops if "error" not in o]
        timed = [o for o in ok if not o["traced"]] or ok
        dumps = [o["dump_s"] for o in timed]
        restores = [o["restore_s"] for o in timed]
        written = sum(checks.dir_bytes(o[k]) for o in ok for k in ("slice", "target"))
        return {
            "primary_p50_s": stats.median(dumps),
            "primary_items_per_s": _rate(sum(o["rows"] for o in timed), sum(dumps)),
            "secondary_p50_s": stats.median(restores),
            "write_amp": written / (len(ok) * self.source_bytes),
            "samples": dumps,
        }

    def report(self, m: dict) -> list[tuple[str, float, str]]:
        t = stats.tail(m["samples"])
        return [("dump_p50_s", m["primary_p50_s"], "s"),
                ("restore_p50_s", m["secondary_p50_s"], "s"),
                ("slice_rows_per_s", m["primary_items_per_s"], "1/s"),
                ("dump_tail_s", t[0], f"s (p{t[1]:.0f} of {t[2]} samples)") if t else
                ("dump_tail_s", float("nan"), f"s (needs 11 samples, has {len(m['samples'])})")]

    def samples(self) -> dict[str, list[float]]:
        return {k: [o[k] for o in self.ops if k in o] for k in ("dump_s", "restore_s")}

    def layers(self) -> dict:
        """Counts of the first traced dump, whose roots are the same for a
        seed on every run."""
        ok = [o for o in self.ops if "error" not in o]
        first = next(o for o in ok if o["traced"])
        return {
            "subset.rounds": first["rounds"],
            "subset.keys": first["keys"],
            "subset.lifted": first["lifted"],
            "transforms.rows": first["scrub_rows"],
            "slice.bytes": checks.dir_bytes(first["slice"]),
            "slice.files": len(glob.glob(os.path.join(first["slice"], "*", "*.parquet"))),
            "restore.levels": len(topo_levels(self.schema, list(self.tables))),
            "restore.bytes": checks.dir_bytes(first["target"]),
            "trace.overhead_s": overhead(ok, lambda o: o["dump_s"] + o["restore_s"]),
        }


def rows_of(manifest, table: str) -> int:
    meta = manifest.tables.get(table)
    return sum(s["rowCount"] for s in meta["segments"]) if meta else 0


# ---------------------------------------------------------- corpus_ingest


class CorpusIngest:
    """One-file micro-batches of a seeded JSONL landing set through
    ``ingest_corpus_stream``: quality gate, exact, LSH and span dedup, with
    both indexes persisted and growing between batches.  A drain is one
    pass over the landing set in fresh directories.  The drain's first
    batch is the untimed warm-up, so every timed batch probes indexes that
    earlier batches grew."""

    name = "corpus_ingest"
    min_ops = 2
    WARM = 1
    INDEXES = ("lsh", "span")
    REJECTS = ("rejects", "quarantine")  # quality gate, malformed rows

    def __init__(self, ctx):
        self.ctx = ctx
        self.truth = gen.load(gen.corpus_dir(ctx.inputs, ctx.seed))
        self.files = sorted(self.truth["files"])
        # a traced run warms up one batch more, so its tracing blocks start
        # after the first batch that probes non-empty indexes, which runs
        # slower than the ones after it
        self.warm_n = self.WARM + ctx.trace
        self.warm_ops: list[dict] = []
        self.ops: list[dict] = []
        self.index_counts: dict = {}

    def batch(self, src: str, d: str, tr) -> dict:
        """Land one file and drain it as one micro-batch."""
        land = os.path.join(d, "land")
        os.makedirs(land, exist_ok=True)
        shutil.copy2(src, land)
        t = time.perf_counter()
        with tr.span("corpus.batch"):
            q = ingest_corpus_stream(
                self.ctx.spark, land, os.path.join(d, "corpus"), os.path.join(d, "ckpt"),
                quarantine=os.path.join(d, "quarantine"), min_quality=0.45,
                rejects=os.path.join(d, "rejects"), lsh_index=os.path.join(d, "lsh"),
                span_index=os.path.join(d, "span"), max_files_per_trigger=1)
            tr.watch(str(q.runId))
        return dict(_progress(q), call_s=time.perf_counter() - t,
                    rows=len(self.truth["files"][src]))

    def _step(self, n: int, tr) -> dict:
        """The run's n-th micro-batch, warm-up included; a drain that ran
        out of files restarts in fresh directories."""
        drain, pos = divmod(n, len(self.files))
        b = {"file": self.files[pos], "traced": tr is not OFF,
             "drain": os.path.join(self.ctx.run_dir, f"drain{drain:02d}")}
        # index rows this batch probes, read outside its timings
        b["probe_rows"] = {x: checks.parquet_rows_files(os.path.join(b["drain"], x))[0]
                           for x in self.INDEXES}
        try:
            b.update(self.batch(b["file"], b["drain"], tr))
        except Exception as e:  # a failed operation is counted, not fatal
            b["error"] = repr(e)
        return b

    def warm(self) -> None:
        self.warm_ops = [self._step(n, OFF) for n in range(self.warm_n)]

    def run(self, seconds: float) -> None:
        loop = Loop(self.ctx, seconds, self.min_ops, TRACE_BLOCK)
        while loop.more():
            i = loop.done
            tr = self.ctx.tracer if traced(self.ctx, i) else OFF
            self.ops.append(self._step(self.warm_n + i, tr))
            loop.done += 1
            if self.ctx.trace and loop.done == TRACE_BLOCK:
                self.index_counts = self._index_counts(self.ops[0]["drain"])

    def _index_counts(self, d: str) -> dict:
        """Index sizes after the warm-up and the first tracing block, which
        run on every seed whatever the deadline."""
        out = {}
        for name in self.INDEXES:
            rows, nfiles = checks.parquet_rows_files(os.path.join(d, name))
            out[f"dedup.{name}_index_rows"], out[f"dedup.{name}_index_files"] = rows, nfiles
        out["dedup.index_bytes"] = sum(checks.dir_bytes(os.path.join(d, s))
                                       for s in self.INDEXES)
        return out

    def _sent(self, batches: list[dict]) -> dict[int, bytes]:
        """Content by id of every document the given batches sent."""
        return {i: self.truth["content"][i] for b in batches
                for i in self.truth["files"][b["file"]]}

    def _outcome(self, drain: str) -> dict:
        """Ids the drain landed, rejected (quality gate or quarantine) and
        dropped as near duplicates, read back from the sinks."""
        import pyarrow.parquet as pq

        out = glob.glob(os.path.join(drain, "corpus", "**", "*.parquet"), recursive=True)
        landed = pq.ParquetDataset(out).read(columns=["doc_id", "content_hash"]).to_pydict() \
            if out else {"doc_id": [], "content_hash": []}
        return {"landed": landed["doc_id"], "hashes": landed["content_hash"],
                "rejected": [i for r in self.REJECTS
                             for i in _json_ids(os.path.join(drain, r), "doc_id")],
                "near": _json_ids(os.path.join(drain, "rejects.neardup"), "doc_id")}

    def _drains(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for b in self.warm_ops + self.ops:
            out.setdefault(b["drain"], []).append(b)
        return out

    def check(self) -> list[str]:
        problems = [f"batch {i}: {b['error']}" for i, b in enumerate(self.warm_ops + self.ops)
                    if "error" in b]
        for d, bs in self._drains().items():
            o = self._outcome(d)
            problems += checks.check_ingest(
                os.path.basename(d), self._sent([b for b in bs if "error" not in b]),
                o["landed"], o["rejected"], o["near"], o["hashes"])
        return problems

    def metrics(self) -> dict:
        ok = [b for b in self.ops if "error" not in b]
        timed = [b for b in ok if not b["traced"]] or ok
        written = sum(checks.dir_bytes(os.path.join(d, sub)) for d in self._drains()
                      for sub in ("corpus",) + self.INDEXES)
        landed = [b for b in self.warm_ops + ok if "error" not in b]
        return {
            "primary_p50_s": stats.median([b["trigger_s"] for b in timed]),
            "primary_items_per_s": _rate(sum(b["rows"] for b in timed),
                                         sum(b["call_s"] for b in timed)),
            "secondary_p50_s": stats.median([b["call_s"] for b in timed]),
            "write_amp": written / sum(os.path.getsize(b["file"]) for b in landed),
        }

    def samples(self) -> dict[str, list[float]]:
        out = {k: [b[k] for b in self.ops if k in b] for k in ("trigger_s", "call_s")}
        for x in self.INDEXES:
            out[f"probe_{x}_rows"] = [b["probe_rows"][x] for b in self.ops]
        return out

    def catalog_s(self) -> float:
        return 0.0  # the stream opens no catalog

    def report(self, m: dict) -> list[tuple[str, float, str]]:
        return [("ingest_batch_p50_s", m["primary_p50_s"], "s"),
                ("ingest_docs_per_s", m["primary_items_per_s"], "1/s"),
                ("ingest_call_p50_s", m["secondary_p50_s"], "s")]

    def layers(self) -> dict:
        """Counts over the warm-up and the first tracing block."""
        first = [b for b in self.warm_ops + self.ops[:TRACE_BLOCK] if "error" not in b]
        traced_ = [b for b in first if b["traced"]]
        out = dict(self.index_counts)
        out["corpus.batches"] = len(first)
        for k in ("add_batch_s", "wal_commit_s"):
            out[f"corpus.{k}"] = stats.median([b[k] for b in traced_])
        sent = self._sent(first)
        o = self._outcome(self.ops[0]["drain"])
        landed = set(o["landed"]) & set(sent)
        rejected = set(o["rejected"]) & set(sent)
        out["corpus.docs_landed"] = len(landed)
        out["corpus.docs_rejected"] = len(rejected)
        out["corpus.docs_dropped"] = len(sent) - len(landed) - len(rejected)
        pairs = [(s, e) for s, e in self.truth["copies"] + self.truth["edits"]
                 if s in sent and e in sent]
        out["corpus.planted_dup_recall"] = (
            sum(1 for s, e in pairs if not {s, e} <= landed) / len(pairs) if pairs else 1.0)
        out["trace.overhead_s"] = overhead([b for b in self.ops if "error" not in b],
                                           lambda b: b["call_s"])
        return out


def _json_ids(path: str, col: str) -> list[int]:
    ids = []
    for f in glob.glob(os.path.join(path, "**", "*.json"), recursive=True):
        with open(f) as fh:
            ids += [int(json.loads(line)[col]) for line in fh if line.strip()]
    return ids


def _progress(q) -> dict:
    """Timings of the query's one micro-batch from the public
    ``StreamingQuery.recentProgress`` (its ``numInputRows`` counts every
    re-scan of the batch, so row counts come from the landing files)."""
    prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if len(prog) != 1:
        raise RuntimeError(f"expected one micro-batch with input, got {len(prog)}")
    p = prog[0]
    dur = p["durationMs"]
    return {"trigger_s": dur["triggerExecution"] / 1000.0,
            "add_batch_s": dur.get("addBatch", 0) / 1000.0,
            "wal_commit_s": dur.get("walCommit", 0) / 1000.0}


WORKLOADS = {w.name: w for w in (SliceSmall, CorpusIngest)}

