"""Per-layer tracing, assembled from outside the engine.

The tracer monkeypatches, for the duration of a traced run only:

- the public layer entry points (``StateStore`` methods, the wave /
  fetch / process plan builders, the URL-seen filter builders, inserts
  and splits, ``warc_export``/``save_warc_files`` and the training
  export) — each call becomes a span of its layer;
- the PySpark action entry points (``collect``, ``toPandas``,
  ``localCheckpoint``, ``isEmpty``, ``count``, the ``DataFrameWriter``
  saves, ``Observation.get``) — each call becomes a span charged to the
  innermost ``chronicrawl_spark`` frame on the stack, so lazy layers are
  charged where their work actually runs.  Inside ``crawl.py`` the call
  site (function, line, live locals) names the layer: the extraction
  count is ``process``, the bloom OR-in transfer is ``seen``, and so on.

Every span sets a Spark job group ``cb<wave>|<layer>``; stage metrics per
layer come from the status REST API of the (traced-run-only) UI.  Span
self time = its duration minus its children's; per wave the root span's
self time is the unattributed remainder, so self times plus remainder add
up to the wave's ``step()`` time.  The tracer's own bookkeeping (stack
walks, driver-side filter probes, file-size walks) is timed separately and
reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import functools
import json
import linecache
import os
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "50",
}

WAVE_LAYERS = ("crawl", "tables", "wave", "fetchsim", "process", "udfs", "seen")
EXPORT_LAYERS = ("warcfile", "training_export")
PHASES = (
    "nv_min", "wave_select", "wave_stats", "exchange", "metrics_agg", "visits_warc_append",
    "origins_merge", "sitemap_merge", "frontier_merge", "metrics_append", "bloom_commit",
)

MODULE_LAYER = {
    "chronicrawl_spark.tables": "tables",
    "chronicrawl_spark.operators.wave": "wave",
    "chronicrawl_spark.sources.fetchsim": "fetchsim",
    "chronicrawl_spark.operators.process": "process",
    "chronicrawl_spark.sources.content": "process",
    "chronicrawl_spark.functions.udfs": "udfs",
    "chronicrawl_spark.functions.urlkit": "udfs",
    "chronicrawl_spark.functions.hashing": "udfs",
    "chronicrawl_spark.operators.seen": "seen",
    "chronicrawl_spark.operators.cuckoo": "seen",
    "chronicrawl_spark.warcfile": "warcfile",
    "chronicrawl_spark.extras.training_export": "training_export",
    "chronicrawl_spark.extras.imaging": "training_export",
}


def _crawl_callsite(func: str, kind: str, line: str, local_names) -> tuple[str, str]:
    """Layer of an action issued directly from ``crawl.py``."""
    if func == "step":
        if kind == "Observation.get":
            return "wave", "stats"
        if "exch" in local_names:
            return ("fetchsim", "exchange") if kind == "localCheckpoint" else ("crawl", "metrics_agg")
        return "wave", "nv_min" if "nv_min" in line else "select"
    if func == "_discover":
        if kind == "toPandas":
            return "seen", "or_in"
        if "limit(1)" in line:
            return "seen", "verify"
        return "process", "extract"
    return "crawl", func


class _Span:
    __slots__ = ("layer", "name", "t0", "child", "parent_group", "outer")

    def __init__(self, layer, name, parent_group, outer):
        self.layer, self.name = layer, name
        self.t0 = self.child = 0.0
        self.parent_group = parent_group
        self.outer = outer  # no enclosing span of the same layer.name


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[_Span] = []
        self.patches: list[tuple] = []
        self.scope = None  # "w<n>" inside a wave, "export" in the export phase
        self.n_waves = 0
        self.in_action = False
        # (scope, layer, name) → [inclusive seconds of outermost spans, self seconds]
        self.spans: dict = defaultdict(lambda: [0.0, 0.0])
        self.counts: dict = defaultdict(float)
        self.waves: list[dict] = []
        self.overhead = 0.0
        self.problems: list[str] = []
        self._wave_store = None
        self._files_before = 0
        self._pending = None  # this wave's (candidates, maybe-seen, definite-new)

    # ------------------------------------------------------------ spans
    def _group(self, layer: str) -> str:
        return f"cb{self.scope}|{layer}"

    def _enter(self, layer: str, name: str) -> _Span:
        outer = not any(s.layer == layer and s.name == name for s in self.stack)
        parent = self.stack[-1] if self.stack else None
        sp = _Span(layer, name, self._group(parent.layer) if parent else None, outer)
        self.sc.setJobGroup(self._group(layer), f"{layer}.{name}")
        self.stack.append(sp)
        sp.t0 = time.perf_counter()
        return sp

    def _exit(self, sp: _Span) -> float:
        dur = time.perf_counter() - sp.t0
        self.stack.pop()
        if self.stack:
            self.stack[-1].child += dur
        rec = self.spans[(self.scope, sp.layer, sp.name)]
        if sp.outer:
            rec[0] += dur
        rec[1] += dur - sp.child
        if sp.parent_group:
            self.sc.setJobGroup(sp.parent_group, "")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return dur

    def _active(self) -> bool:
        return self.scope is not None

    # ---------------------------------------------------------- patching
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, wrapper_factory(orig))
        self.patches.append((owner, attr, orig))

    def _layer_wrapper(self, layer: str, name: str, before=None, after=None):
        def factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not self._active():
                    return orig(*a, **kw)
                ctx = self._book(before, a, kw) if before else None
                sp = self._enter(layer, name)
                try:
                    out = orig(*a, **kw)
                finally:
                    self._exit(sp)
                if after:
                    self._book(after, a, kw, out, ctx)
                return out

            return wrapper

        return factory

    def _book(self, fn, *args):
        """Run tracer bookkeeping outside every span; time it as overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead += time.perf_counter() - t0

    def _attribute(self, kind: str) -> tuple[str, str]:
        f = sys._getframe(2)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith("chronicrawl_spark"):
                if mod == "chronicrawl_spark.crawl":
                    line = linecache.getline(f.f_code.co_filename, f.f_lineno)
                    return _crawl_callsite(f.f_code.co_name, kind, line, f.f_locals)
                layer = MODULE_LAYER.get(mod)
                if layer is None and self.stack:
                    layer = self.stack[-1].layer
                return layer or "crawl", f.f_code.co_name
            f = f.f_back
        return (self.stack[-1].layer if self.stack else "crawl"), "action"

    def _action_wrapper(self, kind: str, after=None):
        def factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not self._active() or self.in_action:
                    return orig(*a, **kw)
                layer, name = self._book(self._attribute, kind)
                sp = self._enter(layer, name)
                self.in_action = True
                try:
                    out = orig(*a, **kw)
                finally:
                    self.in_action = False
                    self._exit(sp)
                if after:
                    self._book(after, layer, name, out)
                return out

            return wrapper

        return factory

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter, Observation
        from pyspark.sql.classic.dataframe import DataFrame

        import chronicrawl_spark.crawl as crawl
        import chronicrawl_spark.extras.training_export as te
        import chronicrawl_spark.operators.cuckoo as cuckoo
        import chronicrawl_spark.operators.process as process
        import chronicrawl_spark.operators.seen as seen
        import chronicrawl_spark.operators.wave as wave
        import chronicrawl_spark.sources.fetchsim as fetchsim
        import chronicrawl_spark.tables as tables
        import chronicrawl_spark.warcfile as warcfile

        L = self._layer_wrapper
        S = tables.StateStore
        for attr in ("merge", "merge_mixed"):
            self._patch(S, attr, L("tables", "merge", after=self._after_merge))
        for attr in ("append", "append_rows"):
            self._patch(S, attr, L("tables", "append", before=self._before_append, after=self._after_append))
        self._patch(S, "commit", L("tables", "commit"))
        for attr in ("read", "read_staged", "read_keys", "read_pruned"):
            self._patch(S, attr, L("tables", "read", before=self._before_read))
        self._patch(S, "save_bloom", L("seen", "save"))
        self._patch(S, "load_bloom", L("seen", "load"))
        self._patch(crawl.CrawlEngine, "step", L("crawl", "step"))
        for mod in (wave, crawl):
            self._patch(mod, "select_wave", L("wave", "select"))
            self._patch(mod, "eligible_origins", L("wave", "select"))
        for mod in (fetchsim, crawl):
            self._patch(mod, "simulate_fetch", L("fetchsim", "exchange"))
            self._patch(mod, "prepare_site", L("fetchsim", "prepare_site"))
        for mod in (process, crawl):
            self._patch(mod, "process_success_rows", L("process", "extract"))
        self._patch(seen, "build_bloom_sharded", L("seen", "build"))
        self._patch(seen, "or_in_collected", L("seen", "or_in", before=self._before_or_in))
        self._patch(seen, "split_by_bloom", L("seen", "split"))
        self._patch(cuckoo, "build_cuckoo_sharded", L("seen", "build"))
        self._patch(cuckoo, "insert_collected", L("seen", "or_in"))
        self._patch(cuckoo, "insert_sharded", L("seen", "or_in"))
        self._patch(cuckoo, "split_by_cuckoo", L("seen", "split"))
        self._patch(warcfile, "warc_export", L("warcfile", "export"))
        self._patch(warcfile, "save_warc_files", L("warcfile", "export", after=self._after_save_warc))
        self._patch(te, "export_training_shards", L("training_export", "export", after=self._after_te))
        self._patch(te, "select_training_set", L("training_export", "select"))

        A = self._action_wrapper
        self._patch(DataFrame, "collect", A("collect", after=self._after_collect))
        for attr in ("toPandas", "localCheckpoint", "isEmpty", "count", "first", "take", "head"):
            self._patch(DataFrame, attr, A(attr, after=self._after_collect if attr == "toPandas" else None))
        for attr in ("save", "parquet", "json", "csv", "text", "orc", "insertInto", "saveAsTable"):
            self._patch(DataFrameWriter, attr, A("write"))
        get = Observation.__dict__["get"]
        Observation.get = property(A("Observation.get", after=self._after_collect)(get.fget))
        self.patches.append((Observation, "get", get))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches = []

    # -------------------------------------------------------- bookkeeping
    def _before_read(self, a, kw):
        """Materialize the discovered locations' URL identity (``url_parts``)
        in its own ``udfs`` span before ``_discover`` reads the origins keys:
        ``locs`` is persisted by the engine, so the later OR-in transfer
        reuses it instead of hashing inside the ``seen`` span."""
        f = sys._getframe(3)
        if f.f_code.co_name != "_discover" or "locs" not in f.f_locals or "pre_existing" in f.f_locals:
            return
        locs = f.f_locals["locs"]
        sp = self._enter("udfs", "url_parts")
        self.in_action = True
        try:
            n = locs.count()
        finally:
            self.in_action = False
            self.overhead -= self._exit(sp)  # real work, not bookkeeping
        self.counts["udfs.urls_hashed"] += n

    def _after_merge(self, a, kw, out, ctx):
        self.counts["tables.merge_rows"] += (out.get("upsert_rows") or 0) + (out.get("insert_rows") or 0)
        b = out.get("buckets")
        self.counts["tables.merge_buckets"] += len(b) if isinstance(b, (list, tuple, set)) else (b or 0)
        if a[1] == "frontier" and out.get("insert_rows") is not None and self._pending:
            self._seen_settle(out["insert_rows"])

    def _store_bytes(self, store) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(store.root) for f in fs
        )

    def _before_append(self, a, kw):
        return self._store_bytes(a[0])

    def _after_append(self, a, kw, out, before):
        self.counts["tables.append_bytes"] += self._store_bytes(a[0]) - before

    def _before_or_in(self, a, kw):
        """Probe the candidate keys against the planes BEFORE the OR-in
        (the same planes ``split_by_bloom`` broadcast this wave)."""
        import numpy as np

        from chronicrawl_spark.operators.seen import _positions

        bits, rows, n_bits, k = a[:4]
        if not hasattr(rows, "columns") or not len(rows):
            return
        sh = rows["shard"].to_numpy(dtype=np.int64)
        keys = rows["key"].to_numpy(dtype=np.int64)
        maybe = np.ones(len(keys), dtype=bool)
        for pos in _positions(keys, n_bits, k):
            maybe &= (bits[sh, pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        self.counts["seen.candidates"] += len(keys)
        self.counts["seen.definite_new"] += int((~maybe).sum())
        self._pending = (len(keys), int(maybe.sum()), int((~maybe).sum()))

    def _seen_settle(self, inserted: int) -> None:
        """Close the wave's filter accounting with the frontier MERGE's
        insert count (the truly new keys)."""
        cand, maybe, definite = self._pending
        self._pending = None
        truly_seen = cand - inserted
        self.counts["seen.new"] += inserted
        self.counts["seen.false_positives"] += max(maybe - truly_seen, 0)
        if definite + maybe != cand:
            self.problems.append(f"seen: definite-new {definite} + maybe-seen {maybe} != candidates {cand}")
        if maybe < truly_seen or definite > inserted:
            self.problems.append(
                f"seen: filter missed keys already seen (maybe {maybe} < seen {truly_seen})"
            )

    def _after_collect(self, layer, name, out):
        if (layer, name) == ("process", "extract") and isinstance(out, list):
            for r in out:
                d = r.asDict()
                if d.get("kind") == "loc":
                    self.counts["process.links_out"] += d["count"]
        elif (layer, name) == ("wave", "stats") and isinstance(out, dict):
            self.counts["wave.hosts"] += out.get("hosts") or 0
        elif (layer, name) == ("crawl", "metrics_agg") and isinstance(out, list):
            self.counts["process.rows_in"] += sum(r["__succ"] for r in out)

    def _after_save_warc(self, a, kw, out, ctx):
        out_dir = a[1]
        self.counts["warcfile.bytes_out"] += sum(
            os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
        )

    def _after_te(self, a, kw, manifest, ctx):
        self.counts["training_export.shard_bytes"] += manifest["bytes"]
        self.counts["training_export.samples"] += manifest["samples"]
        self.counts["training_export.rejected"] += sum(manifest["rejects"].values())

    # ------------------------------------------------------------- scopes
    def begin_wave(self, store) -> None:
        self.n_waves += 1
        self.scope = f"w{self.n_waves}"
        self._wave_store = store
        self._files_before = self._book(self._count_files, store.root)

    def end_wave(self, t0: float, t1: float, stats: dict) -> None:
        scope = self.scope
        self.scope = None
        files_after = self._book(self._count_files, self._wave_store.root)
        root = self.spans.get((scope, "crawl", "step"), [0.0, 0.0])
        self_sum = sum(v[1] for (s, _, _), v in self.spans.items() if s == scope)
        self.waves.append({
            "scope": scope, "wall": t1 - t0,
            "epoch0": time.time() - (time.perf_counter() - t0),
            "epoch1": time.time() - (time.perf_counter() - t1),
            "root": root[0], "self_sum": self_sum, "unattributed": root[1],
            "files": files_after - self._files_before,
            "phases": dict(stats.get("phase_secs") or {}),
        })

    def begin_export(self) -> None:
        self.scope = "export"

    def end_export(self) -> None:
        self.scope = None

    @staticmethod
    def _count_files(root: str) -> int:
        return sum(len(fs) for _, _, fs in os.walk(root))

    # ------------------------------------------------------ stage metrics
    def _rest(self, path: str):
        base = self.sc.uiWebUrl
        url = f"{base}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    def _jobs_and_stages(self):
        """Jobs + stages once the UI listener has caught up."""
        prev = -1
        for _ in range(50):
            jobs = self._rest("jobs")
            if len(jobs) == prev and all(j.get("completionTime") for j in jobs):
                break
            prev = len(jobs)
            time.sleep(0.2)
        stages: dict = defaultdict(list)
        for st in self._rest("stages"):
            stages[st["stageId"]].append(st)
        return jobs, stages

    @staticmethod
    def _ts(s: str) -> float:
        return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=timezone.utc
        ).timestamp()

    # ------------------------------------------------------------- report
    def report(self, res) -> dict:
        """Per-layer metrics: wave layers per committed wave (mean), the
        export layers for the export phase; count-sanity checks are added
        to ``res`` as failed/attempted checks."""
        waves = self.waves
        n = max(len(waves), 1)
        jobs, stages = self._jobs_and_stages()
        by_group: dict = defaultdict(list)
        for j in jobs:
            by_group[j.get("jobGroup") or ""].append(j)

        def span(layer, name=None, scope_kind="wave"):
            tot = 0.0
            for (s, l, nm), v in self.spans.items():
                in_scope = (s == "export") if scope_kind == "export" else (s or "").startswith("w")
                if in_scope and l == layer and (name is None or nm == name):
                    tot += v[0]
            return tot

        m: dict = {}
        per = lambda x: x / n  # noqa: E731

        # crawl
        jobs_in_waves, driver_only = 0, []
        for w in waves:
            wjobs = [j for g, js in by_group.items() if g.startswith(f"cb{w['scope']}|") for j in js]
            jobs_in_waves += len(wjobs)
            iv = sorted(
                (self._ts(j["submissionTime"]), self._ts(j["completionTime"]))
                for j in wjobs if j.get("completionTime")
            )
            covered, cur = 0.0, None
            for a, b in iv:
                a, b = max(a, w["epoch0"]), min(b, w["epoch1"])
                if b <= a:
                    continue
                if cur and a <= cur[1]:
                    cur = (cur[0], max(cur[1], b))
                else:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = (a, b)
            if cur:
                covered += cur[1] - cur[0]
            driver_only.append(max(w["wall"] - covered, 0.0))
        m["crawl.spark_jobs_per_wave"] = (per(jobs_in_waves), "count")
        m["crawl.driver_only_s"] = (statistics.mean(driver_only) if driver_only else 0.0, "s")
        m["crawl.unattributed_s"] = (per(sum(w["unattributed"] for w in waves)), "s")
        for ph in PHASES:
            m[f"crawl.phase.{ph}_s"] = (per(sum(w["phases"].get(ph, 0.0) for w in waves)), "s")

        # tables
        m["tables.merge_s"] = (per(span("tables", "merge")), "s")
        m["tables.merge_rows"] = (per(self.counts["tables.merge_rows"]), "count")
        m["tables.merge_buckets"] = (per(self.counts["tables.merge_buckets"]), "count")
        m["tables.append_s"] = (per(span("tables", "append")), "s")
        m["tables.append_bytes"] = (per(self.counts["tables.append_bytes"]), "B")
        m["tables.commit_s"] = (per(span("tables", "commit")), "s")
        m["tables.read_s"] = (per(span("tables", "read")), "s")
        m["tables.files_written"] = (per(sum(w["files"] for w in waves)), "count")

        # wave + fetchsim
        fetched = sum(w.stats.get("fetched", 0) for w in res.committed)
        m["wave.select_s"] = (per(span("wave")), "s")
        m["wave.rows"] = (per(fetched), "count")
        m["wave.hosts"] = (per(self.counts["wave.hosts"]), "count")
        m["fetchsim.exchange_s"] = (per(span("fetchsim")), "s")
        m["fetchsim.revisit_ratio"] = (res.extra.get("revisits", 0) / max(fetched, 1), "ratio")

        # process / udfs / seen
        m["process.extract_s"] = (per(span("process")), "s")
        m["process.rows_in"] = (per(self.counts["process.rows_in"]), "count")
        m["process.links_out"] = (per(self.counts["process.links_out"]), "count")
        m["process.extract_us_per_page"] = (res.extra.get("extract_us_per_page", 0.0), "us")
        m["udfs.url_parts_s"] = (per(span("udfs")), "s")
        m["udfs.urls_hashed"] = (per(self.counts["udfs.urls_hashed"]), "count")
        m["urlkit.canon_hash_us_per_url"] = (res.extra.get("canon_hash_us_per_url", 0.0), "us")
        cand = self.counts["seen.candidates"]
        m["seen.candidates"] = (per(cand), "count")
        m["seen.definite_new_ratio"] = (self.counts["seen.definite_new"] / cand if cand else 0.0, "ratio")
        new = self.counts["seen.new"]
        m["seen.false_positive_ratio"] = (self.counts["seen.false_positives"] / new if new else 0.0, "ratio")
        m["seen.build_s"] = (per(span("seen", "build")), "s")
        m["seen.or_in_s"] = (per(span("seen", "or_in")), "s")
        m["seen.verify_s"] = (per(span("seen", "verify")), "s")

        # export layers (export phase totals)
        m["warcfile.export_s"] = (span("warcfile", scope_kind="export"), "s")
        m["warcfile.bytes_out"] = (self.counts["warcfile.bytes_out"], "B")
        m["training_export.select_s"] = (span("training_export", "select", scope_kind="export"), "s")
        te_total = self.counts["training_export.samples"] + self.counts["training_export.rejected"]
        m["training_export.kept_ratio"] = (
            self.counts["training_export.samples"] / te_total if te_total else 0.0, "ratio"
        )
        m["training_export.shard_bytes"] = (self.counts["training_export.shard_bytes"], "B")

        # Spark stage metrics per layer job group
        for layer in WAVE_LAYERS + EXPORT_LAYERS:
            run_ms = shuffle = tasks = 0
            for g, js in by_group.items():
                if not g.endswith(f"|{layer}"):
                    continue
                if (layer in EXPORT_LAYERS) != g.startswith("cbexport|"):
                    continue
                for j in js:
                    for sid in j.get("stageIds", []):
                        for st in stages.get(sid, ()):
                            if st.get("status") == "COMPLETE":
                                run_ms += st.get("executorRunTime", 0)
                                shuffle += st.get("shuffleWriteBytes", 0)
                                tasks += st.get("numCompleteTasks", st.get("numTasks", 0))
            scale = 1 if layer in EXPORT_LAYERS else 1 / n
            m[f"{layer}.executor_run_s"] = (run_ms / 1000 * scale, "s")
            m[f"{layer}.shuffle_write_bytes"] = (shuffle * scale, "B")
            m[f"{layer}.tasks"] = (tasks * scale, "count")

        m["trace.overhead_s"] = (per(self.overhead), "s")
        timed = [w.wall_s for w in res.timed]
        m["trace.wave_s_p50"] = (statistics.median(timed) if timed else 0.0, "s")

        self._sanity(res, waves)
        return m

    def _sanity(self, res, waves) -> None:
        from workloads import _run_check

        def sums():
            out = []
            for w in waves:
                if abs(w["self_sum"] - w["root"]) > 1e-6:
                    out.append(f"{w['scope']}: span self times {w['self_sum']:.6f} != step {w['root']:.6f}")
                if not (w["root"] <= w["wall"] + 1e-6 and w["wall"] - w["root"] < 0.05):
                    out.append(f"{w['scope']}: step span {w['root']:.3f} s vs wave wall {w['wall']:.3f} s")
            return out

        _run_check(res, "trace_self_times_add_up", sums)
        _run_check(res, "trace_seen_counts", lambda: list(self.problems))
        want = res.extra.get("links_out_expected")
        if want is not None:
            got = self.counts["process.links_out"]
            _run_check(res, "trace_links_out", lambda: [] if got == want else [
                f"process.links_out {got:.0f} != generated out-degree {want}"])


def replay_costs(urls: list, pages: list) -> tuple[float, float]:
    """Per-call costs on the run's own inputs, single-threaded on the
    driver: (µs per URL of ``url_parts``' canonicalize+hash, µs per page
    of the ``sources.content`` extractors)."""
    from chronicrawl_spark.functions import urlkit
    from chronicrawl_spark.sources.content import analyze_payload

    urlkit.parse_canonical.cache_clear()
    t0 = time.perf_counter()
    urlkit.batch_parts(urls)
    per_url = (time.perf_counter() - t0) / max(len(urls), 1) * 1e6
    t0 = time.perf_counter()
    for url, ctype, body in pages:
        analyze_payload(ctype, body, url)
    per_page = (time.perf_counter() - t0) / max(len(pages), 1) * 1e6
    return per_url, per_page
