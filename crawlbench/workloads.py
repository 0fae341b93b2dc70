"""The benchmark's workloads: seeded inputs → set-up → timed waves →
resume → export → correctness checks, all on one Spark session.

Each workload returns a ``Result``: the end-to-end figures, the problems
every correctness check found (one entry per check), and the wave records
the traced run reads.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import expect
import sites
from chronicrawl_spark.crawl import CrawlConfig, CrawlEngine
from chronicrawl_spark.fixtures import SITE_SCHEMA, make_images_distributed
from chronicrawl_spark.functions.urlkit import Url
from chronicrawl_spark.tables import StateStore

NOW = 1_600_000_000_000
HOUR_MS = 3_600_000
SETUP_REPS = 3
BUCKETS = 4

# workload sizes — chosen so one run (three set-ups, the waves, a resume
# and the export) stays within the benchmark's per-run time budget on a
# 4-core machine; see NOTES.md
RECRAWL = dict(n_hosts=32, n_pages=48, per_host_k=8, max_waves=5)
# per_host_k = robots.txt + the 7 seeds that sort first (sites.linked_web)
DISCOVERY = dict(
    n_hosts=16, n_pages=60, gallery=2, per_host_k=8, max_depth=1, max_waves=3,
    img_w=32, img_h=24, bloom_bits=1 << 20,
)


@dataclass
class Wave:
    label: str  # "timed" | "resume" | "warmup"
    wall_s: float
    stats: dict
    steal: float = 0.0  # hypervisor steal share during the wave (Timer)
    t_start: float = 0.0
    t_end: float = 0.0
    view: bool = False  # a second view of a wave listed already


@dataclass
class Result:
    setup_reps: list  # (wall s, steal share) per set-up
    waves: list
    resume: tuple  # (wall s, steal share): reopen + the restarted wave
    export: tuple  # (wall s, steal share)
    export_records: int
    state_bytes: int
    urls_fetched: int
    checks: dict = field(default_factory=dict)  # check name → problems
    attempted: int = 0  # waves + exports + checks
    failed: int = 0
    extra: dict = field(default_factory=dict)  # per-workload facts for the trace

    @property
    def timed(self) -> list:
        return [w for w in self.waves if w.label == "timed"]

    @property
    def committed(self) -> list:
        """Waves the engine actually ran (a discovery resume wave is also
        listed as its timed view)."""
        return [w for w in self.waves if not w.view]


class Ctx:
    """Per-run context: the Spark session, a scratch work dir inside the
    checkout (deleted by the runner), the seed and the time budget."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup_times: list = []  # (wall s, steal share) per set-up
        self._n = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{name}-{self._n}")
        os.makedirs(d)
        return d


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class Timer:
    """Wall time of a window plus the share of the busy CPUs' time that
    the hypervisor stole during it (``/proc/stat`` steal ÷ (busy + steal)).
    ``wall × (1 − share)`` is the window's time without the stolen part;
    see NOTES.md, "Hypervisor steal"."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.j0 = _cpu_jiffies()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        (b0, s0), (b1, s1) = self.j0, _cpu_jiffies()
        return wall, (s1 - s0) / max(b1 - b0 + s1 - s0, 1)


def unstolen(wall: float, share: float) -> float:
    return wall * (1.0 - share)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
    )


def _set_up(ctx: Ctx, build) -> object:
    """Run ``build`` SETUP_REPS times on fresh state (timed into
    ``ctx.setup_times``); keep the last state, drop the others."""
    state = None
    for _ in range(SETUP_REPS):
        if state is not None:
            state.dispose()
        timer = Timer()
        state = build()
        ctx.setup_times.append(timer.stop())
    return state


def _step(ctx: Ctx, engine: CrawlEngine, label: str, **kw) -> Wave:
    tr = ctx.tracer
    if tr is not None:
        tr.begin_wave(engine.store)
    timer = Timer()
    s = {}
    try:
        s = engine.step(**kw)
    finally:
        wall, steal = timer.stop()
        t0, t1 = timer.t0, timer.t0 + wall
        if tr is not None:
            tr.end_wave(t0, t1, s)
    return Wave(label, wall, s, steal, t0, t1)


@contextlib.contextmanager
def _export_scope(ctx: Ctx):
    """Marks the export phase for the tracer (no-op when untraced)."""
    if ctx.tracer is not None:
        ctx.tracer.begin_export()
    try:
        yield
    finally:
        if ctx.tracer is not None:
            ctx.tracer.end_export()


def _resume(ctx: Ctx, st, **kw) -> tuple[Wave, Wave, CrawlEngine]:
    """Reopen the store at its latest committed wave with a fresh store
    object and engine (a restarted crawler), then commit the next wave.
    Returns the resume sample (reopen + step), the wave's own ``step()``
    view, and the restarted engine."""
    timer = Timer()
    store = StateStore(ctx.spark, st.root, buckets=BUCKETS)
    engine = CrawlEngine(ctx.spark, store, st.site, st.config)
    w = _step(ctx, engine, "resume", **kw)
    step = Wave("timed", w.wall_s, w.stats, w.steal, w.t_start, w.t_end, view=True)
    w.wall_s, w.steal = timer.stop()
    w.t_start = timer.t0
    return w, step, engine


def _timed_after_restart(ctx: Ctx, st, max_waves: int, **kw) -> tuple[list, Wave]:
    """Restart the crawler, then run the closed loop on the restarted
    engine: waves back to back until ``ctx.seconds`` of wave time (at
    least one, at most ``max_waves``).  The first wave is the resume
    sample (reopen + step) and, by its ``step()`` time, the first timed
    wave: a wave costs several seconds of fixed Spark overhead, and a
    separate resume wave does not fit the per-run time budget."""
    rw, step, engine = _resume(ctx, st, **kw)
    waves = [rw, step]
    spent = waves[-1].wall_s
    while spent < ctx.seconds and len(waves) - 1 < max_waves and not waves[-1].stats.get("idle"):
        w = _step(ctx, engine, "timed", **kw)
        waves.append(w)
        spent += w.wall_s
    return waves, rw


def _visit_log(store: StateStore, since: int = 0) -> list:
    """(origin, url, date, status, is_revisit) of every visit at/after
    ``since``, URLs rebuilt from the frontier path + origin string."""
    f = store.read("frontier").select("origin_id", "path_id", "path")
    o = store.read("origins").select("origin_id", "origin")
    v = store.read("visits").filter(F.col("date") >= since)
    rows = (
        v.join(f, ["origin_id", "path_id"]).join(o, "origin_id")
        .select(
            "origin", F.concat("origin", "path").alias("url"), "date", "status",
            F.col("revisit_of_date").isNotNull().alias("rv"),
        )
        .collect()
    )
    return [(r["origin"], r["url"], r["date"], r["status"], r["rv"]) for r in rows]


def _wave_index(log: list) -> dict:
    return {d: i for i, d in enumerate(sorted({r[2] for r in log}))}


def _frontier_keys(store: StateStore) -> set:
    return {tuple(r) for r in store.read_keys("frontier", ["origin_id", "path_id"]).collect()}


def _frontier_urls(store: StateStore) -> set:
    f = store.read("frontier").select("origin_id", "path")
    o = store.read("origins").select("origin_id", "origin")
    return {r[0] for r in f.join(o, "origin_id").select(F.concat("origin", "path")).collect()}


def _export_warc(ctx: Ctx, store: StateStore) -> tuple[int, str]:
    from chronicrawl_spark.warcfile import save_warc_files, warc_export

    out = ctx.fresh_dir("warc")
    save_warc_files(warc_export(store.read("warc_records"), store.read("visits")), out)
    return len(os.listdir(out)), out


def _count_warc_records(out: str) -> int:
    from chronicrawl_spark.warcfile import parse_warc

    n = 0
    for p in glob.glob(os.path.join(out, "*")):
        with open(p, "rb") as f:
            n += sum(1 for r in parse_warc(f.read()) if r["headers"].get("WARC-Type") != "warcinfo")
    return n


def _run_check(res: Result, name: str, fn) -> None:
    res.attempted += 1
    try:
        problems = fn()
    except Exception as e:  # a crashing check is a failed check
        problems = [f"{type(e).__name__}: {e}"]
    res.checks[name] = problems
    if problems:
        res.failed += 1


# ------------------------------------------------------------------ recrawl

class _RecrawlState:
    def __init__(self, ctx: Ctx):
        p = RECRAWL
        spark = ctx.spark
        self.root = os.path.join(ctx.fresh_dir("recrawl"), "state")
        self.urls, self.rows = sites.recrawl_site(ctx.seed, p["n_hosts"], p["n_pages"])
        self.site = spark.createDataFrame(self.rows, SITE_SCHEMA)
        self.store = StateStore(spark, self.root, buckets=BUCKETS)
        origin_rows, frontier_rows = {}, []
        for u in map(Url, self.urls):
            origin_rows[u.origin_id()] = (u.origin_id(), u.origin, NOW, "CONTINUOUS", None, NOW, None, None)
            frontier_rows.append((u.origin_id(), u.path_id(), u.pathref, "PAGE", 0, None, None, NOW, None, NOW))
        self.store.merge(
            "origins", spark.createDataFrame(list(origin_rows.values()), self.store.read("origins").schema),
            "upsert",
        )
        self.store.merge(
            "frontier", spark.createDataFrame(frontier_rows, self.store.read("frontier").schema), "upsert"
        )
        self.store.commit(0)
        self.config = CrawlConfig()
        self.engine = CrawlEngine(spark, self.store, self.site, self.config)
        self.engine.clock = NOW
        # untimed pre-pass: every URL gets its first visit (the history the
        # recrawl's as-of lookups and digest dedupe run against)
        pre = self.engine.step(per_host_k=p["n_pages"])
        if pre.get("fetched") != len(self.urls):
            raise RuntimeError(f"pre-pass fetched {pre.get('fetched')} of {len(self.urls)} URLs")
        # re-arm every origin and location one hour later
        self.t_rearm = self.engine.clock + HOUR_MS
        for table in ("origins", "frontier"):
            self.store.merge(
                table, self.store.read(table).withColumn("next_visit", F.lit(self.t_rearm)), "upsert"
            )
        self.store.commit(self.store.committed_wave + 1)

    def dispose(self) -> None:
        shutil.rmtree(os.path.dirname(self.root), ignore_errors=True)


def run_recrawl(ctx: Ctx) -> Result:
    p = RECRAWL
    st = _set_up(ctx, lambda: _RecrawlState(ctx))
    keys_before = _frontier_keys(st.store)
    k = p["per_host_k"]
    waves, rw = _timed_after_restart(ctx, st, p["max_waves"], per_host_k=k)
    store = StateStore(ctx.spark, st.root)
    timer = Timer()
    with _export_scope(ctx):
        n_files, warc_dir = _export_warc(ctx, store)
    export = timer.stop()
    t_checks = time.perf_counter()
    res = Result(
        setup_reps=ctx.setup_times, waves=waves, resume=(rw.wall_s, rw.steal), export=export,
        export_records=_count_warc_records(warc_dir), state_bytes=du(st.root),
        urls_fetched=store.read("visits").count(),
        attempted=sum(not w.view for w in waves) + 1,  # the waves and the WARC export
    )
    log = _visit_log(store, since=st.t_rearm)
    widx = _wave_index(log)
    visits = [(o, u, widx[d], s, rv) for o, u, d, s, rv in log]
    _run_check(res, "recrawl_schedule", lambda: expect.check_recrawl(
        visits, k, p["n_pages"], keys_before, _frontier_keys(store)))
    _run_check(res, "warc_export_records", lambda: [] if res.export_records == store.read(
        "warc_records").count() else [f"exported {res.export_records} WARC records"])
    res.extra = {"warc_files": n_files, "revisits": sum(1 for v in visits if v[4])}
    if ctx.tracer is not None:
        from trace_layers import replay_costs

        per_url, per_page = replay_costs(st.urls, [(r[0], r[2], r[3]) for r in st.rows])
        res.extra.update(canon_hash_us_per_url=per_url, extract_us_per_page=per_page)
    res.extra["checks_s"] = time.perf_counter() - t_checks
    return res


# ---------------------------------------------------------------- discovery

class _DiscoveryState:
    def __init__(self, ctx: Ctx):
        p = DISCOVERY
        spark = ctx.spark
        self.root = os.path.join(ctx.fresh_dir("discovery"), "state")
        n_img = p["n_hosts"] * p["gallery"]
        self.images = make_images_distributed(spark, n_img, p["img_w"], p["img_h"]).persist()
        meta = {
            r["image_id"]: (r["w"], r["h"], r["phash"])
            for r in self.images.select("image_id", "w", "h", "phash").collect()
        }
        self.web = sites.linked_web(
            ctx.seed, p["n_hosts"], p["n_pages"], gallery=p["gallery"], image_meta=meta
        )
        urls = spark.createDataFrame(list(self.web.image_url.items()), "image_id string, url string")
        payloads = self.images.join(urls, "image_id").select(
            "url", F.lit(200).alias("status"), F.concat(F.lit("image/"), "fmt").alias("content_type"),
            F.col("bytes").alias("body"), *(F.lit(None).cast("string").alias(c) for c in
                                            ("etag", "last_modified", "location")),
        )
        self.site = spark.createDataFrame(self.web.rows, SITE_SCHEMA).unionByName(payloads)
        self.store = StateStore(spark, self.root, buckets=BUCKETS)
        # the URL-seen filter sized to this crawl's ~10^3 keys: at the
        # engine default (2^24 bits × 4 shards = 8 MiB, sized for 10^6 keys
        # per shard) the saved planes are ~90% of the store's bytes and
        # state_bytes_per_url would not see the tables
        self.config = CrawlConfig(max_depth=p["max_depth"], bloom_bits=p["bloom_bits"])
        self.engine = CrawlEngine(spark, self.store, self.site, self.config)
        self.engine.add_seeds(self.web.seeds, now=NOW)

    def dispose(self) -> None:
        self.images.unpersist()
        shutil.rmtree(os.path.dirname(self.root), ignore_errors=True)


def _export_training(ctx: Ctx, store: StateStore) -> tuple[dict, str]:
    """Pair each crawled image payload with the caption and metadata its
    gallery page published, then export the corpus as training shards."""
    from chronicrawl_spark.extras.training_export import export_training_shards

    spark = ctx.spark
    resp = store.read("warc_records").filter(F.col("record_type") == "response")
    homes = resp.filter(F.col("url").endswith("/")).select("url", "payload").collect()
    pairs = [t for r in homes for t in sites.parse_gallery(r["url"], bytes(r["payload"]))]
    meta = spark.createDataFrame(
        pairs, "image_url string, image_id string, fmt string, w int, h int, phash long, caption string"
    )
    corpus = resp.join(meta, resp["url"] == meta["image_url"]).select(
        "image_id", F.col("payload").alias("bytes"), "w", "h", "fmt", "caption", "phash"
    )
    out = ctx.fresh_dir("shards")
    return export_training_shards(corpus, out, n_shards=4, fmt="parquet"), out


def _read_shards(out: str) -> tuple[list, dict]:
    import pyarrow.parquet as pq

    exported = pq.read_table(out).to_pylist()
    rej = os.path.join(out, "_rejects")
    rejected = {}
    if os.path.isdir(rej) and glob.glob(os.path.join(rej, "*.parquet")):
        rejected = {r["image_id"]: r["reason"] for r in pq.read_table(rej).to_pylist()}
    return exported, rejected


def run_discovery(ctx: Ctx) -> Result:
    """Set-up ×3 → warm-up wave (robots.txt, home pages, images and the
    early seed articles; untimed) → restart and timed waves (sitemaps, the
    late seed articles, the disallowed page, depth-1 articles) → WARC and
    training-shard export → checks."""
    p = DISCOVERY
    st = _set_up(ctx, lambda: _DiscoveryState(ctx))
    k = p["per_host_k"]
    waves = [_step(ctx, st.engine, "warmup", per_host_k=k)]
    restarted, rw = _timed_after_restart(ctx, st, p["max_waves"], per_host_k=k)
    waves += restarted
    store = StateStore(ctx.spark, st.root)

    timer = Timer()
    with _export_scope(ctx):
        n_files, warc_dir = _export_warc(ctx, store)
        manifest, shard_dir = _export_training(ctx, store)
    export = timer.stop()
    t_checks = time.perf_counter()
    n_records = _count_warc_records(warc_dir)
    res = Result(
        setup_reps=ctx.setup_times, waves=waves, resume=(rw.wall_s, rw.steal), export=export,
        export_records=n_records + manifest["samples"], state_bytes=du(st.root),
        urls_fetched=store.read("visits").count(),
        attempted=sum(not w.view for w in waves) + 2,  # the waves and the two exports
    )

    log = _visit_log(store)
    widx = _wave_index(log)
    success = [[] for _ in widx]
    for _, url, d, status, rv in log:
        if 200 <= status <= 299 and not rv:
            success[widx[d]].append(url)
    expected, links_out = expect.replay_seen(st.web, success, p["max_depth"])
    _run_check(res, "seen_set", lambda: expect.check_seen_set(set(expected), _frontier_urls(store)))
    robots_wave = {o: widx[d] for o, u, d, s, _ in log if u == o + "/robots.txt" and s == 200}
    _run_check(res, "robots_disallow", lambda: expect.check_robots(
        st.web, [(u, widx[d], s) for _, u, d, s, _ in log], robots_wave))

    sources = {r["image_id"]: {**r.asDict(), "bytes": bytes(r["bytes"])} for r in st.images.collect()}
    iid_of = {u: iid for iid, u in st.web.image_url.items()}
    fetched = {
        iid_of[r["url"]]
        for r in store.read("warc_records")
        .filter((F.col("record_type") == "response") & F.col("url").isin(list(iid_of)))
        .select("url").collect()
    }

    def export_check():
        exported, rejected = _read_shards(shard_dir)
        res.extra["exported"] = len(exported)
        return expect.check_export(exported, rejected, fetched, sources, st.web.captions)

    _run_check(res, "training_export", export_check)
    _run_check(res, "warc_export_records", lambda: [] if n_records == store.read(
        "warc_records").count() else [f"exported {n_records} WARC records"])
    if ctx.tracer is not None:
        from trace_layers import replay_costs

        bodies = {r[0]: (r[2], r[3]) for r in st.web.rows}
        pages = [(u, *bodies[u]) for wave in success for u in wave if u in bodies]
        per_url, per_page = replay_costs(sorted(expected), pages)
        res.extra.update(canon_hash_us_per_url=per_url, extract_us_per_page=per_page)
    res.extra.update(
        revisits=sum(1 for r in log if r[4]), links_out_expected=links_out,
        depth_cut=expect.cut_links(st.web, success, expected, p["max_depth"]),
        images_fetched=len(fetched), warc_files=n_files,
    )
    st.images.unpersist()
    res.extra["checks_s"] = time.perf_counter() - t_checks
    return res


WORKLOADS = {"recrawl": run_recrawl, "discovery": run_discovery}
