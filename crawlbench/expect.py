"""Expected outcomes and correctness checks, computed from the generated
inputs — never from the engine's own derived state.

Every check returns a list of human-readable problems (empty = pass), so
the runner can count each failed check into ``failed`` and the tests can
plant a defect and assert the check notices.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from chronicrawl_spark.functions.urlkit import Url

from sites import TYPE_RANK, LinkedWeb


def _natural_type(url: str) -> str:
    if url.endswith("/robots.txt"):
        return "ROBOTS"
    if url.endswith("/sitemap.xml"):
        return "SITEMAP"
    return "PAGE"


def replay_seen(web: LinkedWeb, waves: list[list[str]], max_depth: int) -> tuple[dict, int]:
    """Replay the crawl's enqueue rules over the generated graph.

    ``waves``: per wave, the URLs whose fetch succeeded (2xx, not a
    revisit) — the pages the engine processed.  Returns ``(frontier,
    links_out)``: ``frontier`` maps every URL the URL-seen set must hold to
    its (location_type, depth); ``links_out`` is the number of announced
    locations over the processed pages (before the depth cut).

    Rules (``Crawl.addSeed``/``Crawl.enqueue`` semantics):
    - each seed enqueues its origin's /robots.txt (ROBOTS, depth 0) and
      itself (PAGE, depth 0);
    - a processed URL announces what the generator wrote into it
      (``web.out``) when it sits in the frontier under its natural type;
      TRANSCLUSIONs are fetched but never processed;
    - a location discovered from a depth-d page has depth d+1 and is
      dropped when that exceeds ``max_depth``;
    - within a wave one winner per URL (type rank, then via ids);
      insert-if-absent against the frontier;
    - an origin first seen this wave becomes a known origin; its
      /robots.txt is enqueued only when the origin already existed or
      this wave announced it at least twice (the reference's quirk).
    """
    frontier: dict = {}
    known = set()
    for s in web.seeds:
        u = Url(s)
        frontier.setdefault(u.origin + "/robots.txt", ("ROBOTS", 0))
        frontier.setdefault(str(u), ("PAGE", 0))
        known.add(u.origin)
    links_out = 0
    ids: dict = {}

    def ident(url: str) -> tuple:
        if url not in ids:
            u = Url(url)
            ids[url] = (u.origin, u.origin_id(), u.path_id())
        return ids[url]

    for processed in waves:
        rows = []
        for url in processed:
            typ, depth = frontier[url]
            if typ == "TRANSCLUSION" or typ != _natural_type(url):
                continue
            announced = web.out.get(url, ())
            links_out += len(announced)
            _, v_oid, v_pid = ident(url)
            for target, lt in announced:
                if depth + 1 <= max_depth:
                    rows.append((target, lt, depth + 1, v_oid, v_pid))
        per_origin = Counter(ident(r[0])[0] for r in rows)
        winners: dict = {}
        for target, lt, depth, v_oid, v_pid in rows:
            key = (-TYPE_RANK[lt], v_oid, v_pid)
            if target not in winners or key < winners[target][0]:
                winners[target] = (key, lt, depth)
        new = {t: (lt, d) for t, (_, lt, d) in winners.items()}
        for origin, cnt in per_origin.items():
            if origin in known or cnt >= 2:
                new.setdefault(origin + "/robots.txt", ("ROBOTS", 0))
        known |= set(per_origin)
        for url, v in new.items():
            frontier.setdefault(url, v)
    return frontier, links_out


def cut_links(web: LinkedWeb, waves: list[list[str]], frontier: dict, max_depth: int) -> int:
    """How many announced locations the depth cut dropped (so a run can
    show the cut actually bound)."""
    n = 0
    for processed in waves:
        for url in processed:
            typ, depth = frontier[url]
            if typ != "TRANSCLUSION" and depth + 1 > max_depth:
                n += web.out_degree(url)
    return n


def check_seen_set(expected: set, actual: set) -> list[str]:
    missing = sorted(expected - actual)
    extra = sorted(actual - expected)
    problems = []
    if missing:
        problems.append(f"seen set lacks {len(missing)} expected URLs, e.g. {missing[:3]}")
    if extra:
        problems.append(f"seen set has {len(extra)} unexpected URLs, e.g. {extra[:3]}")
    return problems


def check_robots(web: LinkedWeb, visits: list[tuple], robots_wave: dict) -> list[str]:
    """``visits``: (url, wave, status).  After the wave that fetched its
    host's robots.txt, every fetch of a disallowed page must carry a
    synthetic (negative, robots-denied) status."""
    problems = []
    for url, wave, status in visits:
        if url not in web.private:
            continue
        origin = "/".join(url.split("/", 3)[:3])
        rw = robots_wave.get(origin)
        if rw is not None and wave > rw and status >= 0:
            problems.append(f"disallowed {url} fetched with status {status} in wave {wave}")
    return problems


def check_recrawl(
    visits: list[tuple], per_host_k: int, n_pages: int, keys_before: set, keys_after: set
) -> list[str]:
    """``visits``: (origin, url, wave, status, is_revisit) of the re-armed
    waves.  Every scheduled URL is fetched exactly once, every host gets
    exactly ``min(k, still-due)`` fetches per wave (never more than k),
    every re-fetch is a digest revisit, and the frontier key set is
    unchanged."""
    problems = []
    seen = Counter(v[1] for v in visits)
    dup = [u for u, c in seen.items() if c > 1]
    if dup:
        problems.append(f"{len(dup)} URLs fetched more than once, e.g. {dup[:3]}")
    per_wave_host = Counter((v[2], v[0]) for v in visits)
    hosts = {v[0] for v in visits}
    waves = sorted({v[2] for v in visits})
    done: dict = defaultdict(int)
    for w in waves:
        for h in sorted(hosts):
            got = per_wave_host.get((w, h), 0)
            want = min(per_host_k, n_pages - done[h])
            if got != want:
                problems.append(f"host {h} fetched {got} URLs in wave {w}, expected {want}")
            done[h] += got
    not_revisit = [v[1] for v in visits if not (v[3] == 200 and v[4])]
    if not_revisit:
        problems.append(f"{len(not_revisit)} re-fetches are not 200 digest revisits")
    if keys_before != keys_after:
        problems.append(
            f"frontier key set changed: {len(keys_before)} → {len(keys_after)} keys"
        )
    return problems


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def check_export(
    exported: list[dict], rejected: dict, fetched: set, sources: dict, captions: dict
) -> list[str]:
    """Exported training samples against their generated source rows.

    ``exported``: rows (image_id, bytes, w, h, fmt, caption, phash) read
    back from the shards; ``rejected``: image_id → reason from the reject
    log; ``fetched``: image ids whose payload the crawl stored;
    ``sources``: image_id → generated row (bytes, w, h, fmt, phash).
    Decoded pixels must equal the generator's pixels for lossless formats
    and reach PSNR ≥ 40 dB for JPEG; phash, caption and payload bytes must
    equal the source; every fetched image is either exported or rejected
    as a near-duplicate of an exported one.
    """
    from chronicrawl_spark.extras.imaging import (
        decode_image,
        make_paletted_image,
        make_smooth_image,
        make_test_image,
        phash64,
        psnr,
    )

    problems = []
    ids = [r["image_id"] for r in exported]
    if not ids:
        problems.append("no training samples exported")
    if len(ids) != len(set(ids)):
        problems.append("an image was exported twice")
    for r in exported:
        iid = r["image_id"]
        src = sources.get(iid)
        if src is None or iid not in fetched:
            problems.append(f"exported {iid} was never crawled")
            continue
        if bytes(r["bytes"]) != src["bytes"]:
            problems.append(f"{iid}: payload differs from its source row")
            continue
        if r["caption"] != captions[iid]:
            problems.append(f"{iid}: caption {r['caption']!r} != {captions[iid]!r}")
        if r["phash"] != src["phash"]:
            problems.append(f"{iid}: phash {r['phash']} != source {src['phash']}")
        try:
            px = decode_image(bytes(r["bytes"]), r["fmt"])
        except Exception as e:
            problems.append(f"{iid}: payload does not decode ({type(e).__name__})")
            continue
        if phash64(px) != src["phash"]:
            problems.append(f"{iid}: decoded phash differs from the source phash")
        gen = {"jpeg": make_smooth_image, "gif": make_paletted_image}.get(src["fmt"], make_test_image)
        ref = gen(src["w"], src["h"], seed=int(iid[3:]))
        if src["fmt"] == "jpeg":
            if psnr(px, ref) < 40.0:
                problems.append(f"{iid}: JPEG PSNR {psnr(px, ref):.1f} dB < 40")
        elif px.shape != ref.shape or (px != ref).any():
            problems.append(f"{iid}: lossless pixels differ from the generator's")
    kept = set(ids)
    for iid in sorted(fetched - kept):
        reason = rejected.get(iid, "")
        rep = reason[4:] if reason.startswith("dup:") else None
        if rep not in kept or _hamming(sources[iid]["phash"], sources[rep]["phash"]) > 3:
            problems.append(f"{iid} neither exported nor a near-duplicate reject ({reason!r})")
    return problems
