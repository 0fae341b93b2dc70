"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest crawlbench -q -p no:cacheprovider

- the same seed yields byte-identical generated sites and identical
  expected URL-seen sets; another seed yields different ones;
- every correctness check fails on a planted defect.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import expect  # noqa: E402
import sites  # noqa: E402
from chronicrawl_spark.extras.imaging import (  # noqa: E402
    decode_jpeg,
    encode_bmp,
    encode_gif,
    encode_jpeg,
    encode_png,
    make_paletted_image,
    make_smooth_image,
    make_test_image,
    phash64,
)

N_HOSTS, N_PAGES, GALLERY, MAX_DEPTH = 4, 20, 2, 2


def _meta(n: int) -> dict:
    return {f"img{i:04d}": (16, 8, 1000 + i) for i in range(n)}


def _web(seed: int) -> sites.LinkedWeb:
    return sites.linked_web(seed, N_HOSTS, N_PAGES, gallery=GALLERY, image_meta=_meta(N_HOSTS * GALLERY))


def _bfs_waves(web: sites.LinkedWeb, n_waves: int) -> list:
    """A fetch schedule derived from the graph alone: each wave processes
    every known, not yet processed, non-disallowed URL of a seeded host."""
    frontier = {}
    waves = []
    for _ in range(n_waves):
        frontier, _ = expect.replay_seen(web, waves, MAX_DEPTH)
        done = {u for w in waves for u in w}
        waves.append(sorted(
            u for u in frontier
            if u not in done and u not in web.private and u.startswith(tuple(web.origins))
        ))
    return waves


def _expected(seed: int) -> set:
    web = _web(seed)
    frontier, _ = expect.replay_seen(web, _bfs_waves(web, 4), MAX_DEPTH)
    return set(frontier)


def test_same_seed_same_sites():
    assert sites.web_digest(_web(3)) == sites.web_digest(_web(3))
    assert sites.web_digest(_web(3)) != sites.web_digest(_web(4))
    a, b, c = (sites.recrawl_site(s, 3, 5) for s in (3, 3, 4))
    assert sites.site_digest(a[1]) == sites.site_digest(b[1])
    assert sites.site_digest(a[1]) != sites.site_digest(c[1])


def test_same_seed_same_expected_set():
    e = _expected(5)
    assert e == _expected(5)
    assert e != _expected(6)
    web = _web(5)
    # robots, disallowed pages, depth cut and the external robots quirk all show up
    assert {o + "/robots.txt" for o in web.origins} <= e
    assert web.private & e
    waves = _bfs_waves(web, 4)
    frontier, _ = expect.replay_seen(web, waves, MAX_DEPTH)
    assert expect.cut_links(web, waves, frontier, MAX_DEPTH) > 0
    assert {u for u in e if not u.startswith(tuple(web.origins))}


def test_gallery_roundtrip():
    web = _web(7)
    home = next(r for r in web.rows if r[0] == web.seeds[0])
    figs = sites.parse_gallery(home[0], home[3])
    assert len(figs) == GALLERY
    for url, iid, fmt, w, h, ph, cap in figs:
        assert web.image_url[iid] == url and web.captions[iid] == cap
        assert (w, h, ph) == _meta(N_HOSTS * GALLERY)[iid]


def test_seen_check_fails_on_planted_defect():
    e = _expected(8)
    assert expect.check_seen_set(e, set(e)) == []
    url = sorted(e)[3]
    assert expect.check_seen_set(e - {url}, set(e))  # URL removed from the expected set
    assert expect.check_seen_set(e, set(e) - {url})  # URL missing from the engine's set


def test_robots_check_fails_on_planted_defect():
    web = _web(9)
    priv = sorted(web.private)[0]
    origin = "/".join(priv.split("/", 3)[:3])
    assert expect.check_robots(web, [(priv, 2, -9998)], {origin: 0}) == []
    assert expect.check_robots(web, [(priv, 2, 200)], {origin: 0})


def test_recrawl_check_fails_on_planted_defect():
    k, n_pages = 2, 4
    visits = [
        (h, f"{h}/p/{w * k + j}", w, 200, True)
        for w in range(2) for h in ("http://a", "http://b") for j in range(k)
    ]
    keys = {(1, 2), (3, 4)}
    assert expect.check_recrawl(visits, k, n_pages, keys, set(keys)) == []
    assert expect.check_recrawl(visits + [("http://a", "http://a/p/9", 0, 200, True)], k, n_pages, keys, keys)
    assert expect.check_recrawl(visits + [visits[0]], k, n_pages, keys, keys)
    assert expect.check_recrawl(visits[:-1], k, n_pages, keys, keys)
    assert expect.check_recrawl(visits, k, n_pages, keys, keys | {(5, 6)})
    stale = [v[:4] + (False,) for v in visits]
    assert expect.check_recrawl(stale, k, n_pages, keys, keys)


def _source_rows() -> dict:
    """Four rows in the ``fixtures.make_images`` shape, one per codec."""
    rows = {}
    for i, fmt in enumerate(sites.FMT_CYCLE):
        w, h = 32, 24
        if fmt == "jpeg":
            data = encode_jpeg(make_smooth_image(w, h, seed=i), quality=95)
            ph = phash64(decode_jpeg(data))
        elif fmt == "gif":
            px = make_paletted_image(w, h, seed=i)
            data, ph = encode_gif(px), phash64(px)
        else:
            px = make_test_image(w, h, seed=i)
            data = encode_png(px) if fmt == "png" else encode_bmp(px)
            ph = phash64(px)
        rows[f"img{i:04d}"] = {"image_id": f"img{i:04d}", "bytes": data, "w": w, "h": h, "fmt": fmt, "phash": ph}
    return rows


@pytest.fixture(scope="module")
def corpus():
    src = _source_rows()
    caps = {iid: f"caption {iid}" for iid in src}
    exported = [{**r, "caption": caps[iid]} for iid, r in src.items()]
    return src, caps, exported


def test_export_check_passes_on_clean_corpus(corpus):
    src, caps, exported = corpus
    assert expect.check_export(exported, {}, set(src), src, caps) == []


def test_export_check_fails_on_planted_defect(corpus):
    src, caps, exported = corpus
    for iid, fmt in (("img0000", "bmp"), ("img0002", "jpeg")):
        bad = [dict(r) for r in exported]
        row = next(r for r in bad if r["image_id"] == iid)
        data = bytearray(row["bytes"])
        data[-40] ^= 0xFF
        row["bytes"] = bytes(data)
        src_bad = {**src, iid: {**src[iid], "bytes": row["bytes"]}}  # decode path, not byte compare
        assert expect.check_export(bad, {}, set(src), src_bad, caps), fmt
    wrong_cap = [dict(r) for r in exported]
    wrong_cap[1]["caption"] = "another caption"
    assert expect.check_export(wrong_cap, {}, set(src), src, caps)
    wrong_ph = [dict(r) for r in exported]
    wrong_ph[3]["phash"] ^= 1
    assert expect.check_export(wrong_ph, {}, set(src), src, caps)
    assert expect.check_export(exported[1:], {}, set(src), src, caps)  # silently dropped sample
