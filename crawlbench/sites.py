"""Seeded input generators for the crawl benchmark.

Every generator is pure Python and driven by ``random.Random(seed)``: the
same seed yields byte-identical ``site`` rows (the fixture-web contract of
``chronicrawl_spark.sources.fetchsim``: url, status, content_type, body,
etag, last_modified, location).  The engine only ever sees these rows plus
the seed URLs; the expected outcomes the checks compare against are
computed here from the generated graph, never read back from the engine.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field

WORDS = (
    "archive frontier crawl harvest snapshot replay index record origin "
    "politeness robots sitemap caption pixel payload digest revisit wave "
    "schedule queue host link anchor gallery image corpus shard export"
).split()

ROBOTS_DISALLOW = "/private/"
ROBOTS_CRAWL_DELAY = 1


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def site_digest(rows: list[tuple]) -> str:
    """sha256 over the rows in order — the byte-identity fingerprint the
    determinism tests compare."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


# ------------------------------------------------------------------ recrawl

def recrawl_site(seed: int, n_hosts: int, n_pages: int) -> tuple[list[str], list[tuple]]:
    """``n_hosts`` hosts × ``n_pages`` link-free HTML pages.

    Returns ``(urls, site_rows)``.  Bodies are ≥ 64 bytes (the digest-dedupe
    minimum) and never change, so every re-fetch is a J7 digest revisit;
    no page links anywhere, so discovery stays idle.
    """
    rng = random.Random(seed)
    tag = rng.randrange(16**6)
    urls, rows = [], []
    for h in range(n_hosts):
        origin = f"http://r{h}-{tag:06x}.example"
        for p in range(n_pages):
            url = f"{origin}/p/{p}"
            body = f"<html><h1>{url}</h1><p>{_text(rng, 12)}</p></html>".encode()
            urls.append(url)
            rows.append((url, 200, "text/html", body, None, None, None))
    return urls, rows


# ---------------------------------------------------------------- discovery

FMT_CYCLE = ("bmp", "png", "jpeg", "gif")
TYPE_RANK = {"ROBOTS": 3, "SITEMAP": 2, "TRANSCLUSION": 1, "PAGE": 0}


@dataclass
class LinkedWeb:
    """A generated linked web of image-gallery hosts.

    ``out`` maps every processable URL to the ``(target_url, loc_type)``
    pairs it announces, exactly as the generator wrote them: robots.txt →
    its Sitemap (SITEMAP), the sitemap → its entries (PAGE), an HTML page →
    its ``<img>`` resources (TRANSCLUSION) and ``<a href>`` links (PAGE).
    Image payload URLs announce nothing.
    """

    seeds: list[str]  # per host: home, gallery images, seed articles
    origins: list[str]
    rows: list[tuple]  # site rows except the image payloads
    out: dict = field(default_factory=dict)
    captions: dict = field(default_factory=dict)  # image_id → caption
    image_url: dict = field(default_factory=dict)  # image_id → payload URL
    private: set = field(default_factory=set)  # robots-disallowed page URLs

    def out_degree(self, url: str) -> int:
        return len(self.out.get(url, ()))


def _pid(path: str) -> int:
    """The engine's path identity (xxh64 of the path), which orders a
    host's due pages of equal type, priority, depth and due time."""
    from chronicrawl_spark.functions.hashing import hash_str

    return hash_str(path)


def linked_web(
    seed: int,
    n_hosts: int,
    n_pages: int,
    gallery: int = 2,
    out_links: int = 4,
    home_links: int = 6,
    sitemap_pages: int = 4,
    early_seeds: int = 4,
    late_seeds: int = 2,
    external_hosts: int = 2,
    image_meta: dict | None = None,
) -> LinkedWeb:
    """Seeded linked web over ``n_hosts`` hosts sharing one seeded template.

    Every host serves the same paths and link structure (cross-host links
    rotate over the other hosts), so every host's queue has the same shape
    in every wave and no host falls out of step with the others:

    - ``/`` — an image+caption gallery of ``gallery`` ``<figure>``s (the
      ``<img>`` carries the corpus row's id, format, size and phash),
      ``home_links`` links to same-host or cross-host articles, and one
      link to a robots-disallowed ``/private/`` page;
    - ``/img/<g>`` — the payloads, corpus rows ``img%04d`` placed on hosts
      by a seeded permutation (all four codecs); the caller serves them
      from ``fixtures.make_images_distributed``;
    - ``/a/<j>`` (``j < n_pages``) — articles with ``out_links`` links:
      same-host, cross-host, one unseeded external host in eight, and
      (except on seed articles) disallowed pages;
    - robots.txt with ``Disallow: /private/``, a crawl-delay and a Sitemap
      line; a sitemap listing ``sitemap_pages`` articles.

    Seeds per host: the home page, the gallery images and
    ``early_seeds + late_seeds`` articles.  With ``per_host_k`` = 1 +
    seeds − ``late_seeds`` (robots.txt takes one slot) the first wave
    fetches all seeds but the ``late_seeds`` articles, whose path ids are
    chosen to sort last; the second wave then fetches those depth-0 articles (their
    links are kept at depth 1) next to depth-1 pages (whose links a
    ``max_depth=1`` cut drops) and, first among the depth-1 pages, the home
    page's disallowed link, whose path id is chosen to sort below every
    article's — so every seed's second wave has the same shape.
    """
    rng = random.Random(seed)
    tag = rng.randrange(16**6)
    origins = [f"http://d{h}-{tag:06x}.example" for h in range(n_hosts)]
    externals = [f"http://x{e}-{tag:06x}.example" for e in range(external_hosts)]
    articles = list(range(n_pages))
    fixed = ["/"] + [f"/img/{g}" for g in range(gallery)]
    floor = max(_pid(p) for p in fixed)
    late = sorted(rng.sample([j for j in articles if _pid(f"/a/{j}") > floor], late_seeds))
    ceiling = min(_pid(f"/a/{j}") for j in late)
    early = sorted(rng.sample(
        [j for j in articles if j not in late and _pid(f"/a/{j}") < ceiling], early_seeds
    ))
    lowest = min(_pid(f"/a/{j}") for j in articles)
    home_private = next(
        f"/private/{i}" for i in range(1 << 20) if _pid(f"/private/{i}") < lowest
    )
    other_private = [f"/private/o{i}" for i in range(2)]
    seeded = set(early) | set(late)

    def pick(kinds: str, exclude=None) -> tuple:
        while True:
            r = rng.random()
            if r < 0.125 and "x" in kinds:
                t = ("x", (rng.randrange(external_hosts), rng.randrange(n_pages)))
            elif r < 0.2 and "p" in kinds:
                t = ("p", rng.choice(other_private))
            elif r < 0.45 and "c" in kinds and n_hosts > 1:
                t = ("c", (rng.randrange(1, n_hosts), rng.randrange(n_pages)))
            else:
                t = ("a", rng.randrange(n_pages))
            if t != exclude:
                return t

    def targets(n: int, kinds: str, exclude=None) -> list:
        out: list = []
        while len(out) < n:
            t = pick(kinds, exclude)
            if t not in out:
                out.append(t)
        return out

    home_t = targets(home_links, "ac") + [("p", home_private)]
    article_t = {
        j: targets(out_links, "acx" if j in seeded else "acxp", ("a", j)) for j in articles
    }
    sitemap_t = sorted(rng.sample(articles, sitemap_pages))
    order = list(range(n_hosts * gallery))
    rng.shuffle(order)

    def resolve_t(h: int, t: tuple) -> str:
        kind, arg = t
        if kind == "a":
            return f"{origins[h]}/a/{arg}"
        if kind == "p":
            return f"{origins[h]}{arg}"
        if kind == "c":
            off, j = arg
            return f"{origins[(h + off) % n_hosts]}/a/{j}"
        e, j = arg
        return f"{externals[e]}/e/{j}"

    web = LinkedWeb(seeds=[], origins=origins, rows=[])
    for h, origin in enumerate(origins):
        web.seeds += [origin + p for p in fixed] + [f"{origin}/a/{j}" for j in early + late]
        robots = (
            f"User-agent: *\nDisallow: {ROBOTS_DISALLOW}\n"
            f"Crawl-delay: {ROBOTS_CRAWL_DELAY}\nSitemap: /sitemap.xml\n"
        ).encode()
        web.rows.append((origin + "/robots.txt", 200, "text/plain", robots, None, None, None))
        web.out[origin + "/robots.txt"] = [(origin + "/sitemap.xml", "SITEMAP")]
        sitemap = (
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(
                f"<url><loc>/a/{j}</loc><changefreq>daily</changefreq>"
                f"<priority>0.5</priority></url>"
                for j in sitemap_t
            )
            + "</urlset>"
        ).encode()
        web.rows.append((origin + "/sitemap.xml", 200, "application/xml", sitemap, None, None, None))
        web.out[origin + "/sitemap.xml"] = [(f"{origin}/a/{j}", "PAGE") for j in sitemap_t]

        figures, home_out = [], []
        for g in range(gallery):
            i = order[h * gallery + g]
            iid, fmt = f"img{i:04d}", FMT_CYCLE[i % 4]
            url = f"{origin}/img/{g}"
            web.captions[iid] = f"{_text(rng, 5)} {i}"
            web.image_url[iid] = url
            attrs = f' data-id="{iid}" data-fmt="{fmt}"'
            if image_meta is not None:
                w, hh, ph = image_meta[iid]
                attrs += f' width="{w}" height="{hh}" data-phash="{ph}"'
            figures.append(
                f'<figure><img src="/img/{g}"{attrs}>'
                f"<figcaption>{web.captions[iid]}</figcaption></figure>"
            )
            home_out.append((url, "TRANSCLUSION"))
        links = [resolve_t(h, t) for t in home_t]
        body = (
            f"<html><head><title>{_text(rng, 3)}</title></head><body>"
            + "".join(figures)
            + "".join(f'<p><a href="{u}">{_text(rng, 2)}</a></p>' for u in links)
            + "</body></html>"
        ).encode()
        web.rows.append((origin + "/", 200, "text/html", body, None, None, None))
        web.out[origin + "/"] = home_out + [(u, "PAGE") for u in links]

        pages = [(f"{origin}/a/{j}", article_t[j]) for j in articles]
        pages += [(origin + p, article_t[0]) for p in [home_private] + other_private]
        for url, tmpl in pages:
            links = [resolve_t(h, t) for t in tmpl]
            body = (
                f"<html><body><h1>{_text(rng, 4)}</h1>"
                + "".join(f'<p>{_text(rng, 6)} <a href="{u}">more</a></p>' for u in links)
                + "</body></html>"
            ).encode()
            web.rows.append((url, 200, "text/html", body, None, None, None))
            web.out[url] = [(u, "PAGE") for u in links]
            if "/private/" in url:
                web.private.add(url)
    return web


def web_digest(web: LinkedWeb) -> str:
    h = hashlib.sha256(site_digest(web.rows).encode())
    h.update(repr(sorted(web.out.items())).encode())
    h.update(repr(sorted(web.captions.items())).encode())
    return h.hexdigest()


FIGURE_RE = re.compile(
    r'<figure><img src="(?P<src>[^"]+)" data-id="(?P<iid>[^"]+)" data-fmt="(?P<fmt>[^"]+)" '
    r'width="(?P<w>\d+)" height="(?P<h>\d+)" data-phash="(?P<phash>-?\d+)">'
    r"<figcaption>(?P<caption>[^<]*)</figcaption></figure>"
)


def parse_gallery(page_url: str, body: bytes) -> list[tuple]:
    """Crawled gallery page → ``(image_url, image_id, fmt, w, h, phash,
    caption)`` per figure: the image+caption pairing step of the export."""
    origin = page_url.split("/", 3)
    origin = "/".join(origin[:3])
    return [
        (origin + m["src"], m["iid"], m["fmt"], int(m["w"]), int(m["h"]), int(m["phash"]), m["caption"])
        for m in FIGURE_RE.finditer(body.decode("utf-8", "replace"))
    ]
