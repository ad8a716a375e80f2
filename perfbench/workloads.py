"""Seeded, id-derived crawl corpora for the benchmark workloads.

Every page is a pure function of (workload, seed, host rank, page id):
``Corpus.html(url)`` rebuilds any page from its URL alone, so the frozen
oracle can crawl a lazy ``url -> html`` Mapping (``LazyPages``) without
the corpus ever being held in memory, and the parquet copy that Spark
reads is written by streaming the same generator.

Host sizes follow a harmonic (Zipf s=1) split of the page count by host
rank. The split is fixed per workload, so every seed yields a corpus of
the same shape; the seed changes host names, page text and every
pseudo-random link choice.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections.abc import Iterator, Mapping
from dataclasses import dataclass, replace

MASK64 = (1 << 64) - 1
PDF_BODY = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\ntrailer\n%%EOF\n"
DOC_TYPE = "application/pdf"
_WORDS = (
    "civic notice agenda minutes budget zoning permit council meeting public "
    "record ordinance hearing resolution committee district assessment "
    "archive report survey bulletin filing review"
).split()
_PAGE_RE = re.compile(r"^/(private/)?p(\d+)(\.pdf)?$")
N_FILES = 8  # parquet files per corpus: several scan tasks per core


def mix(*parts: int) -> int:
    """splitmix64 chained over ``parts``: the only source of randomness."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = ((h ^ (p & MASK64)) * 0xBF58476D1CE4E5B9) & MASK64
        h ^= h >> 31
        h = (h * 0x94D049BB133111EB) & MASK64
        h ^= h >> 29
    return h


@dataclass(frozen=True)
class Workload:
    name: str
    n_hosts: int
    pages: int                  # pages over all hosts before the Zipf floor
    min_host_pages: int
    branch: int                 # tree fan-out: page j -> j*branch+1 ..
    max_link_level: int
    page_tokens: int            # filler words per html page
    pdf_every: int              # page j is a pdf when j % pdf_every == pdf_every-1
    # mesh: pseudo-random in-host links per page; a mesh page also links
    # to a '#fragment' twin of every child, to /p0 and to its parent
    mesh_random: int = 0
    host_budget: int | None = None
    robots_every: int = 0       # every k-th host serves a robots.txt (0 = none)
    crawl_delay: int = 0        # Crawl-delay of those robots.txt files
    politeness_wave_seconds: int | None = None
    stop_after_waves: int | None = None  # first leg's max_waves, then resume
    archive_compact_every: int | None = 16

    def warmup(self) -> "Workload":
        """The same page shape and crawl settings on a one-host, one-wave
        corpus: enough to load and compile every code path of the wave
        loop before the timed crawl."""
        return replace(self, n_hosts=1, pages=12, min_host_pages=12,
                       max_link_level=0, stop_after_waves=None)


WORKLOADS = {
    # Forest of wide trees, tens-of-KB pages, every link new, no budget.
    "bulk-tree": Workload(
        name="bulk-tree", n_hosts=12, pages=2400, min_host_pages=40,
        branch=12, max_link_level=3, page_tokens=2600, pdf_every=8,
        stop_after_waves=2,
    ),
    # Small pages with many links, most pointing back into seen pages.
    "mesh-dedup": Workload(
        name="mesh-dedup", n_hosts=12, pages=6000, min_host_pages=60,
        branch=3, max_link_level=2, page_tokens=40, pdf_every=9,
        mesh_random=24,
        stop_after_waves=1,
    ),
    # Per-host budget + robots.txt (Disallow + Crawl-delay), stop + resume.
    "polite-resume": Workload(
        name="polite-resume", n_hosts=8, pages=800, min_host_pages=60,
        branch=12, max_link_level=1, page_tokens=300, pdf_every=7,
        host_budget=6, robots_every=2, crawl_delay=10,
        politeness_wave_seconds=60, stop_after_waves=1,
        archive_compact_every=0,
    ),
}


class Corpus:
    """One generated corpus: ``Workload`` x seed."""

    def __init__(self, wl: Workload, seed: int):
        self.wl = wl
        self.seed = seed
        hn = sum(1.0 / (r + 1) for r in range(wl.n_hosts))
        self.sizes = [
            max(wl.min_host_pages, int(wl.pages / (r + 1) / hn))
            for r in range(wl.n_hosts)
        ]
        self.hosts = [f"s{seed}h{r}.bench" for r in range(wl.n_hosts)]
        self._rank = {h: r for r, h in enumerate(self.hosts)}
        nw = len(_WORDS)
        self._pool = " ".join(
            f"{_WORDS[mix(seed, i) % nw]}{mix(seed, i, 1) % 9973}"
            for i in range(16384)) + " "

    # -- structure ----------------------------------------------------------

    def is_pdf(self, j: int) -> bool:
        return j > 0 and j % self.wl.pdf_every == self.wl.pdf_every - 1

    def path(self, j: int) -> str:
        return f"/p{j}.pdf" if self.is_pdf(j) else f"/p{j}"

    def has_robots(self, r: int) -> bool:
        return self.wl.robots_every > 0 and r % self.wl.robots_every == 0

    def hrefs(self, r: int, j: int) -> list[str]:
        wl, size = self.wl, self.sizes[r]
        kids = [c for c in range(j * wl.branch + 1, j * wl.branch + wl.branch + 1)
                if c < size]
        out = []
        for c in kids:
            out.append(self.path(c))
            if wl.mesh_random:
                out.append(f"{self.path(c)}#s{c % 7}")
        if wl.mesh_random:
            out.append("/p0")
            if j > 0:
                out.append(self.path((j - 1) // wl.branch))
        for t in range(wl.mesh_random):
            out.append(self.path(mix(self.seed, r, j, t) % size))
        if wl.robots_every:
            # disallowed on hosts with a robots.txt, a document elsewhere
            out.append(f"/private/p{j}.pdf")
        return out

    def _text(self, r: int, j: int) -> str:
        """~page_tokens words: slices of the seeded word pool at
        pseudo-random offsets (cheap to rebuild, compresses like text)."""
        pool, n = self._pool, len(self._pool)
        want = self.wl.page_tokens * 8
        step = max(64, want // 8)
        parts = []
        for t in range(0, want, step):
            off = mix(self.seed, r, j, t) % (n - step)
            parts.append(pool[off:off + step])
        return "".join(parts)

    def _page(self, r: int, j: int) -> bytes:
        anchors = "\n".join(
            f'<a href="{h}">link {i}</a>' for i, h in enumerate(self.hrefs(r, j))
        )
        title = f"{self.hosts[r]} page {j}"
        return (
            f"<html><head><title>{title}</title>"
            f"<style>body {{ margin: 0 }}</style></head>\n"
            f"<body><h1>{title}</h1>\n<p>{self._text(r, j)}</p>\n{anchors}\n"
            f"<script>var tracked = {j};</script>\n</body></html>"
        ).encode("utf-8")

    def _robots(self) -> bytes:
        return (
            "# generated\nUser-agent: *\nDisallow: /private\n"
            f"Crawl-delay: {self.wl.crawl_delay}\n"
        ).encode("utf-8")

    # -- url <-> page -------------------------------------------------------

    def html(self, url: str) -> bytes | None:
        """The page at ``url``, or None when the corpus has no such row."""
        if not url.startswith("http://"):
            return None
        host, _, rest = url[len("http://"):].partition("/")
        r = self._rank.get(host)
        if r is None:
            return None
        rest = "/" + rest
        if rest == "/robots.txt":
            return self._robots() if self.has_robots(r) else None
        m = _PAGE_RE.match(rest)
        if m is None:
            return None
        private, j, pdf = m.group(1), int(m.group(2)), m.group(3)
        if private:
            ok = pdf and self.wl.robots_every and j < self.sizes[r]
            return PDF_BODY if ok else None
        if j >= self.sizes[r] or bool(pdf) != self.is_pdf(j):
            return None
        return PDF_BODY if pdf else self._page(r, j)

    def urls(self) -> Iterator[str]:
        for r, host in enumerate(self.hosts):
            base = f"http://{host}"
            if self.has_robots(r):
                yield f"{base}/robots.txt"
            for j in range(self.sizes[r]):
                yield base + self.path(j)
                if self.wl.robots_every:
                    yield f"{base}/private/p{j}.pdf"

    def seed_urls(self) -> list[str]:
        return [f"http://{h}/p0" for h in self.hosts]

    def robots_disallow(self) -> dict[str, list[str]]:
        """The oracle's view of the robots.txt rows: host -> prefixes."""
        return {h: ["/private"] for r, h in enumerate(self.hosts)
                if self.has_robots(r)}


class LazyPages(Mapping):
    """Read-only ``url -> html`` view that regenerates pages on access."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus

    def __getitem__(self, url: str) -> bytes:
        html = self.corpus.html(url)
        if html is None:
            raise KeyError(url)
        return html

    def __iter__(self) -> Iterator[str]:
        return self.corpus.urls()

    def __len__(self) -> int:
        return sum(1 for _ in self.corpus.urls())


def write_parquet(corpus: Corpus, out_dir: str, extract_text) -> int:
    """Stream the corpus to ``out_dir`` as PAGES_SCHEMA parquet files.

    ``text`` is the reference extraction (the oracle's own encoding), so
    the pipeline's ``text_mismatch`` counter checks it byte for byte.
    Returns the html bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    os.makedirs(out_dir, exist_ok=True)
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    cols: list[list] = [[] for _ in range(N_FILES)]
    total = 0
    for i, url in enumerate(corpus.urls()):
        html = corpus.html(url)
        total += len(html)
        cols[mix(corpus.seed, i) % N_FILES].append(
            (url, t0 + dt.timedelta(seconds=i), html, extract_text(html), "en"))
    for k, rows in enumerate(cols):
        tbl = pa.Table.from_arrays(
            [pa.array([row[c] for row in rows], schema.field(c).type)
             for c in range(5)],
            schema=schema,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return total
