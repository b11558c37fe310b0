"""Seeded input generator for the benchmark.

Everything the program under test sees comes from here: WARC shards of
docs-site HTML, the retrieval request stream and the re-crawl change
batches. The same seed and sizes reproduce every file byte for byte:
all randomness comes from one ``random.Random(seed)`` and gzip members
are written with ``mtime=0``.

Only the standard library is used, so the inputs do not depend on the
package's own fixture writers.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass

PRODUCTS = ("cluster", "storage", "network", "registry", "pipelines", "console")
SECTION_TITLES = (
    "Overview", "Installing", "Configuring", "Upgrading", "Troubleshooting",
    "Reference", "Security", "Monitoring", "Scaling", "Backing up",
)
#: request kinds of the retrieval mix, sent round-robin in this order
#: so that every run sends each kind at the same positions. The slowest
#: kind goes first: the first request after a commit runs slower by a
#: varying amount, which is the smallest share of the slowest request.
REQUEST_KINDS = ("keyword", "pq", "ann", "search")
#: re-crawl batch composition in a batch of 12 rows: unchanged / edited /
#: new / deleted pages. Fixed counts give every run the same op pattern.
RECRAWL_MIX = (("unchanged", 6), ("edited", 3), ("new", 2), ("delete", 1))


@dataclass(frozen=True)
class Sizes:
    pages: int
    shards: int
    requests: int
    recrawl_batches: int = 0


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    syl = ["ka", "ro", "mi", "te", "su", "na", "lo", "pe", "ri", "do", "va",
           "ne", "to", "shi", "gu", "ba", "ze", "ko", "li", "fa", "mu", "ye"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


class _Text:
    """Zipf-skewed words from a fixed pseudo-word vocabulary."""

    def __init__(self, rng: random.Random, vocab_size: int = 4000, s: float = 1.05):
        self.rng = rng
        self.vocab = _vocabulary(rng, vocab_size)
        acc, cum = 0.0, []
        for r in range(1, vocab_size + 1):
            acc += 1.0 / r**s
            cum.append(acc)
        self.cum = cum

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=n)

    def sentence(self) -> str:
        w = self.words(self.rng.randint(8, 20))
        return " ".join(w).capitalize() + "."

    def paragraph(self, target_chars: int) -> str:
        out: list[str] = []
        n = 0
        while n < target_chars:
            s = self.sentence()
            out.append(s)
            n += len(s) + 1
        return " ".join(out)


def _code_block(t: _Text) -> str:
    rng = t.rng
    lines = [
        f"$ oc {rng.choice(['get', 'apply', 'describe', 'delete'])} "
        f"{t.words(1)[0]} --{t.words(1)[0]}={rng.randint(1, 999)}"
        for _ in range(rng.randint(2, 8))
    ]
    return '<pre class="programlisting">' + "\n".join(lines) + "</pre>"


def _section_html(t: _Text, level: int, title: str) -> str:
    """One h2/h3 section. Its body length is spread so that most
    sections exceed the 2048-character chunk size and split."""
    rng = t.rng
    target = int(rng.uniform(1800, 3600))
    parts = [f"<h{level}>{title}</h{level}>"]
    n = 0
    while n < target:
        if rng.random() < 0.2:
            parts.append(_code_block(t))
            n += 120
        else:
            ln = rng.randint(250, 900)
            parts.append(f"<p>{t.paragraph(ln)}</p>")
            n += ln
    return "\n".join(parts)


def page_html(t: _Text, page_id: int, title: str) -> str:
    rng = t.rng
    body = [
        f'<div class="breadcrumb"><a href="/">Docs</a> / {title}</div>',
        f'<div class="docs-metadata">Updated {rng.randint(1, 28)} March, build {page_id}</div>',
        f"<h1>{title}</h1>",
        f'<div class="abstract"><p>{t.paragraph(200)}</p></div>',
    ]
    for _ in range(2):
        body.append(_section_html(t, 2, f"{rng.choice(SECTION_TITLES)} {t.words(1)[0]}"))
        if rng.random() < 0.25:
            body.append(_section_html(t, 3, f"{t.words(2)[0]} {t.words(1)[0]}"))
    body.append('<div class="legal-notice"><p>Copyright the authors. All rights reserved.</p></div>')
    return (
        '<!DOCTYPE html><html><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body>\n" + "\n".join(body) + "\n</body></html>"
    )


def page_url(page_id: int) -> str:
    return f"https://docs.example.com/{PRODUCTS[page_id % len(PRODUCTS)]}/page-{page_id}.html"


def _warc_record(rtype: str, block: bytes, uri: str | None, rid: int, ctype: str) -> bytes:
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode(),
        b"WARC-Date: 2026-03-01T00:00:00Z",
        f"WARC-Record-ID: <urn:uuid:{rid:032x}>".encode(),
        b"Content-Type: " + ctype.encode(),
        b"Content-Length: " + str(len(block)).encode(),
    ]
    if uri is not None:
        head.insert(2, b"WARC-Target-URI: " + uri.encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http_response(status: int, body: bytes) -> bytes:
    reason = {200: "OK", 404: "Not Found"}[status]
    return (
        f"HTTP/1.1 {status} {reason}\r\nContent-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _member(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


def write_crawl(out_dir: str, t: _Text, page_ids: list[int], shards: int) -> dict:
    """Write ``page_ids`` as ``shards`` .warc.gz files: one warcinfo
    record per shard, then a request and a response per page, each
    record its own gzip member. One response in 32 is a 404, which the
    pipeline must skip."""
    os.makedirs(out_dir, exist_ok=True)
    rng = t.rng
    blobs = [bytearray(_member(_warc_record(
        "warcinfo", b"software: perfbench\r\n", None, 10**9 + s, "application/warc-fields"
    ))) for s in range(shards)]
    gone = set(rng.sample(page_ids, max(1, len(page_ids) // 32)))
    records = shards
    html_bytes = 0
    pages: dict[int, str] = {}
    for pid in page_ids:
        url = page_url(pid)
        html = page_html(t, pid, f"{PRODUCTS[pid % len(PRODUCTS)].title()} guide {pid}")
        missing = pid in gone
        body = b"<html><body>gone</body></html>" if missing else html.encode("utf-8")
        blob = blobs[pid % shards]
        blob += _member(_warc_record(
            "request", f"GET {url} HTTP/1.1\r\nHost: docs.example.com\r\n\r\n".encode(),
            url, 2 * pid, "application/http; msgtype=request",
        ))
        blob += _member(_warc_record(
            "response", _http_response(404 if missing else 200, body), url, 2 * pid + 1,
            "application/http; msgtype=response",
        ))
        records += 2
        if not missing:
            pages[pid] = html
            html_bytes += len(body)
    for s, blob in enumerate(blobs):
        with open(os.path.join(out_dir, f"crawl-{s:03d}.warc.gz"), "wb") as f:
            f.write(blob)
    return {"records": records, "pages": len(pages), "html_bytes": html_bytes,
            "page_html": pages}


def write_requests(path: str, t: _Text, n: int, dim: int) -> None:
    """The retrieval request stream, one JSON object per line.

    Text requests carry Zipf-skewed terms, one to three of them by
    position in the stream. Vector requests name a
    target by its rank ``u`` in [0, 1) over the sorted live chunk ids,
    plus a small noise vector, so each query lands near a stored chunk
    whatever the store holds."""
    rng = t.rng
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            kind = REQUEST_KINDS[i % len(REQUEST_KINDS)]
            req: dict = {"i": i, "kind": kind}
            if kind in ("search", "keyword"):
                req["text"] = " ".join(t.words(1 + (i // len(REQUEST_KINDS)) % 3))
            else:
                req["u"] = rng.random()
                req["noise"] = [round(rng.gauss(0.0, 0.08), 5) for _ in range(dim)]
            f.write(json.dumps(req, sort_keys=True) + "\n")


def write_recrawl(out_dir: str, t: _Text, live: dict[int, str], first_new: int,
                  batches: int) -> dict:
    """Re-crawl change batches as JSON-lines files ``batch-NNN.json``.

    Each row is ``{doc_id, url, html, op}``: ``op`` is ``upsert`` for
    unchanged, edited and new pages and ``delete`` (html null) for
    takedowns. Edited pages get freshly generated sections, so they
    pass the near-duplicate gate; unchanged pages repeat their HTML
    byte for byte, so the gate rejects them."""
    os.makedirs(out_dir, exist_ok=True)
    rng = t.rng
    live = dict(live)
    next_id = first_new
    counts = {k: 0 for k, _ in RECRAWL_MIX}
    plan = [k for k, c in RECRAWL_MIX for _ in range(c)]
    for b in range(batches):
        rows = []
        touched: set[int] = set()
        rng.shuffle(plan)
        for kind in plan:
            if kind == "new":
                pid, next_id = next_id, next_id + 1
            else:
                candidates = sorted(set(live) - touched)
                pid = candidates[rng.randrange(len(candidates))]
            touched.add(pid)
            counts[kind] += 1
            if kind == "delete":
                del live[pid]
                rows.append({"doc_id": pid, "url": page_url(pid), "html": None, "op": "delete"})
                continue
            if kind != "unchanged":
                live[pid] = page_html(
                    t, pid, f"{PRODUCTS[pid % len(PRODUCTS)].title()} guide {pid}"
                )
            rows.append({"doc_id": pid, "url": page_url(pid), "html": live[pid], "op": "upsert"})
        with open(os.path.join(out_dir, f"batch-{b:03d}.json"), "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r, sort_keys=True) + "\n")
    return {"batches": batches, "rows_per_batch": len(plan), **counts}


def generate(out_dir: str, seed: int, sizes: Sizes, dim: int) -> dict:
    """Write every input file under ``out_dir`` and return the manifest
    (also written as ``manifest.json``)."""
    t = _Text(random.Random(seed))
    crawl = write_crawl(os.path.join(out_dir, "crawl"), t, list(range(sizes.pages)), sizes.shards)
    write_requests(os.path.join(out_dir, "requests.jsonl"), t, sizes.requests, dim)
    manifest = {
        "seed": seed,
        "warc_shards": sizes.shards,
        "warc_records": crawl["records"],
        "pages": crawl["pages"],
        "html_bytes": crawl["html_bytes"],
        "requests": sizes.requests,
    }
    if sizes.recrawl_batches:
        manifest["recrawl"] = write_recrawl(
            os.path.join(out_dir, "recrawl"), t, crawl["page_html"], sizes.pages,
            sizes.recrawl_batches,
        )
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest
