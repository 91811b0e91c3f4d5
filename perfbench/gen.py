"""Seeded input generators for the extraction benchmark.

Every workload's input is a parquet table in the pipeline's input schema
``(doc_id string, doc_type string, spans array<struct<kind, text,
media_ref, offset>>)``. The spans of a document concatenate, in offset
order, to its markup; the array itself is stored in a seeded shuffled
order so the JVM-side codec has to sort.

Sizes are drawn by stratified quantiles (one draw per equal-probability
stratum, seeded jitter inside it), so the total work of a workload barely
moves between seeds while every document's content does. That keeps the
seed-to-seed spread of docs/s down to the system's own noise.

Inputs are cached per (family, seed) under the work directory, so input
generation stays out of the set-up and timed phases of a run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

# families: html_pages and resume_half share one input
FAMILY = {
    "html_pages": "html",
    "resume_half": "html",
    "mixed_skew": "mixed",
    "query_select": "query",
}

HTML_PAGES_DOCS = 6000
QUERY_HTML_DOCS = 900
QUERY_XML_DOCS = 400
MIXED_HTML_DOCS = 560
MIXED_XML_DOCS = 300  # ~30% of the corpus by count
MIXED_MEDIA_DOCS = 8
MIXED_GIANTS = 2
GIANT_CHARS = 33_000_000  # above pipeline.DEFAULT_GIANT_THRESHOLD (32e6)
INPUT_FILES = 16
CACHE_KEEP = 12  # seeds kept per family; older ones are evicted

ATOM_NS = "http://www.w3.org/2005/Atom"
DC_NS = "http://purl.org/dc/elements/1.1/"
MEDIA_NS = "http://search.yahoo.com/mrss/"
QUERY_NS = {"a": ATOM_NS, "dc": DC_NS, "m": MEDIA_NS}

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("doc_type", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

# a fixed vocabulary; seeds choose sequences from it, never its contents
_VOCAB_RNG = random.Random(20240917)
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an", "el", "or", "ix", "um"]
VOCAB = sorted(
    {"".join(_VOCAB_RNG.choice(_SYL) for _ in range(_VOCAB_RNG.randint(1, 4))) for _ in range(3000)}
)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(VOCAB, k=n))


def _stratified(rng: random.Random, n: int, inv_cdf) -> list[float]:
    """n draws, one per stratum [i/n, (i+1)/n), returned in seeded order."""
    out = [inv_cdf((i + rng.random()) / n) for i in range(n)]
    rng.shuffle(out)
    return out


def _lognormal_inv(median: float, sigma: float, cap: float):
    # inverse normal CDF by bisection on erf: exact enough, no scipy
    def inv(p: float) -> float:
        lo, hi = -8.0, 8.0
        for _ in range(60):
            mid = (lo + hi) / 2
            if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < p:
                lo = mid
            else:
                hi = mid
        return min(cap, median * math.exp(sigma * (lo + hi) / 2))

    return inv


class _Doc:
    """A document under construction as ordered (kind, text, media_ref)."""

    __slots__ = ("pieces",)

    def __init__(self):
        self.pieces: list[tuple[str, str, str | None]] = []

    def text(self, s: str):
        if self.pieces and self.pieces[-1][0] == "text":
            k, t, r = self.pieces[-1]
            self.pieces[-1] = (k, t + s, r)
        else:
            self.pieces.append(("text", s, None))

    def media(self, markup: str, ref: str):
        self.pieces.append(("media", markup, ref))

    def spans(self, rng: random.Random) -> list[dict]:
        out = [
            {"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(self.pieces)
        ]
        rng.shuffle(out)
        return out


def _boilerplate_page(rng: random.Random, doc_id: str, paras: int, words: int) -> _Doc:
    """A crawl-like page: head, nav chrome, article with two media
    elements interleaved, footer links — five spans."""
    d = _Doc()
    title = _words(rng, 4)
    d.text(
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        "<style>p{margin:0}</style><script>var t=1<2;</script></head><body>"
        '<nav><a href="/">Home</a> <a href="/news">News</a> '
        f'<a href="/about">About</a></nav><div class="content"><h1>{title}</h1>'
        f"<p>{_words(rng, words)}</p>"
    )
    d.media(f'<img src="/img/{doc_id}-a.jpg" alt="{_words(rng, 2)}">', f"/img/{doc_id}-a.jpg")
    body = "".join(f"<p>{_words(rng, words)}</p>" for _ in range(paras))
    d.text(
        f"{body}<ul><li>{_words(rng, 3)}</li><li>{_words(rng, 3)}</li></ul>"
        f"<figure><figcaption>{_words(rng, 5)}</figcaption></figure>"
    )
    d.media(f'<iframe src="https://video.example/{doc_id}"></iframe>', f"https://video.example/{doc_id}")
    d.text(
        f"<p>{_words(rng, words)} <a href=\"/r/{rng.randint(0, 999)}\">{_words(rng, 2)}</a></p></div>"
        '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> '
        '<a href="/contact">Contact</a></footer></body></html>'
    )
    return d


def _sized_html(rng: random.Random, doc_id: str, target: int) -> _Doc:
    """HTML page of roughly `target` chars: article paragraphs and tables
    with an image every few blocks."""
    d = _Doc()
    d.text(
        f"<html><head><title>{_words(rng, 5)}</title></head><body>"
        '<div id="nav"><a href="/a">A</a><a href="/b">B</a><a href="/c">C</a></div>'
        f"<article><h2>{_words(rng, 4)}</h2>"
    )
    size = 0
    block = 0
    while size < target:
        block += 1
        if block % 7 == 0:
            ref = f"/m/{doc_id}/{block}.png"
            d.media(f'<img src="{ref}" alt="{_words(rng, 2)}">', ref)
        if block % 11 == 0:
            cells = "".join(f"<td>{_words(rng, 2)}</td>" for _ in range(4))
            s = f"<table><tr>{cells}</tr><tr>{cells}</tr></table>"
        else:
            s = f"<p>{_words(rng, rng.randint(20, 120))}</p>"
        d.text(s)
        size += len(s)
    d.text("</article></body></html>")
    return d


def _giant_html(rng: random.Random, doc_id: str, target: int) -> _Doc:
    """A pathological single document above the salting threshold:
    text-heavy, few elements, so its cost is bytes, not nodes. Paragraphs
    are drawn from a seeded pool to keep generation cheap."""
    pool = [f"<p>{_words(rng, rng.randint(600, 1400))}</p>" for _ in range(64)]
    d = _Doc()
    d.text(f"<html><head><title>{_words(rng, 6)}</title></head><body><main>")
    size = 0
    k = 0
    chunk: list[str] = []
    while size < target:
        p = pool[rng.randrange(len(pool))]
        chunk.append(p)
        size += len(p)
        k += 1
        if k % 400 == 0:
            d.text("".join(chunk))
            chunk = []
            ref = f"/giant/{doc_id}/{k}.jpg"
            d.media(f'<img src="{ref}" alt="plate {k}">', ref)
    d.text("".join(chunk) + "</main></body></html>")
    return d


def _media_heavy(rng: random.Random, doc_id: str, n_media: int) -> _Doc:
    d = _Doc()
    d.text(f"<html><head><title>gallery {_words(rng, 3)}</title></head><body><div class=\"gallery\">")
    for i in range(n_media):
        ref = f"/g/{doc_id}/{i}.jpg"
        kind = i % 4
        if kind == 0:
            d.media(f'<img src="{ref}" alt="{_words(rng, 3)}">', ref)
        elif kind == 1:
            d.media(f'<video src="{ref}.mp4"></video>', f"{ref}.mp4")
        elif kind == 2:
            d.media(f'<embed src="{ref}.swf">', f"{ref}.swf")
        else:
            d.media(f'<iframe src="https://v.example{ref}"></iframe>', f"https://v.example{ref}")
        d.text(f"<p>{_words(rng, rng.randint(3, 12))}</p>")
    d.text("</div></body></html>")
    return d


def _atom_feed(rng: random.Random, doc_id: str, entries: int) -> _Doc:
    """Namespaced XML: Atom with Dublin Core and Media RSS extensions."""
    d = _Doc()
    parts = [
        f'<?xml version="1.0" encoding="utf-8"?><feed xmlns="{ATOM_NS}" '
        f'xmlns:dc="{DC_NS}" xmlns:m="{MEDIA_NS}"><title>{_words(rng, 3)}</title>'
        f"<id>urn:feed:{doc_id}</id>"
    ]
    for i in range(entries):
        parts.append(
            f'<entry><title>{_words(rng, 4)}</title><id>urn:{doc_id}:{i}</id>'
            f'<link href="https://ex.org/{doc_id}/{i}"/>'
            f"<dc:creator>{_words(rng, 2)}</dc:creator>"
            f'<m:content url="https://cdn.ex.org/{doc_id}/{i}.jpg" width="{rng.randint(100, 999)}"/>'
            f"<summary>{_words(rng, rng.randint(8, 40))}</summary></entry>"
        )
    parts.append("</feed>")
    d.text("".join(parts))
    return d


def _query_page(rng: random.Random, doc_id: str) -> _Doc:
    """HTML page shaped for the query surface: classed containers, links,
    images, a data table."""
    d = _Doc()
    links = "".join(
        f'<li class="item{" active" if j == 0 else ""}"><a href="/p/{rng.randint(0, 9999)}" '
        f'rel="{rng.choice(["next", "prev", "nofollow"])}">{_words(rng, 2)}</a></li>'
        for j in range(rng.randint(3, 8))
    )
    d.text(
        f"<html><head><title>{_words(rng, 4)}</title><meta name=\"author\" content=\"{_words(rng, 2)}\"></head>"
        f'<body><div id="main" class="container"><ul class="list">{links}</ul>'
        f'<div class="content"><p>{_words(rng, rng.randint(10, 40))}</p>'
    )
    ref = f"/q/{doc_id}.jpg"
    d.media(f'<img src="{ref}" alt="{_words(rng, 2)}">', ref)
    rows = "".join(
        f"<tr><td>{_words(rng, 1)}</td><td>{rng.randint(1, 500)}</td></tr>"
        for _ in range(rng.randint(2, 6))
    )
    d.text(
        f"<p>{_words(rng, rng.randint(10, 40))}</p><table>{rows}</table></div></div></body></html>"
    )
    return d


def _hardening() -> list[tuple[str, str, _Doc]]:
    from fuzi_spark.corpus import HARDENING_DOCS

    out = []
    for doc_id, doc_type, markup in HARDENING_DOCS:
        d = _Doc()
        d.text(markup)
        out.append((doc_id, doc_type, d))
    return out


def generate(family: str, seed: int) -> list[dict]:
    """Rows of one family's input for `seed`, in a seeded order."""
    rng = random.Random(f"{family}:{seed}")
    docs: list[tuple[str, str | None, _Doc]] = []
    if family == "html":
        paras = _stratified(rng, HTML_PAGES_DOCS, lambda p: 2 + 4 * p)
        for i in range(HTML_PAGES_DOCS):
            doc_id = f"p{seed}-{i:06d}"
            docs.append((doc_id, "html", _boilerplate_page(rng, doc_id, int(paras[i]), 18)))
    elif family == "query":
        for i in range(QUERY_HTML_DOCS):
            doc_id = f"q{seed}-h{i:05d}"
            docs.append((doc_id, "html", _query_page(rng, doc_id)))
        entries = _stratified(rng, QUERY_XML_DOCS, lambda p: 2 + 10 * p)
        for i in range(QUERY_XML_DOCS):
            doc_id = f"q{seed}-x{i:05d}"
            docs.append((doc_id, "xml", _atom_feed(rng, doc_id, int(entries[i]))))
    elif family == "mixed":
        sizes = _stratified(rng, MIXED_HTML_DOCS, _lognormal_inv(6000, 1.6, 3_000_000))
        for i, size in enumerate(sizes):
            doc_id = f"m{seed}-h{i:05d}"
            docs.append((doc_id, "html", _sized_html(rng, doc_id, int(size))))
        entries = _stratified(rng, MIXED_XML_DOCS, _lognormal_inv(12, 1.0, 400))
        for i, n in enumerate(entries):
            doc_id = f"m{seed}-x{i:05d}"
            docs.append((doc_id, "xml", _atom_feed(rng, doc_id, max(1, int(n)))))
        for i in range(MIXED_MEDIA_DOCS):
            doc_id = f"m{seed}-media{i}"
            docs.append((doc_id, "html", _media_heavy(rng, doc_id, 200 + 40 * i)))
        for i in range(MIXED_GIANTS):
            doc_id = f"m{seed}-giant{i}"
            docs.append((doc_id, "html", _giant_html(rng, doc_id, GIANT_CHARS + 100_000 * i)))
        docs.extend(_hardening())
        empty = _Doc()
        docs.append((f"m{seed}-empty", "html", empty))
        # doc_type: one in five is null, so the program must sniff it
        docs = [
            (doc_id, None if rng.random() < 0.2 else dt, d) for doc_id, dt, d in docs
        ]
    else:
        raise ValueError(f"unknown family {family!r}")
    rng.shuffle(docs)
    return [
        {"doc_id": doc_id, "doc_type": dt, "spans": d.spans(rng)} for doc_id, dt, d in docs
    ]


def markup_of(row: dict) -> str:
    """The document the program sees: span texts concatenated in offset
    order (null texts as empty)."""
    spans = row["spans"] or []
    return "".join(s["text"] or "" for s in sorted(spans, key=lambda s: s["offset"]))


def digest(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()


def _write(rows: list[dict], path: str) -> None:
    os.makedirs(path)
    per = max(1, math.ceil(len(rows) / INPUT_FILES))
    for k in range(0, len(rows), per):
        table = pa.Table.from_pylist(rows[k : k + per], schema=SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k // per:05d}.parquet"))


def expected_parse_errors(rows: list[dict]) -> int:
    """Documents the single-process reference flags as parse errors.

    Generated pages are well formed; only the hardening corpus and empty
    documents can fail, so only those go through the reference here."""
    from fuzi_spark.extract import _extract_spans_dom, sniff_doc_type

    n = 0
    for r in rows:
        if r["spans"] and not r["doc_id"].startswith("hard-"):
            continue
        m = markup_of(r)
        if not m:
            n += 1
            continue
        dt = r["doc_type"] if r["doc_type"] in ("html", "xml") else sniff_doc_type(m)
        n += _extract_spans_dom(m, dt)[1]
    return n


def ensure_input(workdir: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the input for `workload` at `seed`. Returns its
    meta: path, docs, digest, expected parse errors."""
    family = FAMILY[workload]
    root = os.path.join(workdir, "inputs", family)
    final = os.path.join(root, f"seed-{seed}")
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        os.utime(final)
        return dict(meta, path=os.path.join(final, "data"))
    rows = generate(family, seed)
    tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex}")
    _write(rows, os.path.join(tmp, "data"))
    meta = {
        "family": family,
        "seed": seed,
        "docs": len(rows),
        "digest": digest(rows),
        "expected_parse_errors": expected_parse_errors(rows),
        "bytes": sum(len(markup_of(r)) for r in rows),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, final)
    except OSError:  # another run generated it first
        shutil.rmtree(tmp, ignore_errors=True)
        with open(meta_path) as f:
            meta = json.load(f)
    _evict(root)
    return dict(meta, path=os.path.join(final, "data"))


def _evict(root: str) -> None:
    seeds = [
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("seed-")
    ]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for old in seeds[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def load_rows(meta: dict) -> list[dict]:
    return pq.read_table(meta["path"]).to_pylist()
