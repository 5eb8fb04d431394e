"""Seeded synthetic crawl pages for the extraction benchmark.

The generator is the benchmark's own: it imports nothing from the program,
so a change to the program cannot change the inputs it is measured on.
Pages are a pure function of ``(seed, n, n_jumbo)`` and of this file's
source; the materialized parquet is cached under that key.

What varies, and how:

- size: a log-normal page size (median ~2 KB) with a long tail capped at
  ~160 KB, drawn by stratified quantiles so every seed has the same size
  profile (the seed changes which page gets which size, and all content);
- jumbo pages: ``n_jumbo`` pages of ~1.3 MB, over the program's default
  ``jumbo_bytes`` of 1 MB;
- element mix: headings, paragraphs with inline markup, nested ul/ol,
  tables with row/col spans, pre/code, figures with captions, blockquotes,
  and furniture (nav/header/footer/aside);
- text: ASCII prose mixed with accented Latin, Greek, Cyrillic, CJK,
  Arabic and emoji words, plus characters markdown escapes (``_ * < >``);
- degenerate rows: empty pages, furniture-only pages and truncated markup.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
from pathlib import Path

_WORDS = (
    "data page table value system model figure result index layer stream "
    "network section report method source output query record field cache "
    "batch token parser header footer market policy energy water city "
    "history music science health travel school garden river mountain"
).split()
_INTL = [
    "naïve", "café", "Zürich", "données", "façade", "Ελλάδα", "λόγος",
    "Москва", "данные", "東京", "数据", "文書", "한국어", "عربي", "😀", "✓",
    "snake_case", "a<b", "x>y", "5*3", "100%", "[link]", "#tag",
]
_LANGS = ["en", "en", "en", "de", "fr", "ja", "ru", "es", "zh", "ar"]

# log-normal body size: median ~1.1 KB (~2 KB with head and furniture),
# long tail capped at 160 KB
_SIZE_MEDIAN = 1100
_SIZE_SIGMA = 1.25
_SIZE_MAX = 160_000
_JUMBO_BYTES = 1_300_000
# degenerate page kinds, one in every _DEGENERATE_EVERY pages
_DEGENERATE = ("empty", "furniture_only", "truncated")
_DEGENERATE_EVERY = 50
_CACHE_KEEP = 6


def generator_digest() -> str:
    """Digest of this file's source: part of the input cache key."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def _inv_norm(p: float) -> float:
    """Standard-normal quantile (Acklam's rational approximation)."""
    a = (-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00)
    b = (-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549671010525815e00, 4.374664141464968e00, 2.938163982698783e00)
    d = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00)
    if p < 0.02425:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > 1 - 0.02425:
        return -_inv_norm(1 - p)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


def target_sizes(n: int) -> list[int]:
    """Body sizes at the n stratified quantiles of the size distribution."""
    return [
        min(_SIZE_MAX, int(_SIZE_MEDIAN * math.exp(_SIZE_SIGMA * _inv_norm((i + 0.5) / n))))
        for i in range(n)
    ]


class _Page:
    def __init__(self, rng: random.Random, idx: int):
        self.rng = rng
        self.idx = idx

    def words(self, n: int) -> str:
        rng = self.rng
        return " ".join(
            rng.choice(_INTL) if rng.random() < 0.08 else rng.choice(_WORDS) for _ in range(n)
        )

    def inline(self, n: int) -> str:
        rng = self.rng
        text = self.words(n)
        kind = rng.randrange(5)
        if kind == 0:
            return f"{text} <b>{self.words(2)}</b>"
        if kind == 1:
            return f"<i>{self.words(2)}</i> {text}"
        if kind == 2:
            return f"{text} <a href='https://ex.org/{rng.randrange(10**6)}'>{self.words(2)}</a>"
        if kind == 3:
            return f"{text} <code>{rng.choice(_WORDS)}_{rng.randrange(100)}()</code>"
        return text

    def nav(self) -> str:
        items = "".join(f"<li><a href='/{w}'>{w}</a></li>" for w in self.rng.sample(_WORDS, 4))
        return f"<nav><ul>{items}</ul></nav>"

    def furniture_head(self) -> str:
        return self.nav() + f"<header><p>{self.words(4)}</p></header>"

    def furniture_tail(self) -> str:
        rng = self.rng
        aside = f"<aside><p>{self.words(6)}</p></aside>" if rng.random() < 0.3 else ""
        return aside + f"<footer><p>© {self.words(3)} — admin@ex.org</p></footer>"

    def list_block(self, depth: int = 0) -> str:
        rng = self.rng
        tag = "ol" if rng.random() < 0.4 else "ul"
        items = []
        for _ in range(2 + rng.randrange(4)):
            inner = self.list_block(depth + 1) if depth < 2 and rng.random() < 0.25 else ""
            items.append(f"<li>{self.inline(3 + rng.randrange(6))}{inner}</li>")
        return f"<{tag}>{''.join(items)}</{tag}>"

    def table(self) -> str:
        rng = self.rng
        ncols = 2 + rng.randrange(4)
        rows = ["<tr>" + "".join(f"<th>{self.words(1)}</th>" for _ in range(ncols)) + "</tr>"]
        for r in range(2 + rng.randrange(6)):
            cells = []
            c = 0
            while c < ncols:
                span = rng.random()
                if span < 0.1 and c + 1 < ncols:
                    cells.append(f"<td colspan='2'>{self.words(2)}</td>")
                    c += 2
                    continue
                if span < 0.16 and r == 0:
                    cells.append(f"<td rowspan='2'>{self.words(1)}</td>")
                elif rng.random() < 0.5:
                    cells.append(f"<td>{rng.randrange(10**5)}</td>")
                else:
                    cells.append(f"<td>{self.words(1 + rng.randrange(3))}</td>")
                c += 1
            rows.append("<tr>" + "".join(cells) + "</tr>")
        caption = f"<caption>{self.words(4)}</caption>" if rng.random() < 0.6 else ""
        return f"<table>{caption}{''.join(rows)}</table>"

    def code(self) -> str:
        rng = self.rng
        name = f"{rng.choice(_WORDS)}_{rng.randrange(1000)}"
        lines = [f"def {name}(x, y):"] + [
            f"    x = x * {rng.randrange(1, 9)} + y  # {rng.choice(_WORDS)} < {rng.randrange(99)}"
            for _ in range(1 + rng.randrange(6))
        ] + ["    return x"]
        return "<pre><code>" + "\n".join(lines).replace("<", "&lt;") + "</code></pre>"

    def figure(self) -> str:
        rng = self.rng
        src = f"/img/{self.idx}_{rng.randrange(10**6)}.png"
        return (
            f"<figure><img src='{src}' alt='{self.words(2)}'/>"
            f"<figcaption>{self.words(5)}</figcaption></figure>"
        )

    def section(self) -> str:
        rng = self.rng
        level = 2 + rng.randrange(3)
        parts = [f"<h{level}>{self.words(2 + rng.randrange(4))}</h{level}>"]
        for _ in range(1 + rng.randrange(3)):
            parts.append(f"<p>{self.inline(10 + rng.randrange(40))}</p>")
        kind = rng.random()
        if kind < 0.25:
            parts.append(self.list_block())
        elif kind < 0.45:
            parts.append(self.table())
        elif kind < 0.57:
            parts.append(self.code())
        elif kind < 0.69:
            parts.append(self.figure())
        elif kind < 0.77:
            parts.append(f"<blockquote><p>{self.inline(15)}</p></blockquote>")
        return "".join(parts)

    def html(self, body_bytes: int) -> str:
        rng = self.rng
        head = (
            f"<!DOCTYPE html><html lang='{rng.choice(_LANGS)}'><head><meta charset='utf-8'>"
            f"<title>{self.words(4)}</title><style>p{{margin:0}}</style>"
            "<script>var t=1;</script></head><body>"
        )
        parts = [self.furniture_head() if rng.random() < 0.85 else "", "<main>"]
        parts.append(f"<h1>{self.words(3 + rng.randrange(4))}</h1>")
        size = 0
        while size < body_bytes:
            sec = self.section()
            parts.append(sec)
            size += len(sec.encode("utf-8"))
        parts.append("</main>")
        parts.append(self.furniture_tail() if rng.random() < 0.85 else "")
        return head + "".join(parts) + "</body></html>"


def _degenerate(kind: str, page: _Page, rng: random.Random) -> str:
    if kind == "empty":
        return ""
    if kind == "furniture_only":
        return (
            "<html><head><title>menu</title></head><body>"
            + page.furniture_head()
            + page.furniture_tail()
            + "</body></html>"
        )
    full = page.html(1500 + rng.randrange(3000))
    return full[: rng.randrange(len(full) // 4, len(full) - 20)]


def make_pages(seed: int, n: int, n_jumbo: int = 0) -> list[dict]:
    """``n`` page rows ``{url, html (bytes), lang}``; the last ``n_jumbo``
    size slots hold jumbo pages.  Same arguments, same bytes."""
    rng = random.Random(f"extract-bench:{seed}:{n}:{n_jumbo}")
    sizes = target_sizes(n - n_jumbo) + [_JUMBO_BYTES] * n_jumbo
    rng.shuffle(sizes)
    rows = []
    for i, size in enumerate(sizes):
        page = _Page(random.Random(rng.getrandbits(64)), i)
        host = f"{rng.choice(_WORDS)}{rng.randrange(500)}.example"
        url = f"https://{host}/{rng.choice(_WORDS)}/{i}-{rng.getrandbits(32):08x}"
        if size != _JUMBO_BYTES and i % _DEGENERATE_EVERY == _DEGENERATE_EVERY - 1:
            kind = _DEGENERATE[(i // _DEGENERATE_EVERY) % len(_DEGENERATE)]
            html = _degenerate(kind, page, page.rng)
        else:
            html = page.html(size)
        rows.append({"url": url, "html": html.encode("utf-8"), "lang": rng.choice(_LANGS)})
    return rows


def pages_parquet(root: str, seed: int, n: int, n_jumbo: int = 0) -> str:
    """Materialize ``make_pages`` as parquet under ``root``, cached by
    (seed, size, generator digest); returns the directory path.  Only the
    ``_CACHE_KEEP`` most recently used entries are kept."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = Path(root)
    target = base / f"pages_s{seed}_n{n}_j{n_jumbo}_{generator_digest()}"
    if (target / "_SUCCESS").exists():
        os.utime(target)
        return str(target)
    shutil.rmtree(target, ignore_errors=True)
    target.mkdir(parents=True)
    rows = make_pages(seed, n, n_jumbo)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    # several files so the scan has several input splits
    n_files = 8
    step = math.ceil(len(rows) / n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), target / f"part-{k:03d}.parquet")
    (target / "_SUCCESS").write_text("")
    entries = sorted(
        (p for p in base.glob("pages_*") if p.is_dir()), key=lambda p: p.stat().st_mtime
    )
    for old in entries[:-_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return str(target)
