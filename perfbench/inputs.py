"""Seeded, Spark-free input generation for the benchmark workloads.

Every input derives from one source, ``data/documents.parquet`` (a
byte-for-byte copy of the sf0.1 ``documents`` table, pinned by its
SHA-256 below), plus the workload seed. Nothing is read from the
reference fixture corpus: ``pages.fixture_rows()`` returns ``[]`` when
that corpus is absent, which would shrink the input without an error.

Generators return plain Python rows so they can be tested without a
JVM; ``run.py`` hands them to Spark.
"""

from __future__ import annotations

import hashlib
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
DOCUMENTS_SHA256 = \
    "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"
DOCUMENTS_ROWS = 5000
DOCUMENTS_TEXT_BYTES = 1485576


class InputError(RuntimeError):
    """The generated input is not the input the workload promises."""


def load_documents() -> list[tuple[int, str]]:
    """(doc_id, text) rows of the pinned documents table, by doc_id."""
    import pyarrow.parquet as pq
    with open(DOCUMENTS, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if digest != DOCUMENTS_SHA256:
        raise InputError(f"{DOCUMENTS} has sha256 {digest}, "
                         f"expected {DOCUMENTS_SHA256}")
    t = pq.read_table(DOCUMENTS, columns=["doc_id", "text"])
    rows = sorted(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    rows = [(int(d), x or "") for d, x in rows]
    total = sum(len(x.encode("utf-8")) for _, x in rows)
    if len(rows) != DOCUMENTS_ROWS or total != DOCUMENTS_TEXT_BYTES:
        raise InputError(f"documents: {len(rows)} rows / {total} text "
                         f"bytes, expected {DOCUMENTS_ROWS} / "
                         f"{DOCUMENTS_TEXT_BYTES}")
    return rows


def sample_documents(docs: list[tuple[int, str]], seed: int,
                     n: int) -> list[tuple[int, str]]:
    """A seeded ``n``-row subset of the documents table, by doc_id."""
    if not 0 < n <= len(docs):
        raise InputError(f"cannot sample {n} of {len(docs)} documents")
    return sorted(random.Random(f"docs:{seed}").sample(docs, n))


def signature(rows) -> str:
    """Order-independent md5 over (key, payload) rows: two runs that
    print the same signature measured the same inputs."""
    acc = 0
    for key, payload in rows:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        h = hashlib.md5(str(key).encode("utf-8") + b"\x00" + payload)
        acc = (acc + int(h.hexdigest()[:16], 16)) % (1 << 64)
    return f"{len(rows)}:{acc:016x}"


# --- pages_large: seeded tag soup ------------------------------------------

LARGE_MIN_KB = 15
LARGE_MAX_KB = 250
LARGE_PARETO_ALPHA = 1.3
# every HOSTILE_EVERY-th page (in generation order) is hostile
HOSTILE_EVERY = 25
HOSTILE_DEPTH = 300  # nesting cost grows with depth squared


def large_page_sizes(n: int) -> list[int]:
    """Target byte sizes: the quantiles of a Pareto(alpha) tail above
    15 KB, capped at 250 KB. Taking quantiles instead of random draws
    gives every seed the same size distribution, so seeds differ in
    content and order, not in how much work they hold."""
    out = []
    for i in range(n):
        q = (i + 0.5) / n
        kb = LARGE_MIN_KB * (1.0 - q) ** (-1.0 / LARGE_PARETO_ALPHA)
        out.append(int(min(kb, LARGE_MAX_KB) * 1024))
    return out


_ENTITIES = ["&amp;", "&nbsp;", "&#8217;", "&eacute;", "&lt;b&gt;",
             "&#x201C;", "&copy;", "&bogus;", "&", "&#0;"]
_INLINE = ["b", "i", "em", "strong", "span", "font", "a"]


class _Soup:
    """Emits one tag-soup page up to a byte budget. ``shape`` decides the
    markup (blocks, nesting, word counts); ``text`` decides which
    document words fill it."""

    def __init__(self, shape: random.Random, text: random.Random,
                 texts: list[str]):
        self.rng = shape
        self.text = text
        self.texts = texts
        self.out: list[str] = []
        self.size = 0

    def put(self, s: str) -> None:
        self.out.append(s)
        self.size += len(s.encode("utf-8"))

    def words(self, lo: int, hi: int) -> str:
        k = self.rng.randint(lo, hi)
        t = self.text.choice(self.texts).split() or ["empty"]
        start = self.text.randrange(len(t))
        ws = [t[(start + j) % len(t)] for j in range(k)]
        # commas and entities drive the scorer and the entity decoder
        for j in range(3, len(ws), self.rng.randint(4, 9)):
            ws[j] += ","
        if self.rng.random() < 0.5:
            ws.insert(self.rng.randrange(len(ws) + 1),
                      self.rng.choice(_ENTITIES))
        return " ".join(ws)

    def nav(self) -> None:
        cls = self.rng.choice(["nav", "menu", "sidebar", "header"])
        self.put(f'<div class="{cls}"><ul>')
        for k in range(self.rng.randint(12, 40)):
            self.put(f'<li><a href="/section/{k}/{self.rng.randint(1, 999)}">'
                     f"{self.words(1, 3)}</a>")  # unclosed li
        self.put("</ul></div>")

    def paragraph(self) -> None:
        tag = self.rng.choice(_INLINE)
        body = self.words(20, 80)
        mode = self.rng.random()
        if mode < 0.2:  # misnested inline tags
            self.put(f"<p><{tag}>{body}<i>{self.words(2, 6)}</{tag}></i></p>")
        elif mode < 0.35:  # unclosed paragraph
            self.put(f"<p>{body}")
        elif mode < 0.45:  # bare text with double breaks
            self.put(f"{body}<br><br>{self.words(5, 20)}")
        else:
            self.put(f"<p>{body} <a href=\"/ref/{self.rng.randint(1, 99)}\">"
                     f"{self.words(1, 4)}</a>.</p>")

    def table(self, depth: int = 0) -> None:
        self.put('<table class="layout"><tr>')
        for _ in range(self.rng.randint(2, 4)):
            self.put(f"<td>{self.words(5, 25)}")  # unclosed td
            if depth < 2 and self.rng.random() < 0.25:
                self.table(depth + 1)
        self.put("</tr></table>")

    def listing(self) -> None:
        tag = self.rng.choice(["ul", "ol"])
        self.put(f"<{tag}>")
        for _ in range(self.rng.randint(3, 10)):
            self.put(f"<li>{self.words(3, 15)}")
        self.put(f"</{tag}>")

    def block(self, depth: int) -> None:
        r = self.rng.random()
        if r < 0.05:
            self.put(f"<!-- {self.words(3, 12)} -->")
        elif r < 0.1:
            self.put(f"<script>var s{depth} = '{self.words(2, 5)}';</script>")
        elif r < 0.2:
            self.table()
        elif r < 0.3:
            self.listing()
        elif r < 0.36:
            self.nav()
        elif r < 0.5 and depth < 8:
            cls = self.rng.choice(["content", "story", "post", "wrap",
                                   "comment", "promo", "entry-body"])
            self.put(f'<div class="{cls}">')
            for _ in range(self.rng.randint(2, 5)):
                self.block(depth + 1)
            if self.rng.random() < 0.85:  # some divs never close
                self.put("</div>")
        else:
            self.paragraph()


def tag_soup_page(shape: random.Random, text: random.Random,
                  texts: list[str], page_no: int, target_bytes: int,
                  hostile: str | None) -> str:
    s = _Soup(shape, text, texts)
    title = s.words(3, 8).replace("&", "and")
    s.put(f"<html><head><title>{title} | Soup {page_no % 53}</title>"
          '<meta http-equiv="Content-Type" content="text/html; '
          'charset=utf-8"><style>.x{color:red}</style></head><body>')
    s.nav()
    s.put(f'<div id="main" class="article"><h1>{title}</h1>')
    while s.size < target_bytes:
        s.block(0)
    s.put(f'<a href="/story/{page_no}?page=2">Next page</a></div>')
    s.nav()
    if hostile == "deep":
        depth = HOSTILE_DEPTH
        s.put("<div>" * depth + f"<p>{s.words(20, 40)}</p>"
              + "</div>" * (depth // 2))
    s.put('<div class="footer">copyright links</div>')
    page = "".join(s.out)
    if hostile == "script":
        # cut mid-script: the parser's strip-and-retry path
        page = page[:len(page) * 3 // 4] + "<script>var broken = '"
    else:
        page += "</body></html>"
    return page


def pages_large(docs: list[tuple[int, str]], seed: int,
                n: int) -> list[tuple[str, bytes]]:
    """(url, html) rows: ``n`` tag-soup pages built from document text.

    Each page slot has a fixed size and markup skeleton; the seed picks
    the document text that fills it and the url. Seeds therefore differ
    in content while the amount and shape of work stay the same, which
    keeps run-to-run spread down to the program's own."""
    texts = [t for _, t in docs]
    sizes = large_page_sizes(n)
    random.Random("large:sizes").shuffle(sizes)
    rows = []
    for i, size in enumerate(sizes):
        hostile = None
        if i % HOSTILE_EVERY == HOSTILE_EVERY - 1:
            hostile = "deep" if (i // HOSTILE_EVERY) % 2 else "script"
        shape = random.Random(f"large:shape:{i}")
        text = random.Random(f"large:text:{seed}:{i}")
        url = (f"https://soup{text.randint(0, 52)}.example.net/story/"
               f"{seed}-{i}")
        rows.append((url, tag_soup_page(shape, text, texts, i, size,
                                        hostile).encode("utf-8")))
    return rows
