"""Output checks shared by every workload.

The whole-output digest is order-independent: each extracted row
``(url, md5(content), title, next_page_url)`` hashes to a 60-bit
integer and the digest is the row count plus the sum of those integers.
``spark_row_hash`` computes the same integer inside Spark, so a pass
written to the ``noop`` sink can be checked through ``observe``
without collecting its output.
"""

from __future__ import annotations

import hashlib
import math

MISSING = "\x00"
SEP = "\x1f"


class CheckError(AssertionError):
    """An output differs from what the benchmark expects."""


def content_md5(content: str | None) -> str:
    if content is None:
        return MISSING
    return hashlib.md5(content.encode("utf-8", "surrogatepass")).hexdigest()


def row_hash(url, md5_hex, title, next_page_url) -> int:
    key = SEP.join(MISSING if v is None else v
                   for v in (url, md5_hex, title, next_page_url))
    return int(hashlib.md5(key.encode("utf-8", "surrogatepass"))
               .hexdigest()[:15], 16)


def digest(rows) -> str:
    """rows: (url, content_md5, title, next_page_url)."""
    n = total = 0
    for r in rows:
        n += 1
        total += row_hash(*r)
    return f"{n}:{total:x}"


def spark_row_hash():
    """Column expression equal to ``row_hash`` over an extraction output
    (url, content, title, next_page_url)."""
    from pyspark.sql import functions as F
    m = F.lit(MISSING)
    key = F.concat_ws(SEP, F.coalesce("url", m),
                      F.coalesce(F.md5("content"), m),
                      F.coalesce("title", m),
                      F.coalesce("next_page_url", m))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10) \
        .cast("decimal(38,0)")


def spark_digest(n: int, total) -> str:
    return f"{n}:{int(total or 0):x}"


def compare_rows(expected: dict, actual: dict) -> list[str]:
    """Per-url comparison of (md5, title, next_page_url) tuples; returns
    one message per missing, unexpected or differing url."""
    problems = []
    for url, want in expected.items():
        got = actual.get(url)
        if got is None:
            problems.append(f"missing {url}")
        elif got != want:
            problems.append(f"differs {url}: {got} != {want}")
    for url in actual.keys() - expected.keys():
        problems.append(f"unexpected {url}")
    return problems


def normalize(rows, columns):
    """Oracle comparison form of an operator's output: columns sorted by
    name, values stringified (floats to 6 significant digits), rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out


def table_digest(columns, rows) -> str:
    cols, norm = normalize(rows, columns)
    h = hashlib.md5(repr(cols).encode())
    for r in norm:
        h.update(repr(r).encode("utf-8", "surrogatepass"))
    return f"{len(norm)}:{h.hexdigest()[:16]}"
