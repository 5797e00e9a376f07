"""Seeded input generation for the benchmark workloads.

The pages table is a pure function of ``(seed, n)``, written with pyarrow
rather than Spark, so the same seed gives byte-identical files and input
generation stays off every metric. The rows are those of
:func:`sparkrdf.pages.page_row` over a row-index range picked by the seed;
the generator keeps its structure at any offset: the 1% hot entity
(``i % 100 == 0``), the malformed-markup rows (``i % 101 == 100``) and the
language mix.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

#: first row index of seed 0 — well past the synthesize_pages range the
#: repository's own tests and queries use
PAGE_OFFSET = 1_000_000

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_range(seed: int, n: int) -> range:
    """Row indices of the seed's ``n`` pages (disjoint across seeds)."""
    start = PAGE_OFFSET + seed * n
    return range(start, start + n)


def write_pages(path: str, indices: range) -> None:
    from sparkrdf.pages import page_row

    rows = [page_row(i) for i in indices]
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA,
    )
    # one file with fixed writer settings: the bytes depend only on the rows
    pq.write_table(table, path, row_group_size=64 * 1024, compression="snappy")
