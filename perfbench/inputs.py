"""Seeded benchmark inputs, written to parquet before any timing starts.

``synthetic.page_row(i, n_items)`` is a pure function of the page index, so a
seed names one of ``MAX_SEED`` disjoint blocks of indices, and a block never
used before gives a fresh corpus with the same distribution.  The program
only ever sees the parquet tables written here.
"""

from __future__ import annotations

import os

# page indices stay below ~10^8: page_row's timestamp is 137 s x index
MAX_SEED = 10_000


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _write(table, path: str) -> dict:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return {"rows": table.num_rows, "bytes": dir_bytes(path)}


def write_pages(path: str, start: int, n_pages: int, n_items: int) -> dict:
    """Pages ``start .. start + n_pages - 1`` as parquet at ``path``."""
    import pyarrow as pa

    from folkscope_spark import synthetic

    rows = [synthetic.page_row(i, n_items) for i in range(start, start + n_pages)]
    return _write(pa.Table.from_pylist(rows, schema=pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])), path)


def block(seed: int) -> int:
    """The index block a seed names: any integer, negative or past
    ``MAX_SEED`` too, folds onto ``[0, MAX_SEED)``."""
    return seed % MAX_SEED


def seed_start(seed: int, n_pages: int) -> int:
    return block(seed) * n_pages


def write_probase(path: str) -> dict:
    """The program's tiny synthetic Probase as parquet at ``path``."""
    import pyarrow as pa

    from folkscope_spark import synthetic

    return _write(pa.Table.from_pylist(synthetic.probase_rows(), schema=pa.schema([
        ("concept", pa.string()), ("instance", pa.string()), ("freq", pa.int64()),
    ])), path)
