"""Deterministic work counts read from outside the engine: file sizes,
parquet footers and block rows of a committed index catalog.

Staged-rewrite leftovers (``_old_*`` directories, ``_pending`` markers)
and Spark's hidden files are skipped, so the counts describe exactly the
tables a committed snapshot reads.
"""

from __future__ import annotations

import os

import pyarrow.dataset as pads
import pyarrow.parquet as pq

TABLES = ("tokens", "postings", "doc_stats", "term_stats")


def table_files(root: str, name: str) -> list[str]:
    out = []
    top = os.path.join(root, name)
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        out.extend(os.path.join(d, f) for f in sorted(files) if f.endswith(".parquet")
                   and not f.startswith(("_", ".")))
    return out


def committed_tables(root: str) -> list[str]:
    return sorted(
        d for d in os.listdir(root)
        if not d.startswith(("_", ".")) and os.path.isdir(os.path.join(root, d))
    )


def catalog_stats(root: str) -> dict[str, float]:
    """Per-table MB, total bytes and file count, postings row groups."""
    stats: dict[str, float] = {}
    total_bytes = n_files = 0
    for name in committed_tables(root):
        files = table_files(root, name)
        size = sum(os.path.getsize(f) for f in files)
        total_bytes += size
        n_files += len(files)
        if name in TABLES:
            stats[f"catalog.{name}_mb"] = size / 2**20
    stats["catalog.files"] = n_files
    stats["catalog.bytes"] = total_bytes
    stats["catalog.postings_row_groups"] = sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in table_files(root, "postings")
    )
    return stats


def _term_ranges(files: list[str]) -> list[tuple[str, str]]:
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("term")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            if st is not None and st.has_min_max:
                ranges.append((st.min, st.max))
            else:  # no statistics: the reader cannot skip this group
                ranges.append(("", "\U0010ffff"))
    return ranges


class TermFooters:
    """Row-group ``term`` ranges of one table, read once per catalog state."""

    def __init__(self, root: str, name: str):
        self.ranges = _term_ranges(table_files(root, name))

    def row_groups(self, terms: list[str]) -> int:
        """Row groups whose min/max statistics admit any of ``terms``."""
        return sum(1 for lo, hi in self.ranges if any(lo <= t <= hi for t in terms))


def blocks_for(root: str, terms: list[str]) -> int:
    """Posting blocks (rows of the postings table) stored for ``terms``."""
    if not terms:
        return 0
    ds = pads.dataset(os.path.join(root, "postings"), format="parquet",
                      partitioning="hive", exclude_invalid_files=True)
    return ds.count_rows(filter=pads.field("term").isin(terms))
