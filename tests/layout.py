"""On-disk layout checks for KeyedTable directories."""

from __future__ import annotations

import glob
import os


def unnamed_files(table) -> list[str]:
    """Parquet files under the table's ``data/`` that lie outside every
    partition dir its manifest names: what a reclaim should have removed."""
    named = {os.path.join(table.path, rel)
             for rel in table._load()["partitions"].values()}
    return [f for f in glob.glob(os.path.join(table.path, "data", "**",
                                              "*.parquet"), recursive=True)
            if os.path.dirname(f) not in named]
