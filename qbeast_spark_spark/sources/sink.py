"""One parquet file, written in row groups the writer sizes.

Row-group size belongs to the writer, as in the reference's
IndexFileWriter (core/src/main/scala/io/qbeast/spark/writer/
IndexFileWriter.scala:44-96): every file the indexed writer (both lanes)
and the staging writer (``format("qbeast")``) produce goes through a
``ParquetSink``. It buffers the Arrow tables appended to it and writes
row groups of exactly ``ROW_GROUP_ROWS`` rows; a file's last group holds
the remainder. The layout therefore does not follow the Arrow batch size
Spark hands a write task (the session's Arrow records-per-batch conf),
and between appends a sink holds fewer than ``ROW_GROUP_ROWS`` pending
rows.

The sink also keeps the per-file min/max of every int, float and string
column (Delta data-skipping stats) while the tables stream through.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

__all__ = ["ParquetSink", "ROW_GROUP_ROWS"]

ROW_GROUP_ROWS = 65_536


class ParquetSink:
    """Append Arrow tables of one schema; ``close()`` returns
    ``(rows, file size, {column: [min, max]})``."""

    def __init__(self, path: str, schema) -> None:
        self.path = path
        self.rows = 0
        self.col_stats: Dict[str, list] = {}
        self._writer = pq.ParquetWriter(path, schema, compression="snappy")
        self._pending: List = []
        self._pending_rows = 0

    def append(self, tbl) -> None:
        self._track_stats(tbl)
        self.rows += tbl.num_rows
        self._pending.append(tbl)
        self._pending_rows += tbl.num_rows
        if self._pending_rows >= ROW_GROUP_ROWS:
            self._write(self._pending_rows
                        - self._pending_rows % ROW_GROUP_ROWS)

    def flush(self) -> None:
        """Write every pending row: a group shorter than ``ROW_GROUP_ROWS``
        when the file has no more rows to come."""
        self._write(self._pending_rows)

    def close(self) -> Tuple[int, int, Dict[str, list]]:
        self.flush()
        self._writer.close()
        return self.rows, os.path.getsize(self.path), self.col_stats

    def _write(self, n: int) -> None:
        if n == 0:
            return
        tbl = pa.concat_tables(self._pending)
        self._writer.write_table(tbl.slice(0, n),
                                 row_group_size=ROW_GROUP_ROWS)
        rest = tbl.slice(n)
        self._pending = [rest] if rest.num_rows else []
        self._pending_rows = rest.num_rows

    def _track_stats(self, tbl) -> None:
        for fld in tbl.schema:
            t = fld.type
            if not (pa.types.is_integer(t) or pa.types.is_floating(t)
                    or pa.types.is_string(t)):
                continue
            mm = pc.min_max(tbl.column(fld.name))
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is None:          # all-null chunk: nothing to learn
                continue
            cur = self.col_stats.get(fld.name)
            if cur is None:
                self.col_stats[fld.name] = [mn, mx]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
